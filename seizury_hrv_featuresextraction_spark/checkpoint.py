"""Per-partition checkpoint lineage + resumable runs (O74/O75).

The reference resumes per-recording by checking output mtime, structural
validity and a config md5 (hrv_pipeline.py:255-354). The engine's unit of
resume is a *bucket*: ``pmod(xxhash64(doc_id), n_buckets)``. A run
processes buckets one Spark job at a time; each completed bucket appends
a manifest line (bucket, config_hash, row_count, n_docs, elapsed_s,
status, throughput) to ``_manifest/bucket=<k>.json`` next to the output.
On restart, buckets whose manifest line matches the current config hash
are skipped (the anti-join on lineage), so a killed run resumes where it
stopped and never recomputes finished partitions.

Bucketing by doc_id means a bucket is a deterministic horizontal slice of
the input — safe to write with dynamic partition overwrite per bucket.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import HRVConfig


@dataclass
class BucketResult:
    bucket: int
    config_hash: str
    row_count: int
    n_docs: int
    elapsed_s: float
    status: str
    # int fingerprint, the string "disabled" (run with check_input=False),
    # or None (manifest written before fingerprinting existed)
    input_fp: int | str | None = None

    @property
    def rows_per_s(self) -> float:
        return self.row_count / self.elapsed_s if self.elapsed_s > 0 else 0.0


def input_fingerprints(
    sequences: DataFrame, annotations: DataFrame | None, n_buckets: int
) -> dict[int, int]:
    """Per-bucket order-independent input fingerprint: count XOR'd with
    bit_xor(xxhash64(doc_id, n_tok)) over the bucket's sequences (and all
    annotation columns when present). ONE column-pruned pre-pass job —
    the token payload is never read, so at 100 TB this costs a metadata-
    scale scan, not a data scan.

    Granularity contract (append-only lake semantics, like Iceberg
    snapshot diffing): detects appended/deleted docs and length changes;
    an in-place token edit that preserves (doc_id, n_tok) is invisible —
    which does not happen in append-only corpora (reference resume has
    the same blind spot via output mtime, hrv_pipeline.py:255-354).
    """

    def hashes(df: DataFrame, hash_cols: list[str]) -> DataFrame:
        return df.select(
            bucket_of(F.col("doc_id"), n_buckets).alias("b"),
            F.xxhash64(*hash_cols).alias("h"),
        )

    src = hashes(sequences, ["doc_id", "n_tok"])
    if annotations is not None:
        # ONE job for both sides (the action-count discipline pins one
        # action per bucket + this single fp pre-pass)
        src = src.unionByName(hashes(annotations, list(annotations.columns)))
    rows = (
        src.groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("fp"))
        .collect()
    )
    got = {int(r["b"]): (int(r["n"]), int(r["fp"])) for r in rows}
    return {k: (got[k][0] * 1_000_003) ^ got[k][1] if k in got else 0 for k in range(n_buckets)}


def _manifest_dir(output_path: str) -> str:
    return os.path.join(output_path, "_manifest")


def manifest_path(output_path: str, bucket: int) -> str:
    return os.path.join(_manifest_dir(output_path), f"bucket={bucket}.json")


def read_manifest(output_path: str) -> dict[int, dict]:
    d = _manifest_dir(output_path)
    out: dict[int, dict] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("bucket=") and name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                rec = json.load(f)
            out[int(rec["bucket"])] = rec
    return out


def write_manifest_entry(output_path: str, result: BucketResult) -> None:
    d = _manifest_dir(output_path)
    os.makedirs(d, exist_ok=True)
    rec = {
        "bucket": result.bucket,
        "config_hash": result.config_hash,
        "row_count": result.row_count,
        "n_docs": result.n_docs,
        "elapsed_s": result.elapsed_s,
        "rows_per_s": result.rows_per_s,
        "status": result.status,
        "input_fp": result.input_fp,
        "completed_at": time.time(),
    }
    tmp = manifest_path(output_path, result.bucket) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, manifest_path(output_path, result.bucket))


def bucket_of(doc_id_col, n_buckets: int):
    return F.pmod(F.xxhash64(doc_id_col), F.lit(n_buckets)).cast("int")


def bucket_output_valid(output_path: str, bucket: int) -> bool:
    """Structural validation before trusting a manifest line — the
    reference's resume also checks the output exists and is well-formed
    (hrv_pipeline.py:255-354), so a deleted/corrupted ``bucket=<k>``
    directory with an intact manifest is recomputed, not skipped."""
    out_dir = os.path.join(output_path, f"bucket={bucket}")
    if not os.path.isdir(out_dir):
        return False
    names = os.listdir(out_dir)
    has_data = any(n.endswith(".parquet") for n in names)
    # the _SUCCESS job-commit marker is REQUIRED: a crash mid-overwrite
    # (e.g. FileOutputCommitter v2, or between task-commit and job-commit)
    # leaves part files without the marker — such a directory must be
    # recomputed, not trusted. Spark writes _SUCCESS by default; runs that
    # disable mapreduce.fileoutputcommitter.marksuccessfuljobs must not
    # use this resume path.
    return has_data and "_SUCCESS" in names


def run_resumable(
    spark: SparkSession,
    sequences: DataFrame,
    annotations: DataFrame | None,
    output_path: str,
    cfg: HRVConfig,
    n_buckets: int = 8,
    fail_after_bucket: int | None = None,
    check_input: bool = True,
) -> list[BucketResult]:
    """Bucket-at-a-time flagship run with lineage + resume.

    ``fail_after_bucket`` injects a crash after k completed buckets (test
    hook for the kill/restart scenario in SURVEY.md §5.5).

    ``check_input=True`` (default) makes the resume INPUT-AWARE: one
    cheap pre-pass computes a per-bucket input fingerprint
    (``input_fingerprints``), and a bucket is only skipped when its
    recorded fingerprint still matches — so appending/deleting docs
    recomputes exactly the buckets whose slice changed (Iceberg-style
    incremental recompute) instead of trusting config+output alone.
    Manifests written before this feature carry no fingerprint and fall
    back to the config-only skip. A run with ``check_input=False`` stamps
    its manifests ``input_fp="disabled"`` — a later validating run treats
    that as a mismatch and recomputes (never serves buckets whose input
    was not validated when written).
    """
    from .plans.hrv_pipeline import extract_features

    cfg_hash = cfg.config_hash()
    done = read_manifest(output_path)
    results: list[BucketResult] = []
    seq_b = sequences.withColumn("__bucket", bucket_of(F.col("doc_id"), n_buckets))
    # the only job before the buckets: the plan needs no table stats
    in_fps = input_fingerprints(sequences, annotations, n_buckets) if check_input else {}
    completed = 0
    for k in range(n_buckets):
        prev = done.get(k)
        if (
            prev
            and prev.get("config_hash") == cfg_hash
            and prev.get("status") == "ok"
            and bucket_output_valid(output_path, k)
            and (
                not check_input
                or prev.get("input_fp") is None  # pre-feature manifest
                # "disabled" (written by a check_input=False run) is a
                # DELIBERATE mismatch: the input was never validated, so
                # a validating run recomputes rather than trusting it
                or prev.get("input_fp") == in_fps.get(k)
            )
        ):
            results.append(
                BucketResult(k, cfg_hash, prev["row_count"], prev["n_docs"], prev["elapsed_s"], "skipped")
            )
            continue
        t0 = time.time()
        # observe() metrics ride the write job itself: ONE Spark action per
        # bucket instead of count(input) + write + count(read-back).
        # ``part`` feeds both routing branches and the label side, so the
        # plan holds one copy of obs_in per use; each sits below the
        # routing filter and counts every doc of the bucket.
        from pyspark.sql import Observation

        obs_in = Observation(f"bucket_{k}_in")
        obs_out = Observation(f"bucket_{k}_out")
        part = (
            seq_b.filter(F.col("__bucket") == k)
            .drop("__bucket")
            .observe(obs_in, F.count(F.lit(1)).alias("n_docs"))
        )
        feats = extract_features(part, annotations, cfg).observe(
            obs_out, F.count(F.lit(1)).alias("row_count")
        )
        out_dir = os.path.join(output_path, f"bucket={k}")
        feats.write.mode("overwrite").parquet(out_dir)
        n_docs = int(obs_in.get["n_docs"])
        rows = int(obs_out.get["row_count"])
        res = BucketResult(
            k, cfg_hash, rows, n_docs, time.time() - t0, "ok",
            in_fps.get(k) if check_input else "disabled",
        )
        write_manifest_entry(output_path, res)
        results.append(res)
        completed += 1
        if fail_after_bucket is not None and completed >= fail_after_bucket:
            raise RuntimeError(f"injected failure after {completed} fresh buckets (bucket {k})")
    # all buckets landed (fresh or validated) -> commit a snapshot version
    # so readers can pin this run's exact output (write_snapshot below).
    # The change test is STATE-BASED, not completed>0: a crash between the
    # last manifest write and the snapshot commit leaves manifests newer
    # than the latest snapshot — the resumed run skips every bucket
    # (completed == 0) but still commits the missing snapshot. Conversely
    # an all-skipped rerun whose state already matches the latest snapshot
    # commits nothing (stable version across idempotent reruns).
    if (
        results
        and all(r.status in ("ok", "skipped") for r in results)
        and not snapshot_is_current(output_path)
    ):
        write_snapshot(output_path)
    return results


# ---------------------------------------------------------------------------
# Snapshot log (Iceberg-style, lite): every fully-successful run commits a
# snapshot JSON listing each bucket's (config_hash, row_count, completed_at).
# Readers pin a snapshot version and VALIDATE the live bucket directories
# against it before scanning. Honest limitation vs real Iceberg (jar absent
# in this container): bucket parquet is overwritten in place, so a snapshot
# whose buckets were since rewritten under a different config is detected
# as stale and refused rather than silently time-traveling — real Iceberg
# keeps immutable data files and would serve it.
# ---------------------------------------------------------------------------


def _snapshot_dir(output_path: str) -> str:
    return os.path.join(output_path, "_snapshots")


def list_snapshots(output_path: str) -> list[dict]:
    """Snapshot log, tolerant of a truncated/corrupt vN.json (e.g. a
    crash or ENOSPC mid-write on a no-hardlink filesystem where the
    O_EXCL fallback claims the slot before content lands): the bad file
    is skipped with a warning instead of poisoning every snapshot read.
    write_snapshot treats a skipped version as occupied (EEXIST on the
    slot) and lands the next one, so the log stays append-only."""
    import warnings

    d = _snapshot_dir(output_path)
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if name.startswith("v") and name.endswith(".json"):
            p = os.path.join(d, name)
            try:
                with open(p) as f:
                    out.append(json.load(f))
            except (json.JSONDecodeError, OSError) as e:  # pragma: no cover - rare
                warnings.warn(
                    f"skipping unreadable snapshot {p} ({e}); likely a crashed "
                    "mid-write on a no-hardlink filesystem — quarantine or delete it",
                    stacklevel=2,
                )
    return sorted(out, key=lambda s: s["version"])


def snapshot_is_current(output_path: str) -> bool:
    """True iff the latest snapshot pins exactly the live manifest state
    (same bucket set, same config_hash + completed_at per bucket)."""
    snaps = list_snapshots(output_path)
    if not snaps:
        return False
    live = read_manifest(output_path)
    pinned = snaps[-1]["buckets"]
    if set(pinned) != {str(k) for k in live}:
        return False
    for k, p in pinned.items():
        cur = live[int(k)]
        if cur["config_hash"] != p["config_hash"] or cur["completed_at"] != p["completed_at"]:
            return False
    return True


def write_snapshot(output_path: str) -> int:
    """Commit the current manifest state as the next snapshot version.

    The final vN.json is created with O_CREAT|O_EXCL and the version
    retried on EEXIST, so two concurrent committers can never silently
    overwrite each other's snapshot — the append-only log invariant holds
    under races (each committer lands a distinct version).
    """
    manifests = read_manifest(output_path)
    if not manifests:
        raise ValueError(f"no bucket manifests under {output_path}")
    snap = {
        "committed_at": time.time(),
        "buckets": {
            str(k): {
                "config_hash": m["config_hash"],
                "row_count": m["row_count"],
                "completed_at": m["completed_at"],
            }
            for k, m in manifests.items()
        },
    }
    d = _snapshot_dir(output_path)
    os.makedirs(d, exist_ok=True)
    prev = list_snapshots(output_path)
    version = (prev[-1]["version"] + 1) if prev else 1
    import tempfile

    while True:
        path = os.path.join(d, f"v{version}.json")
        snap["version"] = version
        fd, tmp = tempfile.mkstemp(prefix=".snap.", dir=d)
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(snap, f)
                f.flush()
                os.fsync(f.fileno())
            try:
                # atomic claim of the version slot: link fails on EEXIST
                # instead of overwriting, and the linked file is already
                # fully written (no reader can observe a truncated vN.json)
                os.link(tmp, path)
                return version
            except FileExistsError:
                version += 1  # lost the race: retry with the next slot
            except OSError:
                # filesystem without hard-link support (some network /
                # object-store mounts raise EPERM/EOPNOTSUPP, not EEXIST):
                # fall back to an O_CREAT|O_EXCL exclusive create + direct
                # write. Still race-safe on the version slot; the one
                # guarantee given up is that a concurrent reader could
                # observe a mid-write vN.json on such filesystems.
                try:
                    fd2 = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                except FileExistsError:
                    version += 1
                else:
                    # serialize BEFORE touching the claimed slot and
                    # unlink it on any write failure, so a crash/ENOSPC
                    # can't leave a permanently truncated vN.json behind
                    # (list_snapshots additionally tolerates one)
                    payload = json.dumps(snap)
                    try:
                        with os.fdopen(fd2, "w") as f2:
                            f2.write(payload)
                            f2.flush()
                            os.fsync(f2.fileno())
                    except OSError:
                        try:
                            os.unlink(path)
                        except OSError:  # pragma: no cover - best effort
                            pass
                        raise
                    return version
        finally:
            os.unlink(tmp)


def read_snapshot(
    spark: SparkSession, output_path: str, version: int | None = None
) -> DataFrame:
    """Time-travel read: the output as of snapshot ``version`` (latest if
    None). Raises if the live bucket state no longer matches the pinned
    snapshot (bucket rewritten under a different config since)."""
    snaps = list_snapshots(output_path)
    if not snaps:
        raise ValueError(f"no snapshots under {output_path}")
    if version is None:
        snap = snaps[-1]
    else:
        matching = [s for s in snaps if s["version"] == version]
        if not matching:
            raise ValueError(f"snapshot v{version} not found (have {[s['version'] for s in snaps]})")
        snap = matching[0]
    live = read_manifest(output_path)
    stale = []
    for k, pinned in snap["buckets"].items():
        cur = live.get(int(k))
        if (
            cur is None
            or cur["config_hash"] != pinned["config_hash"]
            or cur["completed_at"] != pinned["completed_at"]
        ):
            stale.append(int(k))
    if stale:
        raise ValueError(
            f"snapshot v{snap['version']} is stale: buckets {sorted(stale)} were "
            "rewritten since it was committed (parquet-overwrite layout; a real "
            "Iceberg catalog would retain the immutable files)"
        )
    paths = [os.path.join(output_path, f"bucket={k}") for k in sorted(snap["buckets"], key=int)]
    return spark.read.parquet(*paths)


# ---------------------------------------------------------------------------
# Exactly-once streaming sink (O66-O69): Structured Streaming's foreachBatch
# is AT-LEAST-ONCE — after a failure the restarted query replays the last
# uncommitted microbatch with the SAME batch_id. Idempotent per-batch
# writes keyed on that id make the sink exactly-once end-to-end.
# ---------------------------------------------------------------------------


def exactly_once_batch_writer(output_path: str):
    """Returns a ``foreachBatch`` function that writes each microbatch to
    ``batch=<id>`` exactly once: a replayed (batch_df, batch_id) whose
    manifest line and ``_SUCCESS`` marker already exist is skipped, and a
    half-written directory (no marker / no manifest) is overwritten.
    The same lineage-line pattern as ``run_resumable`` — the streaming
    and batch sinks share one resume philosophy."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        mpath = os.path.join(_manifest_dir(output_path), f"batch={batch_id}.json")
        out_dir = os.path.join(output_path, f"batch={batch_id}")
        if os.path.exists(mpath) and os.path.isdir(out_dir) and "_SUCCESS" in os.listdir(out_dir):
            return  # already committed — replay after recovery
        t0 = time.time()
        batch_df.write.mode("overwrite").parquet(out_dir)
        os.makedirs(_manifest_dir(output_path), exist_ok=True)
        rec = {
            "batch_id": batch_id,
            "elapsed_s": time.time() - t0,
            "completed_at": time.time(),
        }
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, mpath)

    return write


# ---------------------------------------------------------------------------
# Curation-scope resume (r6 VERDICT Missing #2): run_resumable above is
# HRV-flagship-specific (sequences+annotations fingerprints, HRVConfig).
# The curation pipeline (E30) resumes with the SAME manifest/snapshot
# machinery via a profile/finalize split:
#   phase 1 (resumable, per doc-id bucket): every PER-DOCUMENT column the
#     pipeline needs — normalized URL + domain, Gopher repetition stats,
#     content fingerprint — written text-free to bucket=<k> parquet. This
#     is where 100 TB of text is actually read, so it is the phase worth
#     checkpointing; per-doc stats do not depend on which other docs
#     survive any stage, so bucketing cannot change them.
#   phase 2 (global, cheap, re-run each time): the CROSS-document stages —
#     URL-keeper window, threshold filters, content-keeper window,
#     per-source cap — over the compact profile rows only (short keys, no
#     text). Running them globally (never per bucket) is what keeps the
#     resumed output IDENTICAL to the one-shot curation_pipeline plan:
#     a keeper window evaluated inside a doc-id bucket would pick
#     different keepers than the corpus-wide window.
# ---------------------------------------------------------------------------


GOPHER_DEFAULTS = {
    "min_words": 10,
    "max_dup_word_frac": 0.80,
    "max_top_word_frac": 0.20,
    "max_dup_2gram_frac": 0.85,
}
_PROFILE_VERSION = 1


def input_fingerprints_generic(
    df: DataFrame, hash_cols: list[str], n_buckets: int, id_col: str = "doc_id"
) -> dict[int, int]:
    """Per-bucket order-independent fingerprint over arbitrary columns —
    the generic form of ``input_fingerprints``. For curation the text
    itself is hashed (an in-place edit must invalidate the bucket); the
    pre-pass is a full scan but shuffles only (bucket, 8-byte hash)
    aggregates, and phase 1 reads the text anyway."""
    rows = (
        df.select(
            bucket_of(F.col(id_col), n_buckets).alias("b"),
            F.xxhash64(*hash_cols).alias("h"),
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("fp"))
        .collect()
    )
    got = {int(r["b"]): (int(r["n"]), int(r["fp"])) for r in rows}
    return {k: (got[k][0] * 1_000_003) ^ got[k][1] if k in got else 0 for k in range(n_buckets)}


def curation_profile(
    docs: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Phase-1 per-document curation profile: everything the global
    stages of the E30 pipeline need, with the text dropped. Pure
    scan-stage expressions (repetition stats are sorted-run array aggs,
    URL normalization is string ops, the fingerprint is one md5) — a
    bucket's profile job is a single text scan with zero shuffles."""
    from .functions.text import doc_fingerprint
    from .operators.curation import repetition_stats
    from .operators.dedup import normalize_url, url_domain

    s = repetition_stats(docs, text_col)
    norm = normalize_url(F.col(url_col))
    return s.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        norm.alias("url_norm"),
        url_domain(norm).alias("domain"),
        "n_words",
        "dup_word_frac",
        "top_word_frac",
        "dup_2gram_frac",
        doc_fingerprint(F.col(text_col)).alias("fp"),
    )


def _curation_config_hash(thresholds: dict, k_per_source: int) -> str:
    import hashlib

    token = json.dumps(
        {"v": _PROFILE_VERSION, "k": k_per_source, **{t: thresholds[t] for t in sorted(thresholds)}},
        sort_keys=True,
    )
    return hashlib.md5(token.encode()).hexdigest()


def run_curation_resumable(
    spark: SparkSession,
    docs: DataFrame,
    output_path: str,
    n_buckets: int = 8,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    thresholds: dict | None = None,
    k_per_source: int = 20,
    fail_after_bucket: int | None = None,
    check_input: bool = True,
) -> list[BucketResult]:
    """Bucket-at-a-time phase-1 profile run with lineage + resume — the
    curation counterpart of ``run_resumable`` (same manifest lines, same
    structural output validation, same input-fingerprint skip semantics,
    same snapshot commit; ``fail_after_bucket`` is the kill/restart test
    hook). A killed 100 TB curation run resumes at the first unfinished
    bucket instead of restarting from zero; an appended crawl recomputes
    only the buckets whose input slice changed. Compose with
    ``finalize_curation`` for the corpus-global stages."""
    thresholds = {**GOPHER_DEFAULTS, **(thresholds or {})}
    cfg_hash = _curation_config_hash(thresholds, k_per_source)
    done = read_manifest(output_path)
    results: list[BucketResult] = []
    docs_b = docs.withColumn("__bucket", bucket_of(F.col(id_col), n_buckets))
    in_fps = (
        input_fingerprints_generic(
            docs, [id_col, source_col, url_col, text_col], n_buckets, id_col
        )
        if check_input
        else {}
    )
    completed = 0
    for k in range(n_buckets):
        prev = done.get(k)
        if (
            prev
            and prev.get("config_hash") == cfg_hash
            and prev.get("status") == "ok"
            and bucket_output_valid(output_path, k)
            and (
                not check_input
                or prev.get("input_fp") is None
                or prev.get("input_fp") == in_fps.get(k)
            )
        ):
            results.append(
                BucketResult(k, cfg_hash, prev["row_count"], prev["n_docs"], prev["elapsed_s"], "skipped")
            )
            continue
        t0 = time.time()
        from pyspark.sql import Observation

        obs = Observation(f"curation_bucket_{k}")
        prof = curation_profile(
            docs_b.filter(F.col("__bucket") == k).drop("__bucket"),
            url_col,
            text_col,
            id_col,
            source_col,
        ).observe(obs, F.count(F.lit(1)).alias("n_docs"))
        out_dir = os.path.join(output_path, f"bucket={k}")
        prof.write.mode("overwrite").parquet(out_dir)
        n_docs = int(obs.get["n_docs"])
        res = BucketResult(
            k, cfg_hash, n_docs, n_docs, time.time() - t0, "ok",
            in_fps.get(k) if check_input else "disabled",
        )
        write_manifest_entry(output_path, res)
        results.append(res)
        completed += 1
        if fail_after_bucket is not None and completed >= fail_after_bucket:
            raise RuntimeError(f"injected failure after {completed} fresh buckets (bucket {k})")
    if (
        results
        and all(r.status in ("ok", "skipped") for r in results)
        and not snapshot_is_current(output_path)
    ):
        write_snapshot(output_path)
    return results


def finalize_curation(
    spark: SparkSession,
    output_path: str,
    thresholds: dict | None = None,
    k_per_source: int = 20,
) -> DataFrame:
    """Phase 2: the corpus-GLOBAL curation stages over the profile table
    — URL-keeper window -> Gopher threshold filter -> content-keeper
    window -> deterministic per-source cap — exactly the E30 stage order,
    so the result equals the one-shot ``curation_pipeline`` plan on the
    same input (pinned by pytest). Reads the snapshot-validated bucket
    layout; every shuffle key here is a short string/hash, never text."""
    from .operators.stats import cap_per_group
    from pyspark.sql import Window

    t = {**GOPHER_DEFAULTS, **(thresholds or {})}
    prof = read_snapshot(spark, output_path)
    ukeep = F.min("doc_id").over(Window.partitionBy("url_norm"))
    s1 = prof.withColumn("__ukeep", ukeep).filter(F.col("doc_id") == F.col("__ukeep"))
    s2 = s1.filter(
        (F.col("n_words") >= t["min_words"])
        & (F.col("dup_word_frac") <= t["max_dup_word_frac"])
        & (F.col("top_word_frac") <= t["max_top_word_frac"])
        & (F.col("dup_2gram_frac") <= t["max_dup_2gram_frac"])
    )
    ekeep = F.min("doc_id").over(Window.partitionBy("fp"))
    s3 = s2.withColumn("__ekeep", ekeep).filter(F.col("doc_id") == F.col("__ekeep"))
    capped = cap_per_group(s3, "doc_id", "source", k=k_per_source)
    return capped.select("doc_id", "source", "domain", "n_words")


def expire_snapshots(output_path: str, keep_last: int = 3) -> list[int]:
    """Iceberg-style snapshot retention: drop all but the newest
    ``keep_last`` snapshot JSONs (the data itself lives in the
    overwrite-in-place bucket layout, so expiry is metadata-only).
    Returns the expired version numbers."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    snaps = list_snapshots(output_path)
    expired = [s["version"] for s in snaps[:-keep_last]]
    for v in expired:
        os.unlink(os.path.join(_snapshot_dir(output_path), f"v{v}.json"))
    return expired
