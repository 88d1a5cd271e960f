"""Resume test (SURVEY.md §5.5): kill after k buckets, restart, assert
identical output and that finished buckets were skipped via the manifest."""

from __future__ import annotations

import pandas as pd
import pytest

from seizury_hrv_featuresextraction_spark.checkpoint import read_manifest, run_resumable
from seizury_hrv_featuresextraction_spark.schemas import ANNOTATIONS_SCHEMA, SEQUENCES_SCHEMA
from seizury_hrv_featuresextraction_spark.plans.hrv_pipeline import extract_features


def test_resume_after_crash(spark, fixture_tables, tiny_cfg, tmp_path):
    seq, ann = fixture_tables
    seq = seq.iloc[:6]
    ann = ann[ann["doc_id"].isin(seq["doc_id"])]
    sdf = spark.createDataFrame(seq, schema=SEQUENCES_SCHEMA)
    adf = spark.createDataFrame(ann, schema=ANNOTATIONS_SCHEMA)
    out = str(tmp_path / "features_out")
    n_buckets = 4

    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, sdf, adf, out, tiny_cfg, n_buckets=n_buckets, fail_after_bucket=2)
    manifest_mid = read_manifest(out)
    assert len(manifest_mid) == 2
    first_done = sorted(manifest_mid)

    results = run_resumable(spark, sdf, adf, out, tiny_cfg, n_buckets=n_buckets)
    statuses = {r.bucket: r.status for r in results}
    for k in first_done:
        assert statuses[k] == "skipped"
    assert all(s in ("ok", "skipped") for s in statuses.values())
    # lineage carries rows + throughput
    manifest = read_manifest(out)
    assert all("rows_per_s" in m and m["row_count"] >= 0 for m in manifest.values())

    # resumed output == single-shot output
    resumed = (
        spark.read.parquet(out + "/bucket=*")
        .toPandas()
        .sort_values(["doc_id", "window_id"], kind="mergesort")
        .reset_index(drop=True)
    )
    single = (
        extract_features(sdf, adf, tiny_cfg)
        .toPandas()
        .sort_values(["doc_id", "window_id"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(resumed) == len(single)
    # float kernels are allclose-deterministic, not bitwise (BLAS matvec
    # results shift by ~1 ulp with buffer alignment); keys/labels exact.
    from conftest import assert_frames_allclose
    from seizury_hrv_featuresextraction_spark.functions.hrv import ALL_FEATURES

    assert_frames_allclose(resumed, single, float_cols=ALL_FEATURES, key_cols=["doc_id", "window_id"])
    assert (
        resumed.sort_values(["doc_id", "window_id"])["label"].to_numpy()
        == single.sort_values(["doc_id", "window_id"])["label"].to_numpy()
    ).all()


def test_resume_revalidates_and_one_action_per_bucket(spark, fixture_tables, tiny_cfg, tmp_path):
    """ADVICE r1: a deleted bucket directory must invalidate its manifest
    line. VERDICT r1 item 6: each fresh bucket costs ONE Spark action (the
    write; input/output counts ride as observe() metrics)."""
    import os
    import shutil
    import time

    seq, ann = fixture_tables
    seq = seq.iloc[:2]
    sdf = spark.createDataFrame(seq, schema=SEQUENCES_SCHEMA)
    adf = spark.createDataFrame(ann[ann["doc_id"].isin(seq["doc_id"])], schema=ANNOTATIONS_SCHEMA)
    out = str(tmp_path / "f3")

    def executions() -> int:
        # settle the async listener bus before reading the count
        store = spark._jsparkSession.sharedState().statusStore()
        prev = -1
        for _ in range(50):
            cur = store.executionsCount()
            if cur == prev:
                return cur
            prev = cur
            time.sleep(0.1)
        return prev

    before = executions()
    run_resumable(spark, sdf, adf, out, tiny_cfg, n_buckets=2)
    delta = executions() - before
    # one action per bucket (the write; counts ride observe() metrics)
    # plus exactly ONE input-fingerprint pre-pass per RUN (r4 incremental
    # resume; sequences and annotations hashed in a single union job).
    # The plan routes docs by a row predicate, so no stats job runs.
    assert delta == 3, f"expected one action per bucket + fp pre-pass, saw {delta}"

    # identical rerun: fingerprints match -> buckets skip, so the whole
    # resume costs exactly ONE job — the fp pre-pass
    before = executions()
    rerun = run_resumable(spark, sdf, adf, out, tiny_cfg, n_buckets=2)
    assert all(r.status == "skipped" for r in rerun)
    delta = executions() - before
    assert delta == 1, f"all-skipped resume must cost exactly the fp pre-pass, saw {delta}"
    assert not os.path.exists(os.path.join(out, "_manifest", "table_stats.json"))

    shutil.rmtree(os.path.join(out, "bucket=0"))
    results = run_resumable(spark, sdf, adf, out, tiny_cfg, n_buckets=2)
    statuses = {r.bucket: r.status for r in results}
    assert statuses[0] == "ok", "deleted bucket output must be recomputed"
    assert statuses[1] == "skipped"


def test_resume_manifests_count_both_routing_branches(spark, mixed_tables, tmp_path):
    """Each bucket's observe() sits under both routing branches (and the
    label side): on a table whose docs take both branches, every
    manifest's n_docs and row_count must equal the docs and rows read
    back for that bucket."""
    from pyspark.sql import functions as F

    from seizury_hrv_featuresextraction_spark.checkpoint import bucket_of

    seq, ann, cfg = mixed_tables
    sdf = spark.createDataFrame(seq, schema=SEQUENCES_SCHEMA)
    adf = spark.createDataFrame(ann, schema=ANNOTATIONS_SCHEMA)
    out = str(tmp_path / "mixed_out")
    n_buckets = 3

    results = run_resumable(spark, sdf, adf, out, cfg, n_buckets=n_buckets)
    assert all(r.status == "ok" for r in results)
    docs = {
        r["b"]: r["n"]
        for r in sdf.groupBy(bucket_of(F.col("doc_id"), n_buckets).alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    manifest = read_manifest(out)
    assert sum(m["n_docs"] for m in manifest.values()) == len(seq)
    for k in range(n_buckets):
        rows = spark.read.parquet(f"{out}/bucket={k}").count()
        assert manifest[k]["n_docs"] == docs.get(k, 0), (k, manifest[k])
        assert manifest[k]["row_count"] == rows, (k, manifest[k])


def test_config_change_invalidates(spark, fixture_tables, tiny_cfg, tmp_path):
    from dataclasses import replace

    seq, ann = fixture_tables
    seq = seq.iloc[:2]
    sdf = spark.createDataFrame(seq, schema=SEQUENCES_SCHEMA)
    adf = spark.createDataFrame(ann[ann["doc_id"].isin(seq["doc_id"])], schema=ANNOTATIONS_SCHEMA)
    out = str(tmp_path / "f2")
    run_resumable(spark, sdf, adf, out, tiny_cfg, n_buckets=2)
    cfg2 = replace(tiny_cfg, sph_seconds=120.0)
    results = run_resumable(spark, sdf, adf, out, cfg2, n_buckets=2)
    assert all(r.status == "ok" for r in results)  # nothing skipped: config hash changed


def test_snapshot_time_travel(spark, fixture_tables, tiny_cfg, tmp_path):
    """Iceberg-lite snapshot log: each full run commits a version; a
    pinned read validates the live buckets against the snapshot and
    refuses stale versions after a config rewrite."""
    from dataclasses import replace

    import pytest as _pytest

    from seizury_hrv_featuresextraction_spark.checkpoint import (
        list_snapshots,
        read_snapshot,
        write_snapshot,
    )

    seq, ann = fixture_tables
    seq = seq.iloc[:2]
    sdf = spark.createDataFrame(seq, schema=SEQUENCES_SCHEMA)
    adf = spark.createDataFrame(ann[ann["doc_id"].isin(seq["doc_id"])], schema=ANNOTATIONS_SCHEMA)
    out = str(tmp_path / "f3")

    r1 = run_resumable(spark, sdf, adf, out, tiny_cfg, n_buckets=2)
    snaps = list_snapshots(out)
    assert [s["version"] for s in snaps] == [1]
    df1 = read_snapshot(spark, out, version=1)
    assert df1.count() == sum(r.row_count for r in r1)

    # re-run same config: all buckets skipped -> state unchanged -> NO new
    # snapshot version (like Iceberg skipping an empty commit)
    run_resumable(spark, sdf, adf, out, tiny_cfg, n_buckets=2)
    assert [s["version"] for s in list_snapshots(out)] == [1]
    assert read_snapshot(spark, out).count() == df1.count()  # latest

    # config rewrite invalidates v1 (buckets rewritten in place)
    cfg2 = replace(tiny_cfg, sph_seconds=120.0)
    run_resumable(spark, sdf, adf, out, cfg2, n_buckets=2)
    assert [s["version"] for s in list_snapshots(out)] == [1, 2]
    assert read_snapshot(spark, out, version=2).count() > 0
    with _pytest.raises(ValueError, match="stale"):
        read_snapshot(spark, out, version=1)

    # unknown version
    with _pytest.raises(ValueError, match="not found"):
        read_snapshot(spark, out, version=99)
    # manual commit on top of live manifests works
    assert write_snapshot(out) == 3


def test_snapshot_repair_after_crash_before_commit(spark, fixture_tables, tiny_cfg, tmp_path):
    """ADVICE r3: a crash between the last bucket's manifest write and the
    snapshot commit must be repaired by the next (all-skipped) run — the
    commit test is manifest-state vs latest snapshot, not completed>0."""
    import shutil

    from seizury_hrv_featuresextraction_spark.checkpoint import list_snapshots

    seq, ann = fixture_tables
    seq = seq.iloc[:2]
    sdf = spark.createDataFrame(seq, schema=SEQUENCES_SCHEMA)
    adf = spark.createDataFrame(ann[ann["doc_id"].isin(seq["doc_id"])], schema=ANNOTATIONS_SCHEMA)
    out = str(tmp_path / "f4")
    run_resumable(spark, sdf, adf, out, tiny_cfg, n_buckets=2)
    # simulate the crash window: manifests landed, snapshot commit did not
    shutil.rmtree(out + "/_snapshots")
    results = run_resumable(spark, sdf, adf, out, tiny_cfg, n_buckets=2)
    assert all(r.status == "skipped" for r in results)
    assert [s["version"] for s in list_snapshots(out)] == [1], "missing snapshot must be committed"
    # and an idempotent re-run after the repair still commits nothing new
    run_resumable(spark, sdf, adf, out, tiny_cfg, n_buckets=2)
    assert [s["version"] for s in list_snapshots(out)] == [1]


def test_snapshot_version_race_retries(spark, fixture_tables, tiny_cfg, tmp_path, monkeypatch):
    """ADVICE r3: two committers computing the same next version must not
    overwrite each other — the loser's os.link hits EEXIST and lands the
    following version (append-only log invariant)."""
    import json as _json

    import seizury_hrv_featuresextraction_spark.checkpoint as cp

    seq, ann = fixture_tables
    seq = seq.iloc[:2]
    sdf = spark.createDataFrame(seq, schema=SEQUENCES_SCHEMA)
    adf = spark.createDataFrame(ann[ann["doc_id"].isin(seq["doc_id"])], schema=ANNOTATIONS_SCHEMA)
    out = str(tmp_path / "f5")
    run_resumable(spark, sdf, adf, out, tiny_cfg, n_buckets=2)  # commits v1

    # make the committer believe the log is empty (as if a concurrent run
    # committed v1 between its list_snapshots and its link)
    real = cp.list_snapshots
    monkeypatch.setattr(cp, "list_snapshots", lambda p: [])
    v = cp.write_snapshot(out)
    monkeypatch.setattr(cp, "list_snapshots", real)
    assert v == 2, "racing committer must retry into the next free slot"
    snaps = cp.list_snapshots(out)
    assert [s["version"] for s in snaps] == [1, 2]
    # v1 content survived the race untouched
    with open(out + "/_snapshots/v1.json") as f:
        assert _json.load(f)["version"] == 1


def test_snapshot_read_prunes_to_pinned_buckets(spark, fixture_tables, tiny_cfg, tmp_path):
    """VERDICT r3 item 8: a time-travel read of snapshot k must scan
    exactly the buckets live at k — buckets added by later snapshots never
    reach the file listing (file-level pruning, asserted via inputFiles)."""
    import shutil

    from seizury_hrv_featuresextraction_spark.checkpoint import (
        list_snapshots,
        manifest_path,
        read_manifest,
        read_snapshot,
        write_snapshot,
    )

    seq, ann = fixture_tables
    seq = seq.iloc[:2]
    sdf = spark.createDataFrame(seq, schema=SEQUENCES_SCHEMA)
    adf = spark.createDataFrame(ann[ann["doc_id"].isin(seq["doc_id"])], schema=ANNOTATIONS_SCHEMA)
    out = str(tmp_path / "f6")
    run_resumable(spark, sdf, adf, out, tiny_cfg, n_buckets=2)  # v1: buckets {0,1}

    # a later run appends bucket 2 (same config) and commits v2
    import json as _json
    import os as _os

    shutil.copytree(out + "/bucket=0", out + "/bucket=2")
    rec = read_manifest(out)[0] | {"bucket": 2}
    with open(manifest_path(out, 2), "w") as f:
        _json.dump(rec, f)
    assert write_snapshot(out) == 2

    df1 = read_snapshot(spark, out, version=1)
    files1 = {f.split("/bucket=")[1].split("/")[0] for f in df1.inputFiles()}
    assert files1 == {"0", "1"}, df1.inputFiles()
    df2 = read_snapshot(spark, out, version=2)
    files2 = {f.split("/bucket=")[1].split("/")[0] for f in df2.inputFiles()}
    assert files2 == {"0", "1", "2"}
    assert [s["version"] for s in list_snapshots(out)] == [1, 2]


def test_incremental_recompute_on_appended_input(spark, fixture_tables, tiny_cfg, tmp_path):
    """Input-aware resume (r4): appending docs must recompute EXACTLY the
    buckets whose input slice changed (per-bucket fingerprint mismatch)
    and skip the rest — Iceberg-style incremental recompute, not a
    config-only skip that would silently serve stale buckets."""
    from pyspark.sql import functions as F

    from seizury_hrv_featuresextraction_spark.checkpoint import bucket_of, list_snapshots

    seq, ann = fixture_tables
    first, full = seq.iloc[:5], seq.iloc[:8]
    extra = seq.iloc[5:8]
    ann1 = ann[ann["doc_id"].isin(first["doc_id"])]
    ann2 = ann[ann["doc_id"].isin(full["doc_id"])]
    out = str(tmp_path / "f7")
    n_buckets = 4

    sdf1 = spark.createDataFrame(first, schema=SEQUENCES_SCHEMA)
    adf1 = spark.createDataFrame(ann1, schema=ANNOTATIONS_SCHEMA)
    r1 = run_resumable(spark, sdf1, adf1, out, tiny_cfg, n_buckets=n_buckets)
    assert all(r.status == "ok" for r in r1)

    changed = {
        r["b"]
        for r in spark.createDataFrame(extra, schema=SEQUENCES_SCHEMA)
        .select(bucket_of(F.col("doc_id"), n_buckets).alias("b"))
        .distinct()
        .collect()
    }
    assert 0 < len(changed) < n_buckets, f"fixture must split buckets, got {changed}"

    sdf2 = spark.createDataFrame(full, schema=SEQUENCES_SCHEMA)
    adf2 = spark.createDataFrame(ann2, schema=ANNOTATIONS_SCHEMA)
    r2 = run_resumable(spark, sdf2, adf2, out, tiny_cfg, n_buckets=n_buckets)
    statuses = {r.bucket: r.status for r in r2}
    for k in range(n_buckets):
        assert statuses[k] == ("ok" if k in changed else "skipped"), (k, statuses, changed)
    # the incremental result equals a from-scratch run on the full input
    resumed = (
        spark.read.parquet(out + "/bucket=*")
        .toPandas()
        .sort_values(["doc_id", "window_id"], kind="mergesort")
        .reset_index(drop=True)
    )
    single = (
        extract_features(sdf2, adf2, tiny_cfg)
        .toPandas()
        .sort_values(["doc_id", "window_id"], kind="mergesort")
        .reset_index(drop=True)
    )
    from conftest import assert_frames_allclose
    from seizury_hrv_featuresextraction_spark.functions.hrv import ALL_FEATURES

    assert len(resumed) == len(single)
    assert_frames_allclose(resumed, single, float_cols=ALL_FEATURES, key_cols=["doc_id", "window_id"])
    # the changed state committed a second snapshot version
    assert [s["version"] for s in list_snapshots(out)] == [1, 2]
    # idempotent re-run: fingerprints all match again -> everything skips
    r3 = run_resumable(spark, sdf2, adf2, out, tiny_cfg, n_buckets=n_buckets)
    assert all(r.status == "skipped" for r in r3)
    assert [s["version"] for s in list_snapshots(out)] == [1, 2]


def test_expire_snapshots_retention(spark, fixture_tables, tiny_cfg, tmp_path):
    """Iceberg-style retention: expire all but the newest k snapshot
    versions (metadata-only in the overwrite layout); expired versions
    become unreadable, the survivors keep working."""
    from dataclasses import replace

    from seizury_hrv_featuresextraction_spark.checkpoint import (
        expire_snapshots,
        list_snapshots,
        read_snapshot,
    )

    seq, ann = fixture_tables
    seq = seq.iloc[:2]
    sdf = spark.createDataFrame(seq, schema=SEQUENCES_SCHEMA)
    adf = spark.createDataFrame(ann[ann["doc_id"].isin(seq["doc_id"])], schema=ANNOTATIONS_SCHEMA)
    out = str(tmp_path / "f8")
    for i, sph in enumerate((60.0, 120.0, 180.0)):
        run_resumable(spark, sdf, adf, out, replace(tiny_cfg, sph_seconds=sph), n_buckets=2)
    assert [s["version"] for s in list_snapshots(out)] == [1, 2, 3]
    assert expire_snapshots(out, keep_last=1) == [1, 2]
    assert [s["version"] for s in list_snapshots(out)] == [3]
    assert read_snapshot(spark, out, version=3).count() > 0
    with pytest.raises(ValueError, match="not found"):
        read_snapshot(spark, out, version=2)
    with pytest.raises(ValueError):
        expire_snapshots(out, keep_last=0)


def test_disabled_input_check_recomputes_under_validation(spark, fixture_tables, tiny_cfg, tmp_path):
    """ADVICE r4: a run with check_input=False stamps its manifests
    input_fp="disabled" — a later validating (default) run must treat
    that as a mismatch and recompute those buckets, never serving output
    whose input was not validated when written. Once the validating run
    has stamped real fingerprints, a repeat run skips normally."""
    seq, ann = fixture_tables
    seq = seq.iloc[:4]
    ann = ann[ann["doc_id"].isin(seq["doc_id"])]
    sdf = spark.createDataFrame(seq, schema=SEQUENCES_SCHEMA)
    adf = spark.createDataFrame(ann, schema=ANNOTATIONS_SCHEMA)
    out = str(tmp_path / "disabled_fp_out")

    r1 = run_resumable(spark, sdf, adf, out, tiny_cfg, n_buckets=3, check_input=False)
    assert all(r.status == "ok" for r in r1)
    assert all(m["input_fp"] == "disabled" for m in read_manifest(out).values())

    # unchanged input, but the recorded fingerprints say "never validated"
    r2 = run_resumable(spark, sdf, adf, out, tiny_cfg, n_buckets=3, check_input=True)
    assert all(r.status == "ok" for r in r2), "disabled-fp buckets must recompute under validation"

    r3 = run_resumable(spark, sdf, adf, out, tiny_cfg, n_buckets=3, check_input=True)
    assert all(r.status == "skipped" for r in r3)


def test_snapshot_log_tolerates_truncated_file(spark, fixture_tables, tiny_cfg, tmp_path):
    """r5 ADVICE: a truncated vN.json (crash/ENOSPC mid-write on a
    no-hardlink filesystem) must not poison snapshot reads — it is
    skipped with a warning, and the next commit lands on a FRESH version
    (the corrupt slot stays occupied, append-only log preserved)."""
    import os
    import warnings as _warnings

    from seizury_hrv_featuresextraction_spark.checkpoint import (
        _snapshot_dir,
        list_snapshots,
        write_snapshot,
    )

    seq, ann = fixture_tables
    seq = seq.iloc[:2]
    sdf = spark.createDataFrame(seq, schema=SEQUENCES_SCHEMA)
    adf = spark.createDataFrame(ann[ann["doc_id"].isin(seq["doc_id"])], schema=ANNOTATIONS_SCHEMA)
    out = str(tmp_path / "f_trunc")
    run_resumable(spark, sdf, adf, out, tiny_cfg, n_buckets=2)
    assert [s["version"] for s in list_snapshots(out)] == [1]

    # plant a truncated v2.json
    with open(os.path.join(_snapshot_dir(out), "v2.json"), "w") as f:
        f.write('{"version": 2, "bucke')
    with _warnings.catch_warnings(record=True) as rec:
        _warnings.simplefilter("always")
        assert [s["version"] for s in list_snapshots(out)] == [1]
    assert any("unreadable snapshot" in str(w.message) for w in rec)

    # next commit must land v3 (v2 slot occupied), not overwrite v2
    assert write_snapshot(out) == 3
    assert [s["version"] for s in list_snapshots(out)] == [1, 3]


# ---------------------------------------------------------------------------
# r6 VERDICT Missing #2: curation-scope resume (per-bucket profile phase +
# global finalize == one-shot E30 pipeline)
# ---------------------------------------------------------------------------


def _curation_docs(n=160, extra_from=None):
    rows = []
    ids = range(n) if extra_from is None else range(extra_from, extra_from + n)
    for i in ids:
        if i % 17 == 0:
            text = "spam " * 30  # gopher: top_word_frac = 1.0 -> dropped
        elif i % 13 == 0:
            text = "too short"  # gopher: n_words < 10 -> dropped
        elif i % 7 == 0:
            text = "identical content shared by several documents for exact dedup " + "pad " * 5
        else:
            text = " ".join(f"d{i}w{j}" for j in range(20))
        rows.append((i, f"src{i % 3}", text.strip()))
    return rows


def _curation_oneshot(docs, k):
    from pyspark.sql import functions as F

    from seizury_hrv_featuresextraction_spark.operators.curation import gopher_repetition_filter
    from seizury_hrv_featuresextraction_spark.operators.dedup import (
        dedup_exact_keep,
        derive_url,
        url_dedup_keep,
    )
    from seizury_hrv_featuresextraction_spark.operators.stats import cap_per_group

    u = url_dedup_keep(derive_url(docs)).drop("url")
    g = gopher_repetition_filter(u)
    e = dedup_exact_keep(g, "text", "doc_id")
    return cap_per_group(e, "doc_id", "source", k=k).select(
        "doc_id", "source", "domain", "n_words"
    )


def _rows(df):
    return sorted(
        (r["doc_id"], r["source"], r["domain"], r["n_words"]) for r in df.collect()
    )


def test_curation_resume_kill_restart_matches_oneshot(spark, tmp_path):
    """Kill the profile phase after 2 buckets, restart, finalize: the
    finished buckets are skipped and the final output is IDENTICAL to
    the one-shot curation_pipeline composition — the global stages are
    never evaluated per bucket, so keeper windows see the whole corpus."""
    import pytest as _pytest

    from seizury_hrv_featuresextraction_spark.checkpoint import (
        finalize_curation,
        read_manifest,
        run_curation_resumable,
    )
    from seizury_hrv_featuresextraction_spark.operators.dedup import derive_url

    docs = spark.createDataFrame(_curation_docs(), "doc_id long, source string, text string")
    with_url = derive_url(docs)
    out = str(tmp_path / "curation_out")

    with _pytest.raises(RuntimeError, match="injected failure"):
        run_curation_resumable(spark, with_url, out, n_buckets=4, k_per_source=5, fail_after_bucket=2)
    mid = read_manifest(out)
    assert len(mid) == 2
    done_first = sorted(mid)

    results = run_curation_resumable(spark, with_url, out, n_buckets=4, k_per_source=5)
    statuses = {r.bucket: r.status for r in results}
    assert all(statuses[k] == "skipped" for k in done_first)
    assert all(s in ("ok", "skipped") for s in statuses.values())

    got = finalize_curation(spark, out, k_per_source=5)
    expected = _curation_oneshot(docs, k=5)
    assert _rows(got) == _rows(expected) and len(_rows(expected)) > 0

    # idempotent re-run: everything skipped, output unchanged
    again = run_curation_resumable(spark, with_url, out, n_buckets=4, k_per_source=5)
    assert all(r.status == "skipped" for r in again)
    assert _rows(finalize_curation(spark, out, k_per_source=5)) == _rows(expected)


def test_curation_resume_appended_crawl_recomputes_changed_buckets(spark, tmp_path):
    """Appending a new crawl recomputes ONLY the buckets whose input
    slice changed (input-fingerprint diff), and the finalized output
    equals the one-shot run over the appended corpus."""
    from seizury_hrv_featuresextraction_spark.checkpoint import (
        bucket_of,
        finalize_curation,
        run_curation_resumable,
    )
    from pyspark.sql import functions as F

    from seizury_hrv_featuresextraction_spark.operators.dedup import derive_url

    base = spark.createDataFrame(_curation_docs(), "doc_id long, source string, text string")
    out = str(tmp_path / "curation_out")
    run_curation_resumable(spark, derive_url(base), out, n_buckets=4, k_per_source=5)

    extra = spark.createDataFrame(
        _curation_docs(12, extra_from=1000), "doc_id long, source string, text string"
    )
    appended = base.unionByName(extra)
    changed = {
        r["b"] for r in extra.select(bucket_of(F.col("doc_id"), 4).alias("b")).distinct().collect()
    }
    results = run_curation_resumable(spark, derive_url(appended), out, n_buckets=4, k_per_source=5)
    assert {r.bucket for r in results if r.status == "ok"} == changed
    assert {r.bucket for r in results if r.status == "skipped"} == set(range(4)) - changed

    got = finalize_curation(spark, out, k_per_source=5)
    assert _rows(got) == _rows(_curation_oneshot(appended, k=5))
