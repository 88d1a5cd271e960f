"""The benchmark workloads.

Each workload has these phases, driven by ``run.py``:

- ``build(spark, k)``: make the inputs (set-up ``k`` of several; timed
  as part of ``setup_s``);
- ``timed(spark, i)``: one closed-loop operation; returns the number of
  user-visible operations it performed;
- ``checks(spark)``: output checks, outside the timed region;
- ``probes(spark)``: per-layer measurements, traced runs only.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from seizury_hrv_featuresextraction_spark.config import DEFAULT_CONFIG
from seizury_hrv_featuresextraction_spark.functions.hrv import ALL_FEATURES, WindowKernel

from fixtures import skewed_sequences, write_split

# bench.py's HEADLINE list, copied so that the benchmark's operation mix
# only changes when the benchmark itself does
HEADLINE = [
    "pricing_summary",
    "sessionize_events",
    "asof_backward_join",
    "sliding_window_counts",
    "tumbling_time_features",
    "lsh_dup_pairs",
    "ngram_jaccard_pairs",
    "simhash_docs",
    "cosine_topk",
    "hrv_time_features_windows",
]
KERNEL_PARTS = sorted(WindowKernel.ALL_PARTS)
# run_resumable's default is 8 buckets. Each bucket is one Spark job of
# ~4 s on a 4-core box whatever its size, so 8 buckets would take most of
# the time one benchmark run may use; 4 keeps the per-bucket path (write,
# manifest, resume skip) at half the job count.
N_BUCKETS = 4
# the kernel probe times each part alone and all parts at once; each part
# alone repeats the work the parts share, so their sum is a little more
# than the whole (1.07 on a 4-core box, 1.16 at the smoke-test size).
# Outside this range the parts do not add up to what the kernel runs.
PARTS_OVER_ALL_RANGE = (0.8, 1.5)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(path)
        for n in names
    )


class SkewedResumable:
    """Seeded ``datagen`` docs, one of which holds half of all tokens,
    written as ``2 * nproc`` parquet files. The timed operation is
    ``run_resumable`` (default config, ``N_BUCKETS`` buckets) into a fresh
    directory, then one resume call over the finished output."""

    name = "skewed_resumable"

    def __init__(self, work: str, seed: int, nproc: int, small: bool = False):
        self.work = work
        self.seed = seed
        self.nproc = nproc
        # small: the smoke-test size
        self.n_short, self.short_range = (6, (600, 900)) if small else (40, (500, 2500))
        self.results = None
        self.resumed = None
        self.out = None
        self.parts_over_all = None  # set by the kernel probe (traced runs)

    # -- set-up -------------------------------------------------------------
    def build(self, spark, k: int) -> dict[str, float]:
        from seizury_hrv_featuresextraction_spark.datagen import make_annotations, write_parquet

        src = os.path.join(self.work, f"input-{k}")
        t0 = time.perf_counter()
        self.pdf = skewed_sequences(self.seed, self.n_short, self.short_range)
        write_split(self.pdf, os.path.join(src, "sequences"), 2 * self.nproc)
        self.seq = spark.read.parquet(os.path.join(src, "sequences"))
        n_docs = self.seq.count()
        t1 = time.perf_counter()
        self.pann = make_annotations(self.pdf, seed=self.seed)
        write_parquet(self.pann, os.path.join(src, "annotations.parquet"))
        self.ann = spark.read.parquet(os.path.join(src, "annotations.parquet"))
        self.ann.count()
        t2 = time.perf_counter()
        self.tokens = int(self.pdf["n_tok"].sum())
        self.longest_share = int(self.pdf["n_tok"].max()) / self.tokens
        return {
            "sources.build_s": t1 - t0,
            "sources.annotations_s": t2 - t1,
            "sources.docs": float(n_docs),
            "sources.tokens": float(self.tokens),
        }

    def describe(self) -> dict:
        return {"docs": len(self.pdf), "tokens": self.tokens,
                "longest_doc_share": round(self.longest_share, 3)}

    # -- measured phases ----------------------------------------------------
    def timed(self, spark, i: int) -> int:
        from seizury_hrv_featuresextraction_spark.checkpoint import run_resumable

        if self.out is not None:
            shutil.rmtree(self.out, ignore_errors=True)
        self.out = os.path.join(self.work, f"output-{i}")
        self.results = run_resumable(spark, self.seq, self.ann, self.out, DEFAULT_CONFIG, N_BUCKETS)
        t0 = time.perf_counter()
        self.resumed = run_resumable(spark, self.seq, self.ann, self.out, DEFAULT_CONFIG, N_BUCKETS)
        self.resume_s = time.perf_counter() - t0
        return 2

    def checks(self, spark) -> list[tuple[str, bool]]:
        from seizury_hrv_featuresextraction_spark.checkpoint import read_manifest
        from seizury_hrv_featuresextraction_spark.plans.hrv_pipeline import doc_dimensions

        cfg = DEFAULT_CONFIG
        out: list[tuple[str, bool]] = []
        manifest = read_manifest(self.out)
        for r in self.results:
            out.append((f"manifest bucket {r.bucket} ok",
                        r.status == "ok" and manifest.get(r.bucket, {}).get("status") == "ok"))
        for r in self.resumed:
            out.append((f"resume bucket {r.bucket} skipped", r.status == "skipped"))

        feats = spark.read.parquet(self.out)
        got = {r["doc_id"]: r["n"] for r in feats.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
        out.append(("read-back rows == manifest rows",
                    sum(got.values()) == sum(r.row_count for r in self.results)))
        # closed-form window grid: floor((n_samples - window) / step) + 1
        spw, step = cfg.window_samples(), cfg.step_samples()
        grid = {
            r["doc_id"]: max(0, (r["n_samples"] - spw) // step + 1)
            for r in doc_dimensions(self.seq, cfg).collect()
        }
        expected = {d: n for d, n in grid.items() if n > 0}
        out.append(("window count per doc == closed-form grid", got == expected))

        out.extend(self._oracle_checks(feats))
        out.append(self._seam_check(feats))
        if self.parts_over_all is not None:
            lo, hi = PARTS_OVER_ALL_RANGE
            out.append((f"kernel parts sum / kernel.all_s in [{lo}, {hi}]",
                        lo <= self.parts_over_all <= hi))
        return out

    def _oracle_checks(self, feats) -> list[tuple[str, bool]]:
        from seizury_hrv_featuresextraction_spark.oracle import oracle_pipeline

        # the oracle costs ~0.1 s per window (pure-Python Lomb-Scargle):
        # check one seeded doc of at most ~100 windows
        rng = np.random.default_rng(self.seed)
        short = self.pdf[self.pdf["n_tok"] <= 650]
        if short.empty:
            short = self.pdf.nsmallest(1, "n_tok")
        doc = str(rng.choice(short["doc_id"].to_numpy()))
        exp = oracle_pipeline(
            self.pdf[self.pdf["doc_id"] == doc], self.pann[self.pann["doc_id"] == doc], DEFAULT_CONFIG
        ).sort_values("window_id").reset_index(drop=True)
        return [(f"oracle features and labels of {doc}", _same_windows(_doc_rows(feats, doc), exp))]

    def _seam_check(self, feats) -> tuple[str, bool]:
        """The long doc is the one the skew split cuts into chunks (the
        short docs fit one chunk each): compare its output with the same
        doc computed as one chunk, so that an error at a chunk seam shows
        in the values and not only in the window counts. Both plans chunk
        a doc the same way, so the reference lifts the chunk cap."""
        from dataclasses import replace

        from seizury_hrv_featuresextraction_spark.plans.hrv_pipeline import extract_features

        doc = str(self.pdf.loc[self.pdf["n_tok"].idxmax(), "doc_id"])
        one = F.col("doc_id") == doc
        cfg = replace(DEFAULT_CONFIG, max_windows_per_chunk=2**31 - 1)
        whole = extract_features(self.seq.filter(one), self.ann.filter(one), cfg, fused=True)
        return (f"long doc {doc} == the doc as one chunk",
                _same_windows(_doc_rows(feats, doc), _doc_rows(whole, doc)))

    # -- per-layer probes (traced runs) -------------------------------------
    def last_call_metrics(self) -> dict[str, float]:
        from seizury_hrv_featuresextraction_spark.checkpoint import list_snapshots

        el = [r.elapsed_s for r in self.results]
        return {
            "checkpoint.bucket_s_median": statistics.median(el),
            "checkpoint.bucket_s_max": max(el),
            "checkpoint.output_bytes": float(
                sum(_dir_bytes(os.path.join(self.out, f"bucket={r.bucket}")) for r in self.results)
            ),
            "checkpoint.resume_s": self.resume_s,
            "checkpoint.resume_skipped": float(sum(r.status == "skipped" for r in self.resumed)),
            "checkpoint.snapshots": float(len(list_snapshots(self.out))),
        }

    def probes(self, spark) -> dict[str, float]:
        from seizury_hrv_featuresextraction_spark.operators.labeling import build_label_intervals
        from seizury_hrv_featuresextraction_spark.operators.skew import explode_chunks
        from seizury_hrv_featuresextraction_spark.plans.hrv_pipeline import (
            choose_fused,
            doc_dimensions,
            extract_features,
            plan_stats,
        )

        cfg = DEFAULT_CONFIG
        m: dict[str, float] = {}
        t0 = time.perf_counter()
        stats = plan_stats(self.seq, cfg)
        m["plan.stats_s"] = time.perf_counter() - t0
        fused = choose_fused(stats, cfg)
        m["plan.fused"] = float(fused)
        m["plan.fused_s"] = _timed(_noop, extract_features(self.seq, None, cfg, fused=True))
        m["plan.chunked_s"] = _timed(_noop, extract_features(self.seq, None, cfg, fused=False))
        labeled = _timed(_noop, extract_features(self.seq, self.ann, cfg, fused=fused, stats=stats))
        m["labels.paint_s"] = labeled - m["plan.fused_s" if fused else "plan.chunked_s"]

        t0 = time.perf_counter()
        iv = build_label_intervals(self.ann, doc_dimensions(self.seq, cfg), cfg)
        n_iv = iv.agg(F.sum(F.size("ivs"))).collect()[0][0]
        m["labels.intervals_s"] = time.perf_counter() - t0
        m["labels.intervals"] = float(n_iv or 0)

        from dataclasses import replace

        m["skew.split_s"] = _timed(_noop, explode_chunks(self.seq, replace(cfg, repartition_chunks=False)))
        chunks = explode_chunks(self.seq, cfg)
        m["skew.exchange_s"] = _timed(_noop, chunks) - m["skew.split_s"]
        per_task = (
            chunks.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.sum("n_win").alias("w"), F.count(F.lit(1)).alias("c"))
            .collect()
        )
        windows = [r["w"] for r in per_task]
        m["skew.chunks"] = float(sum(r["c"] for r in per_task))
        m["skew.task_windows_max_over_median"] = max(windows) / statistics.median(windows)

        m.update(self._kernel_probe())
        return m

    def _kernel_probe(self, max_windows: int = 20_000, reps: int = 3) -> dict[str, float]:
        """Time ``WindowKernel.windows_from_bounds`` in this process on a
        seeded sample of the input's real window bounds, all parts at once
        and each part alone."""
        cfg = DEFAULT_CONFIG
        fs, spw, step = cfg.sampling_rate, cfg.window_samples(), cfg.step_samples()
        rr, lo, hi, base = [], [], [], 0
        for tokens in self.pdf["tokens"]:
            tok = np.asarray(tokens, dtype=np.int64)
            n_win = (int(tok.sum()) * fs // 1000 - spw) // step + 1
            if n_win <= 0:
                continue
            t_scaled = np.cumsum(tok) * fs
            ids = np.arange(n_win, dtype=np.int64)
            lo.append(base + np.searchsorted(t_scaled, ids * step * 1000, side="left"))
            hi.append(base + np.searchsorted(t_scaled, (ids * step + spw) * 1000, side="right"))
            rr.append(tok / 1000.0)
            base += len(tok)
        rr_all, lo_all, hi_all = np.concatenate(rr), np.concatenate(lo), np.concatenate(hi)
        rng = np.random.default_rng(self.seed)
        pick = np.sort(rng.choice(len(lo_all), size=min(max_windows, len(lo_all)), replace=False))
        lo_s, hi_s = lo_all[pick], hi_all[pick]
        kernel = WindowKernel(cfg)
        kernel.windows_from_bounds(rr_all, lo_s[:256], hi_s[:256])  # build the cached designs
        runs: dict[str, list[float]] = {p: [] for p in KERNEL_PARTS + ["all"]}
        for _ in range(reps):
            runs["all"].append(_timed(kernel.windows_from_bounds, rr_all, lo_s, hi_s))
            for p in KERNEL_PARTS:
                runs[p].append(_timed(kernel.windows_from_bounds, rr_all, lo_s, hi_s, None, frozenset({p})))
        m = {f"kernel.{p}_s": statistics.median(v) for p, v in runs.items()}
        m["kernel.windows_per_s"] = len(pick) / m["kernel.all_s"]
        m["kernel.parts_over_all"] = sum(m[f"kernel.{p}_s"] for p in KERNEL_PARTS) / m["kernel.all_s"]
        self.parts_over_all = m["kernel.parts_over_all"]
        return m


def _doc_rows(feats, doc: str):
    rows = feats.filter(F.col("doc_id") == doc).toPandas()
    return rows.sort_values("window_id").reset_index(drop=True)


def _same_windows(act, exp) -> bool:
    """Same windows, exact counts and labels, times and features within
    rtol 1e-9 / atol 1e-12."""
    ok = len(act) == len(exp) > 0
    for c in ["window_id", "n_beats", "label"]:
        ok = ok and bool((act[c].to_numpy() == exp[c].to_numpy()).all())
    for c in ["window_start_time", "window_center_time", "window_end_time"] + ALL_FEATURES:
        ok = ok and np.allclose(
            act[c].to_numpy(dtype=float), exp[c].to_numpy(dtype=float),
            rtol=1e-9, atol=1e-12, equal_nan=True,
        )
    return bool(ok)


# at sf0.1 (bench.py's scale) one query pass takes ~35 s on 4 cores, too
# long for a benchmark run of about a minute; at sf0.01 it takes ~20 s
SF = 0.01
# copies of the engine's seed-42 test tables (TESTDATA.md) that the ten
# headline queries read, at sf0.01 and at sf0.001 for the smoke test
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ("events", "documents", "embeddings", "lineitem")


class OperatorSuite:
    """bench.py's ten headline queries (``plans/driver_queries.py``) over
    the engine's test tables, each into a noop sink, in a fixed order.
    The tables are fixed, so the seed does not change this workload."""

    name = "operator_suite"

    def __init__(self, work: str, seed: int, nproc: int, small: bool = False):
        self.sf = 0.001 if small else SF
        self.sf_dir = os.path.join(DATA, f"sf{self.sf:g}")
        self.query_s: dict[str, float] = {}
        self.rows: dict[str, int] = {}
        self.span = lambda name: contextlib.nullcontext()  # run.py sets the tracer's

    def build(self, spark, k: int) -> dict[str, float]:
        from seizury_hrv_featuresextraction_spark.sources.registry import load_table

        self.counts = {name: load_table(spark, self.sf_dir, name).count() for name in TABLES}
        # the only token input of the suite: events-derived RR sequences,
        # one token per event (hrv_time_features_windows)
        self.tokens = self.counts["events"]
        return {}

    def describe(self) -> dict:
        return {"sf": self.sf, "tables": self.counts, "tokens": self.tokens}

    def checks(self, spark) -> list[tuple[str, bool]]:
        """Compare every query with its DuckDB twin (the comparison of
        tools/check_queries.py)."""
        import duckdb

        from seizury_hrv_featuresextraction_spark.plans.driver_queries import ORACLE, QUERIES

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location(
            "check_queries", os.path.join(root, "tools", "check_queries.py")
        )
        cq = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(cq)
        con = duckdb.connect()
        for name in self.counts:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(self.sf_dir, name + '.parquet')}'")
        out = []
        for name in HEADLINE:
            s = QUERIES[name](spark, self.sf_dir).toPandas()
            d = con.execute(ORACLE[name]).df()
            self.rows[name] = len(s)
            problems = cq.compare(name, s, d)
            out.append((f"{name} == DuckDB twin ({len(s)} rows)", not problems))
        con.close()
        return out

    def timed(self, spark, i: int) -> int:
        from seizury_hrv_featuresextraction_spark.plans.driver_queries import QUERIES

        for name in HEADLINE:
            t0 = time.perf_counter()
            with self.span(f"query.{name}"):
                _noop(QUERIES[name](spark, self.sf_dir))
            self.query_s[name] = time.perf_counter() - t0
        return len(HEADLINE)

    def last_call_metrics(self) -> dict[str, float]:
        m = {}
        for name in HEADLINE:
            m[f"query.{name}_s"] = self.query_s[name]
            m[f"query.{name}_rows"] = float(self.rows.get(name, 0))
        return m

    def probes(self, spark) -> dict[str, float]:
        from seizury_hrv_featuresextraction_spark.sources.registry import (
            annotations_from_events,
            sequences_from_events,
        )

        t0 = time.perf_counter()
        seq = sequences_from_events(spark, self.sf_dir).persist()
        row = seq.agg(F.count(F.lit(1)).alias("d"), F.sum("n_tok").alias("t")).collect()[0]
        t1 = time.perf_counter()
        annotations_from_events(spark, self.sf_dir).count()
        t2 = time.perf_counter()
        seq.unpersist()
        return {
            "sources.build_s": t1 - t0,
            "sources.annotations_s": t2 - t1,
            "sources.docs": float(row["d"]),
            "sources.tokens": float(row["t"] or 0),
        }


WORKLOADS = {w.name: w for w in (SkewedResumable, OperatorSuite)}
