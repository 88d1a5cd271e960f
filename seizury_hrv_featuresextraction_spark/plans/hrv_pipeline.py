"""The flagship plan: pre-tokenized sequences -> windowed HRV features.

Logical plan (SURVEY.md §4's physical sketch, Spark-first):

    parquet/iceberg scan (doc_id, tokens)         column-pruned
      -> route each doc by its exact window count (native fold of tokens)
         <= _FUSED_SKEW_HEADROOM x max_windows_per_chunk windows:
           -> mapInArrow fused chunk+kernel       narrow, Arrow, no shuffle
         longer docs only:
           -> mapInArrow explode_chunks           narrow, Arrow
           -> repartition(N)                      the ONE shuffle (skew)
           -> mapInArrow hrv_kernel               narrow, Arrow
      -> union of the two branches                both kernels reuse cached
                                                  Lomb-Scargle designs
      -> broadcast join label intervals           no shuffle
      -> project to output schema

Unlike the reference's per-recording Python loop
(data_processing_pipeline.py:681-741), windows never materialize as
row-amplified RR rows (the 6x explode alternative); each chunk computes
its window slice with searchsorted bounds over its own tachogram slice.

Everything numeric is float64 end-to-end; the pytest gate compares this
plan's output to the loop oracle with np.allclose(rtol=1e-9, atol=1e-12)
plus exact label equality.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, HRVConfig
from ..functions.hrv import ALL_FEATURES, WindowKernel
from ..operators.labeling import build_label_intervals, label_windows
from ..operators.skew import explode_chunks
from ..schemas import FEATURES_ARROW_SCHEMA

_KERNEL_CACHE: dict[str, WindowKernel] = {}


def _get_kernel(cfg: HRVConfig) -> WindowKernel:
    # per-executor-process cache: Lomb-Scargle design matrices are reused
    # across tasks of the same job (and across jobs with equal config)
    key = cfg.config_hash()
    k = _KERNEL_CACHE.get(key)
    if k is None:
        _KERNEL_CACHE.clear()
        k = WindowKernel(cfg)
        _KERNEL_CACHE[key] = k
    return k


def _kernel_batches(cfg: HRVConfig, features: list[str] | None = None):
    import pyarrow as pa

    from ..functions.hrv import parts_for

    sel = list(features) if features is not None else list(ALL_FEATURES)
    parts = parts_for(sel) if features is not None else None
    idxs = [ALL_FEATURES.index(f) for f in sel]
    names = ["doc_id", "window_id", "n_beats"] + sel

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        kernel = _get_kernel(cfg)
        for batch in batches:
            if not batch.num_rows:
                continue
            cols = {batch.schema.names[i]: batch.column(i) for i in range(batch.num_columns)}
            win_lo_arr = cols["win_lo"].to_numpy(zero_copy_only=False)
            n_win_arr = cols["n_win"].to_numpy(zero_copy_only=False)
            tok_list = cols["tok"]
            bounds_list = cols["bounds"]
            tok_off = tok_list.offsets.to_numpy(zero_copy_only=False)
            tok_flat = tok_list.values.to_numpy(zero_copy_only=False)
            b_off = bounds_list.offsets.to_numpy(zero_copy_only=False)
            b_flat = bounds_list.values.to_numpy(zero_copy_only=False)
            rrt_list = cols["rr_t"]
            rrt_off = rrt_list.offsets.to_numpy(zero_copy_only=False)
            rrt_flat = rrt_list.values.to_numpy(zero_copy_only=False)

            total_win = int(n_win_arr.sum())
            if not cfg.use_welch_fallback:
                # ONE kernel call over every chunk in the record batch:
                # the per-chunk bounds are offsets into the chunk's own
                # token slice, so adding each chunk's flat-token offset
                # turns them into gathers over ONE shared rr array —
                # windows regroup by beat count across ~hundreds of
                # chunks (bigger GEMM/entropy groups, no per-chunk
                # NumPy call overhead). Per-window math is untouched, so
                # values are identical to the per-chunk loop.
                rr_all = tok_flat.astype(np.float64) / 1000.0
                n_bounds = b_off[1:] - b_off[:-1]
                gb = b_flat.astype(np.int64) + np.repeat(tok_off[:-1], n_bounds)
                lo_idx = gb[0::2]
                hi_idx = gb[1::2]
                # global window ids: arange within each chunk + win_lo
                starts = np.concatenate([[0], np.cumsum(n_win_arr)[:-1]])
                all_ids = (
                    np.arange(total_win, dtype=np.int64)
                    - np.repeat(starts, n_win_arr)
                    + np.repeat(win_lo_arr, n_win_arr)
                )
                all_feats = kernel.windows_from_bounds(rr_all, lo_idx, hi_idx, None, parts=parts)
                all_beats = (hi_idx - lo_idx).astype(np.int32)
            else:
                # Welch fallback needs each chunk's absolute rr_t times —
                # keep the per-chunk loop (exercised only when configured)
                all_ids = np.empty(total_win, dtype=np.int64)
                all_feats = np.empty((total_win, len(ALL_FEATURES)), dtype=np.float64)
                all_beats = np.empty(total_win, dtype=np.int32)
                pos = 0
                for i in range(batch.num_rows):
                    a, b = int(tok_off[i]), int(tok_off[i + 1])
                    rr = tok_flat[a:b].astype(np.float64) / 1000.0
                    bounds = b_flat[int(b_off[i]) : int(b_off[i + 1])].astype(np.int64)
                    lo_idx = bounds[0::2]
                    hi_idx = bounds[1::2]
                    rr_t = None
                    if rrt_off[i + 1] > rrt_off[i]:
                        rr_t = rrt_flat[int(rrt_off[i]) : int(rrt_off[i + 1])]
                    k = int(n_win_arr[i])
                    ids = np.arange(int(win_lo_arr[i]), int(win_lo_arr[i]) + k, dtype=np.int64)
                    feats = kernel.windows_from_bounds(rr, lo_idx, hi_idx, rr_t, parts=parts)
                    all_ids[pos : pos + k] = ids
                    all_feats[pos : pos + k] = feats
                    all_beats[pos : pos + k] = (hi_idx - lo_idx).astype(np.int32)
                    pos += k

            # doc_id replicated per window with an Arrow-level take (no
            # per-row Python string list)
            doc_col = cols["doc_id"].take(
                pa.array(np.repeat(np.arange(batch.num_rows), n_win_arr), type=pa.int64())
            )
            arrays = [
                doc_col,
                pa.array(all_ids, type=pa.int64()),
                pa.array(all_beats, type=pa.int32()),
            ] + [pa.array(all_feats[:, j], type=pa.float64()) for j in idxs]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return gen


def _fused_batches(cfg: HRVConfig, features: list[str] | None = None):
    """tokens -> windowed features in ONE Arrow stage (no intermediate
    chunk rows, no shuffle, one JVM<->Python crossing): the branch for
    every doc short enough that no rebalancing is needed."""
    import pyarrow as pa

    from ..operators.skew import _chunk_batch

    kernel_gen = _kernel_batches(cfg, features)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        def chunk_stream():
            for batch in batches:
                if batch.num_rows:
                    out = _chunk_batch(batch, cfg)
                    if out is not None:
                        yield out

        yield from kernel_gen(chunk_stream())

    return gen


def _total_ms() -> Column:
    return F.aggregate("tokens", F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long"))


def _n_samples(total_ms: Column, cfg: HRVConfig) -> Column:
    return F.floor(total_ms * cfg.sampling_rate / 1000).cast("long")


def doc_dimensions(sequences: DataFrame, cfg: HRVConfig) -> DataFrame:
    """(doc_id, total_ms, n_samples) via a native array fold — exact
    integer arithmetic, stays in the JVM."""
    total_ms = _total_ms()
    return sequences.select(
        "doc_id", total_ms.alias("total_ms"), _n_samples(total_ms, cfg).alias("n_samples")
    )


def _window_count(cfg: HRVConfig) -> Column:
    """A doc's exact window count, ``(n_samples - window) // step + 1``,
    folded natively from ``tokens`` like ``doc_dimensions``. Not above 0
    for a doc shorter than one window; null for null tokens."""
    n = _n_samples(_total_ms(), cfg)
    return F.floor((n - F.lit(cfg.window_samples())) / F.lit(cfg.step_samples())).cast("long") + 1


# a fused task processes whole docs; a doc of up to this many chunk caps
# of windows costs less there than split, shuffled and crossed into
# Python a second time
_FUSED_SKEW_HEADROOM = 8


def _fused_limit(cfg: HRVConfig) -> int:
    return _FUSED_SKEW_HEADROOM * cfg.max_windows_per_chunk


def plan_stats(sequences: DataFrame, cfg: HRVConfig = DEFAULT_CONFIG) -> dict:
    """Whole-table view of ``extract_features``' routing rule: the largest
    doc's window count (one aggregation job). The plan itself evaluates
    the rule per doc and never calls this."""
    mx = sequences.agg(F.max(_window_count(cfg))).collect()[0][0]
    return {"max_windows_per_doc": None if mx is None else int(mx)}


def choose_fused(stats: dict, cfg: HRVConfig = DEFAULT_CONFIG) -> bool:
    """Whether every doc of the table ``plan_stats`` measured takes the
    fused branch."""
    mw = stats["max_windows_per_doc"]
    return mw is None or mw <= _fused_limit(cfg)


def extract_features(
    sequences: DataFrame,
    annotations: DataFrame | None,
    cfg: HRVConfig = DEFAULT_CONFIG,
    fused: bool | None = None,
    stats: dict | None = None,
    features: list[str] | None = None,
) -> DataFrame:
    """sequences + annotations -> labeled windowed feature table.

    Each doc is routed by its own exact window count. A doc of at most
    ``_FUSED_SKEW_HEADROOM x cfg.max_windows_per_chunk`` windows, or with
    null or empty tokens, goes through the fused single Arrow stage: one
    JVM<->Python crossing, no shuffle. Only longer docs take
    explode_chunks -> round-robin repartition -> kernel, so a long doc
    is spread over many tasks instead of straggling one. The two branches
    are unioned before labelling. The rule is a row predicate inside the
    plan, so no job runs before the plan is built.

    ``fused=True`` / ``fused=False`` sends every doc down the fused /
    chunked branch: the same branch code with a constant predicate, and
    the branch it would empty is not built. ``stats`` is accepted and
    unused.
    """
    sel = list(features) if features is not None else list(ALL_FEATURES)
    if features is None:
        schema = FEATURES_ARROW_SCHEMA
    else:
        import pyspark.sql.types as T

        schema = T.StructType(
            [FEATURES_ARROW_SCHEMA[0], FEATURES_ARROW_SCHEMA[1], FEATURES_ARROW_SCHEMA[2]]
            + [T.StructField(name, T.DoubleType(), True) for name in sel]
        )
    seq = sequences.select("doc_id", "tokens")
    if fused is None:
        short = F.coalesce(_window_count(cfg) <= F.lit(_fused_limit(cfg)), F.lit(True))
    else:
        short = F.lit(bool(fused))
    branches = []
    if fused is not False:
        branches.append(seq.filter(short).mapInArrow(_fused_batches(cfg, features), schema=schema))
    if fused is not True:
        chunks = explode_chunks(seq.filter(~short), cfg)
        # explicit projection before the opaque Arrow stage (guide §4.1):
        # the kernel never reads chunk_id/n_samples, and Spark cannot see
        # inside mapInArrow to prune them itself
        chunks = chunks.select("doc_id", "win_lo", "n_win", "tok", "bounds", "rr_t")
        branches.append(chunks.mapInArrow(_kernel_batches(cfg, features), schema=schema))
    feats = reduce(DataFrame.union, branches)
    # the four window-time/center columns are pure functions of window_id:
    # computed as native expressions AFTER the Arrow stage so the Python
    # boundary carries 32 fewer bytes per window (guide §4.1 — pass only
    # what the kernel must produce). Same integer-exact arithmetic as the
    # previous in-kernel emission: (id*step [+off]) is exact in int64 and
    # the single double division matches NumPy's bit-for-bit.
    fs = F.lit(float(cfg.sampling_rate))
    spw = cfg.window_samples()
    step = cfg.step_samples()
    half = spw // 2
    starts = F.col("window_id") * F.lit(step)
    feats = feats.select(
        "doc_id",
        "window_id",
        (starts / fs).alias("window_start_time"),
        ((starts + F.lit(half)) / fs).alias("window_center_time"),
        ((starts + F.lit(spw)) / fs).alias("window_end_time"),
        (starts + F.lit(half)).alias("center_sample"),
        "n_beats",
        *sel,
    )
    if annotations is not None:
        dims = doc_dimensions(sequences, cfg)
        intervals = build_label_intervals(annotations, dims, cfg)
        feats = label_windows(feats, intervals)
    else:
        feats = feats.withColumn("label", F.lit(0))
    return feats


def with_output_ids(features: DataFrame) -> DataFrame:
    """Add subject_id/recording_id (O57) and order columns per D5."""
    out = features.withColumn(
        "subject_id", F.regexp_extract("doc_id", r"(sub-[^_]+)", 1)
    ).withColumn("recording_id", F.col("doc_id"))
    cols = (
        ["subject_id", "recording_id", "doc_id", "window_id",
         "window_start_time", "window_center_time", "window_end_time", "n_beats"]
        + ALL_FEATURES
        + ["label"]
    )
    return out.select(*cols)
