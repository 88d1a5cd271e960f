"""Seeded input tables for the resumable-write workload.

The skewed sequence table comes from the package's own ``datagen``
generators; this module only chooses the doc lengths (the longest doc
holds half of all tokens) and splits the table over several parquet
files. The operator suite needs no generator: it reads the engine's own
seed-42 test tables, checked in under ``perfbench/data``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd


def skewed_sequences(seed: int, n_short: int, short_range: tuple[int, int]) -> pd.DataFrame:
    """``n_short`` docs from ``datagen.make_sequences`` with lengths spread
    evenly over ``short_range`` (in a seeded order), plus one long doc
    holding exactly half of all tokens, so a task that processes the long
    doc whole outlasts an even split on any machine with 2+ cores. Doc
    lengths do not depend on the seed, so every seed has the same token
    count; the seed draws the RR values and the order. The long doc comes
    first, so ``datagen.make_annotations`` gives it the early-plus-clean
    seizure pattern."""
    from seizury_hrv_featuresextraction_spark.datagen import make_sequences

    lengths = np.linspace(short_range[0], short_range[1], n_short).astype(int)
    np.random.default_rng(seed).shuffle(lengths)
    n_long = int(lengths.sum())
    docs = [make_sequences(1, seed=seed * 1009, long_range=(n_long, n_long), long_frac=1.0)]
    docs += [
        make_sequences(1, seed=seed * 1009 + i + 1, short_range=(int(n), int(n)), long_frac=0.0)
        for i, n in enumerate(lengths)
    ]
    seq = pd.concat(docs, ignore_index=True)
    # make_sequences names docs by position; renumber the joined table
    seq["doc_id"] = [f"sub-{i // 4 + 1:03d}_ses-01_run-{i % 4 + 1:02d}" for i in range(len(seq))]
    return seq


def write_split(df: pd.DataFrame, out_dir: str, n_files: int) -> None:
    """Write ``df`` round-robin over ``n_files`` parquet files."""
    from seizury_hrv_featuresextraction_spark.datagen import write_parquet

    os.makedirs(out_dir, exist_ok=True)
    for j in range(n_files):
        write_parquet(df.iloc[j::n_files].reset_index(drop=True), os.path.join(out_dir, f"part-{j:03d}.parquet"))
