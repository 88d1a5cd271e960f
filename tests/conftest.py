from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from seizury_hrv_featuresextraction_spark.config import HRVConfig
from seizury_hrv_featuresextraction_spark.datagen import make_annotations, make_sequences
from seizury_hrv_featuresextraction_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="seizury-hrv-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_cfg():
    # small chunk cap so chunk-split paths are exercised even on the
    # tiny fixture docs
    return HRVConfig(max_windows_per_chunk=64)


@pytest.fixture(scope="session")
def fixture_tables():
    seq = make_sequences(n_docs=10, seed=42, short_range=(500, 1200), long_range=(3000, 5000), long_frac=0.2)
    ann = make_annotations(seq, seed=42)
    return seq, ann


@pytest.fixture(scope="session")
def mixed_tables():
    """(sequences, annotations, cfg) whose docs take both routing branches
    of the flagship plan: at ``max_windows_per_chunk=16`` the fused limit
    is 128 windows (640 s). One 1,500-beat doc (~1,200 s) is above it;
    five 500-700-beat docs, one empty doc and one one-beat doc are not."""
    short = make_sequences(n_docs=5, seed=7, short_range=(500, 700), long_frac=0.0)
    long = make_sequences(n_docs=1, seed=8, short_range=(1500, 1500), long_frac=0.0)
    long["doc_id"] = "sub-009_ses-01_run-01"
    seq = pd.concat([short, long], ignore_index=True)
    ann = make_annotations(seq, seed=7)
    degenerate = pd.DataFrame(
        [
            {"doc_id": "sub-010_ses-01_run-01", "tokens": [], "n_tok": 0, "source": "synthetic-v1"},
            {"doc_id": "sub-010_ses-01_run-02", "tokens": [800], "n_tok": 1, "source": "synthetic-v1"},
        ]
    )
    return pd.concat([seq, degenerate], ignore_index=True), ann, HRVConfig(max_windows_per_chunk=16)


def assert_frames_allclose(actual: pd.DataFrame, expected: pd.DataFrame, float_cols, key_cols, rtol=1e-9, atol=1e-12):
    a = actual.sort_values(key_cols, kind="mergesort").reset_index(drop=True)
    e = expected.sort_values(key_cols, kind="mergesort").reset_index(drop=True)
    assert len(a) == len(e), f"row count {len(a)} != {len(e)}"
    for k in key_cols:
        assert (a[k].to_numpy() == e[k].to_numpy()).all(), f"key mismatch in {k}"
    for c in float_cols:
        av = a[c].to_numpy(dtype=float)
        ev = e[c].to_numpy(dtype=float)
        ok = np.allclose(av, ev, rtol=rtol, atol=atol, equal_nan=True)
        if not ok:
            bad = ~np.isclose(av, ev, rtol=rtol, atol=atol, equal_nan=True)
            idx = np.flatnonzero(bad)[:5]
            raise AssertionError(f"column {c}: {bad.sum()} mismatches, e.g. rows {idx}: {av[idx]} vs {ev[idx]}")
