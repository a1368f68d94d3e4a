"""Frame-comparison helpers for oracle-differential tests.

Golden-output policy (FIXTURES.md §6): sort rows, compare floats with
tolerance (float aggregation order varies between engines/runs), exact
compare everything else.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def keyify(col: pd.Series):
        if col.dtype == object:
            return col.map(str)
        return col

    if len(df) > 0:
        df = df.sort_values(by=list(df.columns), key=keyify, kind="mergesort")
    return df.reset_index(drop=True)


def assert_frames_match(
    sdf: pd.DataFrame, odf: pd.DataFrame, rtol: float = 1e-9, atol: float = 1e-12
) -> None:
    assert len(sdf) == len(odf), f"rowcount {len(sdf)} != {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"columns {sorted(sdf.columns)} != {sorted(odf.columns)}"
    )
    sdf, odf = normalize(sdf), normalize(odf)
    for c in sdf.columns:
        a, b = sdf[c], odf[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            af, bf = a.astype(float).to_numpy(), b.astype(float).to_numpy()
            both_nan = np.isnan(af) & np.isnan(bf)
            ok = np.isclose(af, bf, rtol=rtol, atol=atol) | both_nan
            assert ok.all(), (
                f"col {c}: first mismatch row {int(np.argmin(ok))}: "
                f"{af[np.argmin(ok)]!r} vs {bf[np.argmin(ok)]!r}"
            )
        else:
            av = a.map(str).to_numpy()
            bv = b.map(str).to_numpy()
            eq = av == bv
            assert eq.all(), (
                f"col {c}: first mismatch row {int(np.argmin(eq))}: "
                f"{av[np.argmin(eq)]!r} vs {bv[np.argmin(eq)]!r}"
            )


def assert_same_bag(got, want, name: str = "") -> None:
    """Spark-side exact equality of two DataFrames as bags: the same
    columns in the same order and types, and ``exceptAll`` empty in both
    directions (duplicates count)."""
    assert got.schema.simpleString() == want.schema.simpleString(), (
        f"{name}: {got.schema.simpleString()} != {want.schema.simpleString()}"
    )
    extra, missing = got.exceptAll(want).count(), want.exceptAll(got).count()
    assert extra == 0 and missing == 0, f"{name}: {extra} extra, {missing} missing"
