"""Differential-comparison helper mirroring the driver's DuckDB oracle check:
row count + column names + order-insensitive canonical value comparison."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd


def _canon_val(v):
    # None/NA/NaT canonicalize uniformly (engines spell NULL differently),
    # but float NaN stays its own token: a genuine NaN-vs-NULL divergence
    # between engines must FAIL here (the driver's hash distinguishes
    # them). The floatified-int exemption in assert_frames_match converts
    # its columns to nullable Int64 first, so its NaNs become pd.NA before
    # they ever reach this function.
    if v is None or v is pd.NA or v is pd.NaT:
        return "∅"
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(_canon_val(x) for x in v) + "]"
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return "NaN"
        return "%.12g" % v
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon_val(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def canon_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = [tuple(_canon_val(v) for v in row) for row in df.itertuples(index=False, name=None)]
    rows.sort()
    return rows


def assert_frames_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str):
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: column mismatch spark={sorted(spark_pdf.columns)} "
        f"duck={sorted(duck_pdf.columns)}"
    )
    # int-vs-float dtype divergence gate: the local %.12g canonicalization
    # renders 123.0 and 123 identically, but the EXTERNAL driver's hash is
    # type-sensitive (DuckDB HUGEINT sums arrive as pandas float64 while
    # Spark's are int64). Catch the class here so it can't pass locally and
    # fail the driver. (A column whose NULLs float-ify both engines' ints
    # identically does not trip this — both sides land float64.)
    for c in spark_pdf.columns:
        sk, dk = spark_pdf[c].dtype.kind, duck_pdf[c].dtype.kind
        if {sk, dk} <= {"i", "u", "f"} and (sk == "f") != (dk == "f"):
            # Exemption: pandas float-ifies an integer column that carries
            # NULLs when the other engine's materialization kept a NULLABLE
            # int dtype (plain numpy int64 cannot hold NA, so the int side
            # having NAs proves its logical type is integer — this cannot
            # be the HUGEINT/double bug class, where the int side
            # is NA-free). Requires the float side all-integral and equal
            # NULL counts (counts, not positions: rows are compared
            # order-insensitively); both columns are then normalized to
            # nullable Int64 so NaN/NA compare as the same logical NULL.
            fname, iname = (c, c)
            fframe, iframe = (spark_pdf, duck_pdf) if sk == "f" else (duck_pdf, spark_pdf)
            fcol, icol = fframe[fname], iframe[iname]
            fnull = fcol.isna()
            vals = fcol[~fnull].to_numpy()
            if (
                fnull.any()
                and fnull.sum() == icol.isna().sum()
                and (len(vals) == 0 or np.all(np.mod(vals, 1) == 0))
            ):
                fframe[fname] = fcol.astype("Int64")
                iframe[iname] = icol.astype("Int64")
                continue
            raise AssertionError(
                f"{name}.{c}: int-vs-float dtype divergence spark={spark_pdf[c].dtype} "
                f"duck={duck_pdf[c].dtype} — breaks the driver's type-sensitive hash "
                f"(CAST the oracle aggregate to BIGINT or align the Spark type)"
            )
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count spark={len(spark_pdf)} duck={len(duck_pdf)}"
    )
    s_rows = canon_rows(spark_pdf)
    d_rows = canon_rows(duck_pdf)
    if s_rows != d_rows:
        diffs = [
            (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
        ][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")
