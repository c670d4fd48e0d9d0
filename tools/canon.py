"""Driver-mirroring canonicalizer for the local oracle gate.

Round 1 taught us the local mirror MUST canonicalize the way the driver's
hasher does, not via Python ``repr`` of ``fetchall()`` values (ADVICE.md,
tools/check.py item): the driver pulls both sides into pandas/numpy, so

- DuckDB HUGEINT (any uncast ``SUM`` over integers) degrades to float64
  while Spark emits int64 → hash mismatch even when every value is equal
  (round-1 ``sessionize_batch``);
- nested cells (list/ndarray) crash pandas' factorize-based row sort
  (round-1 ``agg_collect_sorted``).

This module reproduces those semantics locally:

- Spark side fetched with ``df.toPandas()`` (Arrow path — what a pandas
  canonicalizer sees);
- DuckDB side fetched with ``rel.df()`` (HUGEINT → float64, DECIMAL →
  float64, exactly the degradation the driver observed);
- nested cells are an immediate failure;
- per-column numpy *dtype kind* must agree between the sides (int vs
  float is the confirmed driver failure class); datetime-like kinds are
  coerced to a common representation first because round-1 driver rows
  prove date/timestamp columns hash consistently across the two fetch
  paths.

Used by both tools/check.py and tests/conftest.py so the pytest suite and
the pre-commit gate enforce identical semantics.

Transcendental-grid caveat (ADVICE round 3): operators that floor
per-row ``exp()``/``ln()`` outputs onto a grid (``agg_entropy``,
``corpus_kl_divergence``, ``ml_logreg_irls_stats``, ``ml_psi_drift``,
``text_perplexity``) assume the JVM's and DuckDB's libm agree within the
half-ulp of every grid boundary across all rows. This comparison is
deliberately NOT tolerance-based — the external driver's hasher isn't,
and a softer local mirror would hide exactly the failures it exists to
predict. The mitigation lives operator-side instead: prefer grids built
from rational operands (``agg_winsorized_mean``'s discrete fences,
``ts_theil_sen``'s lower-median slopes), keep transcendental grids
coarse (1e6–1e12 chosen so measured boundary margins exceed 1e3 ulps on
this host), and accept that a cross-libm PLATFORM change can flip a
boundary tie — the local gate on the driver's own host remains an exact
predictor, which is the contract that matters here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from analyse_the_sky_with_apache_spark_spark.catalog import TABLES

#: cell types the driver's hasher cannot process (pandas factorize crash).
_NESTED = (list, tuple, dict, set, np.ndarray, bytearray, memoryview)


class OracleCompareError(AssertionError):
    """Raised when the two sides would diverge under the driver's hasher."""


def _kind(s: pd.Series) -> str:
    """Classify a column the way the hash cares: i=int, f=float, b=bool,
    M=datetime, O=object (str/date/Decimal/bytes)."""
    k = s.dtype.kind
    if k == "u":
        return "i"
    return k


def _coerce_temporal(s: pd.Series) -> pd.Series:
    """Map datetime64[*]/object-of-date columns to ISO strings so the two
    fetch paths (Arrow date32→object(date) vs duckdb DATE→datetime64)
    compare equal — round-1 driver rows show these hash consistently."""
    if s.dtype.kind == "M":
        return s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
    if s.dtype.kind == "O":
        import datetime

        mask = s.map(lambda v: isinstance(v, (datetime.date, datetime.datetime)))
        if mask.any() and (mask | s.isna()).all():
            return pd.to_datetime(s).dt.strftime("%Y-%m-%d %H:%M:%S.%f")
    return s


def canonize(pdf: pd.DataFrame, side: str) -> pd.DataFrame:
    """Sort columns by name, reject nested cells, coerce temporals, sort
    rows — the driver's order-insensitive multiset form."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype.kind == "O":
            bad = pdf[c].map(lambda v: isinstance(v, _NESTED))
            if bad.any():
                t = type(pdf[c][bad.idxmax()]).__name__
                raise OracleCompareError(
                    f"{side}.{c}: nested cell type {t} — the driver's "
                    f"hasher crashes on these (round-1 agg_collect_sorted "
                    f"class); serialize to string in the projection"
                )
        pdf[c] = _coerce_temporal(pdf[c])
    if len(pdf):
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def compare_canonical(s_pdf: pd.DataFrame, d_pdf: pd.DataFrame) -> None:
    """Compare Spark-side vs DuckDB-side canonical frames; raise
    OracleCompareError with a driver-grade diagnosis on divergence."""
    s_pdf, d_pdf = canonize(s_pdf, "spark"), canonize(d_pdf, "duckdb")
    if list(s_pdf.columns) != list(d_pdf.columns):
        raise OracleCompareError(
            f"columns differ: spark={list(s_pdf.columns)} "
            f"duck={list(d_pdf.columns)}"
        )
    if len(s_pdf) != len(d_pdf):
        raise OracleCompareError(
            f"rowcount: spark={len(s_pdf)} duck={len(d_pdf)}"
        )
    for c in s_pdf.columns:
        a, b = s_pdf[c], d_pdf[c]
        ka, kb = _kind(a), _kind(b)
        if ka != kb:
            raise OracleCompareError(
                f"column {c}: dtype kind spark={a.dtype} vs duck={b.dtype} "
                f"— the driver hashes these differently even when values "
                f"are numerically equal (round-1 sessionize_batch class); "
                f"CAST the oracle (DuckDB HUGEINT/DECIMAL → float64) or "
                f"align the Spark type"
            )
        if ka == "f":
            av, bv = a.to_numpy(dtype="float64"), b.to_numpy(dtype="float64")
            eq = (av == bv) | (np.isnan(av) & np.isnan(bv))
            if not eq.all():
                i = int(np.argmin(eq))
                raise OracleCompareError(
                    f"column {c}: float values differ; first @{i}: "
                    f"spark={av[i]!r} duck={bv[i]!r} "
                    f"(row spark={s_pdf.iloc[i].to_dict()})"
                )
        elif ka in ("i", "b"):
            av, bv = a.to_numpy(dtype="int64"), b.to_numpy(dtype="int64")
            if not (av == bv).all():
                i = int(np.argmin(av == bv))
                raise OracleCompareError(
                    f"column {c}: int values differ; first @{i}: "
                    f"spark={av[i]!r} duck={bv[i]!r} "
                    f"(row spark={s_pdf.iloc[i].to_dict()})"
                )
        else:
            an = a.isna().to_numpy()
            bn = b.isna().to_numpy()
            eq = (an & bn) | (
                ~an & ~bn & (a.fillna("").to_numpy() == b.fillna("").to_numpy())
            )
            if not eq.all():
                i = int(np.argmin(eq))
                raise OracleCompareError(
                    f"column {c}: values differ; first @{i}: "
                    f"spark={a.iloc[i]!r} duck={b.iloc[i]!r}"
                )


def duck_views(con, sf_dir: str) -> None:
    """Expose every fixture table of ``sf_dir`` to DuckDB connection
    ``con`` as a view of the same name — the tables the oracles query."""
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )


def compare_spark_duck(df, rel) -> int:
    """Fetch a Spark DataFrame and an executed DuckDB relation the way the
    driver does and compare. Returns the row count on success."""
    s_pdf = df.toPandas()
    d_pdf = rel.df()
    compare_canonical(s_pdf, d_pdf)
    return len(s_pdf)
