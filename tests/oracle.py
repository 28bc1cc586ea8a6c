"""Local replica of the driver's correctness gate: run a Spark query and its
DuckDB oracle SQL side-by-side, compare row count, column names, and
order-insensitive values (exact equality after canonical normalization).

Canonicalization deliberately mirrors the DRIVER's path: both sides go
through pandas (`spark_df.toPandas()` / duckdb `rel.df()`), because that is
what the driver hashes. This surfaces divergences the raw-Python path hides:
DuckDB SUM(BIGINT) returns HUGEINT, which pandas converts to float64 while
Spark emits int64 — equal as Python numbers, different under a value hash.
Cells are therefore compared as (type, value) pairs, and an oracle-type
audit rejects HUGEINT / DECIMAL / list-typed output columns outright (the
driver's canonicalizer either down-converts or crashes on them).

If a query passes here at sf0.001/sf0.01 it should pass the driver's
value-hash compare; floats are compared exactly (not approximately) on
purpose — queries must be written so both engines produce bit-identical
results (integer/decimal internal arithmetic, sequential folds for array
math, deterministic tie-breaks)."""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Oracle output types that break or silently down-convert under the
# driver's pandas canonicalization:
#   HUGEINT  -> float64 (Spark emits int64: hash mismatch)
#   DECIMAL  -> float64 via a different rounding path than Spark's Decimal
#   ...[]    -> Python lists (pandas sort_values: unhashable type)
BANNED_ORACLE_TYPES = ("HUGEINT", "DECIMAL", "[]", "STRUCT", "MAP")


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def audit_oracle_types(con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    """Column -> DuckDB type for the oracle's output; used to reject types
    the driver's canonicalizer mangles before they cost a driver round."""
    rows = con.execute("DESCRIBE " + sql).fetchall()
    return {r[0]: r[1] for r in rows}


def _norm(v):
    """Normalize a pandas/numpy/python cell to a hashable canonical value,
    tagged with its type so int64-vs-float64 divergence is caught."""
    if v is None:
        return ("none", None)
    # pd.isna on arrays/lists raises; those are rejected earlier
    try:
        if pd.isna(v):
            return ("none", None)
    except (TypeError, ValueError):
        pass
    if isinstance(v, (list, tuple, np.ndarray, dict)):
        raise TypeError(
            f"list/struct-valued cell {type(v).__name__}: the driver's "
            "canonicalizer cannot sort these — emit a joined string instead")
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, Decimal):
        return ("float", float(v))
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("float", "NaN")
        return ("float", v + 0.0)
    if isinstance(v, dt.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("date", v.isoformat())
    if isinstance(v, bytes):
        return ("bytes", v.hex())
    return (type(v).__name__, v)


def _sort_key(row):
    return tuple(str(cell) for cell in row)


def _canonical_pdf(pdf: pd.DataFrame):
    cols = sorted(pdf.columns)
    rows = sorted(
        (tuple(_norm(v) for v in row)
         for row in pdf[cols].itertuples(index=False, name=None)),
        key=_sort_key,
    )
    return cols, rows


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    banned = {c: ty for c, ty in audit_oracle_types(con, sql).items()
              if any(b in ty.upper() for b in BANNED_ORACLE_TYPES)}
    s_pdf = spark_df.toPandas()
    d_pdf = con.execute(sql).df()

    result = {"rows_spark": len(s_pdf), "rows_duckdb": len(d_pdf),
              "banned_types": banned}
    sc, srows = _canonical_pdf(s_pdf)
    dc, drows = _canonical_pdf(d_pdf)
    # short fingerprint of the oracle's canonical rows: two trees whose
    # oracle SQL differs in text must still print the same digest
    result["digest"] = hashlib.sha256(
        repr((dc, drows)).encode()).hexdigest()[:16]
    result["columns_match"] = sc == dc
    result["count_match"] = len(srows) == len(drows)
    result["values_match"] = srows == drows
    result["ok"] = (not banned and result["columns_match"]
                    and result["count_match"] and result["values_match"])
    if banned:
        result["detail"] = f"oracle emits driver-hostile types: {banned}"
    elif not result["columns_match"]:
        result["detail"] = f"spark cols {sc} != duckdb cols {dc}"
    elif not result["values_match"]:
        diff_s = [r for r in srows if r not in drows][:3]
        diff_d = [r for r in drows if r not in srows][:3]
        result["detail"] = f"spark-only {diff_s} | duckdb-only {diff_d}"
    return result
