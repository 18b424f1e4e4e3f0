"""Local replica of the driver's t2 correctness gate.

Runs each registry query on Spark and its oracle SQL on DuckDB over the same
parquet tables, then compares row count, column names/order-insensitive
schema, and an order-insensitive canonical value multiset — stricter than a
hash compare (mismatches show the offending rows).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

import duckdb
import pandas as pd

from cloudcomputing_flink_application_spark.schemas import DRIVER_TABLES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in DRIVER_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


# The top-level CTEs of the composed training-prep oracles
# (``pipeline._training_prep_sql``): each is referenced more than once.
PREP_CTES = ("clean", "kept_docs", "surv", "surv_docs")


def materialize_ctes(sql: str, names=PREP_CTES) -> str:
    """Mark the named top-level CTEs of ``sql`` ``AS MATERIALIZED``.

    A DuckDB planner hint: each CTE is computed once instead of being
    inlined at every reference.  The rows are the same; without it the
    composed training-prep oracle re-runs the clean subtree per reference
    and takes minutes on sf0.001 instead of seconds.  Raises if a name is
    not a top-level CTE, so the hint cannot silently stop applying."""
    for name in names:
        sql, n = re.subn(
            rf"(^|WITH |,\n){name} AS \(",
            rf"\g<1>{name} AS MATERIALIZED (",
            sql,
            count=1,
            flags=re.M,
        )
        if n != 1:
            raise ValueError(f"no top-level CTE {name!r} to materialize")
    return sql


def canon_cell(v):
    """Canonicalize one value for order-insensitive multiset compare."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, (int,)):
        return int(v)
    if isinstance(v, float):
        return repr(float(v))
    if isinstance(v, (list, tuple)):
        return tuple(canon_cell(x) for x in v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def canon_frame(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [
        tuple(canon_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    return sorted(rows, key=repr)


@dataclass
class CompareResult:
    name: str
    spark_rows: int
    oracle_rows: int
    cols_match: bool
    values_match: bool
    detail: str = ""

    @property
    def ok(self) -> bool:
        return (
            self.spark_rows == self.oracle_rows
            and self.cols_match
            and self.values_match
        )


def compare_query(spark, con, name: str, fn, sql: str, sf_dir: str) -> CompareResult:
    # Scoped cache release (r13, VERDICT r12 #1): operators _persist
    # shared frames under a caller-releases contract; toPandas() is the
    # consuming materialization, so every frame this query persisted is
    # dead afterwards.  Without the release, a parametrized parity sweep
    # accumulates every invocation's composed-lineage caches in the
    # shared test session until the heap dies (the r12 semantic OOM).
    from cloudcomputing_flink_application_spark.operators import dedup, similarity

    dmark, smark = dedup.cached_mark(), similarity.cached_mark()
    try:
        sdf = fn(spark, sf_dir).toPandas()
    finally:
        dedup.release_cached(since=dmark)
        similarity.release_cached(since=smark)
    odf = con.execute(sql).df()
    cols_match = sorted(sdf.columns) == sorted(odf.columns)
    s_rows, o_rows = canon_frame(sdf), canon_frame(odf) if cols_match else []
    values_match = cols_match and s_rows == o_rows
    detail = ""
    if cols_match and not values_match:
        s_only = [r for r in s_rows if r not in set(o_rows)][:3]
        o_only = [r for r in o_rows if r not in set(s_rows)][:3]
        detail = f"spark-only={s_only} oracle-only={o_only}"
    elif not cols_match:
        detail = f"spark cols={sorted(sdf.columns)} oracle cols={sorted(odf.columns)}"
    return CompareResult(name, len(sdf), len(odf), cols_match, values_match, detail)
