"""Local replica of the driver's correctness check (SURVEY.md §5.2).

Runs a registered query's DataFrame and its DuckDB oracle SQL on the
same fixture dir, then compares row count, column-name set, and an
order-insensitive value comparison (columns sorted by name, rows sorted
by their stringified tuple) — a conservative superset of the driver's
row-count + schema + value-hash check: if this passes, equal hashes
follow.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from flink_streaming_example_spark.operators import pinning
from flink_streaming_example_spark.plans.registry import QuerySpec
from flink_streaming_example_spark.sources.tables import TABLE_NAMES


def register_duckdb_views(con, sf_dir: str) -> None:
    """Mirror the driver: each fixture table pre-registered as a view."""
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )


def _cell(v) -> str:
    """Deterministic string form for one value."""
    if v is None or v is pd.NaT or (isinstance(v, float) and np.isnan(v)):
        return "∅"
    if isinstance(v, (np.floating, float)):
        return repr(float(v))
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def canonical_rows(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = [tuple(_cell(v) for v in row) for row in pdf.itertuples(index=False)]
    return sorted(rows)


@dataclass
class CompareResult:
    ok: bool
    detail: str = ""


def _dtype_kinds(pdf: pd.DataFrame) -> dict[str, str]:
    """Canonicalized per-column dtype kind: i=int, f=float, b=bool,
    M=datetime, O=object/string — catches a DECIMAL-vs-DOUBLE skew that
    a stringified-value compare alone would miss."""
    kinds = {}
    for c in pdf.columns:
        k = pdf[c].dtype.kind
        kinds[c] = "i" if k == "u" else k
    return kinds


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> CompareResult:
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return CompareResult(
            False,
            f"column mismatch: spark={sorted(spark_pdf.columns)} "
            f"oracle={sorted(oracle_pdf.columns)}",
        )
    sk, ok_ = _dtype_kinds(spark_pdf), _dtype_kinds(oracle_pdf)
    kind_diffs = {
        c: (sk[c], ok_[c])
        for c in sk
        # object columns can hold anything (e.g. all-None); only flag
        # concrete-kind disagreements.
        if sk[c] != ok_[c] and "O" not in (sk[c], ok_[c])
    }
    if kind_diffs:
        return CompareResult(False, f"dtype-kind mismatch: {kind_diffs}")
    if len(spark_pdf) != len(oracle_pdf):
        return CompareResult(
            False, f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
        )
    s_rows = canonical_rows(spark_pdf)
    o_rows = canonical_rows(oracle_pdf)
    if s_rows != o_rows:
        diffs = [
            f"  spark={s}\n  oracle={o}"
            for s, o in zip(s_rows, o_rows)
            if s != o
        ][:5]
        return CompareResult(False, "value mismatch (first diffs):\n" + "\n".join(diffs))
    return CompareResult(True)


def run_oracle_check(spark, con, spec: QuerySpec, sf_dir: str) -> CompareResult:
    """Exercise one registered query exactly the way the driver does."""
    sdf = spec.fn(spark, sf_dir)
    try:
        spark_pdf = sdf.toPandas()
    finally:
        # Free what the key left live before the next one runs, as
        # bench.py and perfbench do: persist()ed intermediates (the
        # dedup family) in the SQL cache, and every pin slot's
        # checkpoint, which lives outside that cache — without
        # release_all() a parametrized session over every key would
        # hold each key's slots to the end.
        spark.catalog.clearCache()
        pinning.release_all()
    if spec.oracle is None:
        # Rows-only keys must still produce something: >0 rows and a
        # non-empty schema (a vacuous len>=0 check would green-light a
        # broken query).
        ok = len(spark_pdf) > 0 and len(spark_pdf.columns) > 0
        return CompareResult(ok, f"rows-only: {len(spark_pdf)} rows")
    oracle_pdf = con.execute(spec.oracle).df()
    return compare_frames(spark_pdf, oracle_pdf)
