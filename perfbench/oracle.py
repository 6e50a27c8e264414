"""Checks a key's result against its DuckDB oracle with
``testing.compare_frames``, the test the query registry's own oracle
check uses.

Oracles run live, in the first (untimed) warm pass, except the slow
ones in ``STORED``, whose result frames are kept in
``data/oracle/<key>.parquet``.  At sf0.1 on 4 vCPUs the PPJoin oracle,
a quadratic containment self-join, takes about six minutes in DuckDB,
and the BFS and dedup-cluster oracles 3.9 s and 5.9 s (a sixth of an
``iterative`` run); the as-of and CEP oracles take under 0.1 s.
Rebuild the stored frames after changing the data or those oracles'
SQL:

    python3 perfbench/oracle.py

Rows-only keys (no oracle) must return at least one row.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
STORED_DIR = os.path.join(HERE, "data", "oracle")
STORED = ("q_streaming_ppjoin", "q_bfs_hops", "q_dedup_clusters")


class Oracle:
    def __init__(self, data_dir: str):
        import duckdb

        from flink_streaming_example_spark.testing import register_duckdb_views

        self.con = duckdb.connect()
        register_duckdb_views(self.con, data_dir)

    def check(self, spec, pdf) -> str | None:
        """None when ``pdf`` matches the oracle, else the reason."""
        from flink_streaming_example_spark.testing import compare_frames

        if spec.oracle is None:
            return None if len(pdf) > 0 and len(pdf.columns) > 0 else "rows-only key returned no rows"
        res = compare_frames(pdf, self.frame(spec))
        return None if res.ok else res.detail

    def frame(self, spec):
        if spec.name in STORED:
            import pandas as pd

            return pd.read_parquet(os.path.join(STORED_DIR, f"{spec.name}.parquet"))
        return self.con.execute(spec.oracle).df()

    def close(self) -> None:
        self.con.close()


def main() -> int:
    """Run the stored oracles and write their result frames."""
    sys.path.insert(0, os.path.dirname(HERE))
    from workloads import DATA, check_data, load_specs

    check_data(DATA)
    con = Oracle(DATA).con
    os.makedirs(STORED_DIR, exist_ok=True)
    for key, spec in load_specs(STORED).items():
        pdf = con.execute(spec.oracle).df()
        pdf.to_parquet(os.path.join(STORED_DIR, f"{key}.parquet"), index=False)
        print(f"{key}: {len(pdf)} rows", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
