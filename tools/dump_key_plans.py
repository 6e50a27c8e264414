"""Capture .explain('formatted') for a set of keys into OUT_DIR.

Usage: python tools/dump_key_plans.py OUT_DIR before q_a,q_b[,...]
       python tools/dump_key_plans.py OUT_DIR after  q_a,q_b[,...]

Each key's plan goes to OUT_DIR/<key>_<suffix>.txt.
Batch keys: the returned DataFrame's formatted plan.  Streaming keys
(the frame comes back from a memory sink): the captured incremental
plan of the final micro-batch (streaming/queries._CAPTURE_STREAMING_PLANS),
falling back to the memory-table plan.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")

from flink_streaming_example_spark.plans.registry import all_specs
from flink_streaming_example_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    out, suffix, keys = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
    os.makedirs(out, exist_ok=True)
    spark = get_spark("dump-key-plans")
    specs = all_specs()
    from flink_streaming_example_spark.streaming import queries as sq
    from flink_streaming_example_spark.operators import pinning
    for key in keys:
        sq._CAPTURE_STREAMING_PLANS = True
        sq._captured_streaming.clear()
        try:
            df = specs[key].fn(spark, SF_DIR)
            if sq._captured_streaming:
                text = "\n\n".join(p for p, _ in sq._captured_streaming)
            else:
                text = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                )
        except Exception as ex:  # noqa: BLE001
            text = f"PLAN CAPTURE FAILED: {ex!r}"
        finally:
            sq._CAPTURE_STREAMING_PLANS = False
            spark.catalog.clearCache()
            pinning.release_all()
        path = os.path.join(out, f"{key}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {key} ({suffix}) sf={SF_DIR}\n\n{text}\n")
        print("WROTE", path, flush=True)


if __name__ == "__main__":
    main()
