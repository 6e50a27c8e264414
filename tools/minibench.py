"""Per-key A/B mini-bench (optimization round 16, guide §1): time a
list of registered keys with the bench methodology (spec.fn +
toPandas, cache/pins cleared between keys) for N reps in ONE session,
printing every sample with its /proc/stat steal delta so a stolen rep
is identifiable.  Under the heavy hypervisor steal this host shows
(40-50 % of busy whole-run, individual reps up to 160 %), the MIN of
several reps with a near-zero steal tag is the usable estimator for
A/B decisions; medians of record stay bench.py's job.

    python tools/minibench.py q_streaming_asof,q_streaming_ppjoin [reps] [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")


def main() -> None:
    keys = sys.argv[1].split(",")
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"

    import bench
    from flink_streaming_example_spark.operators import pinning
    from flink_streaming_example_spark.plans.registry import all_specs
    from flink_streaming_example_spark.session import get_spark

    spark = get_spark("minibench")
    bench.warm_session(spark, sf)

    specs = all_specs()
    samples: dict[str, list[tuple[float, float | None]]] = {
        k: [] for k in keys
    }
    for rep in range(reps):
        for k in keys:
            j0 = bench._cpu_jiffies()
            t0 = time.perf_counter()
            df = specs[k].fn(spark, sf)
            try:
                df.toPandas()
            except Exception:
                df.collect()
            sec = time.perf_counter() - t0
            noise = bench._host_noise(j0, bench._cpu_jiffies())
            samples[k].append(
                (sec, noise["steal_pct_of_busy"] if noise else None)
            )
            spark.catalog.clearCache()
            pinning.release_all()
    for k in keys:
        ss = samples[k]
        mn = min(s for s, _ in ss)
        print(
            f"MINIBENCH {k} min={mn:.2f} "
            + " ".join(f"{s:.2f}@{st}" for s, st in ss)
        )


if __name__ == "__main__":
    main()
