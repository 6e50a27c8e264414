"""Per-key profiler (optimization round 15, guide §1): run one
registered key in a fresh session with the Spark event log enabled,
then attribute wall-clock to jobs/stages.

    python tools/profile_key.py q_containment_ppjoin [sf_dir]

Prints: total key seconds (bench methodology: spec.fn + toPandas), then
each job (description, duration, task-time, stage breakdown) sorted by
duration.  Event logs go to a temp dir and are parsed in-process —
nothing persists.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")


def main() -> None:
    key = sys.argv[1]
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    evdir = tempfile.mkdtemp(prefix="evlog_")

    from pyspark.sql import SparkSession

    import bench
    from flink_streaming_example_spark.session import _REQUIRED_SQL_CONFS, _cpus

    cpus = _cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ["SPARK_DRIVER_MEMORY"])
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", evdir)
        .config("spark.eventLog.compress", "false")
    )
    for k, v in _REQUIRED_SQL_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()

    bench.warm_session(spark, sf)

    from flink_streaming_example_spark.plans.registry import all_specs

    spec = all_specs()[key]
    t_mark = time.time() * 1000  # wall ms; event timestamps are epoch ms
    t0 = time.perf_counter()
    df = spec.fn(spark, sf)
    t_built = time.perf_counter() - t0
    try:
        df.toPandas()
    except Exception:
        df.collect()
    elapsed = time.perf_counter() - t0
    print(f"KEY {key} total={elapsed:.3f}s build={t_built:.3f}s "
          f"(build includes any eager jobs)")

    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    spark.stop()

    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for root, _dirs, files in os.walk(evdir):
        for fn in files:
            if fn.startswith("."):
                continue
            with open(os.path.join(root, fn)) as fh:
                for line in fh:
                    try:
                        e = json.loads(line)
                    except ValueError:
                        continue
                    ev = e.get("Event")
                    if ev == "SparkListenerJobStart":
                        if e["Submission Time"] < t_mark:
                            continue
                        jobs[e["Job ID"]] = {
                            "desc": e.get("Properties", {}).get(
                                "spark.job.description", ""
                            ).replace("\n", " ")[:90],
                            "t0": e["Submission Time"],
                            "stages": [s["Stage ID"] for s in
                                       e.get("Stage Infos", [])],
                        }
                    elif ev == "SparkListenerJobEnd":
                        if e["Job ID"] in jobs:
                            jobs[e["Job ID"]]["t1"] = e["Completion Time"]
                    elif ev == "SparkListenerStageCompleted":
                        si = e["Stage Info"]
                        if si.get("Submission Time", 0) < t_mark:
                            continue
                        stages[si["Stage ID"]] = {
                            "name": si["Stage Name"][:70],
                            "ms": si.get("Completion Time", 0)
                            - si.get("Submission Time", 0),
                            "tasks": si["Number of Tasks"],
                        }
    total_job_ms = 0
    rows = []
    for jid, j in sorted(jobs.items()):
        if "t1" not in j:
            continue
        dur = j["t1"] - j["t0"]
        total_job_ms += dur
        st = [
            (stages[s]["ms"], stages[s]["tasks"], stages[s]["name"])
            for s in j["stages"]
            if s in stages
        ]
        st.sort(reverse=True)
        rows.append((dur, jid, j["desc"], st))
    rows.sort(reverse=True)
    print(f"JOBS n={len(rows)} sum_job_ms={total_job_ms}")
    for dur, jid, desc, st in rows:
        print(f"  job {jid:4d} {dur:7d}ms  {desc}")
        for ms, ntasks, name in st[:4]:
            print(f"        stage {ms:7d}ms tasks={ntasks:3d} {name}")
    shutil.rmtree(evdir, ignore_errors=True)


if __name__ == "__main__":
    main()
