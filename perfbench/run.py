"""spark-graft benchmark: one workload per process, closed loop, one client.

    python3 perfbench/run.py --workload stream_state --seed 1 --seconds 20 --trace 0

A run has four steps:

1. setup: start the session (``get_spark`` with SPARK_GRAFT_CPUS=4 and
   the library's default heap) and run the session's first job;
2. untimed warm passes over the workload's keys (one or two, per
   workload).  The first checks every key's output against its DuckDB
   oracle with ``testing.compare_frames`` (see oracle.py) and records
   its digest;
3. timed passes, ``round(--seconds / the workload's nominal pass
   time)`` of them, at least two.  Each key's work is
   ``spec.fn(spark, sf).toPandas()``, then ``spark.catalog.clearCache()``
   and ``pinning.release_all()``; the digest of every timed result is
   taken outside the timed span and must equal the first pass's;
4. teardown: the retained JVM heap is read after full GCs, then the
   JVM and its Python workers are stopped and waited for.

The seed only permutes the order of keys within each pass.  With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` the layer functions are wrapped (see tracing.py) and it
carries the per-layer metrics.  The line before it, prefixed
``perfbench-detail``, holds per-pass values, host steal and the names of
failed keys.  See README.md for every metric.
"""

import argparse
import contextlib
import gc
import hashlib
import json
import math
import os
import random
import shlex
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TMP = os.path.join(WORK, "tmp")
CPUS = 4

sys.path.insert(0, HERE)

import layers  # noqa: E402
import oracle  # noqa: E402
import procfs  # noqa: E402
import tracing  # noqa: E402
from workloads import DATA, WORKLOADS, check_data, load_specs, spec  # noqa: E402


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and put the
    repo root on the Python workers' path so keys import the program
    from any working directory."""
    import shutil
    import tempfile

    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(TMP)
    os.environ["TMPDIR"] = TMP
    tempfile.tempdir = TMP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(TMP, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ.pop("SPARK_DRIVER_MEMORY", None)  # the library default heap
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    java_opts = f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.driver.extraJavaOptions={java_opts}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(TMP, 'warehouse')}",
        "pyspark-shell",
    ])
    sys.path.insert(0, ROOT)


def _warm_up(spark) -> None:
    """The session's first job: scheduler, task launch and whole-stage
    codegen start-up.  Everything else a key touches first (table
    footers, the Python worker pool, the streaming engine) is warmed by
    the untimed warm passes."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()


def _digest(pdf) -> str:
    """Order-insensitive digest of a result: hashes of the rows (columns
    sorted by name), sorted.  Exact on values, like the oracle check."""
    import numpy as np
    import pandas as pd

    from flink_streaming_example_spark.testing import canonical_rows

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    h = hashlib.sha256(repr(list(pdf.columns)).encode())
    try:
        rows = np.sort(pd.util.hash_pandas_object(pdf, index=False).to_numpy())
        h.update(rows.tobytes())
    except TypeError:  # unhashable cells (arrays, maps)
        h.update(repr(canonical_rows(pdf)).encode())
    return h.hexdigest()


class CpuClock:
    """CPU seconds of the driver, the JVM and the Python workers."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.workers = procfs.PythonWorkerCpu(jvm_pid)

    def sample(self) -> dict[str, float]:
        t = os.times()
        jvm = procfs.cpu_s(self.jvm_pid)
        return {
            "driver": t.user + t.system,
            "jvm": jvm[0] if jvm else 0.0,
            "python": self.workers.sample(),
        }


def _delta(a: dict, b: dict) -> dict:
    return {k: b[k] - a[k] for k in a}


def _gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def _retained_heap_mb(spark) -> float:
    """Heap in use after full GCs, the least of six reads.  Blocks of
    dead broadcasts, checkpoints and shuffles are freed by the context
    cleaner only after the GC that finds them unreachable, so the first
    reads run high."""
    bean = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    reads = []
    for _ in range(6):
        gc.collect()  # drop py4j proxies so the JVM objects are collectable
        spark._jvm.java.lang.System.gc()
        reads.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        time.sleep(0.2)
    return min(reads)


def _stop(spark, jvm_pid: int) -> None:
    """Stop the session, the JVM and its Python workers; wait for each."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = procfs.descendants(jvm_pid)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the Python workers exit on their own once the JVM is gone, but
    # slowly; ask them to stop
    for sig in (15, 9):
        alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
        for pid in alive:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + 10
        while any(os.path.exists(f"/proc/{p}") for p in alive) and time.monotonic() < deadline:
            time.sleep(0.02)


def run(args) -> dict:
    wl = WORKLOADS[args.workload]
    n_timed = max(2, round(args.seconds / wl.nominal_pass_s))
    _prepare_env()
    check_data(DATA)

    from flink_streaming_example_spark.session import get_spark

    specs = load_specs(wl.keys)

    steal0 = procfs.steal_jiffies()
    spark = get_spark("perfbench")
    session_start_s = procfs.process_age_s()
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    try:
        _warm_up(spark)
        setup_s = procfs.process_age_s()
        tracer = tracing.Tracer(spark) if args.trace else None
        if tracer is not None:
            tracer.install()
        passes, attempted, failures = _passes(spark, jvm_pid, wl, specs, n_timed, args.seed, tracer)
        timed = passes[wl.warm_passes:]
        heap_mb = _retained_heap_mb(spark)
        rss_mb = procfs.peak_rss_mb(jvm_pid)
        steal = procfs.steal_pct(steal0, procfs.steal_jiffies())
    finally:
        _stop(spark, jvm_pid)

    samples = [s for p in timed for s in p["key_s"].values()]
    result = {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["pass_s"] for p in timed),
        # 0 only when every timed execution failed (the run is then incorrect)
        "key_geomean_s": math.exp(statistics.fmean(map(math.log, samples))) if samples else 0.0,
        "cpu_s": statistics.median(sum(p["cpu"].values()) for p in timed),
        "retained_heap_mb": heap_mb,
        "ok_frac": (attempted - len(failures)) / attempted,
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "warm_passes": wl.warm_passes, "timed_passes": n_timed, "host_steal_pct": steal,
        "session_start_s": session_start_s, "jvm_peak_rss_mb": rss_mb,
        "passes": passes,
        "failures": failures,
    }
    if tracer is not None:
        result = layers.per_layer(tracer, timed, session_start_s, setup_s, steal, rss_mb)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.write(
            os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"),
            {"detail": detail, "metrics": result},
        )
    return {"attempted": attempted, "failed": len(failures), "metrics": result, "detail": detail}


def _passes(spark, jvm_pid, wl, specs, n_timed, seed, tracer):
    """The warm passes and then the timed passes; returns the per-pass
    records, the number of key executions and the failures."""
    checker = oracle.Oracle(DATA)
    clock = CpuClock(jvm_pid)
    rng = random.Random(seed)
    digests: dict[str, str] = {}
    failures: list[dict] = []
    attempted = 0
    passes: list[dict] = []
    for pass_no in range(wl.warm_passes + n_timed):
        order = list(wl.keys)
        rng.shuffle(order)
        rec = {"pass": pass_no, "key_s": {}, "cpu": {"driver": 0.0, "jvm": 0.0, "python": 0.0}}
        gc0 = _gc_s(spark)
        for key in order:
            attempted += 1
            res = _run_key(spark, specs[key], clock, tracer, pass_no)
            if "error" not in res:
                for k, v in res["cpu"].items():
                    rec["cpu"][k] += v
                rec["key_s"][key] = res["s"]
                if pass_no == 0:
                    res["error"] = checker.check(specs[key], res["pdf"])
                    digests[key] = _digest(res["pdf"])
                elif _digest(res["pdf"]) != digests.get(key):
                    res["error"] = "result differs from the first pass"
            if res.get("error"):
                failures.append({"key": key, "pass": pass_no, "error": res["error"]})
                print(f"perfbench: {key} failed in pass {pass_no}: {res['error']}", file=sys.stderr)
        rec["gc_s"] = _gc_s(spark) - gc0
        rec["pass_s"] = sum(rec["key_s"].values())
        passes.append(rec)
        if pass_no == 0:
            checker.close()
    return passes, attempted, failures


def _run_key(spark, spec, clock, tracer, pass_no) -> dict:
    """Run one key; the timed span is ``spec.fn`` through ``toPandas``."""
    from flink_streaming_example_spark.operators import pinning

    out: dict = {}
    span = tracer.key_span(spec.name, pass_no) if tracer else contextlib.nullcontext()
    c0 = clock.sample()
    t0 = time.perf_counter()
    try:
        with span:
            if tracer is None:
                pdf = spec.fn(spark, DATA).toPandas()
            else:
                pdf = _traced_key(spark, spec, tracer)
        out["s"] = time.perf_counter() - t0
        out["cpu"] = _delta(c0, clock.sample())
        out["pdf"] = pdf
    except Exception as e:  # counted and named, never dropped
        traceback.print_exc()
        out["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
    finally:
        spark.catalog.clearCache()
        pinning.release_all()
    if tracer is not None:
        attrs = {"s": out.get("s"), "cpu": out.get("cpu")}
        tracer.finish_key(spec.name, pass_no, attrs)
    return out


def _traced_key(spark, spec, tracer):
    with tracer.span("build"):
        df = spec.fn(spark, DATA)
    with tracer.span("catalyst") as rec:
        df._jdf.queryExecution().executedPlan()
    rec["attrs"].update(tracing.catalyst_phases_ms(df))
    with tracer.span("collect") as rec:
        cpu0 = time.process_time()
        pdf = df.toPandas()
        rec["attrs"]["driver_cpu_s"] = time.process_time() - cpu0
        rec["attrs"]["rows"] = len(pdf)
    return pdf


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    out = run(args)
    units = spec()["per_layer" if args.trace else "end_to_end"]
    print("perfbench-detail " + json.dumps(out["detail"]))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": units[k]["unit"]} for k, v in out["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
