"""Crawl and dedup benchmark for csxj_crawler_spark.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload crawl_frontier --seed 1 --seconds 1 --trace 0

Workloads: ``crawl_frontier`` and ``dedup`` (see BENCHMARK.json and
perfbench/README.md).  Inputs are generated from ``--seed`` (cached under
perfbench/.cache) before the set-up clock starts.  A run then starts the
Spark session, loads and caches its inputs, and runs an untimed warm-up
(a full dedup pass, or the crawl waves before the resume point); together
that is ``setup_s``.  Timed passes follow
until ``--seconds`` have been spent, each checked against its reference.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs traced
passes, then an untraced one for the tracing overhead, and prints the
per-layer metrics.
Human-readable lines come first; the last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")

#: Pinned settings (see README.md, "Pinned settings").
MASTER = "local[2]"
DRIVER_MEM = "3g"
#: a run must exit within 180 s; stop starting passes that would end later
HARD_LIMIT_S = 165.0

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "step_p50_s": "s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.jvm_hwm_mb": "MB",
    "crawl.step_self_s": "s",
    "crawl.jobs_per_wave": "count",
    "crawl.stages_per_wave": "count",
    "crawl.tasks_per_wave": "count",
    "crawl.bootstrap_s": "s",
    **{f"snapshot.stage_s.{t}": "s" for t in ("fetch_log", "seen", "queued", "excluded")},
    **{f"snapshot.rows_written.{t}": "count" for t in ("fetch_log", "seen", "queued", "excluded")},
    **{f"snapshot.bytes_written.{t}": "B" for t in ("fetch_log", "seen", "queued", "excluded")},
    "snapshot.queued_rows_written_per_new_url": "ratio",
    "snapshot.compact_s": "s",
    "snapshot.compactions": "count",
    "snapshot.commit_s": "s",
    "snapshot.store_bytes": "B",
    "membership.sidecar_commit_s": "s",
    "membership.full_builds": "count",
    "membership.delta_merges": "count",
    "membership.probe_extra_s": "s",
    "urls.canon_s": "s",
    "dedupops.minhash_lsh_s": "s",
    "banding.pairs_out": "count",
    "graph.cc_s": "s",
    "graph.cc_rounds": "count",
    "graph.cc_jobs": "count",
    "payload.decode_s": "s",
    "payload.prune_s": "s",
    "payload.kept": "count",
    "trace.overhead_share": "ratio",
    "trace.spans": "count",
}


def memcpy_gbps() -> float:
    """Single-thread memcpy bandwidth in GB/s, best of 3 copies of 200 MB
    (the probe bench.py records): a slow reading marks a degraded host
    window, in which every timing of the run inflates."""
    import numpy as np

    a = np.ones(200_000_000, dtype=np.uint8)
    best = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        a.copy()
        best = max(best, a.nbytes * 2 / (time.perf_counter() - t0) / 1e9)
    return best


def pin_environment() -> None:
    """Environment the JVM and its Python workers inherit: the package on
    PYTHONPATH (workers start in Spark's own working directory), a fixed
    heap, and temporary files inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_LOCAL_DIR", "SPARK_GRAFT_TMPFS_SCRATCH"):
        os.environ.pop(var, None)


def start_spark():
    from csxj_crawler_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    spark = get_spark(
        app="perfbench",
        master=MASTER,
        extra={
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_hwm_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.time()
    deadline = started + HARD_LIMIT_S

    if not os.path.isfile(os.path.join(ROOT, "csxj_crawler_spark", "session.py")):
        print(f"perfbench: no csxj_crawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    shutil.rmtree(WORK, ignore_errors=True)
    pin_environment()

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    bw_start = memcpy_gbps()
    wl = workloads.WORKLOADS[args.workload](args.seed, WORK)
    t = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t

    # -- set-up: session, input load/cache, warm-up ----------------------------
    t_setup = time.perf_counter()
    spark = start_spark()
    get_spark_s = time.perf_counter() - t_setup
    try:
        wl.load(spark)
        warm = wl.warmup()
        setup_s = time.perf_counter() - t_setup

        results = []
        layer: dict[str, float] = {}
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark.sparkContext)
            layer, results = wl.traced(tracer, args.seconds, deadline)
        else:
            t0 = time.perf_counter()
            while True:
                try:
                    results.append(wl.run_pass())
                except Exception:
                    traceback.print_exc()
                    results.append(workloads.PassResult(0.0, 0, [], False, ["raised"]))
                spent = time.perf_counter() - t0
                per_pass = spent / len(results)
                if spent >= args.seconds or time.time() + per_pass > deadline:
                    break
        hwm = jvm_hwm_mb(spark)
    finally:
        stop_spark(spark)
    bw_end = memcpy_gbps()

    attempted = len(results)
    failed = sum(1 for r in results if not r.ok)
    good = [r for r in results if r.ok and r.seconds > 0]
    for r in results:
        for note in r.notes:
            print(f"perfbench: check failed: {note}", file=sys.stderr)

    if args.trace:
        layer["session.get_spark_s"] = get_spark_s
        layer["session.jvm_hwm_mb"] = hwm
        layer["trace.spans"] = len(tracer.spans)
        os.makedirs(OUT, exist_ok=True)
        spans_path = os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.jsonl")
        tracer.dump(spans_path)
        values = {k: float(layer.get(k, 0.0)) for k in PER_LAYER}
        units = PER_LAYER
    else:
        items = sum(r.items for r in good)
        secs = sum(r.seconds for r in good)
        steps = [s for r in good for s in r.steps]
        values = {
            "setup_s": setup_s,
            "items_per_s": items / secs if secs else 0.0,
            "step_p50_s": statistics.median(steps) if steps else 0.0,
        }
        units = END_TO_END

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"master={MASTER} driver_mem={DRIVER_MEM}")
    print(f"  inputs prepared in {prepare_s:.2f} s (not in setup_s); "
          f"warm-up {warm.seconds:.2f} s")
    print(f"  passes attempted={attempted} failed={failed} "
          f"failed_share={failed / max(1, attempted):.3f}")
    for i, r in enumerate(results):
        print(f"  pass {i}: {r.seconds:.2f} s, {r.items} items, steps "
              + " ".join(f"{x:.2f}" for x in r.steps) + ("" if r.ok else " FAILED"))
    for k, v in values.items():
        print(f"  {k:<44} {v:14.4f} {units[k]}")
    if args.trace:
        print(f"  spans written to {os.path.relpath(spans_path, ROOT)}")
    elif good:
        print(f"  {wl.summary(good)}")
    print(f"  ambient_bw_gbps start={bw_start:.2f} end={bw_end:.2f}")
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
