"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It starts a Spark session on
``local[nproc]``, builds the workload's inputs from the seed inside
``.perfbench_work/``, warms up, verifies the outputs once, then runs the
workload as a closed loop with one client for at least ``--seconds``
seconds, in whole passes, and checks every operation's output. Context
(nproc, pyspark version, seed, 1-minute loadavg at start and end, the
share of CPU time the hypervisor stole, session start and verification
time) goes to the ``context`` line; the last line of stdout is the
result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics, from traced operations,
and the spans are written to ``.perfbench_out/``. Exit status 2 means
the engine is not importable.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)
NPROC = len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks since boot. Time stolen by the hypervisor
    slows every phase of a run alike, so its share marks a run whose
    timings a busy host has stretched."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return sum(ticks), ticks[7]


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def start_spark(work: str):
    """A session on local[nproc] whose scratch files all stay in ``work``."""
    import tempfile

    from oculus_data_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    return get_spark(
        "perfbench",
        cpus=NPROC,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed heap keeps peak RSS from following G1's resizing
            "spark.driver.extraJavaOptions": f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
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


def operation_wall(results) -> tuple[float, int]:
    """Wall time of one operation-run (a pipeline run, or a pass over the
    query set) as the sum of each operation's median, and its items."""
    from workloads import median

    ok = [r for r in results if r.items and not r.failed]
    per_key: dict[str, list[float]] = {}
    for r in ok:
        per_key.setdefault(r.key, []).append(r.wall)
    wall = sum(median(v) for v in per_key.values())
    items = sum(next(r.items for r in ok if r.key == k) for k in per_key)
    return wall, items


def summarize_e2e(results, setup_s: float, rss: float) -> dict:
    wall, items = operation_wall(results)
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "items_per_s": (items / wall if wall else 0.0, "1/s"),
        "peak_rss_mb": (rss, "MB"),
    }


def summarize_layers(w, results, overhead: float) -> dict:
    """Medians over the traced operations of every per-layer metric (0
    where the workload does not exercise that layer), the spark.*
    counters per operation-run, the traced operation-run's wall time
    and the tracer's own time per pass."""
    from metrics import PER_LAYER
    from workloads import median

    traced = [r for r in results if r.traced and not r.failed]
    vals: dict[str, list[float]] = {}
    for r in traced:
        for k, v in r.layer.items():
            vals.setdefault(k, []).append(v)
    out = {name: (median(vals.get(name, [])), spec["unit"]) for name, spec in PER_LAYER.items()}
    if w.ops_per_pass > 1:
        for key in ("sql_executions", "jobs", "shuffle_bytes"):
            out[f"spark.{key}"] = (sum(out[f"{q}.{key}"][0] for q in w.order), PER_LAYER[f"spark.{key}"]["unit"])
    out["trace.wall_s"] = (operation_wall(results)[0], "s")
    out["trace.overhead_s"] = (overhead, "s")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import pyspark

        import oculus_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from spans import SparkCounters, Tracer
    from workloads import WORKLOADS, OpResult

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": NPROC,
        "pyspark": pyspark.__version__,
        "trace": args.trace,
        "loadavg_1m_start": os.getloadavg()[0],
    }
    ticks0 = cpu_ticks()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        context["session_start_s"] = time.perf_counter() - t0
        tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
        w = WORKLOADS[args.workload](spark, tracer, SparkCounters(spark), work, args.seed)
        w.setup()
        setup_s = time.perf_counter() - t0
        context["setup_s"] = setup_s
        tv = time.perf_counter()
        checks, bad = w.verify()
        context["verify_s"] = time.perf_counter() - tv

        results = [OpResult(0.0, 0, bad, attempted=checks)] if checks else []
        n = w.ops_per_pass
        deadline = time.perf_counter() + args.seconds
        i = 0
        tracer.enabled = bool(args.trace)
        # whole passes only
        while i < n or i % n or time.perf_counter() < deadline:
            if i % n == 0:
                # start each pass from a collected heap: a full GC left
                # over from set-up would land in one operation's time
                spark._jvm.java.lang.System.gc()
            results.append(w.op(i, tracer.enabled))
            i += 1
        passes = i // n
        if args.trace:
            extra = w.traced_extras()
            if extra is not None:
                results.append(extra)
        tracer.enabled = False
        pids = [os.getpid(), spark._jvm.java.lang.ProcessHandle.current().pid()]
        rss = peak_rss_mb(pids)

        attempted = sum(r.attempted for r in results)
        failed = sum(r.failed for r in results)
        if args.trace:
            metrics = summarize_layers(w, results, tracer.overhead / passes)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = summarize_e2e(results, setup_s, rss)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    context["loadavg_1m_end"] = os.getloadavg()[0]
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    context["cpu_steal_frac"] = ticks[1] / max(ticks[0], 1)
    context["operations"] = len(results)
    print(json.dumps({"context": context}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
