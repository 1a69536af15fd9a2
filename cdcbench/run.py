"""Benchmark entry point.

    python3 cdcbench/run.py --workload cdc_drain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds nothing: the engine is imported
from the checkout's ``kafkatosparktokudu_spark`` package and runs at
``local[<cores>]`` with the settings the repository's tests use. All work
files live under ``.bench_work/`` in the checkout and are removed at the
end. The last stdout line is the result JSON; the line before it labels
the run (cores, memory, load, steal, calibration, phase times and the
workload's own figures).
With ``--trace 1`` the layers are wrapped and the result carries the
per-layer metrics instead of the end-to-end ones. Every process the run
starts (the driver JVM, PySpark's workers) has ended before it exits.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import signal
import sys
import time

T_START = time.time()
ROOT = os.getcwd()
DRIVER_MEMORY = "4g"  # fits a 15 GB host; get_spark would default to 48g


def _cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _calibration_s() -> float:
    """A fixed pure-Python loop: how fast this interpreter runs right now."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Run:
    """What a workload needs: session, seed, measuring time, work dir,
    optional tracer. ``setup_done`` marks the end of set-up."""

    def __init__(self, args, spark, work: str, tracer):
        self.spark, self.seed, self.seconds = spark, args.seed, args.seconds
        self.work, self.tracer = work, tracer
        self.t_measure: float | None = None
        self.phases: dict[str, float] = {"start": time.time()}

    def phase(self, name: str) -> None:
        """Mark the start of a named phase (wall times go into the label)."""
        self.phases[name] = time.time()

    def span(self, name: str, trace=None):
        """A traced span around a call into a layer; nothing when untraced."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, trace)

    def setup_done(self) -> None:
        if self.t_measure is None:
            self.t_measure = time.time()
            self.phase("measure")

    def phase_seconds(self) -> dict[str, float]:
        marks = sorted(self.phases.items(), key=lambda kv: kv[1]) + [("end", time.time())]
        return {a: round(tb - ta, 2) for (a, ta), (_, tb) in zip(marks, marks[1:])}


def _start_spark(work: str, cores: int):
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=f"{work}/spark-local",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=f"{work}/tmp",
        TZ="UTC",
    )
    time.tzset()
    os.makedirs(f"{work}/tmp", exist_ok=True)
    from kafkatosparktokudu_spark.session import get_spark

    jopts = f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby"
    return get_spark(
        app_name="cdcbench",
        extra_conf={
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.extraJavaOptions": jopts,
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _become_subreaper() -> None:
    """Adopt orphaned descendants, so ``_stop_processes`` finds them all:
    the JVM outlives the py4j link for a moment, and PySpark's worker
    daemon runs in a process group of its own."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _descendants() -> list[tuple[int, str]]:
    """(pid, state) of every process below this one."""
    children: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                state, ppid = fh.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, ValueError):
            continue
        children.setdefault(int(ppid), []).append((int(d), state))
    out, todo = [], [os.getpid()]
    while todo:
        for pid, state in children.get(todo.pop(), ()):
            out.append((pid, state))
            todo.append(pid)
    return out


def _stop_processes(grace_s: float = 20.0, limit_s: float = 40.0) -> None:
    """Stop Spark, close the JVM's stdin (its signal to exit) and wait
    until every descendant has ended: SIGTERM after ``grace_s``, SIGKILL
    after ``limit_s``, giving up 30 s later so that a process stuck in the
    kernel cannot hang the run. Zombies adopted as a subreaper are reaped
    here."""
    pyspark = sys.modules.get("pyspark")
    if pyspark is not None:
        sc_cls = pyspark.SparkContext
        with contextlib.suppress(Exception):
            if sc_cls._active_spark_context is not None:
                sc_cls._active_spark_context.stop()
        gateway = sc_cls._gateway
        if gateway is not None:
            with contextlib.suppress(Exception):
                gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None and proc.stdin is not None:
                with contextlib.suppress(Exception):
                    proc.stdin.close()
            sc_cls._gateway = sc_cls._jvm = None
    t0 = time.monotonic()
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        procs = _descendants()
        waited = time.monotonic() - t0
        if not procs or waited > limit_s + 30:
            return
        if waited > grace_s:
            sig = signal.SIGKILL if waited > limit_s else signal.SIGTERM
            for pid, state in procs:
                if state != "Z":
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(pid, sig)
        time.sleep(0.05)


def _jvm_stats(spark) -> dict:
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    heap = 0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType().toString()) == "Heap memory":
            heap += pool.getPeakUsage().getUsed()
    pid = jvm.java.lang.ProcessHandle.current().pid()
    return {"gc_s": gc_ms / 1e3, "heap_peak_mb": heap / 2**20, "rss_mb": _vm_hwm_mb(pid)}


def main(argv: list[str]) -> int:
    import workloads

    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "kafkatosparktokudu_spark")):
        print("cdcbench: run from a checkout holding kafkatosparktokudu_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    _become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    label = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "spark_driver_memory": DRIVER_MEMORY,
        "shuffle_partitions": cores, "load_start": os.getloadavg()[:2],
        "calibration_s": _calibration_s(),
    }
    cpu0 = _cpu_times()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        spark = _start_spark(work, cores)
        import tracing

        tracer = tracing.Tracer(spark) if args.trace else None
        run = Run(args, spark, work, tracer)
        if tracer:
            tracer.install(args.workload)
        res = workloads.WORKLOADS[args.workload](run)
        res.label["phases_s"] = run.phase_seconds()
        res.label["jvm_start_s"] = run.phases["start"] - T_START
        jvm = _jvm_stats(spark)
        if tracer:
            tracer.uninstall()
            metrics = tracing.layer_metrics(tracer, args.workload, res, jvm, workloads.MIX)
            res.problems += tracing.coverage_problems(
                {k: v for k, (v, _) in metrics.items()})
        else:
            metrics = workloads.end_to_end(res, run, T_START)
        # peak RSS of the driver JVM plus this process: a label only, as it
        # moves with when the collector grows the heap (README: steadiness)
        res.label["rss_peak_mb"] = (
            jvm["rss_mb"] + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)
    finally:
        _stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    cpu1 = _cpu_times()
    d = [b - a for a, b in zip(cpu0, cpu1)]
    label.update(res.label)
    label.update(
        load_end=os.getloadavg()[:2],
        cpu_steal_frac=(d[7] / sum(d)) if len(d) > 7 and sum(d) else 0.0,
        samples={k: len(v) for k, v in res.samples.items()},
        problems=res.problems,
    )
    print("label " + json.dumps(label))
    print(json.dumps({
        "correct": not res.problems,
        "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
