#!/usr/bin/env python3
"""Layer-by-layer FITS scan benchmark.

    python3 perfbench/run.py --workload catalog_scan --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. One process generates the workload's
fixtures from ``--seed`` (excluded from every metric), launches a session
with ``build_session()`` at ``local[nproc]``, runs the workload's checked
actions once untimed, then repeats them one at a time (a closed loop
with one client) for ``--seconds``, three passes at least; each timing
is the median of its kind's samples. ``setup_s`` runs from session start
to the end of the first action. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries sample counts and host telemetry. ``--trace 1`` runs the same
actions with and without spans, then walks each layer in-process with
spans, and reports the per-layer metrics instead (see
perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")


def spec() -> dict:
    with open(BENCHMARK_JSON) as f:
        return json.load(f)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_telemetry() -> dict:
    """Context only; nothing gates on it. ``cpu_steal_s`` is the host's
    cumulative stolen CPU time: its growth over a run shows contention
    from outside the container."""
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            if k in ("MemFree", "MemAvailable"):
                mem[k] = int(v.split()[0]) * 1024
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    return {"nproc": nproc(), "loadavg": list(os.getloadavg()),
            "mem_free_bytes": mem.get("MemFree"),
            "mem_available_bytes": mem.get("MemAvailable"),
            "cpu_steal_s": steal}


class Recorder:
    """Counts and times the checked actions of one run. An action whose
    call raises, or whose result fails its check, is a failure; it is
    never retried or skipped."""

    def __init__(self):
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def run(self, kind: str, fn, check, timed: bool = True):
        """Run one action; its wall seconds if it succeeded and its
        result passed ``check``, else None."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn()
            dt = time.perf_counter() - t0
            ok = check(result)
        except Exception:                         # reported, run goes on
            self.failed += 1
            self.failures.append(f"{kind}: {traceback.format_exc(limit=3)}")
            return None
        if not ok:
            self.failed += 1
            self.failures.append(f"{kind}: wrong result {result!r:.300}")
            return None
        if timed:
            self.samples.setdefault(kind, []).append(dt)
        return dt


def end_to_end_metrics(rec: Recorder, setup_s: float | None,
                       scan_bytes: int) -> dict:
    """Every end-to-end metric, from the run's samples. A kind with no
    good sample gives NaN, which fails the run."""
    def med(kind):
        s = rec.samples.get(kind)
        return statistics.median(s) if s else float("nan")

    kinds = sorted(rec.samples)
    every = [x for k in kinds for x in rec.samples[k]]
    values = {
        "setup_s": setup_s if setup_s is not None else float("nan"),
        "scan_mb_per_s": scan_bytes / 1e6 / med("scan"),
        "projected_s": med("projected"),
        "selective_s": med("selective"),
        "grouped_agg_s": med("grouped"),
        "query_s_p50": statistics.median(every) if every else float("nan"),
        "mix_s": sum(med(k) for k in kinds) if kinds else float("nan"),
    }
    units = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


def _configure_env(work: str) -> None:
    """Keep every file Spark and Python write inside the checkout, and
    size the session for a shared host."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # -Xbatch roughly doubles JVM start-up plus first action on a 4-core
    # host (about 43 s instead of 22 s), which would dominate every run;
    # the flag does not change results
    os.environ["SPARK_GRAFT_JIT_BATCH"] = "0"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


def _session(work: str):
    from spark_fits_spark.plans import build_session

    tmp = os.path.join(work, "tmp")
    spark = build_session(app_name="perfbench", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


#: timed passes at least, however short ``--seconds`` is. The JIT
#: (asynchronous, without -Xbatch) is still compiling Spark's hot paths
#: after the untimed pass, so a pass gets faster for a few more passes;
#: the median of three or more keeps one sample's warm-up out
MIN_PASSES = 3


def set_up(workload, work: str, rec: Recorder, tracer) -> tuple:
    """Launch the JVM with ``build_session()``, then run the workload's
    actions once, untimed: the first run of each query in a session pays
    codegen that would swamp the work timed. Returns the session, the
    actions the timed mix repeats and the set-up seconds, from session
    start to the first completed FITS action (None if that action
    failed)."""
    t0 = time.perf_counter()
    with tracer.span("session.build"):
        spark = _session(work)
    actions = workload.actions(spark)
    with tracer.span("session.first_action"):
        first = actions[0]
        dt = rec.run(first.kind, first.run, first.check, timed=False)
    setup_s = time.perf_counter() - t0 if dt is not None else None
    with tracer.span("session.warm_up"):
        for a in actions[1:]:
            rec.run(a.kind, a.run, a.check, timed=False)
    return spark, [a for a in actions if a.repeat], setup_s


def measure(actions, seconds: float, rec: Recorder, twin=None,
            min_passes: int = MIN_PASSES) -> None:
    """Repeat the action mix in order, at least ``min_passes`` times and
    until ``seconds`` have passed, always finishing the pass in progress
    so every kind has the same number of samples. ``twin(a)``, if given,
    runs beside each timed action, after it on even passes and before
    it on odd ones, and the loop then ends on an even pass count, so
    neither side is always the warmer."""
    deadline = time.perf_counter() + seconds
    passes = 0
    while True:
        for a in actions:
            steps = [lambda a=a: rec.run(a.kind, a.run, a.check)]
            if twin is not None:
                steps.append(lambda a=a: twin(a))
                if passes % 2:
                    steps.reverse()
            for step in steps:
                step()
        passes += 1
        if (passes >= min_passes and time.perf_counter() >= deadline
                and (twin is None or passes % 2 == 0)):
            return


def _proc_stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (state,
    ppid, ...), or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            stat = _proc_stat(int(name))
            if stat is not None:
                children.setdefault(int(stat[1]), []).append(int(name))
    found, todo = set(), [pid]
    while todo:
        for child in children.get(todo.pop(), ()):
            found.add(child)
            todo.append(child)
    return found


def _alive(pid: int) -> bool:
    stat = _proc_stat(pid)
    return stat is not None and stat[0] not in ("Z", "X")


def stop_processes(spark, timeout: float = 30.0) -> None:
    """Stop the session, then the JVM that ``build_session()`` launched,
    and wait until it and every other process this one started (Python
    workers included) has ended; kill what outlives ``timeout``. The JVM
    only exits by itself once it sees its stdin close, which it may do
    after this process has gone, so it is closed and waited for here."""
    pids = _descendants(os.getpid())
    if spark is not None:
        try:
            spark.stop()
        except Exception:                         # still stop the JVM
            traceback.print_exc()
    context = sys.modules.get("pyspark.core.context")
    gateway = context and context.SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        context.SparkContext._gateway = None
        context.SparkContext._jvm = None
    pids |= _descendants(os.getpid())
    deadline = time.monotonic() + timeout
    while True:
        left = [p for p in pids if _alive(p)]
        if not left:
            return
        if time.monotonic() >= deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        for p in left:                  # reap our own children
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.05)


def _phase_seconds(stamps: dict) -> dict:
    stamps = {**stamps, "stopped": time.perf_counter()}
    names = list(stamps)
    return {b: stamps[b] - stamps[a] for a, b in zip(names, names[1:])}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "spark_fits_spark")):
        print("perfbench: spark_fits_spark/ not found next to perfbench/ "
              f"under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(have {sorted(WORKLOADS)})", file=sys.stderr)
        return 2

    # a TERM (a timeout, say) unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root,
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    host_start = host_telemetry()
    phases = {"start": time.perf_counter()}
    spark = None
    try:
        _configure_env(work)
        workload = WORKLOADS[args.workload](work, args.seed)
        workload.generate()
        phases["generated"] = time.perf_counter()

        from perfbench.layers import NullTracer, Tracer

        tracer = Tracer() if args.trace else NullTracer()
        rec = Recorder()
        spark, actions, setup_s = set_up(workload, work, rec, tracer)
        phases["warmed_up"] = time.perf_counter()
        if args.trace:
            from perfbench.layers import layer_metrics, traced_action

            measure(actions, args.seconds, rec,
                    twin=lambda a: traced_action(tracer, spark, a, rec),
                    min_passes=2)

            metrics = layer_metrics(spark, workload, rec, tracer)
            trace_path = os.path.join(
                ROOT, ".perfbench_traces",
                f"{args.workload}-seed{args.seed}.json")
            tracer.dump(trace_path)
        else:
            measure(actions, args.seconds, rec)
            metrics = end_to_end_metrics(rec, setup_s, workload.scan_bytes)
        phases["measured"] = time.perf_counter()
    finally:
        stop_processes(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)           # only once no other run uses it
        except OSError:
            pass

    bad = [k for k, m in metrics.items() if m["value"] != m["value"]]
    if bad:                     # NaN is not JSON: report null, run fails
        rec.failures.append(f"metrics without a value: {bad}")
        for k in bad:
            metrics[k]["value"] = None
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "setup_s": setup_s,
        # wall seconds of each phase: fixtures, set-up with its untimed
        # pass, the timed loop (and walk), session stop and clean-up
        "phase_s": _phase_seconds(phases),
        "samples": {k: len(v) for k, v in rec.samples.items()},
        "sample_s": rec.samples,
        "host_start": host_start, "host_end": host_telemetry(),
        "failures": rec.failures,
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": rec.failed == 0 and not bad,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
