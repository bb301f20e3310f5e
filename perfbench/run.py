"""Benchmark of the engine's production jobs, end to end and per layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One driver process at ``local[<cores>]``:
it generates (or reuses) the seed's inputs, starts the session, makes
one untimed warm-up call, then repeats the workload's call for
``--seconds`` (one caller, one call at a time), checks every output and
prints the metrics. ``--trace 1`` adds one call wrapped in spans, the
isolated per-layer calls and the event-log parse, and prints the
per-layer metrics instead. The last stdout line is one JSON object; the
exit code is 0 only when every call and every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback


def _process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


# process start on the perf_counter clock
T_START = time.perf_counter() - _process_age_s()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
# seed kept out of every run made while the benchmark was written; a
# claimed gain must also hold on it
HOLDOUT_SEED = 1009
RSS_INTERVAL_S = 0.1


def host_settings() -> dict:
    """Host-fit session settings, passed to the engine from outside."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_total_mb = next(int(l.split()[1]) // 1024 for l in f if l.startswith("MemTotal:"))
    return {
        "cores": cores,
        "shuffle_partitions": cores,
        "mem_total_mb": mem_total_mb,
        # well under MemTotal: the host's memory is shared
        "driver_memory": f"{min(2048, mem_total_mb // 4)}m",
        "shuffle_dir": os.path.join(WORK, "spark-local"),
        "output_dir": os.path.join(WORK, "out"),
        "tmp_dir": os.path.join(WORK, "tmp"),
        "input_cache": os.path.join(WORK, "inputs"),
        "event_log_dir": os.path.join(WORK, "eventlog"),
    }


def apply_settings(s: dict) -> None:
    for d in ("shuffle_dir", "output_dir", "tmp_dir", "input_cache"):
        os.makedirs(s[d], exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(s["cores"]),
        SPARK_GRAFT_SHUFFLE_PARTITIONS=str(s["shuffle_partitions"]),
        SPARK_GRAFT_DRIVER_MEM=s["driver_memory"],
        SPARK_GRAFT_LOCAL_DIR=s["shuffle_dir"],
        TMPDIR=s["tmp_dir"],  # Python workers' temporary files
        # the launcher JVM that spark-submit starts first
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={s['tmp_dir']}",
    )


def driver_java_options(s: dict) -> str:
    """JVM options prepended to the session's own: temporary files (the
    native-library extraction) stay in the work directory and no
    perf-data file goes to /tmp."""
    return f"-XX:-UsePerfData -Djava.io.tmpdir={s['tmp_dir']}"


class RssSampler:
    """Peak summed RSS of the driver JVM (this process's ``java`` child)
    and the Python workers below it, sampled from /proc while enabled.

    Other descendants are left out: a helper the JVM forks shares the
    JVM's memory until it execs, and counting it would add the JVM's RSS
    a second time."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @staticmethod
    def _sample_mb() -> float:
        procs = {}
        page = os.sysconf("SC_PAGE_SIZE")
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    head, tail = f.read().rsplit(")", 1)
            except OSError:
                continue  # the process ended while we listed
            fields = tail.split()
            procs[int(pid)] = (int(fields[1]), head.split("(", 1)[1], int(fields[21]) * page)
        me, total = os.getpid(), 0
        for ppid, comm, rss in procs.values():
            counted = (comm == "java" and ppid == me) or comm.startswith("python")
            p = ppid
            while counted and p and p != me:
                p = procs[p][0] if p in procs else 0
            if counted and p == me:
                total += rss
        return total / 2**20

    def _run(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.peak_mb = max(self.peak_mb, self._sample_mb())

    def __enter__(self):
        self.peak_mb = max(self.peak_mb, self._sample_mb())
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def _stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)


def measure(workload, seconds: float, out_root: str) -> tuple[list[float], list[str], int]:
    """Closed loop: call, wait, call again until ``seconds`` have passed
    (at least one call). Returns (wall times of calls that returned,
    their output dirs, number of calls that raised)."""
    times, outs, raised = [], [], 0
    deadline = time.perf_counter() + seconds
    i = 0
    while i == 0 or time.perf_counter() < deadline:
        out = _fresh(os.path.join(out_root, f"call-{i}"))
        t0 = time.perf_counter()
        try:
            workload.call(out)
        except Exception:  # noqa: BLE001 — a failed call is a counted result
            traceback.print_exc()
            raised += 1
        else:
            times.append(time.perf_counter() - t0)
            outs.append(out)
        i += 1
    return times, outs, raised


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "astrospectro_spark")):
        print(f"perfbench: no astrospectro_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import trace as tr
    from perfbench.inputs import Inputs, tree_bytes
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    settings = host_settings()
    apply_settings(settings)

    t0 = time.perf_counter()
    inputs = Inputs(settings["input_cache"], args.seed)
    generate_s_here = time.perf_counter() - t0

    from astrospectro_spark.session import get_spark

    extra_conf = {"spark.driver.defaultJavaOptions": driver_java_options(settings)}
    event_dir = None
    if args.trace:
        event_dir = _fresh(os.path.join(settings["event_log_dir"], args.workload))
        os.makedirs(event_dir)
        extra_conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{settings['cores']}]",
        shuffle_partitions=settings["shuffle_partitions"],
        extra_conf=extra_conf,
    )
    session_start_s = time.perf_counter() - t0
    try:
        workload = WORKLOADS[args.workload](spark, inputs)
        out_root = _fresh(os.path.join(settings["output_dir"], args.workload))

        t0 = time.perf_counter()
        workload.call(_fresh(os.path.join(out_root, "warmup")))
        warmup_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START - generate_s_here

        with RssSampler() as rss:
            times, outs, raised = measure(workload, args.seconds, out_root)
        if not times:
            print("perfbench: every timed call raised", file=sys.stderr)
            return 1

        layer, checked, extra_checks = {}, list(outs), []
        if args.trace:
            tracer = tr.Tracer(spark.sparkContext)
            traced_out = _fresh(os.path.join(out_root, "traced"))
            t0 = time.perf_counter()
            workload.traced_call(tracer, traced_out)
            traced_s = time.perf_counter() - t0
            layer, extra_checks = workload.layer_extras(tracer, traced_out, out_root)
            layer["trace.overhead_ratio"] = traced_s / statistics.median(times)
            checked.append(traced_out)

        # output checks, untimed: every output, plus the oracle sample on
        # the last timed call's
        t0 = time.perf_counter()
        failed = raised
        for problems in extra_checks:
            if problems:
                failed += 1
                print(f"perfbench: check failed for a traced-run extra: {problems}",
                      file=sys.stderr)
        for out in checked:
            try:
                problems = workload.check(out)
                if outs and out == outs[-1]:
                    problems += workload.deep_check(out)
            except Exception as e:  # noqa: BLE001 — unreadable output fails its check
                traceback.print_exc()
                problems = [f"check raised {e!r}"]
            if problems:
                failed += 1
                print(f"perfbench: check failed for {out}: {problems}", file=sys.stderr)
        attempted = len(checked) + raised + len(extra_checks)
        check_s = time.perf_counter() - t0
        facts = workload.facts(outs[-1])
        job_s = statistics.median(times)
        metrics = {
            "setup_s": setup_s,
            "job_s": job_s,
            "items_per_s": workload.items / job_s,
            "peak_rss_mb": rss.peak_mb,
            "out_bytes_ratio": tree_bytes(outs[-1]) / workload.input_bytes,
        }
    finally:
        _stop_spark(spark)

    if args.trace:
        (log,) = os.listdir(event_dir)
        with open(os.path.join(event_dir, log)) as f:
            layer.update(tr.layer_metrics(tr.parse_event_log(f)))
        layer.update(
            {
                "session.start_s": session_start_s,
                "session.warmup_s": warmup_s,
                "synth.generate_s": inputs.meta["generate_s"],
                "fail_ratio": failed / attempted,
            }
        )

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "holdout_seed": HOLDOUT_SEED,
        "calls": len(times),
        "call_s": times,
        "check_s": check_s,
        "items": workload.items,
        "input": {k: inputs.meta[k] for k in ("n_turns", "n_anchors", "n_documents",
                                               "n_feed_rows", "mega_share")},
        **facts,
        "settings": settings,
    }
    print("perfbench: " + json.dumps(report))
    for m in declared["end_to_end"]:
        print(f"perfbench: {m['name']} = {metrics[m['name']]:.6g} {m['unit']}")
    print(f"perfbench: fail_ratio = {failed / attempted:.6g} ratio")

    if args.trace:
        shown = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                 for m in declared["per_layer"]}
    else:
        shown = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                 for m in declared["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": shown}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
