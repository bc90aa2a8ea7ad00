"""Benchmark entry point.

    python3 perfbench/run.py --workload chi_cv --seed 1 --seconds 30 --trace 0

Run from the repository root. One process runs one workload: it
starts the engine's session (session.get_spark with local[nproc] and
every other setting at the engine's default), generates the inputs
from the seed, then times the workload's job: its first
JOB_ITERATIONS iterations, the first one cold. Iterations go on until
--seconds have passed (closed loop, one client thread). Outputs are
checked against the first iteration with the same key and, after the
timed window, against the DuckDB oracle. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics. --trace 1 runs the job
untraced, then an untraced, a traced (each engine call under its own
Spark job group) and an untraced iteration, then the traced-only
standalone spans, and reports the per-layer metrics; every span is
also written to .perfbench_out/<workload>-seed<seed>-trace<0|1>.json.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = ROOT / "chi_frbcs_bigdatacs_spark"


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms
    resolution), so set-up time includes interpreter start."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def process_peaks_mb() -> dict[str, float]:
    """VmHWM in MB of this process and each descendant (the JVM and
    the Python workers still alive), keyed "<pid> <name>": each
    process's own peak, read once at the end — no sampling thread."""
    out = {}
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid} {fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def jvm_pool_peaks_mb(spark) -> dict[str, float]:
    """Peak use in MB of each JVM memory pool, keyed "jvm <pool>"."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {
        f"jvm {p.getName()}": p.getPeakUsage().getUsed() / (1024.0 * 1024.0)
        for p in mf.getMemoryPoolMXBeans()
    }


def jvm_live_heap_mb(spark) -> dict[str, float]:
    """Use in MB of each JVM heap pool right after a full collection,
    keyed "jvm live <pool>": the heap the program still holds.

    Python's collector runs first, so py4j releases the JVM objects
    that dead Python wrappers pinned. A collection also makes Spark's
    ContextCleaner drop the blocks of unreachable RDDs and broadcasts,
    which only the next collection frees, so collect until the heap
    stops shrinking."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    heap = jvm.java.lang.management.MemoryType.HEAP
    pools = [p for p in mf.getMemoryPoolMXBeans() if p.getType() == heap]
    used = None
    for _ in range(5):
        gc.collect()
        jvm.java.lang.System.gc()
        now = {
            f"jvm live {p.getName()}": p.getUsage().getUsed() / (1024.0 * 1024.0) for p in pools
        }
        if used is not None and sum(now.values()) >= 0.99 * sum(used.values()):
            return now
        used = now
        time.sleep(0.5)
    return used


def retained_mb(mem: dict[str, float]) -> float:
    """Driver Python VmHWM, plus the JVM's live heap after a full
    collection at the end of the timed window, plus its peak non-heap
    use (metaspace, code cache).

    Left out, but kept in the side file: the JVM's peak heap pools and
    VmHWM, which follow G1's collection timing and heap sizing rather
    than data the program holds (the old generation's peak moved by
    half between runs of one workload), and the Python workers,
    forked from the PySpark daemon and mostly sharing its pages, whose
    number alive at the end depends on task timing."""
    me = f"{os.getpid()} "
    non_heap = ("Metaspace", "Compressed Class Space", "CodeHeap")
    return sum(
        v
        for k, v in mem.items()
        if k.startswith(me)
        or k.startswith("jvm live ")
        or (k.startswith("jvm ") and any(n in k for n in non_heap))
    )


def _isolate(work: Path) -> None:
    """Keep every file the run writes (spark local dirs, staging,
    streaming checkpoints) inside `work`, and let Python workers
    import the engine from the repository root."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [str(ROOT), str(HERE)]


class Checker:
    """Counts attempted/failed calls and compares each iteration's
    outputs with the first iteration that produced the same key."""

    def __init__(self) -> None:
        self.first: dict[str, tuple] = {}
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0

    def iteration(self, wl, tr, i: int) -> float:
        n0 = len(tr.pending) + len(tr.done)
        t0 = time.perf_counter()
        try:
            out = wl.iteration(tr, i)
        except Exception:  # noqa: BLE001 - a failed call is counted, not fatal
            self.errors.append(f"iteration {i}: {traceback.format_exc()}")
            out = None
        wall = time.perf_counter() - t0
        calls = len(tr.pending) + len(tr.done) - n0
        self.attempted += calls
        if out is None:
            self.failed += 1
            return wall
        for key, got in out.items():
            want = self.first.setdefault(key, got)
            if got != want:
                self.failed += 1
                self.errors.append(f"iteration {i}: {key} differs from its first output")
        return wall


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not ENGINE.is_dir():
        print(f"engine package not found at {ENGINE}", file=sys.stderr)
        return 2
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in declared["workloads"]}:
        print(f"unknown workload {args.workload}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _isolate(work)
    # SIGTERM unwinds like an exception, so the engine is stopped and
    # the work directory removed on that path too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, declared, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run is still using it
            pass


def _run(args, declared: dict, work: Path) -> int:
    from chi_frbcs_bigdatacs_spark.session import get_spark

    import spans
    import workloads

    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(master=f"local[{nproc}]")
    try:
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, str(work / "data"))
        chk = Checker()
        plain = spans.Tracer(spark, traced=False)
        setup_s = process_age_s()

        # The timed window starts at the first engine call in the fresh
        # session: a batch user pays the cold first iteration and the
        # JIT's warm-up on every job run, and the whole job's time is
        # far steadier between runs than a warm iteration's (see the
        # README). Iterations past the job run until --seconds have
        # passed. Traced runs add three iterations, untraced, traced,
        # untraced, so JIT drift cancels in trace.overhead_s. (The
        # job's own last iteration is no untraced reference: the JIT
        # still speeds iterations up too fast there.)
        traced = spans.Tracer(spark, traced=True) if args.trace else None
        job: list[float] = []
        times: dict[bool, list[float]] = {False: [], True: []}
        i, t_end = 0, time.perf_counter() + args.seconds
        while (
            i < wl.JOB_ITERATIONS
            or time.perf_counter() < t_end
            or (traced and i < wl.JOB_ITERATIONS + 3)
        ):
            use_trace = bool(traced) and i == wl.JOB_ITERATIONS + 1
            tr = traced if use_trace else plain
            wall = chk.iteration(wl, tr, i)
            tr.flush()
            (job if i < wl.JOB_ITERATIONS else times[use_trace]).append(wall)
            i += 1
        mem = {**process_peaks_mb(), **jvm_pool_peaks_mb(spark), **jvm_live_heap_mb(spark)}
        if traced:
            n_before = len(traced.done)
            try:
                wl.traced_extras(traced)
            except Exception:  # noqa: BLE001 - counted as a failed call
                chk.errors.append(f"traced extras: {traceback.format_exc()}")
                chk.failed += 1
            traced.flush()
            chk.attempted += len(traced.done) - n_before

        con = workloads.duckdb_connection()
        try:
            oracle_errs = wl.check(con, chk.first)
        finally:
            con.close()
        chk.errors.extend(oracle_errs)
        chk.failed += len(oracle_errs)
        if traced:
            traced.close()
    finally:
        stop_engine(spark)

    if args.trace:
        metrics = layer_metrics(declared, traced, wl, times[False], times[True])
        all_spans = plain.done + traced.done
    else:
        metrics = end_to_end_metrics(setup_s, sum(job), retained_mb(mem))
        all_spans = plain.done
        print(f"iterations={len(job) + len(times[False])}")
    write_side_file(args, all_spans, job, times, chk, mem)
    for e in chk.errors:
        print(f"ERROR {e}", file=sys.stderr)
    names = [m["name"] for m in declared["per_layer" if args.trace else "end_to_end"]]
    result = {
        "correct": chk.failed == 0,
        "attempted": chk.attempted,
        "failed": chk.failed,
        "metrics": {n: {"value": metrics[n][0], "unit": metrics[n][1]} for n in names},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def end_to_end_metrics(setup_s: float, fresh_job_s: float, mem_mb: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "fresh_job_s": (fresh_job_s, "s"),
        "retained_mb": (mem_mb, "MB"),
    }


def layer_metrics(declared, traced, wl, untraced_times: list[float], traced_times: list[float]) -> dict:
    """Per-span medians over the traced calls (0 for spans this
    workload never calls), the workload's extras, and the tracing
    overhead."""
    import spans
    import workloads

    out: dict[str, tuple[float, str]] = {}
    for name in workloads.SPANS:
        calls = [s.stats for s in traced.done if s.name == name]
        for m, unit in spans.SPAN_METRICS:
            if not calls:
                v = 0.0
            elif m == "tasks_failed":
                v = float(sum(c[m] for c in calls))
            else:
                v = float(statistics.median(c[m] for c in calls))
            out[f"{name}.{m}"] = (v, unit)
    for m in declared["per_layer"]:
        out.setdefault(m["name"], (float(wl.extra.get(m["name"], 0.0)), m["unit"]))
    overhead = statistics.median(traced_times) - statistics.median(untraced_times)
    out["trace.overhead_s"] = (overhead, "s")
    return out


def write_side_file(args, all_spans, job, times, chk, mem) -> None:
    import gen

    out = ROOT / ".perfbench_out"
    out.mkdir(exist_ok=True)
    path = out / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    path.write_text(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "params": gen.PARAMS[args.workload],
                "iterations_s": {"job": job, "untraced": times[False], "traced": times[True]},
                "errors": chk.errors,
                "mem_mb": mem,
                "spans": [
                    {"name": s.name, "start": s.start, "end": s.end, "group": s.group,
                     "stream_runs": s.stream_runs, **s.stats}
                    for s in all_spans
                ],
            },
            indent=1,
        )
    )


def stop_engine(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
