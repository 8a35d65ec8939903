"""The repository's benchmark of record.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One process drives the engine on
``local[<cores>]`` as a closed loop with one client: set-up (session
start, seeded inputs written to parquet, oracle answers, one untimed
warm-up pass with shortened loops), then whole passes back to back until
``--seconds`` have passed (at least the workload's ``min_passes``), each checked against the oracle
outside its timed region. The last stdout line is one JSON object:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Driver heap for the engine's deployment setting, well under the 15 GB of
# the 4-core box the benchmark is sized for. The heap is fixed and
# pre-touched: with a growable heap the JVM's peak RSS varied by 25%
# between identical runs, following G1's sizing rather than the engine.
DRIVER_MEM = "2g"
SETUP_REPEATS = 3  # input generation + oracle runs per set-up; median reported

END_TO_END_UNITS = {
    "setup_s": "s", "job_s": "s", "pagerank_edge_iters_per_s": "1/s", "peak_rss_mb": "MB",
}
CALLS = tuple(dict.fromkeys(op for w in WORKLOADS.values() for op in w.ops))
QUANTITY_UNITS = {
    "s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "failed_tasks": "count", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
    "busy_s": "s", "gc_s": "s", "spill_mb": "MB", "driver_gap_s": "s",
}
EXTRA_UNITS = {
    "session.get_spark.s": "s",
    "graph.n_vertices": "count",
    "graph.n_edges": "count",
    "functions.near_dup_pairs": "count",
    "functions.lsh.candidate_yield": "ratio",
    "plans.pagerank.iterations": "count",
    "plans.iteration.s": "s",
    "plans.durable_epoch.s": "s",
    "trace.job_s": "s",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{c}.{q}": u for c in CALLS for q, u in QUANTITY_UNITS.items()}
    units.update(EXTRA_UNITS)
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test size, seconds instead of a minute")
    return ap.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (Python workers of the JVM)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both the JVM
    and its Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc else []
    spark.stop()
    gateway.shutdown()
    if proc:
        proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [w for w in workers if os.path.exists(f"/proc/{w}")]
        time.sleep(0.05)


def start_spark(work: str, traced: bool):
    from arkouda_njit_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if traced:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    n = cores()
    spark = get_spark(master=f"local[{n}]", shuffle_partitions=n,
                      app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_pass(workload, spark, rec, data, scratch, pass_id, warmup: bool = False):
    """One pass. Returns (seconds, pass, names of failed calls); the
    warm-up pass runs shortened loops and is not checked."""
    p = workload.make_pass(spark, data, scratch, warmup)
    failed: list[str] = []
    rec.pass_id = pass_id
    t0 = time.perf_counter()
    with rec.span("pass"):
        for i, (name, fn) in enumerate(p.ops):
            try:
                with rec.call(name):
                    p.results[name] = fn()
                c = rec.calls[-1]
                print(f"{pass_id} {name}: {c['s']:.3f} s, {c['jobs']} jobs, {c['tasks']} tasks",
                      file=sys.stderr)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed = [n for n, _ in p.ops[i:]]
                break
    seconds = time.perf_counter() - t0
    if not warmup and not failed:
        for name, errs in workload.check(p, data).items():
            for e in errs:
                print(f"check failed: {e}", file=sys.stderr)
            if errs:
                failed.append(name)
    return seconds, p, failed


def per_layer(rec, traced_passes, extras, size, session_s,
              job_traced, job_untraced) -> dict[str, float]:
    """Medians over the traced passes; 0 for calls the workload does not make."""
    metrics = dict.fromkeys(per_layer_units(), 0.0)
    for call in CALLS:
        rows = [c for c in rec.calls if c["name"] == call and c["pass"] in traced_passes]
        for q in QUANTITY_UNITS:
            if rows:
                metrics[f"{call}.{q}"] = statistics.median(r[q] for r in rows)
    pr_s = metrics["operators.pagerank.s"]
    n_vertices, n_edges = size
    metrics.update({
        "session.get_spark.s": session_s,
        "graph.n_vertices": n_vertices,
        "graph.n_edges": n_edges,
        "trace.job_s": job_traced,
        "trace.overhead_s": job_traced - job_untraced,
    })
    extra = {k: statistics.median(e[k] for e in extras) for k in (extras[0] if extras else ())}
    in_memory_s = extra.pop("in_memory_pagerank_s", None)
    metrics.update(extra)
    if in_memory_s is not None:
        metrics["plans.durable_epoch.s"] = pr_s - in_memory_s
    return metrics


def run(args, work: str) -> dict:
    workload = WORKLOADS[args.workload](args.size)
    traced = bool(args.trace)

    t0 = time.perf_counter()
    spark = start_spark(work, traced)
    session_s = time.perf_counter() - t0
    try:
        rec = tracing.Recorder(spark, traced)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

        with rec.span("setup"):
            input_s = []
            for r in range(SETUP_REPEATS):
                t = time.perf_counter()
                with rec.span("inputs"):
                    data = workload.prepare(args.seed, os.path.join(work, f"input-{r}"))
                input_s.append(time.perf_counter() - t)
            t = time.perf_counter()
            with rec.span("warmup"):
                _, p, _ = run_pass(workload, spark, rec, data, os.path.join(work, "warmup"),
                                   "warmup", warmup=True)
                workload.cleanup(p)
            warmup_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(input_s) + warmup_s

        attempted = failed = 0
        times, traced_times, untraced_times = [], [], []
        traced_passes: list[str] = []
        extras: list[dict] = []
        size = (0, 0)
        edge_iters_per_s: list[float] = []
        deadline = time.perf_counter() + args.seconds
        i = 0
        # The traced run alternates untraced and traced passes to report its
        # own overhead. Passes still speed up as the JIT warms, so it runs at
        # least untraced, traced, untraced: the traced pass sits between two
        # untraced ones.
        min_passes = max(workload.min_passes, 3 if traced else 1)
        while i < min_passes or time.perf_counter() < deadline:
            pass_id = f"p{i}"
            trace_this = traced and i % 2 == 1
            rec.traced = trace_this
            scratch = os.path.join(work, pass_id)
            seconds, p, bad = run_pass(workload, spark, rec, data, scratch, pass_id)
            attempted += len(p.ops)
            failed += len(bad)
            times.append(seconds)
            (traced_times if trace_this else untraced_times).append(seconds)
            if not bad:
                size = workload.graph_size(p)
                pr_s = next(c["s"] for c in rec.calls
                            if c["pass"] == pass_id and c["name"] == "operators.pagerank")
                edge_iters_per_s.append(size[1] * workload.pagerank_iterations(p) / pr_s)
            if trace_this:
                rec.scrape(pass_id)
                traced_passes.append(pass_id)
                if not bad:
                    extras.append(workload.traced_extras(p))
            workload.cleanup(p)
            shutil.rmtree(scratch, ignore_errors=True)
            i += 1

        peak_rss_mb = jvm_peak_rss_mb(jvm_pid)
    finally:
        stop_spark(spark)

    job_s = statistics.median(times)
    print(f"{args.workload} seed {args.seed}: {len(times)} passes, job_s median "
          f"{job_s:.3f} s (no percentile above the median has ten samples beyond it), "
          f"setup_s {setup_s:.3f} s (session {session_s:.3f}, inputs median "
          f"{statistics.median(input_s):.3f} of {SETUP_REPEATS}, warm-up {warmup_s:.3f}), "
          f"peak_rss_mb {peak_rss_mb:.1f}, {failed}/{attempted} operations failed")

    if traced:
        os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
        rec.write(os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.json"))
        values = per_layer(
            rec, traced_passes, extras, size, session_s,
            statistics.median(traced_times), statistics.median(untraced_times),
        )
        units = per_layer_units()
    else:
        values = {
            "setup_s": setup_s,
            "job_s": job_s,
            # canonical edges x PageRank iterations / PageRank wall time
            "pagerank_edge_iters_per_s":
                statistics.median(edge_iters_per_s) if edge_iters_per_s else 0.0,
            "peak_rss_mb": peak_rss_mb,
        }
        units = END_TO_END_UNITS
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
