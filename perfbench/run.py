"""Benchmark runner for log_analysis_spark.

    python3 perfbench/run.py --workload ip_search --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. One run is one process with one client
issuing ops in a closed loop against a ``local[<cores>]`` Spark session:

1. generate the workload's inputs from ``--seed`` (excluded from metrics);
2. start the session and run the workload's untimed warm-up ops;
3. run timed ops for ``--seconds`` and check every op's output against
   the generator's answers;
4. with ``--trace 1``, also run traced ops that time each layer from
   outside the package (see ``spans.py``) and write the spans to
   ``.perfbench/traces/``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``, holding the ``end_to_end`` metrics of
BENCHMARK.json without tracing and its ``per_layer`` metrics with it.
The lines before it print the same metrics and ``failed_op_ratio`` with
units; per-op times go to stderr.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _setup_env(work: str) -> None:
    """Process environment for the Spark JVM and its Python workers; must
    run before pyspark or the package is imported."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # applies to the spark-submit launcher JVM as well as the Spark JVM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"  # the package default, 8g, is far more than these inputs need
    sys.path.insert(0, ROOT)


def _descendants(pid: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parents.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in parents.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _stop(spark) -> None:
    """Stop the session, then the JVM and the Python workers it started,
    and wait until every one of them has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _run_op(w, spark, i: int, group: str):
    """One timed op: (seconds, passed its check)."""
    w.prepare()
    spark.sparkContext.setJobGroup(group, group)
    t = time.monotonic()
    try:
        res = w.op(spark, i)
    except Exception:
        traceback.print_exc()
        return time.monotonic() - t, False
    dt = time.monotonic() - t
    try:
        return dt, bool(w.check(res))
    except Exception:
        traceback.print_exc()
        return dt, False


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "log_analysis_spark", "__init__.py")):
        _log(f"error: no log_analysis_spark package under {ROOT}")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        _log(f"error: unknown workload {args.workload!r}")
        return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _setup_env(work)
    try:
        return _bench(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _bench(args, spec: dict, work: str) -> int:
    from log_analysis_spark.session import get_spark
    from spans import job_counts
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    t = time.monotonic()
    w = WORKLOADS[args.workload](work, args.seed, cores)
    gen_s = time.monotonic() - t
    _log(f"inputs: {w.records_per_op} records / {w.input_bytes} bytes per op, generated in {gen_s:.1f} s")

    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for i in range(w.warmups):
            dt, ok = _run_op(w, spark, i, f"warmup-{i}")
            _log(f"warmup {i}: {dt:.3f} s{'' if ok else ' FAILED'}")
        setup_s = time.monotonic() - T_START - gen_s

        times, counts, failed = [], [], 0
        i = w.warmups
        t0 = time.monotonic()
        while time.monotonic() - t0 < args.seconds:
            dt, ok = _run_op(w, spark, i, f"op-{i}")
            counts.append(job_counts(spark.sparkContext, f"op-{i}"))
            times.append(dt)
            failed += not ok
            _log(f"op {i}: {dt:.3f} s{'' if ok else ' FAILED'}")
            i += 1
        attempted = len(times)

        values = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(times),
            "records_per_s": statistics.median(w.records_per_op / t for t in times),
        }
        if args.trace:
            layers, traced, traced_failed = _traced(w, spark, args, times, counts, i)
            values.update(layers)
            attempted += traced
            failed += traced_failed
    finally:
        _stop(spark)

    if args.trace:
        # a layer the workload never calls did no work on it
        metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    for name, m in metrics.items():
        print(f"{args.workload} {name} {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} failed_op_ratio {failed / attempted:.6g} ratio ({failed}/{attempted} ops)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _traced(w, spark, args, times: list[float], counts, i: int) -> tuple[dict[str, float], int, int]:
    """Traced ops for ``--seconds`` (at least two): per-layer medians, the
    tracing overhead, Spark job counts and the tail of the timed ops; then
    the number of traced ops and how many of them failed."""
    from spans import Tracer

    tr = Tracer()
    traced, totals, failed = [], [], 0
    t0 = time.monotonic()
    while len(traced) < 2 or time.monotonic() - t0 < args.seconds:
        w.prepare()
        tr.op = i
        try:
            with tr.span("op") as op:
                res = w.traced_op(spark, tr, i)
            ok = bool(w.check(res))
        except Exception:
            traceback.print_exc()
            ok = False
        failed += not ok
        traced.append(op.dur)
        totals.append(tr.op_totals(i))
        _log(f"traced op {i}: {op.dur:.3f} s{'' if ok else ' FAILED'}")
        i += 1

    names = {k for t in totals for k in t}
    out = {k: statistics.median(t.get(k, 0.0) for t in totals) for k in names}
    if out.get("zeek_tsv.rows_scanned"):
        out["zeek_tsv.hit_ratio"] = out["zeek_tsv.hit_rows"] / out["zeek_tsv.rows_scanned"]
    for j, key in enumerate(("jobs", "stages", "tasks")):
        out[f"spark.{key}_per_op"] = statistics.median(c[j] for c in counts)
    out["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(times)
    ranked = sorted(times)
    out["tail.op_p90_s"] = ranked[math.ceil(0.9 * len(ranked)) - 1]
    out["tail.op_samples"] = len(ranked)

    trace_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(trace_dir, exist_ok=True)
    tr.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    return out, len(traced), failed


if __name__ == "__main__":
    sys.exit(main())
