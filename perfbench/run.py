"""Regression benchmark for the search engine (see BENCHMARK.json).

    python3 perfbench/run.py --workload search_single --seed 1 --seconds 15 --trace 0

Run from the repository root.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  The line before it carries the details behind them: every
sample, the query mix, doc-length quantiles, the workload's own figures
(commit, delete and query times) and, with ``--trace 1``, the per-span self
times.  A traced run also
writes every span to ``perfbench/.work/trace/``.

Everything runs in this one process: a ``local[nproc]`` Spark session, one
client, no CPU pinning.  Spark's scratch space, temp files, event log and
indexes stay under ``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEM = "1g"  # ample for these corpora; the engine default, 16g, exceeds the host RAM


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _clean_work() -> None:
    """Empty WORK except the kept traces."""
    for name in os.listdir(WORK) if os.path.isdir(WORK) else []:
        if name != "trace":
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def _prepare_env() -> None:
    """Make the engine importable here and in the Python UDF workers, and
    keep every file Spark and the JVM write inside WORK."""
    _clean_work()
    for sub in ("local", "tmp", "events", "trace"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["EIDH_DRIVER_MEM"] = DRIVER_MEM
    # every JVM, the spark-submit launcher's too: temp files in WORK, no
    # hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}")


def _start_spark(cpus: int, trace: bool):
    from elasticsearch_data_import_handler_spark.session import get_spark

    # the event log, plain and in one file, feeds the spark.* metrics
    extra = {"spark.eventLog.enabled": "true",
             "spark.eventLog.dir": "file://" + os.path.join(WORK, "events"),
             "spark.eventLog.rolling.enabled": "false",
             "spark.eventLog.compress": "false"} if trace else {}
    return get_spark("perfbench", cpus=cpus, extra=extra)


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the context, then the JVM and the Python workers it started,
    and wait until each has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = _descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    args = _args()
    _prepare_env()
    try:
        import elasticsearch_data_import_handler_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable: {e}",
              file=sys.stderr)
        return 2
    from tracing import GROUP_PREFIX, event_log_metrics, vm_hwm_mb
    from workloads import DELETE_SELECT_ID, WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = _start_spark(cpus, bool(args.trace))
    ctx = Ctx(spark=spark, work=WORK, seed=args.seed, seconds=args.seconds,
              trace=bool(args.trace), session_s=time.perf_counter() - t0)
    try:
        e2e, layer, info = WORKLOADS[args.workload](ctx)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = {"rss_driver_mb": vm_hwm_mb(), "rss_jvm_mb": vm_hwm_mb(jvm_pid)}
        e2e["peak_rss_mb"] = sum(rss.values())
    finally:
        _stop_spark(spark)

    detail = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
              "driver_memory": DRIVER_MEM, **info["detail"], **rss,
              "error_rate": ctx.failed / max(1, ctx.attempted),
              "errors": ctx.errors[:20], **e2e}
    if args.trace:
        tracer, base = info["tracer"], info["base"]
        ops = [s for s in tracer.spans
               if s["parent"] is None
               and s["request"] not in (None, DELETE_SELECT_ID)]
        spark_tot = event_log_metrics(
            os.path.join(WORK, "events"),
            exclude=frozenset({GROUP_PREFIX + DELETE_SELECT_ID}))
        layer.update({f"spark.{k}": v / len(ops) for k, v in spark_tot.items()})
        layer["session.start_s"] = ctx.session_s
        layer["corpus.gen_s"] = statistics.median(base.gen_s)
        path = os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.json")
        tracer.write(path, {"workload": args.workload, "seed": args.seed,
                            "per_layer": layer})
        detail.update({"trace_file": os.path.relpath(path, ROOT),
                       "self_time_summary": tracer.summary()})
        metrics = layer
    else:
        metrics = e2e
    _clean_work()
    units = _units()
    print(json.dumps(detail, default=float))
    print(json.dumps({
        "correct": ctx.failed == 0, "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in sorted(metrics.items())}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
