"""sparksearch benchmark: one command, one workload per process.

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0

Runs from the root of a sparksearch checkout. Generates the seeded inputs,
starts Spark on ``local[<cores>]``, runs the workload's set-up and then its
timed closed loop for ``--seconds``, checks every answer against the BM25
oracle, and prints one JSON object as the last line of standard output. With
``--trace 0`` it holds the end-to-end metrics; with ``--trace 1`` the
per-layer metrics of a traced run, whose spans are written to
``.perfbench_work/spans-<workload>-<seed>.jsonl``. Spark's scratch space and
the indexes live in a per-run directory under ``.perfbench_work/`` that is
removed at exit. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: name -> unit. Must equal BENCHMARK.json (checked by test_perfbench.py).
END_TO_END = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "batch_qps": "queries/s",
    "freshness_s": "s",
    "peak_rss_mb": "MB",
    "index_bytes_per_posting": "bytes",
}
PER_LAYER = {
    "session.start_s": "s",
    "tokenize.busy_s": "s",
    "tokenize.postings": "count",
    "build.segments_busy_s": "s",
    "build.encode_groups": "count",
    "build.blocks": "count",
    "build.finalize_busy_s": "s",
    "build.sinks_s": "s",
    "build.spark_jobs": "count",
    "build.spark_stages": "count",
    "codec.encode_ns_per_posting": "ns",
    "codec.decode_ns_per_posting": "ns",
    "checkpoint.build_unit_s": "s",
    "checkpoint.finalize_s": "s",
    "checkpoint.finalize_input_postings": "count",
    "checkpoint.dictionary_terms": "count",
    "checkpoint.compact_s": "s",
    "checkpoint.generations": "count",
    "checkpoint.segment_files": "count",
    "daat.plan_s": "s",
    "daat.exec_s": "s",
    "daat.spark_jobs": "count",
    "daat.spark_stages": "count",
    "daat.spark_tasks": "count",
    "daat.blocks_fetched": "count",
    "daat.postings_fetched": "count",
    "index.segment_bytes": "bytes",
    "index.dictionary_bytes": "bytes",
    "build.self_s": "s",
    "tokenize.self_s": "s",
    "checkpoint.self_s": "s",
    "daat.self_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}


def result_line(metrics: dict[str, float], units: dict[str, str],
                attempted: int, failed: int) -> str:
    """The final output line; refuses a metric set that differs from the
    declared one."""
    if set(metrics) != set(units):
        raise ValueError(f"metric names differ: {sorted(set(metrics) ^ set(units))}")
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    })


# --------------------------------------------------------------------------
# process tree: peak memory and clean shutdown (read from /proc; no psutil)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM): the driver, the JVM
    and the Python workers, all alive until the run ends."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, then the JVM, then wait for every process this run
    started (JVM, Python worker daemon and workers) to end."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            jvm = getattr(gateway, "proc", None)
            if jvm is not None:
                jvm.stdin.close()  # the JVM exits on EOF of its stdin
                try:
                    jvm.wait(timeout)
                except subprocess.TimeoutExpired:
                    jvm.kill()
                    jvm.wait()
        deadline = time.monotonic() + timeout
        while any(map(_alive, procs)) and time.monotonic() < deadline:
            time.sleep(0.05)
        for pid in filter(_alive, procs):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        while any(map(_alive, procs)):
            time.sleep(0.05)


# --------------------------------------------------------------------------


def start_spark(work: Path):
    """Spark on local[<cores>] with its scratch space inside ``work``."""
    cores = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # Python workers are forked by the JVM, which inherits this environment:
    # they must find sparksearch wherever the run starts.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # Both JVMs (spark-submit's launcher and the driver) keep their scratch
    # files inside the run directory.
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    # A sixteenth of the host, within [1g, 4g]: the corpus is small, and a
    # heap that fills sooner keeps the JVM's resident set steady.
    driver_mb = max(1024, min(4096, total_mb // 16))

    from sparksearch.session import get_spark

    return get_spark(
        "sparksearch-perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": f"{driver_mb}m",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tests")]
    try:
        import sparksearch  # noqa: F401
        import workloads
        from inputs import make_inputs
        from tracing import Tracer
    except ImportError as e:
        print(f"perfbench: run from the root of a sparksearch checkout ({e})",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    name = f"{args.workload}-{args.seed}"
    work = ROOT / ".perfbench_work" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        inputs = make_inputs(args.seed)
        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        run = workloads.Run(spark, inputs, str(work), tracer)
        out = workloads.WORKLOADS[args.workload](run, args.seconds)
        size = workloads.index_size(out["index"])
        e2e = {
            "setup_s": out["window_start"] - t_start,
            "query_p50_ms": out["query_p50_ms"],
            "batch_qps": out["batch_qps"],
            "freshness_s": out["freshness_s"],
            "peak_rss_mb": peak_rss_mb([os.getpid()] + descendants(os.getpid())),
            "index_bytes_per_posting": size["segment_bytes"] / size["postings"],
        }
        info = {k: v for k, v in out.items() if k != "index"}
        info.update(workload=args.workload, seed=args.seed,
                    repeat_share=inputs.repeat_share, docs=len(inputs.texts),
                    oracle_s=run.oracle_s, tie_reorders=run.tie_reorders,
                    errors=run.errors[:5], **size, **e2e)
        if args.trace:
            layer = per_layer(run, out, size, session_s)
            info["trace_overhead_s"] = layer["trace.overhead_s"]
            tracer.write(str(work.parent / f"spans-{name}.jsonl"))
            line = result_line(layer, PER_LAYER, run.attempted, run.failed)
        else:
            line = result_line(e2e, END_TO_END, run.attempted, run.failed)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info, default=str))
    print(line)
    return 0


def per_layer(run, out: dict, size: dict, session_s: float) -> dict:
    """Per-layer metrics of a traced run. The timed window supplied the daat
    (and, for ingest_search, checkpoint) spans; the probes below run after it
    so every workload reports every layer."""
    import workloads

    m = {"session.start_s": session_s}
    m.update(workloads.daat_metrics(run))
    m.update(workloads.probe_build(run))
    ingested = out if "generations" in out else workloads.probe_checkpoint(run)
    m.update(workloads.checkpoint_metrics(run, ingested))
    m.update(workloads.probe_codec(run, out["index"], sorted(set(run.inputs.stream))))
    m["index.segment_bytes"] = size["segment_bytes"]
    m["index.dictionary_bytes"] = size["dictionary_bytes"]
    self_s = run.tracer.self_time_by_layer()
    for layer in ("build", "tokenize", "checkpoint", "daat"):
        m[f"{layer}.self_s"] = self_s.get(layer, 0.0)
    m["trace.overhead_s"] = run.tracer.overhead_s
    m["trace.spans"] = len(run.tracer.spans)
    return m


if __name__ == "__main__":
    sys.exit(main())
