"""versa_spark benchmark: one closed-loop client against one Spark driver.

Run from the root of a checkout:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 \
        --trace 0

The last line of standard output is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the workload's own named figures (``detail``).  ``--trace 0``
reports the end-to-end metrics.  ``--trace 1`` traces every second
operation (the untraced ones around it give the tracing overhead),
reports the per-layer metrics and writes the spans to
``.perfbench/log/<run id>.spans.jsonl``.

Everything the run writes lives under ``.perfbench/`` in the checkout;
its data directory is removed at exit, the logs are kept.  The exit code
is 0 when every output check passed, 1 when one failed and 2 when the
directory is not a versa_spark checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from collections import Counter

SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"
WORKLOADS = ("kg_build", "kg_job")
E2E_UNITS = {"setup_s": "s", "op_s": "s", "peak_rss_mb": "MB"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def confine_to(scratch: str, root: str) -> None:
    """Point every temporary and Spark-local directory of this process,
    the JVM it launches and its Python workers into ``scratch``."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = f"{os.environ.get(var, '')} {jvm_opts}".strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = tmp


def start_spark(scratch: str):
    from pyspark.sql import SparkSession
    cpus = len(os.sched_getaffinity(0))
    spark = (SparkSession.builder
             .master(f"local[{cpus}]")
             .appName("perfbench")
             .config("spark.driver.memory", DRIVER_MEMORY)
             # a fixed, pre-touched heap: no resizing pauses, and a
             # resident set that does not depend on which heap pages the
             # collector happened to touch (without pre-touch, one run in
             # ten peaked 400-700 MB lower)
             .config("spark.driver.extraJavaOptions",
                     f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch")
             .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.local.dir", os.path.join(scratch, "tmp"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(scratch, "warehouse"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_loop(spark, wl, tracer, seconds: float, trace: bool,
             jvm_pid: int) -> list[dict]:
    """Closed loop, one client: the next operation starts when the last
    one ended, until ``seconds`` have passed and at least ``wl.MIN_OPS``
    ran, or until the workload has no input left.  A traced run traces
    every second operation and ends on an untraced one, after at least
    three, so every traced op has an untraced one on each side.  A
    failing operation is recorded with its error class and the loop goes
    on."""
    from perfbench.instruments import (HostCounters, cached_storage,
                                       process_cpu_s)

    def cpu_s():
        return process_cpu_s("self") + process_cpu_s(jvm_pid)

    records = []
    start = time.perf_counter()
    i = 0
    min_ops = max(wl.MIN_OPS, 3 if trace else 1)
    while (time.perf_counter() - start < seconds or i < min_ops
           or (trace and i % 2 == 0)):
        op = wl.next_op(i)
        if op is None:
            break
        kind, arg = op
        tracer.enabled = trace and i % 2 == 1
        host0, cpu0 = HostCounters.read(), cpu_s()
        t0 = time.perf_counter()
        error, extra, root = None, {}, None
        try:
            with tracer.span(f"op.{kind}", op=i) as root:
                extra = wl.run_op(kind, arg)
        except Exception as exc:  # noqa: BLE001 — counted, loop goes on
            error = type(exc).__name__
            traceback.print_exc(file=sys.stderr)
        latency = time.perf_counter() - t0
        records.append({
            "i": i, "kind": kind, "traced": tracer.enabled,
            "ok": error is None, "error": error, "latency_s": latency,
            "cpu_s": cpu_s() - cpu0,
            "host": HostCounters.delta(host0, HostCounters.read()),
            "storage": cached_storage(spark),
            "span": root["id"] if root else None, **extra})
        i += 1
    tracer.enabled = trace
    return records


def storage_guard(records: list[dict]) -> dict:
    """Cached blocks and bytes after each op; a run whose cache holds more
    after its last op than after its first is flagged as growing."""
    blocks = [r["storage"]["blocks"] for r in records]
    nbytes = [r["storage"]["bytes"] for r in records]
    return {"max_blocks": max(blocks, default=0),
            "max_bytes": max(nbytes, default=0),
            "growing": bool(records) and (blocks[-1] > blocks[0]
                                          or nbytes[-1] > nbytes[0])}


def trace_overhead(records: list[dict]) -> dict:
    """Per op kind: the median, over traced ops with an untraced op of the
    same kind on each side, of traced latency ÷ the mean of its two
    neighbours' − 1.  Averaging the neighbours cancels a steady drift
    across ops (JIT warm-up, a fan-in that grows by one per op)."""
    from perfbench.instruments import median

    out = {}
    for prev, cur, nxt in zip(records, records[1:], records[2:]):
        if (cur["traced"] and not prev["traced"] and not nxt["traced"]
                and prev["ok"] and cur["ok"] and nxt["ok"]
                and prev["kind"] == cur["kind"] == nxt["kind"]):
            around = (prev["latency_s"] + nxt["latency_s"]) / 2
            out.setdefault(cur["kind"], []).append(
                cur["latency_s"] / around - 1)
    return {kind: {"value": median(v), "n": len(v)}
            for kind, v in sorted(out.items())}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "versa_spark", "__init__.py")):
        print("perfbench: run it from the root of a versa_spark checkout "
              "(no versa_spark/ package here)", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    run_id = (f"{args.workload}-s{args.seed}-{'t' if trace else 'u'}"
              f"-{os.getpid()}")
    base = os.path.join(root, ".perfbench")
    scratch = os.path.join(base, run_id)
    confine_to(scratch, root)
    sys.path.insert(0, root)

    from perfbench import layers
    from perfbench.instruments import (StatusReader, Tracer, median,
                                       peak_rss_mb)
    from perfbench.workloads import WORKLOADS as CLASSES

    t0 = time.perf_counter()
    spark = start_spark(scratch)
    try:
        session_s = time.perf_counter() - t0
        tracer = Tracer(run_id, trace,
                        StatusReader(spark) if trace else None)
        wl = CLASSES[args.workload](spark, os.path.join(scratch, "data"),
                                    args.seed, tracer)
        t = time.perf_counter()
        wl.setup()
        setup_pass_s = time.perf_counter() - t
        wl.after_setup()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        records = run_loop(spark, wl, tracer, args.seconds, trace, jvm_pid)
        failures = wl.check()
        measured = wl.window([r for r in records if not r["traced"]])
        ok = [r for r in measured if r["ok"]]
        if not ok:
            failures.append("no measured operation succeeded")
        detail = wl.detail(measured)
        detail["op_cpu_s"] = {"value": median(r["cpu_s"] for r in ok),
                              "unit": "s", "n": len(ok)}
        rss = peak_rss_mb(jvm_pid)
        summary = {
            "workload": args.workload, "seed": args.seed, "run_id": run_id,
            "session_s": session_s, "setup_pass_s": setup_pass_s,
            "detail": detail,
            "ops_failed_ratio": (len(records) - sum(r["ok"] for r in records))
            / max(len(records), 1),
            "errors": dict(Counter(r["error"] for r in records
                                   if r["error"])),
            "storage_guard": storage_guard(records),
            "ops": [{k: r[k] for k in ("i", "kind", "traced", "ok",
                                       "latency_s", "cpu_s")} | r["host"]
                    for r in records],
            "check_failures": failures[:20],
        }
        if trace:
            per_layer = layers.compute(tracer.spans, records,
                                       wl.table_fanin())
            summary["trace_overhead"] = trace_overhead(records)
            tracer.write(os.path.join(base, "log",
                                      f"{run_id}.spans.jsonl"),
                         {k: summary[k] for k in
                          ("workload", "seed", "run_id", "trace_overhead")}
                         | {"per_layer": per_layer})
            metrics = {name: {"value": per_layer[name], "unit": unit}
                       for name, unit in layers.UNITS.items()}
        else:
            values = {
                "setup_s": session_s + setup_pass_s,
                "op_s": median(r["latency_s"] for r in ok),
                "peak_rss_mb": rss,
            }
            metrics = {name: {"value": values[name], "unit": unit}
                       for name, unit in E2E_UNITS.items()}
    finally:
        stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    for line in failures[:20]:
        print(f"perfbench: check failed: {line}", file=sys.stderr)
    print(json.dumps(summary, default=str))
    print(json.dumps({
        "correct": not failures,
        "attempted": len(records),
        "failed": sum(not r["ok"] for r in records),
        "metrics": metrics,
    }))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
