"""Per-layer metrics of a traced run, computed from its spans.

Layers are named after the program's modules.  A metric is a median over
the traced operations that touched its layer (a sum or ratio where its
name says so); a layer no operation of the workload touched reads 0,
which is how a bypassed layer shows.  Spans recorded during set-up only
feed ``storage.write_s``, the one layer that works only in set-up.
"""

from __future__ import annotations

from perfbench.instruments import (empty_stats, median, merge_stats,
                                   self_times)

JOB_STAGES = ("turns", "turn_order", "mentions", "linked", "graph", "edges",
              "entity_stats")

UNITS = {
    "kg.transcripts.exec_s": "s",
    "kg.transcripts.shuffle_bytes": "bytes",
    "kg.extract.exec_s": "s",
    "kg.extract.cpu_s": "s",
    "kg.extract.mentions": "count",
    "kg.extract.python_nodes": "count",
    "kg.linking.exec_s": "s",
    "kg.linking.linked_ratio": "ratio",
    "kg.canonicalize.exec_s": "s",
    "kg.canonicalize.shuffle_bytes": "bytes",
    "kg.canonicalize.spill_bytes": "bytes",
    "kg.canonicalize.task_skew": "ratio",
    "kg.graph.plan_s": "s",
    "kg.graph.persist_bytes": "bytes",
    "kg.graph.cached_blocks": "count",
    **{f"kg.job.stage_s.{s}": "s" for s in JOB_STAGES},
    "kg.job.fixed_s": "s",
    "kg.job.spark_jobs": "count",
    "kg.job.files_written": "count",
    "kg.job.table_fanin": "count",
    "storage.write_s": "s",
    "storage.files_read_per_lookup": "count",
    "storage.rows_scanned_per_result": "ratio",
    "storage.spark_jobs_per_lookup": "count",
    "ops.follow_hops.exec_s": "s",
    "ops.follow_hops.rows_scanned_per_result": "ratio",
    "ops.follow_hops.shuffle_bytes": "bytes",
    "query.parse_s": "s",
    "query.plan_s": "s",
    "query.exec_s": "s",
    "query.spark_jobs": "count",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "spark.jobs": "count",
    "host.sys_share": "ratio",
    "host.steal_s": "s",
}


class _Op:
    """One traced operation: its root span and every span below it."""

    def __init__(self, spans: list[dict]):
        self.spans = spans

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def layer(self, layer: str) -> list[dict]:
        return [s for s in self.spans if s.get("layer") == layer]

    def stats(self, spans) -> dict:
        out = empty_stats()
        for s in spans:
            merge_stats(out, s.get("spark") or empty_stats())
        return out


def _self_stat(op: _Op, spans: list[dict], key: str) -> float:
    """A span's Spark counter minus its children's (the lazy-layer rule:
    the parent's materialization re-ran its children)."""
    total = 0.0
    for s in spans:
        total += (s.get("spark") or {}).get(key, 0)
        for c in op.spans:
            if c["parent"] == s["id"]:
                total -= (c.get("spark") or {}).get(key, 0)
    return total


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0


def compute(spans: list[dict], records: list[dict],
            table_fanin: int) -> dict[str, float]:
    """Every metric of :data:`UNITS` from one traced run."""
    selft = self_times(spans)
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def subtree(root):
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(children.get(s["id"], []))
        return out

    by_id = {s["id"]: s for s in spans}
    traced = [r for r in records if r["traced"] and r["ok"]]
    ops = [_Op(subtree(by_id[r["span"]])) for r in traced]
    m = {name: 0 for name in UNITS}

    def per_op(layer_or_name, fn, by="layer"):
        """Median of fn(op, spans) over ops having such spans."""
        vals = []
        for op in ops:
            sel = op.layer(layer_or_name) if by == "layer" \
                else op.named(layer_or_name)
            if sel:
                vals.append(fn(op, sel))
        return median(vals)

    def self_s(op, sel):
        return sum(selft[s["id"]] for s in sel)

    def dur(op, sel):
        return sum(s["end"] - s["start"] for s in sel)

    def attr(key, agg=sum):
        return lambda op, sel: agg(s.get(key, 0) or 0 for s in sel)

    for layer in ("kg.transcripts", "kg.extract", "kg.linking",
                  "kg.canonicalize"):
        m[f"{layer}.exec_s"] = per_op(layer, self_s)
    m["kg.transcripts.shuffle_bytes"] = per_op(
        "kg.transcripts",
        lambda op, sel: _self_stat(op, sel, "shuffle_write_bytes"))
    m["kg.extract.cpu_s"] = per_op(
        "kg.extract", lambda op, sel: _self_stat(op, sel, "cpu_s"))
    m["kg.extract.mentions"] = per_op("kg.extract", attr("mentions"))
    m["kg.extract.python_nodes"] = max(
        [s.get("python_nodes", 0) for op in ops for s in op.spans] or [0])
    m["kg.linking.linked_ratio"] = per_op("kg.job.append",
                                          attr("linked_ratio"), by="name")
    m["kg.canonicalize.shuffle_bytes"] = per_op(
        "kg.canonicalize",
        lambda op, sel: _self_stat(op, sel, "shuffle_write_bytes"))
    m["kg.canonicalize.spill_bytes"] = per_op(
        "kg.canonicalize",
        lambda op, sel: _self_stat(op, sel, "spill_mem_bytes")
        + _self_stat(op, sel, "spill_disk_bytes"))
    m["kg.canonicalize.task_skew"] = per_op(
        "kg.canonicalize", lambda op, sel: op.stats(sel)["task_skew"])
    m["kg.graph.plan_s"] = per_op("kg.graph.plan", dur, by="name")
    m["kg.graph.persist_bytes"] = per_op("kg.extract",
                                         attr("persist_bytes"))
    m["kg.graph.cached_blocks"] = max(
        [r["storage"]["blocks"] for r in records] or [0])
    for stage in JOB_STAGES:
        m[f"kg.job.stage_s.{stage}"] = per_op(f"kg.job.stage.{stage}",
                                              dur, by="name")
    m["kg.job.fixed_s"] = per_op("kg.job.append", self_s, by="name")
    m["kg.job.spark_jobs"] = per_op(
        "kg.job.append",
        lambda op, sel: sum(op.stats(subtree(s))["jobs"] for s in sel),
        by="name")
    m["kg.job.files_written"] = per_op("kg.job.append",
                                       attr("files_written"), by="name")
    m["kg.job.table_fanin"] = table_fanin
    m["storage.write_s"] = median(s["end"] - s["start"] for s in spans
                                  if s["name"] == "storage.write")
    lookups = [s for op in ops for s in op.named("storage.match_stored")]
    m["storage.files_read_per_lookup"] = median(s["files"]
                                                for s in lookups)
    m["storage.rows_scanned_per_result"] = _ratio(
        sum(s["rows"] for s in lookups),
        sum(s["result_rows"] for s in lookups))
    m["storage.spark_jobs_per_lookup"] = median(
        (s.get("spark") or {}).get("jobs", 0) for s in lookups)
    follows = [s for op in ops for s in op.named("ops.follow_hops")]
    m["ops.follow_hops.exec_s"] = per_op("ops.follow_hops", self_s,
                                         by="name")
    m["ops.follow_hops.rows_scanned_per_result"] = _ratio(
        sum(s["rows"] for s in follows),
        sum(s["result_rows"] for s in follows))
    m["ops.follow_hops.shuffle_bytes"] = per_op(
        "ops.follow_hops",
        lambda op, sel: op.stats(sel)["shuffle_write_bytes"], by="name")
    for step in ("parse", "plan", "exec"):
        m[f"query.{step}_s"] = per_op(f"query.{step}", dur, by="name")
    m["query.spark_jobs"] = per_op(
        "query", lambda op, sel: op.stats(sel)["jobs"])
    m["spark.gc_s"] = median(op.stats(op.spans)["gc_s"] for op in ops)
    m["spark.tasks"] = median(op.stats(op.spans)["tasks"] for op in ops)
    m["spark.jobs"] = median(op.stats(op.spans)["jobs"] for op in ops)
    m["host.sys_share"] = median(r["host"]["sys_share"] for r in traced)
    m["host.steal_s"] = median(r["host"]["steal_s"] for r in traced)
    return m
