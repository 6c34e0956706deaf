"""Tests of the benchmark's own instruments and input generator.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

import json
import os
from collections import Counter

from perfbench import layers, run
from perfbench.data import tally, write_transcripts
from perfbench.instruments import (StatusReader, Tracer, attribute_jobs,
                                   empty_stats, scan_metrics, self_times)
from perfbench.tests.conftest import ROOT


def _span(sid, parent, start, end, **kw):
    return {"id": sid, "name": f"s{sid}", "run": "r", "parent": parent,
            "start": start, "end": end, **kw}


def test_self_time_is_span_minus_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 4.0),
             _span(2, 0, 5.0, 7.0), _span(3, 1, 2.0, 3.0)]
    assert self_times(spans) == {0: 5.0, 1: 2.0, 2: 2.0, 3: 1.0}


def test_adopted_input_layer_counts_as_child():
    tr = Tracer("r", True)
    with tr.span("input") as child:
        pass
    with tr.span("layer") as parent:
        pass
    tr.adopt(parent, child)
    selft = self_times(tr.spans)
    assert child["parent"] == parent["id"]
    assert abs(selft[parent["id"]] - ((parent["end"] - parent["start"])
                                      - (child["end"] - child["start"]))) \
        < 1e-9


def test_attribute_jobs_by_submission_window():
    job = {**empty_stats(), "tasks": 3, "shuffle_write_bytes": 10}
    del job["job_list"]
    parent = _span(0, None, 0.0, 10.0, spark={
        **empty_stats(), "jobs": 3,
        "job_list": [{**job, "id": 1, "submitted": 1.5},
                     {**job, "id": 2, "submitted": 4.0},
                     {**job, "id": 3, "submitted": 9.0}]})
    a, b = _span(1, 0, 1.0, 2.0), _span(2, 0, 3.0, 5.0)
    attribute_jobs(parent, [a, b])
    assert [s["spark"]["jobs"] for s in (parent, a, b)] == [1, 1, 1]
    assert a["spark"]["tasks"] == 3 and b["spark"]["shuffle_write_bytes"] == 10


def test_shuffling_call_reports_shuffle_bytes(spark):
    tr = Tracer("shuffle", True, StatusReader(spark))
    with tr.span("agg") as s:
        spark.range(20000).selectExpr("id % 7 AS k").groupBy("k").count() \
            .collect()
    assert s["spark"]["jobs"] >= 1
    assert s["spark"]["shuffle_write_bytes"] > 0
    assert s["spark"]["shuffle_read_bytes"] > 0


def test_narrow_call_reports_no_shuffle(spark):
    tr = Tracer("narrow", True, StatusReader(spark))
    with tr.span("project") as s:
        spark.range(20000).selectExpr("id * 2 AS x").write.format("noop") \
            .mode("overwrite").save()
    assert s["spark"]["jobs"] >= 1 and s["spark"]["tasks"] >= 1
    assert s["spark"]["shuffle_write_bytes"] == 0
    assert s["spark"]["shuffle_read_bytes"] == 0


def test_nested_spans_tag_the_innermost_group(spark):
    tr = Tracer("nest", True, StatusReader(spark))
    with tr.span("alone") as alone:
        spark.range(10).count()
    with tr.span("outer") as outer:
        spark.range(10).count()
        with tr.span("inner") as inner:
            spark.range(10).count()
        spark.range(10).count()
    n = alone["spark"]["jobs"]
    assert n >= 1
    assert inner["spark"]["jobs"] == n
    assert outer["spark"]["jobs"] == 2 * n


def test_disabled_tracer_records_nothing(spark):
    tr = Tracer("off", False, StatusReader(spark))
    with tr.span("x") as s:
        spark.range(10).count()
    assert s is None and tr.spans == []


def test_scan_metrics_count_pruned_files(spark, tmp_path):
    path = str(tmp_path / "t")
    (spark.range(400).selectExpr("id", "id % 4 AS b").repartition(2)
     .write.partitionBy("b").parquet(path))
    q = spark.read.parquet(path).filter("b = 1").select("id")
    rows = q.collect()
    files_in_b1 = len([f for f in os.listdir(f"{path}/b=1")
                       if f.endswith(".parquet")])
    got = scan_metrics(q)
    assert got == {"files": files_in_b1, "rows": len(rows)}


def test_generator_is_seeded(spark, tmp_path):
    def rows(seed, name):
        path = str(tmp_path / name)
        write_transcripts(spark, path, seed, 6, 4)
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert rows(1, "a") == rows(1, "b")
    assert rows(1, "a") != rows(2, "c")


def test_tally_matches_build_graph(spark, tmp_path):
    """The benchmark's expected counts agree with the program on a small
    input, so a check failure in a run points at the program."""
    from perfbench.workloads import RELS
    from versa_spark.kg.graph import build_graph
    from versa_spark.kg.transcripts import ordered_turns
    path = str(tmp_path / "tx")
    write_transcripts(spark, path, 5, 30, 6)
    want = tally(path)[None]
    graph = build_graph(spark, ordered_turns(spark.read.parquet(path)))
    got = Counter(r["rel"] for r in graph["graph"].collect())
    graph["turns"].unpersist()
    assert {k: got[iri] for k, iri in RELS.items()} == want.rel_counts()
    assert sum(got.values()) == want.graph_rows()


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} \
        == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} \
        == layers.UNITS
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_layer_metrics_of_a_synthetic_traced_op():
    def stats(**kw):
        out = empty_stats()
        out.update(kw)
        return out
    spans = [
        _span(0, None, 0.0, 10.0, name="op.ingest", spark=stats()),
        _span(1, 0, 0.0, 7.0, name="kg.job.append", layer="kg.job",
              files_written=50, linked_ratio=1.0, spark=stats(jobs=2)),
        _span(2, 1, 0.5, 1.5, name="kg.job.stage.turns",
              layer="kg.transcripts",
              spark=stats(jobs=3, shuffle_write_bytes=100)),
        _span(3, 1, 2.0, 5.0, name="kg.job.stage.graph",
              layer="kg.canonicalize",
              spark=stats(jobs=5, shuffle_write_bytes=300, task_skew=1.5)),
        _span(4, 0, 7.5, 8.0, name="storage.match_stored", layer="storage",
              files=4, rows=100, result_rows=10, spark=stats(jobs=2)),
        _span(5, 0, 8.0, 9.0, name="query.exec", layer="query",
              spark=stats(jobs=3)),
    ]
    record = {"traced": True, "ok": True, "span": 0,
              "host": {"sys_share": 0.1, "steal_s": 0.0},
              "storage": {"blocks": 0, "bytes": 0}}
    m = layers.compute(spans, [record], table_fanin=3)
    assert set(m) == set(layers.UNITS)
    assert m["kg.job.fixed_s"] == 3.0
    assert m["kg.job.stage_s.turns"] == 1.0
    assert m["kg.job.spark_jobs"] == 10
    assert m["kg.job.files_written"] == 50
    assert m["kg.job.table_fanin"] == 3
    assert m["kg.transcripts.exec_s"] == 1.0
    assert m["kg.transcripts.shuffle_bytes"] == 100
    assert m["kg.canonicalize.exec_s"] == 3.0
    assert m["kg.canonicalize.task_skew"] == 1.5
    assert m["kg.linking.linked_ratio"] == 1.0
    assert m["storage.files_read_per_lookup"] == 4
    assert m["storage.rows_scanned_per_result"] == 10
    assert m["storage.spark_jobs_per_lookup"] == 2
    assert m["query.exec_s"] == 1.0 and m["query.spark_jobs"] == 3
    assert m["spark.jobs"] == 15
    assert m["kg.extract.exec_s"] == 0  # a layer the op bypassed


class _CountingWorkload:
    """Five ops of input; records nothing."""
    MIN_OPS = 3

    def next_op(self, i):
        return ("op", i) if i < 5 else None

    def run_op(self, kind, arg):
        return {}


def test_loop_runs_min_ops_then_stops_when_input_runs_out(spark):
    def loop(seconds, trace):
        tr = Tracer("loop", trace)
        return run.run_loop(spark, _CountingWorkload(), tr, seconds, trace,
                            "self")
    assert [r["i"] for r in loop(0.0, False)] == [0, 1, 2]
    assert [r["i"] for r in loop(60.0, False)] == [0, 1, 2, 3, 4]
    # a traced run ends on an untraced op
    wl = _CountingWorkload()
    wl.MIN_OPS = 4
    recs = run.run_loop(spark, wl, Tracer("loop", True), 0.0, True, "self")
    assert [r["traced"] for r in recs] == [False, True, False, True, False]


def test_kg_job_figures_cover_the_same_batches_on_every_run():
    from perfbench.workloads import KgJob
    wl = KgJob(None, "", 1, Tracer("w", False))
    records = [{"i": i} for i in (0, 2, 3, 4)]
    assert [r["i"] for r in wl.window(records)] == [0]
    assert wl.next_op(KgJob.N_BATCHES - 1) is not None
    assert wl.next_op(KgJob.N_BATCHES) is None


def test_trace_overhead_against_both_neighbours():
    def rec(lat, traced):
        return {"kind": "op", "ok": True, "traced": traced,
                "latency_s": lat}
    # untraced latencies drift 1.0 → 1.2 → 1.4; each traced op costs 50%
    # more than the mean of its neighbours
    records = [rec(1.0, False), rec(1.65, True), rec(1.2, False),
               rec(1.95, True), rec(1.4, False), rec(9.0, True)]
    got = run.trace_overhead(records)
    assert got["op"]["n"] == 2
    assert abs(got["op"]["value"] - 0.5) < 1e-9
