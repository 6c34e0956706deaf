"""The benchmark's workloads.

Each workload

* ``setup()`` — generates its seeded inputs and builds what its timed
  operations read (timed, with session start, as set-up);
* ``after_setup()`` — computes the expected outputs without the program
  (not timed as set-up);
* ``next_op(i)`` / ``run_op(kind, arg)`` — the closed-loop operations.
  ``next_op`` returns None when the workload has no input left for op
  ``i``, which ends the loop.  ``run_op`` records its output in
  ``self.results`` and opens spans on ``self.tr`` (which only records them
  when the harness traces the op);
* ``window(records)`` — the untraced ops the end-to-end figures are taken
  over; the loop always runs at least ``MIN_OPS`` ops;
* ``check()`` — compares every recorded output with the expectation and
  returns the failures;
* ``detail(records)`` — the workload's own named end-to-end figures.
"""

from __future__ import annotations

import bisect
import os
import random
import time

import duckdb
from pyspark.sql import Observation, functions as F

from perfbench.data import ROLES, tally, write_transcripts
from perfbench.instruments import (attribute_jobs, cached_storage, median,
                                   python_eval_nodes, scan_metrics)
from versa_spark import VLABEL_REL, VTYPE_REL, ops, query, storage
from versa_spark.kg import canonicalize, extract
from versa_spark.kg.extract import (BASE, ENT, LEXICON, REL_HASTURN,
                                    REL_MENTIONS, REL_USEDTOOL, TYPE_CONV)
from versa_spark.kg.graph import build_graph
from versa_spark.kg.job import KGJob
from versa_spark.kg.transcripts import TURN_IRI_PREFIX, ordered_turns
from versa_spark.testdata import with_quad_defaults

RELS = {"hasTurn": REL_HASTURN, "type": str(VTYPE_REL),
        "role": BASE + "v/role", "turnIndex": BASE + "v/turnIndex",
        "usedTool": REL_USEDTOOL, "mentions": REL_MENTIONS,
        "label": str(VLABEL_REL)}
# relations whose targets are IRIs, i.e. the rows of the edge list
EDGE_RELS = ("hasTurn", "type", "usedTool", "mentions")
CONV_PREFIX = BASE + "transcript/"
ENTITIES = sorted(set(LEXICON.values()))

# which layer each KGJob stage's work belongs to
STAGE_LAYER = {"turns": "kg.transcripts", "turn_order": "kg.transcripts",
               "mentions": "kg.extract", "linked": "kg.linking",
               "graph": "kg.canonicalize", "edges": "kg.canonicalize",
               "entity_stats": "kg.canonicalize"}


def noop(df) -> None:
    """Materialize every row and column of ``df`` without storing it."""
    df.write.format("noop").mode("overwrite").save()


def figure(value, unit: str, n: int | None = None) -> dict:
    out = {"value": value, "unit": unit}
    if n is not None:
        out["n"] = n
    return out


def latencies(records, kind: str) -> list[float]:
    return [r["latency_s"] for r in records if r["ok"] and r["kind"] == kind]


class Workload:
    name = ""
    MIN_OPS = 1

    def __init__(self, spark, workdir: str, seed: int, tracer):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.tr = tracer
        self.results: list = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def window(self, records: list[dict]) -> list[dict]:
        return records

    def table_fanin(self) -> int:
        return 0


class KgBuild(Workload):
    """In-memory build: transcripts Parquet → ``ordered_turns`` →
    ``build_graph``, graph and edges written to the noop sink in one op
    so the persisted slim frame is reused."""

    name = "kg_build"
    N_CONVS, TURNS = 4000, 25
    # a build lap keeps getting faster for 15-20 laps (JIT); four warm-up
    # laps take the steep part, the rest is a ~10% drift over a run
    WARM_LAPS = 4

    def setup(self) -> None:
        self.tx = self.path("transcripts")
        write_transcripts(self.spark, self.tx, self.seed, self.N_CONVS,
                          self.TURNS)
        for _ in range(self.WARM_LAPS):  # checked with the measured laps
            self.run_op("build", None)

    def after_setup(self) -> None:
        self.expected = tally(self.tx)[None]

    def next_op(self, i: int):
        return "build", None

    def run_op(self, kind: str, arg) -> dict:
        spark, tr = self.spark, self.tr
        tx = spark.read.parquet(self.tx)
        s_can = None
        if tr.enabled:
            # the transcripts layer's output as build_graph consumes it
            turns_in = ordered_turns(tx).drop("turn_rank", "turn_iri", "ts")
            # planned before build_graph persists the slim frame, which
            # would otherwise hide the extraction plan behind the cache
            python_nodes = python_eval_nodes(
                extract.turn_entity_ids(turns_in))
        with tr.span("kg.graph.plan"):
            parts = build_graph(spark, ordered_turns(tx))
        te = parts["turns"]
        if tr.enabled:
            with tr.span("kg.transcripts", layer="kg.transcripts") as s_tx:
                noop(turns_in)
            obs = Observation()
            with tr.span("kg.extract", layer="kg.extract") as s_ex:
                noop(te.observe(obs, F.sum(F.size("eids")).alias("m")))
            tr.adopt(s_ex, s_tx)
            s_ex.update(mentions=obs.get["m"], python_nodes=python_nodes,
                        persist_bytes=cached_storage(spark)["bytes"])
            with tr.span("kg.canonicalize",
                         layer="kg.canonicalize") as s_can:
                noop(canonicalize.mention_links_from_eids(te).unionByName(
                    canonicalize.entity_links_from_eids(te)))
        obs_g, obs_e = Observation(), Observation()
        with tr.span("kg.graph", layer="kg.graph") as s_graph:
            noop(parts["graph"].observe(
                obs_g, F.count(F.lit(1)).alias("triples"),
                *[F.sum(F.when(F.col("rel") == iri, 1).otherwise(0))
                  .alias(short) for short, iri in RELS.items()]))
            noop(parts["edges"].observe(obs_e,
                                        F.count(F.lit(1)).alias("edges")))
        tr.adopt(s_graph, s_can)
        te.unpersist()
        self.results.append({**obs_g.get, **obs_e.get})
        return {}

    def check(self) -> list[str]:
        want = {**self.expected.rel_counts(),
                "triples": self.expected.graph_rows()}
        want["edges"] = sum(want[r] for r in EDGE_RELS)
        return [f"build {i}: got {got}, want {want}"
                for i, got in enumerate(self.results) if got != want]

    def detail(self, records) -> dict:
        laps = latencies(records, "build")
        build_s = median(laps)
        triples = self.expected.graph_rows()
        return {"build_s": figure(build_s, "s", len(laps)),
                "triples_per_s": figure(triples / build_s if build_s else 0,
                                        "triples/s", len(laps)),
                "triples": figure(triples, "count")}


class KgJob(Workload):
    """A checkpointed graph that takes appends and serves reads.

    Set-up: ``KGJob.run`` builds the base graph into a fresh workdir and
    ``storage.write_graph_tables`` stores it as bucketed link tables (the
    served snapshot).  One operation is an ingest-and-serve step:

    * ``append_batch`` of new conversations (``on_existing='error'``);
    * the combined read: ``table('graph')`` matched on an appended
      conversation plus ``table('entity_stats')``;
    * one read of each kind on the stored snapshot: a ``match_stored``
      point lookup on a turn origin (Zipf-skewed choice of conversation),
      a 2-hop ``ops.follow_hops`` from a small start set and a
      ``query.execute`` conjunction.

    Op ``i`` appends batch ``i``, so the table fan-in grows by one per op.
    The end-to-end figures are taken over the first ``MIN_OPS`` ops only,
    the same batches on every run however fast the program is; later ops
    run and are checked like the others."""

    name = "kg_job"
    # 16 batches are about eight times the ops a run reaches on a 4-core
    # host, so a faster program gets the same window and then stops cleanly
    BASE_CONVS, TURNS, BATCH_CONVS, N_BATCHES = 400, 25, 40, 16
    JOB_BUCKETS, STORE_BUCKETS = 4, 16
    MIN_OPS = 2
    READS = ("lookup", "follow", "miniquery")
    ZIPF_S = 1.1

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        spark = self.spark
        self.base, self.batches = self.path("base"), self.path("batches")
        write_transcripts(spark, self.base, self.seed, self.BASE_CONVS,
                          self.TURNS)
        write_transcripts(spark, self.batches, self.seed,
                          self.BATCH_CONVS * self.N_BATCHES, self.TURNS,
                          conv_base=self.BASE_CONVS,
                          batch_convs=self.BATCH_CONVS)
        self.job = KGJob(spark, self.path("job"), n_buckets=self.JOB_BUCKETS)
        t0 = time.perf_counter()
        with self.tr.span("kg.job.run", layer="kg.job") as sp:
            self.job.run(spark.read.parquet(self.base),
                         input_fingerprint=f"seed-{self.seed}")
        self.job_run_s = time.perf_counter() - t0
        self._stage_spans(sp, "")
        self.store = self.path("store")
        with self.tr.span("storage.write", layer="storage"):
            storage.write_graph_tables(
                with_quad_defaults(self.job.table("graph")),
                self.job.table("edges"), self.store,
                n_buckets=self.STORE_BUCKETS)
        self.graph_path = f"{self.store}/graph"
        self.g = spark.read.parquet(self.graph_path)
        self.rng = random.Random(self.seed)
        self.convs = list(range(self.BASE_CONVS))
        self.rng.shuffle(self.convs)
        cdf, total = [], 0.0
        for rank in range(1, self.BASE_CONVS + 1):
            total += rank ** -self.ZIPF_S
            cdf.append(total)
        self.zipf_cdf = cdf
        # no warm-up op: the base build already ran the stage plans, and a
        # warm-up append would cost the run time a second measured op needs

    def _stage_spans(self, parent, suffix: str) -> None:
        """Child spans for the stage wall times the job reports in its
        public ``metrics``; Spark jobs move to the stage whose window they
        were submitted in, the rest stay with the call (its fixed cost)."""
        if parent is None:
            return
        children = []
        for stage in KGJob.STAGES:
            rec = self.job.metrics[stage + suffix]
            extra = {"mentions": rec["rows"]} if stage == "mentions" else {}
            children.append(self.tr.add(
                f"kg.job.stage.{stage}", rec["ts"] - rec["wall_s"],
                rec["ts"], parent, layer=STAGE_LAYER[stage],
                rows=rec["rows"], **extra))
        attribute_jobs(parent, children)

    def after_setup(self) -> None:
        self.base_tally = tally(self.base)[None]
        self.batch_tally = tally(self.batches, by_batch=True)
        # the in-memory and checkpointed runners must build the same
        # graph from the same input
        built = build_graph(self.spark,
                            ordered_turns(self.spark.read.parquet(self.base)))
        a = built["graph"].select("origin", "rel", "target")
        b = self.job.table("graph", until="").select("origin", "rel",
                                                     "target")
        self.runner_diff = a.exceptAll(b).count() + b.exceptAll(a).count()
        built["turns"].unpersist()
        self.db = duckdb.connect()
        self.db.execute(
            "CREATE TABLE g AS SELECT origin, rel, target FROM read_parquet("
            f"'{self.graph_path}/*/*.parquet', hive_partitioning = true)")

    # -- operations --------------------------------------------------------

    def _conv(self) -> int:
        u = self.rng.random() * self.zipf_cdf[-1]
        return self.convs[bisect.bisect_left(self.zipf_cdf, u)]

    def next_op(self, i: int):
        return ("ingest", i) if i < self.N_BATCHES else None

    def window(self, records: list[dict]) -> list[dict]:
        return [r for r in records if r["i"] < self.MIN_OPS]

    def _read_arg(self, kind: str):
        if kind == "lookup":
            return (f"{TURN_IRI_PREFIX}conv-{self._conv()}/"
                    f"{self.rng.randrange(self.TURNS)}")
        if kind == "follow":
            return sorted({f"{CONV_PREFIX}conv-{self._conv()}"
                           for _ in range(3)})
        e1, e2 = self.rng.sample(ENTITIES, 2)
        return e1, e2, self.rng.choice(ROLES)

    def run_op(self, kind: str, i: int) -> dict:
        out = self._append(i)
        for read in self.READS:
            arg = self._read_arg(read)
            t0 = time.perf_counter()
            self.results.append((read, arg, self._read(read, arg)))
            out.setdefault(f"{read}_s", []).append(time.perf_counter() - t0)
        return out

    def _read(self, kind: str, arg):
        if kind == "miniquery":
            return self._miniquery(*arg)
        if kind == "lookup":
            with self.tr.span("storage.match_stored", layer="storage") as sp:
                q = storage.match_stored(
                    self.g, origin=arg, path=self.graph_path
                ).select("origin", "rel", "target")
                rows = q.collect()
        else:
            with self.tr.span("ops.follow_hops", layer="ops") as sp:
                start = self.spark.createDataFrame([(s,) for s in arg],
                                                   "node string")
                q = ops.follow_hops(self.g, start,
                                    [REL_HASTURN, REL_MENTIONS]
                                    ).select("node", "target")
                rows = q.collect()
        if sp is not None:
            sp.update(scan_metrics(q), result_rows=len(rows))
        return sorted(tuple(r) for r in rows)

    def _miniquery(self, e1: str, e2: str, role: str) -> set:
        text = (f"?($t, '{REL_MENTIONS}', '{ENT}{e1}') and "
                f"?($t, '{REL_MENTIONS}', '{ENT}{e2}') and "
                f"?($t, '{BASE}v/role', '{role}')")
        if not self.tr.enabled:
            return query.execute(self.g, text).get("t", set())
        # query.execute split into its public steps so each is timed
        with self.tr.span("query.parse", layer="query"):
            query.parse(text)
        with self.tr.span("query.plan", layer="query"):
            bound = query.execute_df(self.g, text)
        with self.tr.span("query.exec", layer="query"):
            return {r["value"] for r in bound["t"].collect()}

    def _append(self, i: int) -> dict:
        spark, tr, job = self.spark, self.tr, self.job
        bid = f"b{i}"
        batch = spark.read.parquet(f"{self.batches}/batch={i}")
        conv = (self.BASE_CONVS + i * self.BATCH_CONVS
                + (7 * i) % self.BATCH_CONVS)
        files_before = count_files(job.workdir) if tr.enabled else 0
        t0 = time.perf_counter()
        with tr.span("kg.job.append", layer="kg.job") as sp:
            out = job.append_batch(batch, bid,
                                   input_fingerprint=f"seed-{self.seed}",
                                   on_existing="error")
        t1 = time.perf_counter()
        with tr.span("kg.job.table", layer="kg.job"):
            rows = (ops.match(job.table("graph"),
                              origin=f"{CONV_PREFIX}conv-{conv}")
                    .select("rel", "target").collect())
            stats = job.table("entity_stats").collect()
        t2 = time.perf_counter()
        if sp is not None:
            self._stage_spans(sp, f"@{bid}")
            sp["files_written"] = count_files(job.workdir) - files_before
            sp["linked_ratio"] = out["linked"].agg(
                F.avg(F.col("linked").cast("double"))).first()[0]
            sp["python_nodes"] = python_eval_nodes(extract.turn_mentions(
                ordered_turns(batch, with_rank=False)))
        self.results.append(("append", i, {
            "conv": conv,
            "rows": sorted((r["rel"], r["target"]) for r in rows),
            "mentions": sum(r["n_mentions"] for r in stats),
            "graph_rows": job.metrics[f"graph@{bid}"]["rows"]}))
        return {"append_s": [t1 - t0], "table_read_s": [t2 - t1]}

    # -- checks and figures --------------------------------------------------

    def _oracle(self, kind: str, arg):
        sql = self.db.execute
        if kind == "lookup":
            return sorted(sql("SELECT origin, rel, target FROM g "
                              "WHERE origin = ?", [arg]).fetchall())
        if kind == "follow":
            marks = ",".join("?" * len(arg))
            return sorted(sql(
                "SELECT a.origin, b.target FROM g a JOIN g b "
                "ON a.target = b.origin WHERE a.rel = ? AND b.rel = ? "
                f"AND a.origin IN ({marks})",
                [REL_HASTURN, REL_MENTIONS, *arg]).fetchall())
        e1, e2, role = arg
        clause = "SELECT origin FROM g WHERE rel = ? AND target = ?"
        return {r[0] for r in sql(
            f"{clause} INTERSECT {clause} INTERSECT {clause}",
            [REL_MENTIONS, ENT + e1, REL_MENTIONS, ENT + e2,
             BASE + "v/role", role]).fetchall()}

    def _check_appends(self, appends) -> list[str]:
        fails = []
        base_rows = self.job.metrics["graph"]["rows"]
        if base_rows != self.base_tally.graph_rows():
            fails.append(f"base graph rows {base_rows} != "
                         f"{self.base_tally.graph_rows()}")
        seen = set(self.base_tally.entities)
        mentions = self.base_tally.surface_mentions
        committed = base_rows
        for i, res in appends:
            t = self.batch_tally[i]
            want_rows = t.graph_rows(len(t.entities - seen))
            seen |= t.entities
            mentions += t.surface_mentions
            committed += res["graph_rows"]
            conv = f"conv-{res['conv']}"
            want_conv = sorted(
                [(REL_HASTURN, f"{TURN_IRI_PREFIX}{conv}/{k}")
                 for k in range(t.conv_turns[conv])]
                + [(str(VTYPE_REL), TYPE_CONV)])
            if res["graph_rows"] != want_rows:
                fails.append(f"batch {i}: {res['graph_rows']} graph rows, "
                             f"want {want_rows}")
            if res["mentions"] != mentions:
                fails.append(f"batch {i}: entity_stats counts "
                             f"{res['mentions']} mentions, want {mentions}")
            if res["rows"] != want_conv:
                fails.append(f"batch {i}: {conv} reads back wrong")
        total = self.job.table("graph").count()
        if total != committed:
            fails.append(f"combined graph has {total} rows, base + "
                         f"appended = {committed}")
        self.committed = committed
        return fails

    def check(self) -> list[str]:
        fails = []
        if self.runner_diff:
            fails.append(f"build_graph and KGJob graphs differ by "
                         f"{self.runner_diff} triples")
        fails += self._check_appends(
            [(arg, res) for kind, arg, res in self.results
             if kind == "append"])
        try:
            fails += [f"{kind} {arg!r}: result differs from DuckDB"
                      for kind, arg, got in self.results
                      if kind != "append" and got != self._oracle(kind, arg)]
        finally:
            self.db.close()
        return fails

    def table_fanin(self) -> int:
        return 1 + len(self.job.batch_ids("graph"))

    def detail(self, records) -> dict:
        out = {"job_run_s": figure(self.job_run_s, "s", 1)}
        ok = [r for r in records if r["ok"]]
        for key in ("append_s", "table_read_s", "lookup_s", "follow_s",
                    "miniquery_s"):
            lat = [x for r in ok for x in r[key]]
            out[key] = figure(median(lat), "s", len(lat))
        out["job_bytes_per_triple"] = figure(
            dir_bytes(self.job.workdir) / self.committed, "bytes")
        busy = sum(sum(r[f"{k}_s"]) for r in ok for k in self.READS)
        reads = len(ok) * len(self.READS)
        out["queries_per_s"] = figure(reads / busy if busy else 0,
                                      "ops/s", reads)
        return out


def count_files(root: str) -> int:
    return sum(len(files) for _, _, files in os.walk(root))


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


WORKLOADS = {w.name: w for w in (KgBuild, KgJob)}
