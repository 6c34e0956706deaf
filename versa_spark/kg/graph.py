"""Shared graph assembly: turns → linked mentions → triple table.

One fast path plus one shared stage graph, same output (parity-asserted
in tests):

* the fused fast path (``dictionary=None``, lexicon detect): the
  extraction lexicon IS the linking dictionary, so surface→canonical is a
  pure function of the mention index known at plan time — linking fuses
  into the plan as a literal map (extract.turn_entity_ids) and the
  mention-link family needs **no exchange at all** (round 2 shrank the
  dedup shuffle to a narrow key; round 3 eliminates it: per-turn alias
  dedup happens in-plan before the explode, and (conv_id, turn_idx)
  uniquely keys turns).  ``KGJob`` cannot take it: its ``entity_stats``
  stage counts per-mention rows, and the fused ``eids`` are distinct per
  turn.
* the shared stage graph, :func:`link_mentions` (detect → link: the
  generic broadcast-join linking of kg.linking.link_entities for an
  explicit ``dictionary``, or the fused gazetteer join for
  ``detect='dictionary'``) then :func:`link_families` (the link-family
  union, with the narrow-key dedup exchange of
  canonicalize.mention_links).  Both take a ``stage(name, build)``
  callback — the runner interface: ``build_graph`` runs each build inline
  and persists the slim frames itself; ``KGJob`` checkpoints each named
  stage to Parquet and resumes it.

Materialization rule (OPTIMIZATION_r07 §15 measured it: persisting the
columnar slim frame beats both recomputation and checkpoint blocks): the
union of link families consumes the extracted frame three times; without
materialization Spark re-executes the extraction once per branch, so
``build_graph`` persists ONE slim frame (turn metadata + 1-byte entity
indices on the fast path; the narrow 4-column ``linked`` rows plus the
text-free turns otherwise, MEMORY_AND_DISK) for the duration of the
action — the in-session equivalent of the KGJob's per-stage Parquet
checkpoints.  The fat ``text`` column is consumed exactly once (by the
mention scan) and NEVER persisted or shuffled — at 10^12 turns the text
column IS the table; caching it would evict everything else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from versa_spark.kg import canonicalize, extract, linking


def check_detect(detect: str, dictionary: DataFrame | None) -> None:
    if detect not in ("lexicon", "dictionary"):
        raise ValueError(f"unknown detect {detect!r} "
                         "(use 'lexicon' or 'dictionary')")
    if detect == "dictionary" and dictionary is None:
        raise ValueError("detect='dictionary' requires a dictionary")


def _inline(name: str, build):
    return build()


def link_mentions(stage, turns: DataFrame,
                  dictionary: DataFrame | None = None,
                  detect: str = "lexicon",
                  detect_opts: dict | None = None,
                  ) -> tuple[DataFrame, DataFrame]:
    """detect → link over the text-bearing ``turns``: the ``mentions``
    stage and the linked-mention rows (conv_id, turn_idx, turn_iri,
    surface, linked, canonical, entity_iri).  ``dictionary=None`` links
    against the built-in canonical dictionary."""
    if detect == "dictionary":
        # one fused detect+link join; the mentions rows already carry
        # (canonical, entity_iri), so `linked` is a pure PROJECTION of
        # the mentions stage — writing it as its own stage would
        # re-shuffle and duplicate the job's largest output on disk for
        # a constant column
        mentions = stage("mentions", lambda: extract.turn_mentions_bigdict(
            turns, dictionary, **(detect_opts or {})))
        return mentions, mentions.select(
            "conv_id", "turn_idx", "turn_iri", "surface",
            F.lit(True).alias("linked"), "canonical", "entity_iri")
    mentions = stage("mentions", lambda: extract.turn_mentions(turns))
    if dictionary is None:
        dictionary = linking.canonical_dictionary(turns.sparkSession)
    # turn_mentions can only emit lexicon surfaces whatever the linking
    # dictionary is, so the miss fallback precomputes driver-side and the
    # plan carries no Python node (linking.link_entities surface_universe)
    return mentions, stage("linked", lambda: linking.link_entities(
        mentions, dictionary, surface_universe=extract.LEXICON))


def link_families(stage, turns: DataFrame, linked: DataFrame,
                  relations: tuple[str, ...] | None = None,
                  text: DataFrame | None = None,
                  exclude_entities: DataFrame | None = None,
                  exclude_relations: DataFrame | None = None,
                  ) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """The link-family union → (graph, edges, relations stage or None).

    ``relations`` opts into verb-linked relation triples
    (extract.relation_links), scanned from ``text`` (default ``turns``):
    one more columnar scan of the turns table (in-row extraction + one
    explode, no shuffle beyond the narrow triple dedup).  The connector
    surfaces are always the built-in LEXICON regardless of the detect
    path — relations between dictionary-only entities would need the
    position-complete bigdict kernel, deliberately out of scope.

    ``exclude_entities`` / ``exclude_relations``: entity_iri / triple
    rows already committed elsewhere (incremental appends), left out of
    the entity type/label links and the relation triples."""
    rels = None
    if relations:
        def _build_rels():
            r = extract.relation_links(turns if text is None else text,
                                       verbs=tuple(relations))
            if exclude_relations is not None:
                r = r.join(exclude_relations, ["origin", "rel", "target"],
                           "left_anti")
            return r
        rels = stage("relations", _build_rels)

    def _build_graph():
        g = (extract.conversation_links(turns)
             .unionByName(canonicalize.mention_links(linked))
             .unionByName(canonicalize.entity_links(
                 linked, exclude=exclude_entities)))
        return g.unionByName(rels) if rels is not None else g
    graph = stage("graph", _build_graph)
    edges = stage("edges", lambda: canonicalize.adjacency_edges(graph))
    return graph, edges, rels


def build_graph(spark: SparkSession, turns: DataFrame,
                persist: bool = True,
                dictionary: DataFrame | None = None,
                detect: str = "lexicon",
                detect_opts: dict | None = None,
                relations: tuple[str, ...] | None = None,
                ) -> dict[str, DataFrame]:
    """ordered turns → {turns, linked, graph, edges} DataFrames.

    ``turns`` may or may not carry ``turn_rank``; no link family consumes
    it, so it is dropped here and Catalyst prunes the rank window out of
    the triple-build plan entirely (the ranked view stays available via
    ordered_turns / turn_order where rank IS consumed).  Since r07 the
    returned ``turns`` frame (the persisted slim frame) also omits
    ``turn_iri`` and ``ts``: the IRI is a pure function of
    (conv_id, turn_idx) that consumers re-derive in-plan, and no link
    family reads the timestamp — both were pure cache weight.

    Multiplicity caveat on ``linked``: the default (built-in lexicon)
    path derives it from per-turn DISTINCT entity ids (``eids`` holds
    ``array_distinct`` output), so a surface form mentioned twice in one
    turn yields ONE row; the generic-``dictionary`` path emits one row
    per surface mention.  Graph triples are identical either way
    (``mention_links`` dedups before counting) — only consumers counting
    raw ``linked`` rows see the difference, and they should prefer the
    generic path or ``extract.turn_mentions`` for per-mention rows.

    ``detect`` picks the DETECTION surface set (independent of linking):

    * ``'lexicon'`` (default): the compiled-regex LEXICON scan — mention
      candidates are always the built-in surfaces; an explicit
      ``dictionary`` only affects how they link (misses fall back to
      fingerprint IDs).  The right path when the lexicon IS the
      vocabulary.
    * ``'dictionary'``: detection joins token n-grams against
      ``dictionary`` itself (extract.turn_mentions_bigdict) — the
      10^5+-surface gazetteer path where a regex alternation stops
      compiling.  Detection and linking fuse into one map-side join, so
      every mention is a dictionary hit by construction (no unlinked-
      fallback entities; surfaces outside the dictionary are simply not
      mentions).  Requires ``dictionary`` with (surface, canonical,
      entity_iri).  ``detect_opts`` forwards to turn_mentions_bigdict
      (max_ngram, broadcast, broadcast_max_rows)."""
    check_detect(detect, dictionary)
    if dictionary is not None:
        _, linked = link_mentions(_inline, turns.drop("turn_rank"),
                                  dictionary, detect, detect_opts)
        # the graph link families consume only these four columns —
        # keeping the cached rows narrow is what lets the persist fit at
        # bench scale
        linked = linked.select("conv_id", "turn_idx", "canonical",
                               "entity_iri")
        turns_slim = turns.drop("text", "turn_rank", "turn_iri", "ts")
        if persist:
            linked = linked.persist()
            turns_slim = turns_slim.persist()
        graph, edges, _ = link_families(_inline, turns_slim, linked,
                                        relations, text=turns)
        return {"turns": turns_slim, "linked": linked, "graph": graph,
                "edges": edges}
    # r07: the persisted slim frame also drops ``turn_iri`` (a ~50-byte
    # string that is a pure function of (conv_id, turn_idx) —
    # conversation_links re-derives it above the cache, and
    # mention_links_from_eids always built its own) and ``ts`` (no link
    # family consumes it; for the synthetic source, dropping it before
    # extraction prunes the timestamp expressions out of the plan
    # entirely).  Cache bytes per row drop by more than half, which both
    # speeds the persist and shrinks the per-lap memory churn the bench
    # host punishes (OPTIMIZATION_r07.md §6).
    te = extract.turn_entity_ids(turns.drop("turn_rank", "turn_iri", "ts"))
    if persist:
        te = te.persist()
    graph = (extract.conversation_links(te.drop("eids"))
             .unionByName(canonicalize.mention_links_from_eids(te))
             .unionByName(canonicalize.entity_links_from_eids(te)))
    if relations:
        graph = graph.unionByName(
            extract.relation_links(turns, verbs=tuple(relations)))
    # compatibility view of the linked-mention rows (same 4-col shape the
    # stage-graph path caches); derives lazily from the persisted slim
    # frame
    iri_arr = F.array(*[F.lit(extract.ENT + c) for c in extract._CANONICALS])
    name_arr = F.array(*[F.lit(c) for c in extract._CANONICALS])
    linked = (te.select("conv_id", "turn_idx",
                        F.explode("eids").alias("_e"))
              .select("conv_id", "turn_idx",
                      F.element_at(name_arr, F.col("_e").cast("int") + 1)
                      .alias("canonical"),
                      F.element_at(iri_arr, F.col("_e").cast("int") + 1)
                      .alias("entity_iri")))
    return {"turns": te, "linked": linked, "graph": graph,
            "edges": canonicalize.adjacency_edges(graph)}
