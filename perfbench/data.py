"""Seeded transcript inputs and their independent expected counts.

The generator writes the north-rule transcript schema
``(conv_id, turn_idx, role, text, tool, ts)`` with Spark column
expressions hashed from ``(row id, seed)``, so one seed always gives the
same rows.  Rows are emitted out of per-conversation turn order.  Each
turn names up to three words drawn from the entity lexicon and a filler
vocabulary; the hot entity ``spark`` is added to about a fifth of turns.

:func:`tally` recomputes what the graph must contain from the Parquet
files alone (DuckDB read, Python ``re`` scan), without Spark and without
the program's extraction code.
"""

from __future__ import annotations

import re
from collections import Counter

import duckdb

from versa_spark.kg.extract import LEXICON

FILLER = ("graph", "node", "plan", "cache", "disk", "memory", "schema",
          "index", "shard", "commit")
WORDS = tuple(sorted(LEXICON)) + FILLER
ROLES = ("user", "assistant", "system", "tool")
TOOLS = ("search", "calculator", "browser", "interpreter")

_MENTION = re.compile(
    r"\b(" + "|".join(sorted(LEXICON, key=len, reverse=True)) + r")\b")


def _pick(values, hash_col: str) -> str:
    arr = "array(" + ",".join(f"'{v}'" for v in values) + ")"
    return f"element_at({arr}, cast({hash_col} % {len(values)} AS int) + 1)"


def write_transcripts(spark, path: str, seed: int, n_convs: int,
                      turns_per_conv: int, conv_base: int = 0,
                      batch_convs: int | None = None) -> None:
    """Write ``n_convs × turns_per_conv`` turns to Parquet at ``path``.

    Conversation ids are ``conv-<conv_base + c>``.  With ``batch_convs``
    the rows are partitioned into ``batch=<k>`` directories of that many
    conversations each, so a reader can hand one batch to the program."""
    n = n_convs * turns_per_conv
    hashed = spark.range(n).selectExpr(
        f"id % {n_convs} AS c",
        f"cast(id div {n_convs} AS int) AS turn_idx",
        *[f"pmod(xxhash64(id, {seed}L, {k}), 1000003) AS h{k}"
          for k in range(3)])
    cols = [
        f"concat('conv-', c + {conv_base}) AS conv_id", "turn_idx",
        f"{_pick(ROLES, 'h0')} AS role",
        f"concat('turn ', turn_idx, ' about ', {_pick(WORDS, 'h1')},"
        f" ' and ', {_pick(WORDS, 'h2')},"
        f" CASE WHEN h0 % 5 = 1 THEN ' spark' ELSE '' END,"
        f" ' then ', {_pick(WORDS, 'h2 div 97')},"
        f" ' with filler words to size the payload') AS text",
        f"CASE WHEN h0 % 4 = 3 THEN {_pick(TOOLS, 'h1 div 89')} END AS tool",
        "timestamp_seconds(1704067200 + c * 3600 + turn_idx * 60) AS ts",
    ]
    writer = hashed.selectExpr(
        *cols, *([f"cast(c div {batch_convs} AS int) AS batch"]
                 if batch_convs else [])).write.mode("overwrite")
    if batch_convs:
        writer = writer.partitionBy("batch")
    writer.parquet(path)


class Tally:
    """What a set of transcript turns must turn into."""

    def __init__(self):
        self.turns = 0
        self.tools = 0
        self.mentions = 0
        self.surface_mentions = 0
        self.entities: set[str] = set()
        self.conv_turns: Counter = Counter()

    def add(self, conv_id: str, text: str, tool) -> None:
        surfaces = set(_MENTION.findall(text))
        ents = {LEXICON[s] for s in surfaces}
        self.turns += 1
        self.tools += tool is not None
        # a turn naming "join" and "joins" mentions one entity (one
        # graph triple) through two surface forms (two linked rows)
        self.mentions += len(ents)
        self.surface_mentions += len(surfaces)
        self.entities |= ents
        self.conv_turns[conv_id] += 1

    def graph_rows(self, new_entities: int | None = None) -> int:
        """Triples built from these turns: four per turn (hasTurn, type,
        role, turnIndex), one type per conversation, one per tool use and
        per distinct (turn, entity) mention, and type + label for each
        entity not committed before (all of them unless given)."""
        if new_entities is None:
            new_entities = len(self.entities)
        return (4 * self.turns + len(self.conv_turns) + self.tools
                + self.mentions + 2 * new_entities)

    def rel_counts(self) -> dict[str, int]:
        """Per-relation triple counts of a full build, keyed by the short
        names of :data:`perfbench.workloads.RELS`."""
        n_ent = len(self.entities)
        return {
            "hasTurn": self.turns, "role": self.turns,
            "turnIndex": self.turns, "usedTool": self.tools,
            "mentions": self.mentions, "label": n_ent,
            "type": self.turns + len(self.conv_turns) + n_ent,
        }


def tally(path: str, by_batch: bool = False) -> dict:
    """Tallies of the transcripts under ``path``: ``{None: Tally}`` or,
    for batch-partitioned inputs, ``{batch: Tally}``."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT conv_id, text, tool{', batch' if by_batch else ''} "
            f"FROM read_parquet('{path}/**/*.parquet', "
            f"hive_partitioning = {str(by_batch).lower()})").fetchall()
    finally:
        con.close()
    out: dict = {}
    for row in rows:
        key = row[3] if by_batch else None
        out.setdefault(key, Tally()).add(row[0], row[1], row[2])
    return out
