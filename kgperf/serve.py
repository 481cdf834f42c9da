"""The serve side: a seeded request stream over one catalog, answered
through the engine's public search functions and DataFrame reads of
the catalog's `entities` and `triples` tables.

Kinds, and the predicates of graph requests, cycle in a fixed order,
so every run has the same mix of work; the seed picks the entity ids
(uniformly), search terms and prompts.

The mix is an assumption, not measured traffic: neither the paper nor
the reference server records how often each request is made. Each of
the five kinds gets 1/5 of the requests, hop1 spreads its share evenly
over HOP1_PREDS (1/30 of all requests each), hop2 evenly over
HOP2_PREDS (1/20 each).
"""

from __future__ import annotations

import itertools
import random
from typing import Iterator

from pyspark.sql import DataFrame, functions as F

from askg_spark.search import search_entities, semantic_search
from kgperf.oracles import LOOKUP_COLUMNS

KINDS = ("lookup", "keyword", "semantic", "hop1", "hop2")
LAYER_OF = {"lookup": "search", "keyword": "search", "semantic": "search",
            "hop1": "graph", "hop2": "graph"}

# words the registry generator puts into names and descriptions, plus
# words it never uses, so some searches come back empty
TERMS = ["orbit", "quartz", "maple", "falcon", "ember", "cobalt", "raven",
         "bridge", "hub", "forge", "pilot", "vault", "beacon", "postgres",
         "storage", "webhook", "kubernetes", "slack", "metrics", "neural",
         "connector", "zebra", "ledger"]
PROMPT_VERBS = ["find", "read", "query", "monitor", "run", "transform",
                "write", "search"]
PROMPT_TOPICS = ["database", "files", "cloud", "slack messages", "ai model",
                 "github code", "metrics", "auth tokens", "index", "api"]
HOP1_PREDS = ["same_author", "similar_functionality", "complementary",
              "alternative_to", "HAS_TOOL", "HAS_CATEGORY"]
HOP2_PREDS = [(a, b) for a in ("same_author", "similar_functionality")
              for b in ("same_author", "similar_functionality")]


def requests(seed: int, entity_ids: list[str]) -> Iterator[tuple[str, dict]]:
    """An endless request stream; the same seed and catalog give the
    same stream."""
    rng = random.Random(seed)
    ids = sorted(entity_ids)
    for i in itertools.count():
        kind, turn = KINDS[i % len(KINDS)], i // len(KINDS)
        if kind == "lookup":
            p = {"id": rng.choice(ids)}
        elif kind == "keyword":
            p = {"term": rng.choice(TERMS)}
        elif kind == "semantic":
            p = {"prompt": f"{rng.choice(PROMPT_VERBS)} {rng.choice(PROMPT_TOPICS)} "
                           f"{rng.choice(TERMS)} servers"}
        elif kind == "hop1":
            p = {"id": rng.choice(ids), "pred": HOP1_PREDS[turn % len(HOP1_PREDS)]}
        else:
            p = {"id": rng.choice(ids), "preds": HOP2_PREDS[turn % len(HOP2_PREDS)]}
        yield kind, p


def _page(nodes: DataFrame) -> tuple[int, tuple[str, ...]]:
    """Count of distinct nodes and the first ten by id, in one job."""
    found = nodes.agg(F.array_sort(F.collect_set("n"))).collect()[0][0]
    return len(found), tuple(found[:10])


def _neighbours(triples: DataFrame, pred: str, node) -> DataFrame:
    """Nodes joined to `node` by `pred` in either direction, as `n`."""
    s, o = F.col("subj"), F.col("obj")
    return (triples.filter((F.col("pred") == pred) & ((s == node) | (o == node)))
            .select(F.when(s == node, o).otherwise(s).alias("n")))


def execute(kind: str, p: dict, entities: DataFrame, triples: DataFrame):
    """Answer one request with the engine; the result is fully
    collected to the Spark driver before this returns."""
    if kind == "lookup":
        rows = entities.filter(F.col("id") == p["id"]).select(*LOOKUP_COLUMNS).collect()
        return [tuple(tuple(c) if isinstance(c, list) else c for c in r) for r in rows]
    if kind == "keyword":
        return [tuple(r) for r in search_entities(entities, p["term"], limit=10).collect()]
    if kind == "semantic":
        return [tuple(r) for r in semantic_search(entities, p["prompt"], limit=10).collect()]
    if kind == "hop1":
        return _page(_neighbours(triples, p["pred"], p["id"]))
    if kind == "hop2":
        p1, p2 = p["preds"]
        mid = _neighbours(triples, p1, p["id"]).select(F.col("n").alias("m"))
        s, o, m = F.col("subj"), F.col("obj"), F.col("m")
        ends = (triples.filter(F.col("pred") == p2)
                .join(F.broadcast(mid), (s == m) | (o == m))
                .select(F.when(s == m, o).otherwise(s).alias("n")))
        return _page(ends.filter(F.col("n") != p["id"]))
    raise ValueError(f"unknown request kind {kind!r}")


def rows_returned(answer) -> int:
    if isinstance(answer, tuple):  # (count, first page of ids)
        return len(answer[1])
    return len(answer)
