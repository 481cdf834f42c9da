"""The traced build: `pipeline.run_pipeline_materialized(force=True)`
rewired so that each layer runs under its own Spark job group and its
output is materialized at the layer boundary.

The wiring follows `run_pipeline` and `run_pipeline_materialized`
call for call. The traced run checks that its triple set equals an
untraced build's, so drift between the two shows as a failed run.
Three things differ, all needed to attribute work to one layer:
extract's output is persisted before enrich (the pipeline persists
them fused); `rejects`, which the pipeline leaves lazy and so extracts
a second time when it writes them, is persisted and counted under
`extract`; and `relations`/`triples`, which the pipeline leaves lazy,
are persisted and counted. So `catalog_write` times only the writes.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from askg_spark.canonicalize import assign_global_ids, canonical_entities
from askg_spark.catalog import Catalog, fingerprint
from askg_spark.cc import connected_components
from askg_spark.enrich import enrich_mentions
from askg_spark.extract import extract_mentions
from askg_spark.linking import candidate_edges
from askg_spark.metrics import new_run_id, partition_lineage
from askg_spark.pipeline import STAGES, PipelineConfig
from askg_spark.relations import infer_relationship_edges
from askg_spark.triples import build_triples
from kgperf.oracles import table_files

LAYERS = ("extract", "enrich", "linking", "cc", "canonicalize", "relations",
          "triples", "catalog_write", "catalog_read", "search", "graph")
_MEM_DISK = StorageLevel.MEMORY_AND_DISK


class Tracer:
    """Spans kept in memory: one per call into a layer, each with the
    layer name, start, end and the rows that went in and came out."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []

    @contextmanager
    def span(self, layer: str, **attrs):
        rec = {"layer": layer, "rows_in": 0, "rows_out": 0, **attrs}
        self.sc.setJobGroup(layer, layer)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)


def snapshot_stats(root: str, table: str) -> dict:
    """Rows, bytes and files of the table's current snapshot, read from
    the parquet footers (no Spark job)."""
    files = table_files(root, table)
    return {"rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            "bytes": sum(os.path.getsize(f) for f in files),
            "files": len(files)}


def _persisted_count(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.persist(_MEM_DISK)
    return df, df.count()


def traced_build(spark: SparkSession, pages: DataFrame, out_root: str,
                 tracer: Tracer, cfg: PipelineConfig | None = None) -> dict:
    """Build `pages` into a fresh catalog at `out_root`, one span per
    layer. Returns the row counts of the main outputs."""
    cfg = cfg or PipelineConfig()
    cat = Catalog(out_root)
    run_id = new_run_id()
    with tracer.span("catalog_read") as s:
        fp = fingerprint(pages)
        s["rows_in"] = s["rows_out"] = int(fp.split("|")[0])
    with tracer.span("extract", rows_in=s["rows_out"]) as s:
        mentions_raw, rejects = extract_mentions(pages)
        mentions_raw, s["rows_out"] = _persisted_count(mentions_raw)
        rejects, n_rejects = _persisted_count(rejects)
        s["rows_out"] += n_rejects
    with tracer.span("enrich", rows_in=s["rows_out"] - n_rejects) as s:
        enriched = enrich_mentions(mentions_raw)
        n_part = spark.sparkContext.defaultParallelism
        n_scan = enriched.rdd.getNumPartitions()
        if n_scan > 8 * n_part:
            enriched = enriched.repartition(max(2 * n_part, n_scan // 8))
        enriched, s["rows_out"] = _persisted_count(enriched)
    n_mentions = s["rows_out"]
    with tracer.span("linking", rows_in=n_mentions) as s:
        edges = candidate_edges(enriched, cfg.link).localCheckpoint(
            eager=True, storageLevel=_MEM_DISK)
        s["rows_out"] = edges.count()
    with tracer.span("cc", rows_in=s["rows_out"]) as s:
        comps, s["rows_out"] = _persisted_count(connected_components(
            edges, enriched.select(F.col("mention_id").alias("id")),
            max_iter=cfg.cc_max_iter))
    with_comp = enriched.join(
        comps, enriched["mention_id"] == comps["id"], "left"
    ).drop("id").withColumn(
        "component", F.coalesce("component", "mention_id"))
    with tracer.span("canonicalize", rows_in=n_mentions) as s:
        entities = assign_global_ids(canonical_entities(with_comp)).localCheckpoint(
            eager=True, storageLevel=_MEM_DISK)
        s["rows_out"] = n_entities = entities.count()
    with tracer.span("relations", rows_in=n_entities) as s:
        rel_edges, s["rows_out"] = _persisted_count(
            infer_relationship_edges(entities, cfg.max_entities_per_key))
    with tracer.span("triples", rows_in=n_entities + s["rows_out"]) as s:
        triples, s["rows_out"] = _persisted_count(build_triples(
            entities, rel_edges, include_hierarchy=cfg.include_hierarchy))
    n_triples = s["rows_out"]
    outputs = {"mentions": enriched, "rejects": rejects, "entities": entities,
               "rel_edges": rel_edges, "triples": triples}
    if list(outputs) != STAGES[:-1]:
        raise RuntimeError(f"pipeline stages changed to {STAGES}; update the traced wiring")
    with tracer.span("catalog_write") as s:
        props = {"input_fingerprint": fp, "run_id": run_id}
        lineage = None
        for name, df in outputs.items():
            cat.write_snapshot(df, name, properties=props)
            lin = partition_lineage(cat.read(spark, name), name, run_id)
            lineage = lin if lineage is None else lineage.unionByName(lin)
            cat.expire_snapshots(name, keep=5)
        cat.write_snapshot(lineage, "lineage", properties=props)
        cat.expire_snapshots("lineage", keep=5)
        s["rows_in"] = s["rows_out"] = sum(
            snapshot_stats(out_root, t)["rows"] for t in STAGES)
    for df in (mentions_raw, rejects, enriched, comps, rel_edges, triples):
        df.unpersist()
    return {"mentions": n_mentions, "entities": n_entities, "triples": n_triples}
