"""The traced run: per-layer metrics for one workload.

1. warmup: the oracle-sized build, as in the untraced run;
2. an untraced build and a traced build of the same corpus (the
   workload's corpus for `build_registry`, the oracle-sized one for
   `serve`), both from the same parquet copy of the corpus; their
   triple sets must be equal, the layer walls must sum to the traced
   build's wall within 5 % and to the untraced build's wall within
   30 %;
3. a traced open (resume) and a traced request stream over the
   workload's catalog: the traced build's for `build_registry`, the
   serve catalog for `serve`.

Task time, shuffle and spill per layer come from the run's Spark event
log, read after the session stops.
"""

from __future__ import annotations

import statistics

from kgperf import bench, evlog, serve
from kgperf.layers import LAYERS, Tracer, snapshot_stats, traced_build

# Every costly statement of `traced_build` sits inside a span, so this
# check only catches code added outside the spans.
WALL_SUM_TOLERANCE = 0.05
# Two builds of one corpus in one session differ by up to ~15 % on a
# shared host, and the traced wiring persists more than the pipeline,
# so this check catches a layer that skips or repeats gross work, not
# a small drift.
UNTRACED_TOLERANCE = 0.30


def traced_run(run: bench.Run) -> dict:
    from askg_spark.fixtures import _n_pages_for_server
    from askg_spark.pipeline import run_pipeline_materialized
    from kgperf.oracles import check_registry_build, triples_mismatch

    spark = run.spark
    bench.oracle_build(run, bench.corpus(run, bench.ORACLE_SERVERS, run.seed))
    n = bench.REGISTRY_SERVERS if run.workload == "build_registry" else bench.ORACLE_SERVERS
    pages = bench.corpus(run, n, run.seed)
    _, wall_untraced = bench.timed(lambda: run_pipeline_materialized(
        spark, pages, run.path("untraced"), force=True))
    tracer = Tracer(spark)
    _, wall_traced = bench.timed(lambda: traced_build(
        spark, pages, run.path("traced"), tracer))
    build_wall = sum(s["end"] - s["start"] for s in tracer.spans)
    gap = abs(build_wall - wall_traced) / wall_traced
    gap_untraced = abs(build_wall - wall_untraced) / wall_untraced
    run.judge("traced build", check_registry_build(run.path("traced"), n, run.seed))
    diff = triples_mismatch(run.path("untraced"), run.path("traced"))
    run.judge("traced vs untraced triples",
              [f"{diff} triples differ"] if diff else [])
    run.judge("layer walls sum to the traced build wall",
              [f"layers cover {build_wall:.2f} s of {wall_traced:.2f} s"]
              if gap > WALL_SUM_TOLERANCE else [])
    run.judge("layer walls sum to the untraced build wall",
              [f"layers sum to {build_wall:.2f} s, untraced build took {wall_untraced:.2f} s"]
              if gap_untraced > UNTRACED_TOLERANCE else [])

    if run.workload == "build_registry":
        root, cat_n, cat_seed, cat_pages = run.path("traced"), n, run.seed, pages
    else:
        root = bench.serve_catalog_root()
        cat_n, cat_seed = bench.SERVE_SERVERS, bench.SERVE_SEED
        cat_pages = spark.read.parquet(bench.serve_pages_path())
    n_cat_pages = sum(_n_pages_for_server(cat_seed, k) for k in range(cat_n))
    with tracer.span("catalog_read", rows_in=n_cat_pages, rows_out=n_cat_pages):
        frames = run_pipeline_materialized(spark, cat_pages, root)
    run.judge("resume", [] if frames.get("skipped") else ["resume rebuilt"])
    run.log(f"traced build {wall_traced:.1f} s, untraced {wall_untraced:.1f} s")
    res = bench.serve_stream(run, root, frames["entities"], frames["triples"],
                             bench.TRACED_REQUESTS[run.workload], 0, tracer)
    bench.check_answers(run, root, res["answers"])
    bench.check_oracle_build(run)
    triples = snapshot_stats(run.path("traced"), "triples")
    files = sum(snapshot_stats(run.path("traced"), t)["files"]
                for t in ("mentions", "rejects", "entities", "rel_edges",
                          "triples", "lineage"))
    run.stop_spark()
    groups = evlog.read_groups(evlog.app_log(run.path("evlog")))
    return _layer_metrics(tracer.spans, groups, {
        "trace.overhead_s": (wall_traced - wall_untraced, "s"),
        "catalog_write.bytes_per_triple": (triples["bytes"] / max(triples["rows"], 1), "B"),
        "catalog_write.files": (files, "count"),
    })


def _layer_metrics(spans: list[dict], groups: dict, extra: dict) -> dict:
    out = {}

    def put(name, value, unit):
        out[name] = {"value": value, "unit": unit}

    for layer in LAYERS:
        mine = [s for s in spans if s["layer"] == layer]
        g = groups.get(layer, evlog.GroupStats())
        rows_out = sum(s["rows_out"] for s in mine)
        rows_in = (g.records_read if layer in ("search", "graph")
                   else sum(s["rows_in"] for s in mine))
        put(f"{layer}.wall_s", sum(s["end"] - s["start"] for s in mine), "s")
        put(f"{layer}.task_s", g.task_ms / 1e3, "s")
        put(f"{layer}.rows_in", rows_in, "count")
        put(f"{layer}.rows_out", rows_out, "count")
        put(f"{layer}.max_task_share", g.max_task_share, "ratio")
        put(f"{layer}.shuffle_mb", g.shuffle_write_bytes / 2**20, "MB")
        put(f"{layer}.spill_mb", g.spill_bytes / 2**20, "MB")
        if layer in ("search", "graph"):
            put(f"{layer}.rows_read_per_row_returned", rows_in / max(rows_out, 1), "ratio")
            for kind in serve.KINDS:
                if serve.LAYER_OF[kind] == layer:
                    walls = [s["end"] - s["start"] for s in mine if s.get("kind") == kind]
                    put(f"{layer}.{kind}_ms",
                        statistics.median(walls) * 1e3 if walls else 0.0, "ms")
    for name, (value, unit) in extra.items():
        put(name, value, unit)
    return out
