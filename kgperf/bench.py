"""The workloads, their end-to-end metrics and the run's lifecycle.

Every run is one process holding one Spark session on local[<cpus>]
and one closed-loop client (the calls below, one at a time).
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import itertools
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from kgperf import host

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".kgperf_work")

REGISTRY_SERVERS = 400    # build_registry corpus: ~1k pages
ORACLE_SERVERS = 24       # tests/ref_oracle.py is quadratic in servers
SERVE_SERVERS = 400       # serve catalog, built once per checkout
SERVE_SEED = 7
MIN_REQUESTS = 100        # so at least 10 requests lie beyond p90
WARM_ROUNDS = 3           # untimed requests of each kind before the stream
RESUMES = 3
TRACED_REQUESTS = {"build_registry": 10, "serve": 30}
DRIVER_MEM = "4g"

# name -> unit; see README.md for what each means on each workload
END_TO_END = {
    "setup_s": "s", "op_p50_ms": "ms", "op_p90_ms": "ms", "in_per_s": "1/s",
    "out_per_s": "1/s", "cpu_ms_per_op": "ms", "resume_s": "s", "ok_ratio": "ratio",
}
WORKLOADS = ("build_registry", "serve")


class Run:
    """One benchmark run: its Spark session, scratch directory and the
    tally of operations attempted and answered wrongly."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.dir = os.path.join(WORK, f"run-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(os.path.join(self.dir, "tmp"))
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.receipts: dict = {}  # printed next to the metrics, not gated
        self.spark = None
        self.t0 = time.monotonic()

    def log(self, msg: str) -> None:
        print(f"kgperf [{time.monotonic() - self.t0:7.1f} s] {msg}", file=sys.stderr, flush=True)

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def judge(self, what: str, problems: list[str]) -> None:
        """Count one operation, failed if its check found problems."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{what}: {p}" for p in problems)

    # -- Spark ----------------------------------------------------------

    def start_spark(self):
        """Host settings go in through the environment and extra confs,
        so the engine's session defaults stay untouched."""
        local = self.path("spark-local")
        os.environ["ASKG_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = self.path("tmp")
        # every JVM started from here (Spark launcher and driver) keeps its
        # temp files in the run directory and writes no /tmp/hsperfdata
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}"
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # mapInPandas workers import askg_spark from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        confs = {
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": self.path("warehouse"),
        }
        if self.trace:
            os.makedirs(self.path("evlog"))
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.path("evlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from askg_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        self.spark = get_spark(f"kgperf-{self.workload}", master=f"local[{cpus}]",
                               extra_confs=confs)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM (and with it the
        Python workers it forked) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = SparkContext._jvm = None

    def close(self) -> None:
        self.stop_spark()
        shutil.rmtree(self.dir, ignore_errors=True)


# ------------------------------------------------------------------ helpers

def timed(fn):
    t = time.monotonic()
    out = fn()
    return out, time.monotonic() - t


def _p90(values: list[float]) -> float:
    """The 90th percentile; with fewer than ten values, the largest."""
    if len(values) < 10:
        return max(values)
    return statistics.quantiles(values, n=10)[-1]


def _resume(run: Run, pages, root: str, n: int = RESUMES) -> tuple[list[float], dict]:
    """`n` resumes of an unchanged input; each must skip every stage.
    Returns their walls and the frames of the last one."""
    from askg_spark.pipeline import run_pipeline_materialized

    walls = []
    for _ in range(n):
        out, wall = timed(lambda: run_pipeline_materialized(run.spark, pages, root))
        walls.append(wall)
        run.judge("resume", [] if out.get("skipped") else ["resume rebuilt instead of skipping"])
    run.log(f"{n} resume(s): {', '.join(f'{w:.2f}' for w in walls)} s")
    return walls, out


def write_pages(spark, n_servers: int, seed: int, path: str):
    """Write the generated corpus to parquet at `path` and return the
    frame that reads it back. Builds read the pages from there, so no
    timed call reruns the page generator's HTML rendering."""
    from askg_spark.fixtures import generate_pages

    if not os.path.exists(path):
        generate_pages(spark, n_servers, seed).write.parquet(path)
    return spark.read.parquet(path)


def corpus(run: Run, n_servers: int, seed: int):
    return write_pages(run.spark, n_servers, seed, run.path(f"pages-{n_servers}-{seed}"))


def oracle_build(run: Run, pages) -> float:
    """The untimed warmup: build the oracle-sized corpus of this seed.
    Its output is checked against tests/ref_oracle.py at the end."""
    from askg_spark.pipeline import run_pipeline_materialized

    _, wall = timed(lambda: run_pipeline_materialized(
        run.spark, pages, run.path("oracle"), force=True))
    run.log(f"warmup build of {ORACLE_SERVERS} servers: {wall:.1f} s")
    return wall


def check_oracle_build(run: Run) -> None:
    from kgperf.oracles import check_against_ref_oracle

    run.judge(f"oracle-sized build ({ORACLE_SERVERS} servers)",
              check_against_ref_oracle(run.path("oracle"), ORACLE_SERVERS, run.seed))
    run.log("checked the oracle-sized build against tests/ref_oracle.py")


def _engine_hash() -> str:
    """Digest of the engine's sources, so a changed engine never reads a
    catalog an older engine wrote."""
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(ROOT, "askg_spark", "*.py"))):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def serve_catalog_root() -> str:
    return os.path.join(WORK, f"serve-catalog-{SERVE_SERVERS}-{SERVE_SEED}-{_engine_hash()}")


def serve_pages_path() -> str:
    """The parquet corpus the serve catalog was built from."""
    return serve_catalog_root() + "-pages"


def ensure_serve_catalog() -> str:
    """The catalog `serve` reads. The first call in a checkout writes
    its corpus to parquet and builds it in a child process with its own
    Spark session, so no measured session has run a build before it
    opens the catalog."""
    root = serve_catalog_root()
    if not (os.path.exists(os.path.join(root, "COMPLETE"))
            and os.path.isdir(serve_pages_path())):
        # a plain subprocess rather than multiprocessing, whose resource
        # tracker process would outlive the run
        code = subprocess.run([sys.executable, "-m", "kgperf.bench", root],
                              cwd=ROOT, timeout=600).returncode
        if code != 0:
            raise RuntimeError(f"building the serve catalog failed (exit {code})")
    return root


def _build_serve_catalog(root: str) -> None:
    """Build the serve catalog from a parquet copy of the registry
    generator's corpus and check it against the generator's ground
    truth before marking it complete."""
    from askg_spark.pipeline import run_pipeline_materialized
    from kgperf.oracles import check_registry_build

    run = Run("serve-catalog", SERVE_SEED, 0, False)
    try:
        run.start_spark()
        for path in (root, serve_pages_path()):
            shutil.rmtree(path, ignore_errors=True)
        pages = write_pages(run.spark, SERVE_SERVERS, SERVE_SEED, serve_pages_path())
        _, wall = timed(lambda: run_pipeline_materialized(run.spark, pages, root, force=True))
        problems = check_registry_build(root, SERVE_SERVERS, SERVE_SEED)
        if problems:
            raise RuntimeError(f"serve catalog fails its checks: {problems}")
        with open(os.path.join(root, "COMPLETE"), "w") as fh:
            fh.write(f"built in {wall:.1f} s\n")
        run.log(f"built the serve catalog in {wall:.1f} s")
    finally:
        run.close()


def _entity_ids(root: str) -> list[str]:
    import duckdb

    from kgperf.oracles import table_files

    con = duckdb.connect()
    ids = [i for (i,) in con.execute(
        "SELECT id FROM read_parquet(?) ORDER BY id", [table_files(root, "entities")]
    ).fetchall()]
    con.close()
    return ids


def serve_stream(run: Run, root: str, entities, triples, n_min: int, seconds: float,
                  tracer=None) -> dict:
    """Closed loop: one request at a time until `seconds` have passed
    and at least `n_min` requests were answered, after WARM_ROUNDS
    untimed requests of each kind."""
    from kgperf import serve

    stream = serve.requests(run.seed, _entity_ids(root))
    warm = list(itertools.islice(stream, WARM_ROUNDS * len(serve.KINDS)))
    t_warm = time.monotonic()
    done = [(k, p, serve.execute(k, p, entities, triples)) for k, p in warm]
    warm_s = time.monotonic() - t_warm
    lat: dict[str, list[float]] = {k: [] for k in serve.KINDS}
    rows = errors = 0
    cpu0, t0 = host.tree_cpu_s(), time.monotonic()
    for i, (kind, p) in enumerate(stream):
        if i >= n_min and time.monotonic() - t0 >= seconds:
            break
        t = time.monotonic()
        span = (tracer.span(serve.LAYER_OF[kind], kind=kind) if tracer
                else contextlib.nullcontext({}))
        try:
            with span as s:
                ans = serve.execute(kind, p, entities, triples)
                s["rows_out"] = serve.rows_returned(ans)
        except Exception:  # a failed request still counts, as a miss
            traceback.print_exc()
            errors += 1
            ans = None
        lat[kind].append(time.monotonic() - t)
        rows += serve.rows_returned(ans) if ans is not None else 0
        done.append((kind, p, ans))
    run.log(f"{len(done) - len(warm)} requests, {errors} raised")
    return {"warm_s": warm_s, "latencies": lat, "n": sum(map(len, lat.values())),
            "rows": rows, "wall": time.monotonic() - t0,
            "cpu": host.tree_cpu_s() - cpu0, "errors": errors, "answers": done}


def check_answers(run: Run, root: str, answers) -> None:
    """Recompute every answer with DuckDB over the catalog's files."""
    from kgperf.oracles import ServeOracle, same_answer

    oracle = ServeOracle(root)
    for kind, p, ans in answers:
        want = oracle.answer(kind, p)
        ok = ans is not None and same_answer(kind, ans, want)
        run.judge(f"{kind} {p}", [] if ok else [f"engine {ans!r} != reference {want!r}"])
    oracle.close()
    run.log(f"checked {len(answers)} answers against DuckDB")


# ---------------------------------------------------------------- workloads

def build_registry(run: Run, metrics: dict) -> None:
    """Materialized build of a registry corpus into a fresh catalog,
    repeated until `seconds` pass (at least once), then resumes."""
    from askg_spark.fixtures import _n_pages_for_server
    from askg_spark.pipeline import run_pipeline_materialized
    from kgperf.layers import snapshot_stats
    from kgperf.oracles import check_registry_build, triples_digest

    rss = host.PeakRss().start()
    (oracle_pages, pages), metrics["corpus_s"] = timed(lambda: (
        corpus(run, ORACLE_SERVERS, run.seed), corpus(run, REGISTRY_SERVERS, run.seed)))
    metrics["warmup_s"] = oracle_build(run, oracle_pages)
    spark = run.spark
    n_pages = sum(_n_pages_for_server(run.seed, k) for k in range(REGISTRY_SERVERS))
    walls, cpus, roots = [], [], []
    t0 = time.monotonic()
    while not walls or time.monotonic() - t0 < run.seconds:
        root = run.path(f"build-{len(walls)}")
        cpu0 = host.tree_cpu_s()
        _, wall = timed(lambda: run_pipeline_materialized(spark, pages, root, force=True))
        walls.append(wall)
        cpus.append(host.tree_cpu_s() - cpu0)
        roots.append(root)
        run.log(f"build of {REGISTRY_SERVERS} servers: {wall:.1f} s")
    metrics["resume_s"] = statistics.median(_resume(run, pages, roots[-1])[0])
    run.receipts["peak_rss_mb"] = rss.stop()

    n_triples = snapshot_stats(roots[-1], "triples")["rows"]
    wall = statistics.median(walls)
    metrics.update({
        "op_p50_ms": wall * 1e3, "op_p90_ms": _p90(walls) * 1e3,
        "in_per_s": n_pages / wall, "out_per_s": n_triples / wall,
        "cpu_ms_per_op": statistics.median(cpus) * 1e3,
    })
    for root in roots:
        run.judge(f"build of {REGISTRY_SERVERS} servers",
                  check_registry_build(root, REGISTRY_SERVERS, run.seed))
    run.log(f"checked {len(roots)} build(s) of {n_pages} pages -> {n_triples} triples")
    check_oracle_build(run)
    run.receipts["output_digest"] = triples_digest(roots[-1])


def serve_workload(run: Run, metrics: dict) -> None:
    """Requests against the serve catalog, opened by a resume. The
    catalog is built (once per checkout) before anything is measured;
    the first open counts as warmup, later ones as `resume_s`."""
    from kgperf.oracles import digest

    root = serve_catalog_root()
    rss = host.PeakRss().start()
    pages, metrics["corpus_s"] = timed(lambda: run.spark.read.parquet(serve_pages_path()))
    walls, frames = _resume(run, pages, root)
    metrics["resume_s"] = statistics.median(walls[1:])
    res = serve_stream(run, root, frames["entities"], frames["triples"],
                       MIN_REQUESTS, run.seconds)
    run.receipts["peak_rss_mb"] = rss.stop()
    check_answers(run, root, res["answers"])
    run.receipts["output_digest"] = digest(
        (k, repr(p), repr(a)) for k, p, a in res["answers"])
    all_lat = [x for v in res["latencies"].values() for x in v]
    metrics.update({
        "warmup_s": walls[0] + res["warm_s"],
        "op_p50_ms": statistics.median(all_lat) * 1e3,
        "op_p90_ms": _p90(all_lat) * 1e3,
        "in_per_s": res["n"] / res["wall"], "out_per_s": res["rows"] / res["wall"],
        "cpu_ms_per_op": res["cpu"] / res["n"] * 1e3,
    })


def run_workload(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    """One run; returns the result object the benchmark prints last."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    if workload == "serve":
        ensure_serve_catalog()
    run = Run(workload, seed, seconds, trace)
    noise = host.NoiseReceipt()
    try:
        t0 = time.monotonic()
        run.start_spark()
        session_start = time.monotonic() - t0
        run.log(f"session started in {session_start:.1f} s")
        if trace:
            from kgperf.traced import traced_run

            metrics = traced_run(run)
        else:
            metrics = {"session_start_s": session_start}
            (build_registry if workload == "build_registry" else serve_workload)(
                run, metrics)
            parts = ("session_start_s", "corpus_s", "warmup_s")
            metrics["setup_s"] = sum(metrics[k] for k in parts)
            metrics["ok_ratio"] = 1 - run.failed / max(run.attempted, 1)
            run.receipts.update({k: metrics[k] for k in parts})
            metrics = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    finally:
        run.close()
    for p in run.problems:
        run.log(f"WRONG {p}")
    return {"receipts": {"workload": workload, "seed": seed, **run.receipts, **noise.finish()},
            "result": {"correct": run.failed == 0, "attempted": run.attempted,
                       "failed": run.failed, "metrics": metrics}}


if __name__ == "__main__":  # the child process of ensure_serve_catalog
    _build_serve_catalog(sys.argv[1])
