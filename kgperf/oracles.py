"""References the engine's outputs are checked against.

None of them is a value recorded from the engine. They are:

* `tests.ref_oracle`, the single-process reimplementation of the KG
  build, run on an oracle-sized corpus of the same generator and seed;
* ground truth from the page generator (`askg_spark.fixtures`): which
  pages are noise or non-MCP and so must be quarantined, and which
  page URLs must each end up in exactly one entity;
* DuckDB queries over the parquet files the engine wrote, which
  recompute every serve answer from the catalog's current tables.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os

import duckdb

from askg_spark.catalog import Catalog
from askg_spark.fixtures import _h, _noise_page, _rows_for_server, server_profile


def digest(rows) -> str:
    """Order-independent SHA-256 of a row multiset. Every cell is
    written as its length and then its text, so no choice of cell
    contents can make two different rows encode alike."""
    enc = []
    for row in rows:
        parts = []
        for cell in row:
            s = repr(cell).encode()
            parts.append(b"%d:%s" % (len(s), s))
        enc.append(b"%d|" % len(parts) + b"".join(parts))
    h = hashlib.sha256()
    for e in sorted(enc):
        h.update(b"%d:" % len(e) + e)
    return h.hexdigest()


def table_files(root: str, table: str) -> list[str]:
    """Parquet files of the current snapshot of `table` in the catalog."""
    man = Catalog(root).manifest(table)
    snap = next(s for s in man["snapshots"] if s["id"] == man["current"])
    files = sorted(glob.glob(os.path.join(snap["path"], "**", "*.parquet"),
                             recursive=True))
    if not files:
        raise FileNotFoundError(f"{table}: no parquet files in {snap['path']}")
    return files


def connect(root: str, tables=("entities", "triples")) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB holding copies of the catalog's tables."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet(?)",
                    [table_files(root, t)])
    return con


# ------------------------------------------------------------ build checks

def registry_truth(n_servers: int, seed: int) -> dict[str, set[str]]:
    """Page URLs of the generated corpus, split by what the generator
    planted: `members` must each land in exactly one entity, `rejects`
    (noise pages and GitHub pages without the MCP indicator) must be
    quarantined, and `noise` is the subset of rejects that is noise."""
    members, rejects, noise = set(), set(), set()
    for k in range(n_servers):
        noise_url = _noise_page(seed, k)[0] if k % 3 == 0 else None
        github_url = None
        if ("github" in server_profile(seed, k)["registries"]
                and _h(seed, k, "ghmcp") % 10 == 0):
            github_url = "https://github.com/"
        for url, *_ in _rows_for_server(seed, k):
            if url == noise_url:
                noise.add(url)
                rejects.add(url)
            elif github_url and url.startswith(github_url):
                rejects.add(url)
            else:
                members.add(url)
    return {"members": members, "rejects": rejects, "noise": noise}


def check_registry_build(root: str, n_servers: int, seed: int) -> list[str]:
    """Structural checks of a full-size registry build against the
    generator's ground truth. Returns the problems found (empty = ok)."""
    truth = registry_truth(n_servers, seed)
    con = connect(root, ("entities", "triples", "rejects"))
    problems = []
    dup = con.execute(
        "SELECT count(*) - count(DISTINCT (subj, pred, obj)) FROM triples"
    ).fetchone()[0]
    if dup:
        problems.append(f"{dup} duplicate (subj, pred, obj) triples")
    owners: dict[str, int] = {}
    for (urls,) in con.execute("SELECT member_urls FROM entities").fetchall():
        for u in urls or ():
            owners[u] = owners.get(u, 0) + 1
    missing = truth["members"] - owners.keys()
    shared = {u for u, c in owners.items() if c > 1}
    noise = truth["noise"] & owners.keys()
    extra = owners.keys() - truth["members"]
    rejected = {u for (u,) in con.execute("SELECT url FROM rejects").fetchall()}
    for label, bad in (("member URLs in no entity", missing),
                       ("URLs in more than one entity", shared),
                       ("noise URLs among members", noise),
                       ("member URLs the generator did not plant", extra),
                       ("planted rejects not quarantined", truth["rejects"] - rejected),
                       ("quarantined pages that are not planted rejects",
                        rejected - truth["rejects"])):
        if bad:
            problems.append(f"{len(bad)} {label}, e.g. {sorted(bad)[:3]}")
    con.close()
    return problems


def check_against_ref_oracle(root: str, n_servers: int, seed: int) -> list[str]:
    """Exact triple-set and entity-set equality with tests.ref_oracle."""
    from tests.ref_oracle import oracle_triples

    want_triples, want_ents = oracle_triples(n_servers, seed)
    con = connect(root)
    got_triples = set(con.execute("SELECT subj, pred, obj FROM triples").fetchall())
    got_ents = {(i, tuple(u)) for i, u in
                con.execute("SELECT id, member_urls FROM entities").fetchall()}
    con.close()
    want_ents = {(e["id"], tuple(e["member_urls"])) for e in want_ents}
    problems = []
    for label, got, want in (("triples", got_triples, want_triples),
                             ("entities", got_ents, want_ents)):
        if got != want:
            problems.append(
                f"{label} differ from ref_oracle: {len(want - got)} missing "
                f"(e.g. {sorted(want - got)[:2]}), {len(got - want)} extra "
                f"(e.g. {sorted(got - want)[:2]})")
    return problems


def triples_digest(root: str) -> str:
    """`digest` of the catalog's (subj, pred, obj) rows, for receipts
    that let runs of two commits on one seed be compared."""
    con = duckdb.connect()
    rows = con.execute("SELECT subj, pred, obj FROM read_parquet(?)",
                       [table_files(root, "triples")]).fetchall()
    con.close()
    return digest(rows)


def triples_mismatch(root_a: str, root_b: str) -> int:
    """Rows of the (subj, pred, obj) multiset in one catalog's triples
    and not the other's, both ways."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    q = ("SELECT count(*) FROM (SELECT subj, pred, obj FROM read_parquet(?) "
         "EXCEPT ALL SELECT subj, pred, obj FROM read_parquet(?))")
    fa, fb = table_files(root_a, "triples"), table_files(root_b, "triples")
    n = con.execute(q, [fa, fb]).fetchone()[0] + con.execute(q, [fb, fa]).fetchone()[0]
    con.close()
    return n


# ------------------------------------------------------------ serve checks

# The search service's keyword tables. They are the specification of
# term extraction, kept here so the reference does not call the engine.
CATEGORY_WORDS = {
    "database": ["database", "db", "sql", "nosql", "query", "store"],
    "file_system": ["file", "filesystem", "fs", "storage", "read", "write"],
    "api_integration": ["api", "rest", "graphql", "http", "webhook"],
    "development_tools": ["dev", "development", "tool", "utility"],
    "data_processing": ["process", "transform", "analyze", "etl"],
    "cloud_services": ["cloud", "aws", "azure", "gcp", "s3"],
    "communication": ["chat", "message", "email", "notification"],
    "authentication": ["auth", "login", "oauth", "jwt", "security"],
    "monitoring": ["monitor", "log", "metric", "alert"],
    "search": ["search", "index", "elasticsearch", "lucene"],
    "ai_ml": ["ai", "ml", "machine learning", "model", "prediction"],
}
OPERATION_WORDS = {
    "read": ["read", "get", "fetch", "retrieve"],
    "write": ["write", "save", "store", "create", "update"],
    "execute": ["execute", "run", "call", "invoke"],
    "query": ["query", "search", "find", "filter"],
    "transform": ["transform", "convert", "process", "analyze"],
    "monitor": ["monitor", "watch", "observe", "track"],
}

_KEYWORD_SQL = """
SELECT id, name, score FROM (
  SELECT id, name,
    (CASE WHEN contains(lower(coalesce(name, '')), $t) THEN 10.0::DOUBLE ELSE 0.0::DOUBLE END
     + CASE WHEN contains(lower(coalesce(description, '')), $t) THEN 8.0::DOUBLE ELSE 0.0::DOUBLE END)
    + CAST(coalesce(popularity_score, 0) AS DOUBLE) * 0.001::DOUBLE AS score
  FROM entities)
WHERE score > 0 ORDER BY score DESC, id ASC LIMIT 10
"""

_SEMANTIC_SQL = """
SELECT id, name, score FROM (
  SELECT id, name,
    ((CASE WHEN contains(lower(coalesce(name, '')), $low) THEN 3.0::DOUBLE
           WHEN contains(lower(coalesce(description, '')), $low) THEN 2.0::DOUBLE
           ELSE 0.0::DOUBLE END
      + len(list_intersect(coalesce(categories, []::VARCHAR[]), $cats)) * 2.0::DOUBLE)
     + len(list_intersect(coalesce(operations, []::VARCHAR[]), $ops)) * 1.5::DOUBLE)
    + CAST(coalesce(popularity_score, 0) AS DOUBLE) * 0.1::DOUBLE AS score
  FROM entities)
WHERE score >= 0.0 ORDER BY score DESC, id ASC LIMIT 10
"""

_HOP1_SQL = """
WITH e AS (SELECT subj, obj FROM triples WHERE pred = $p)
SELECT obj AS n FROM e WHERE subj = $x
UNION SELECT subj FROM e WHERE obj = $x
ORDER BY n
"""

_HOP2_SQL = """
WITH u1 AS (SELECT subj AS a, obj AS b FROM triples WHERE pred = $p1
            UNION ALL SELECT obj, subj FROM triples WHERE pred = $p1),
     u2 AS (SELECT subj AS a, obj AS b FROM triples WHERE pred = $p2
            UNION ALL SELECT obj, subj FROM triples WHERE pred = $p2),
     h1 AS (SELECT DISTINCT b AS m FROM u1 WHERE a = $x)
SELECT DISTINCT u2.b AS n FROM h1 JOIN u2 ON u2.a = h1.m
WHERE u2.b <> $x ORDER BY n
"""

LOOKUP_COLUMNS = ("id", "name", "author", "categories", "operations", "member_urls")


def _page(ids: list[str]) -> tuple[int, tuple[str, ...]]:
    return len(ids), tuple(ids[:10])


class ServeOracle:
    """Recomputes serve answers with DuckDB over the catalog's files."""

    def __init__(self, root: str):
        self.con = connect(root)

    def close(self) -> None:
        self.con.close()

    def answer(self, kind: str, params: dict):
        con = self.con
        if kind == "lookup":
            rows = con.execute(
                f"SELECT {', '.join(LOOKUP_COLUMNS)} FROM entities WHERE id = ?",
                [params["id"]]).fetchall()
            return [tuple(tuple(c) if isinstance(c, list) else c for c in r)
                    for r in rows]
        if kind == "keyword":
            return con.execute(_KEYWORD_SQL, {"t": params["term"].lower()}).fetchall()
        if kind == "semantic":
            low = params["prompt"].lower()
            cats = [c for c, ws in CATEGORY_WORDS.items() if any(w in low for w in ws)]
            ops = [o for o, ws in OPERATION_WORDS.items() if any(w in low for w in ws)]
            return con.execute(_SEMANTIC_SQL,
                               {"low": low, "cats": cats, "ops": ops}).fetchall()
        if kind == "hop1":
            rows = con.execute(_HOP1_SQL, {"x": params["id"], "p": params["pred"]})
            return _page([n for (n,) in rows.fetchall()])
        if kind == "hop2":
            rows = con.execute(_HOP2_SQL, {"x": params["id"], "p1": params["preds"][0],
                                           "p2": params["preds"][1]})
            return _page([n for (n,) in rows.fetchall()])
        raise ValueError(f"unknown request kind {kind!r}")


def same_answer(kind: str, got, want) -> bool:
    """Exact equality, except that scores compare within 1e-9 relative."""
    if kind not in ("keyword", "semantic"):
        return got == want
    return len(got) == len(want) and all(
        g[:2] == w[:2] and math.isclose(g[2], w[2], rel_tol=1e-9)
        for g, w in zip(got, want))
