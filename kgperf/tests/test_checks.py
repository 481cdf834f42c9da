"""The benchmark's checkers catch planted wrong answers, and its inputs
follow the seed. No Spark session is started: catalogs are written
directly as parquet plus the catalog's manifest."""
from __future__ import annotations

import itertools
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from askg_spark.fixtures import _rows_for_server
from kgperf import evlog, oracles, serve

N, SEED = 6, 7


def write_table(root: str, table: str, rows: list[dict], schema: pa.Schema) -> None:
    snap = os.path.join(root, table, "snap-000001")
    os.makedirs(snap)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   os.path.join(snap, "part-0.parquet"))
    with open(os.path.join(root, table, "manifest.json"), "w") as fh:
        json.dump({"table": table, "current": 1, "snapshots": [
            {"id": 1, "path": snap, "ts": 0.0, "properties": {}}]}, fh)


TRIPLES = pa.schema([("subj", pa.string()), ("pred", pa.string()), ("obj", pa.string())])
ENTITIES = pa.schema([("id", pa.string()), ("name", pa.string()),
                      ("author", pa.string()), ("description", pa.string()),
                      ("categories", pa.list_(pa.string())),
                      ("operations", pa.list_(pa.string())),
                      ("popularity_score", pa.int64()),
                      ("member_urls", pa.list_(pa.string()))])
REJECTS = pa.schema([("url", pa.string())])


@pytest.fixture(scope="module")
def reference():
    from tests.ref_oracle import oracle_triples

    return oracle_triples(N, SEED)


def write_catalog(root, triples, entities, rejects=()):
    write_table(root, "triples",
                [dict(zip(("subj", "pred", "obj"), t)) for t in triples], TRIPLES)
    write_table(root, "entities", [
        {"id": e["id"], "name": e.get("name"), "author": e.get("author"),
         "description": e.get("description"),
         "categories": e.get("categories"), "operations": e.get("operations"),
         "popularity_score": e.get("popularity_score"),
         "member_urls": e["member_urls"]} for e in entities], ENTITIES)
    write_table(root, "rejects", [{"url": u} for u in rejects], REJECTS)
    return root


def test_ref_oracle_check_passes_on_the_reference_and_catches_a_dropped_triple(
        tmp_path, reference):
    triples, entities = reference
    ok = write_catalog(str(tmp_path / "ok"), sorted(triples), entities)
    assert oracles.check_against_ref_oracle(ok, N, SEED) == []
    dropped = write_catalog(str(tmp_path / "bad"), sorted(triples)[1:], entities)
    problems = oracles.check_against_ref_oracle(dropped, N, SEED)
    assert len(problems) == 1 and "1 missing" in problems[0]


def test_registry_checks_catch_planted_structure_errors(tmp_path):
    truth = oracles.registry_truth(N, SEED)
    members = sorted(truth["members"])
    ents = [{"id": f"e{i}", "member_urls": [u]} for i, u in enumerate(members)]
    good = [("e0", "HAS_TOOL", "t"), ("e0", "HAS_TOOL", "u")]
    ok = write_catalog(str(tmp_path / "ok"), good, ents, truth["rejects"])
    assert oracles.check_registry_build(ok, N, SEED) == []

    noise = sorted(truth["noise"])[0]
    planted = {
        "dup": (good + good[:1], ents, truth["rejects"]),
        "shared": (good, ents + [{"id": "x", "member_urls": members[:1]}], truth["rejects"]),
        "noise": (good, ents + [{"id": "x", "member_urls": [noise]}], truth["rejects"]),
        "lost": (good, ents[1:], truth["rejects"]),
        "unquarantined": (good, ents, sorted(truth["rejects"])[1:]),
    }
    for name, (t, e, r) in planted.items():
        root = write_catalog(str(tmp_path / name), t, e, r)
        assert oracles.check_registry_build(root, N, SEED), name


def test_triples_mismatch_counts_both_directions(tmp_path):
    ents = [{"id": "a", "member_urls": []}]
    a = write_catalog(str(tmp_path / "a"), [("a", "p", "b"), ("a", "p", "c")], ents)
    b = write_catalog(str(tmp_path / "b"), [("a", "p", "b"), ("a", "p", "d")], ents)
    assert oracles.triples_mismatch(a, a) == 0
    assert oracles.triples_mismatch(a, b) == 2


def test_serve_oracle_answers_and_catches_a_wrong_top_k_row(tmp_path):
    ents = [
        {"id": "a", "name": "orbit-hub", "author": "x", "description": "ai model",
         "categories": ["ai_ml"], "operations": ["read"], "popularity_score": 5,
         "member_urls": ["u1"]},
        {"id": "b", "name": "raven-kit", "author": "x", "description": "orbit storage",
         "categories": ["file_system"], "operations": ["read", "write"],
         "popularity_score": None, "member_urls": ["u2"]},
        {"id": "c", "name": "cobalt", "author": "y", "description": None,
         "categories": None, "operations": None, "popularity_score": 1,
         "member_urls": ["u3"]},
    ]
    triples = [("a", "same_author", "b"), ("a", "similar_functionality", "c"),
               ("b", "similar_functionality", "c")]
    root = write_catalog(str(tmp_path / "c"), triples, ents)
    o = oracles.ServeOracle(root)
    try:
        kw = o.answer("keyword", {"term": "Orbit"})
        # any positive popularity scores above zero, so "c" ranks last
        assert [r[:2] for r in kw] == [("a", "orbit-hub"), ("b", "raven-kit"),
                                       ("c", "cobalt")]
        assert [r[2] for r in kw] == pytest.approx([10.005, 8.0, 0.001])
        sem = o.answer("semantic", {"prompt": "read ai model"})
        assert [r[0] for r in sem] == ["a", "b", "c"]
        assert o.answer("hop1", {"id": "c", "pred": "similar_functionality"}) == (2, ("a", "b"))
        assert o.answer("hop2", {"id": "a", "preds": ("same_author",
                                                      "similar_functionality")}) == (1, ("c",))
        assert o.answer("lookup", {"id": "c"})[0][:3] == ("c", "cobalt", "y")
    finally:
        o.close()
    assert oracles.same_answer("keyword", kw, [tuple(r) for r in kw])
    wrong_row = [kw[0], ("c", "cobalt", kw[1][2])]
    assert not oracles.same_answer("keyword", kw, wrong_row)
    assert not oracles.same_answer("keyword", kw, [kw[0], kw[1][:2] + (8.5,)])
    assert not oracles.same_answer("hop1", (2, ("a", "b")), (2, ("a", "c")))


def test_digest_prefixes_cell_lengths_and_ignores_row_order():
    assert oracles.digest([("a", "bc")]) != oracles.digest([("ab", "c")])
    assert oracles.digest([("a|b",)]) != oracles.digest([("a", "b")])
    assert oracles.digest([(1, "x"), (2, "y")]) == oracles.digest([(2, "y"), (1, "x")])


def test_seed_changes_the_inputs_and_repeats_them():
    def pages(seed):
        return [r[:1] + r[2:] for k in range(N) for r in _rows_for_server(seed, k)]

    assert pages(SEED) == pages(SEED)
    assert pages(SEED) != pages(SEED + 1)
    ids = [f"id{i}" for i in range(50)]

    def stream(seed):
        return list(itertools.islice(serve.requests(seed, ids), 40))

    assert stream(3) == stream(3)
    assert stream(3) != stream(4)

    def mix(seed):  # kinds and graph predicates do not depend on the seed
        return [(k, p.get("pred"), p.get("preds")) for k, p in stream(seed)]

    assert mix(3) == mix(4)


def test_event_log_groups_stages_by_their_first_job(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "extract"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "linking"}},
    ]
    for sid, ms in ((0, 30), (0, 10), (1, 5), (2, 40)):
        events.append({"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                       "Task Info": {"Launch Time": 100, "Finish Time": 100 + ms},
                       "Task Metrics": {"Disk Bytes Spilled": 1,
                                        "Shuffle Write Metrics": {"Shuffle Bytes Written": 2},
                                        "Input Metrics": {"Records Read": 3}}})
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = evlog.read_groups(str(path))
    assert groups["extract"].task_ms == 45 and groups["linking"].task_ms == 40
    assert groups["extract"].max_task_share == pytest.approx(30 / 40)
    assert groups["extract"].records_read == 9 and groups["extract"].spill_bytes == 3
    assert evlog.app_log(str(tmp_path)) == str(path)


def test_stop_descendants_ends_an_orphaned_grandchild():
    """A grandchild whose parent has exited (as a Spark Python daemon
    outlives its JVM) is re-parented to the run and stopped by it."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    code = (
        "import subprocess, time\n"
        "from kgperf import host\n"
        "host.adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & exit 0'], check=True)\n"
        "time.sleep(0.2)\n"
        "before = len(host.tree_pids()) - 1\n"
        "host.stop_descendants()\n"
        "print(before, len(host.tree_pids()) - 1)\n"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=root, capture_output=True,
                         text=True, timeout=60, check=True).stdout.split()
    assert out == ["1", "0"]
