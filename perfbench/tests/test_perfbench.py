"""Self-tests of the benchmark's own logic; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from perfbench import gen, stats  # noqa: E402
from perfbench.spans import Span, Tracer, self_times  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- generators -------------------------------------------------------------


def test_bronze_document_is_deterministic_per_seed():
    a, b = gen.bronze_document(7, 400), gen.bronze_document(7, 400)
    assert json.dumps(a) == json.dumps(b)
    assert json.dumps(a) != json.dumps(gen.bronze_document(8, 400))


def test_star_tables_are_deterministic_per_seed(tmp_path):
    import pyarrow.parquet as pq

    rows = gen.write_star_tables(str(tmp_path / "a"), 3, 0.001)
    gen.write_star_tables(str(tmp_path / "b"), 3, 0.001)
    gen.write_star_tables(str(tmp_path / "c"), 4, 0.001)
    for name in rows:
        a = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet")), name
    assert not pq.read_table(tmp_path / "a" / "lineitem.parquet").equals(
        pq.read_table(tmp_path / "c" / "lineitem.parquet")
    )
    assert rows["lineitem"] == 6000 and rows["embeddings"] == 500


def test_bronze_mix_has_revisions_invalid_and_other_types():
    doc = gen.bronze_document(1, 5000)
    feats = doc["features"]
    ids = [f["id"] for f in feats]
    revisions = len(ids) - len(set(ids))
    invalid = sum(not gen._valid(f) for f in feats)
    other = sum(f["properties"]["type"] != "earthquake" for f in feats)
    assert 0.07 < revisions / len(feats) < 0.13
    assert 0.003 < invalid / len(feats) < 0.02
    assert 0.03 < other / len(feats) < 0.08


def test_expected_medallion_latest_wins():
    doc = {
        "features": [
            _feature("a", 1000, 5.0),
            _feature("a", 3000, 6.0),
            _feature("a", 2000, 7.0),
            _feature("b", 1000, 12.0),  # invalid magnitude: dropped
            _feature("c", 1000, 4.0, ftype="explosion"),
        ]
    }
    batches = [[("a", 2500, 9.9), ("c", 1500, 4.5)], [("c", 1400, 4.4)]]
    exp = gen.expected_medallion(doc, batches)
    assert exp["n_flattened"] == 5 and exp["n_valid"] == 4
    assert exp["silver_rows"] == 2 and exp["ml_rows"] == 1
    # a keeps its silver revision (2500 < 3000); c takes batch 0 (1500 > 1400)
    assert exp["upsert_checksum"] == gen.upsert_checksum([("a", 3000, 6.0), ("c", 1500, 4.5)])
    assert exp["upsert_rows"] == 2


def _feature(fid, updated, mag, ftype="earthquake"):
    return {
        "id": fid,
        "properties": {"updated": updated, "time": 0, "mag": mag, "type": ftype},
        "geometry": {"coordinates": [10.0, 10.0, 5.0]},
    }


def test_revision_batches_never_tie_with_silver():
    doc = gen.bronze_document(5, 1000)
    silver = gen.silver_latest(doc)
    for batch in gen.revision_batches(5, silver, 3):
        for eid, upd, _mag in batch:
            assert upd != silver[eid][0]


def test_upsert_checksum_is_order_insensitive():
    rows = [("x", 1, 2.5), ("y", 2, 3.5)]
    assert gen.upsert_checksum(rows) == gen.upsert_checksum(rows[::-1])
    assert gen.upsert_checksum(rows) != gen.upsert_checksum([("x", 1, 2.5), ("y", 2, 3.6)])


# -- statistics -------------------------------------------------------------


@pytest.mark.parametrize(
    "n, p", [(10, None), (11, 9), (20, 50), (22, 54), (100, 90), (1000, 99), (2000, 99)]
)
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        xs = list(range(n))
        v = stats.percentile(xs, p)
        assert sum(x > v for x in xs) == n - stats.rank(p, n) >= stats.TAIL_BEYOND
        # the next percentile up would leave fewer than ten beyond
        if p < 100:
            assert n * (1 - (p + 1) / 100) < stats.TAIL_BEYOND


def test_tail_reports_max_when_too_few_samples():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, None, 3)


# -- spans ------------------------------------------------------------------


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("root", 0.0, 10.0, None, "op"),
        Span("a", 1.0, 4.0, 0, "op"),
        Span("a.x", 2.0, 3.0, 1, "op"),
        Span("b", 3.5, 6.0, 0, "op"),  # overlaps a: union is 1.0-6.0
        Span("c", 8.0, 9.0, 0, "op"),
    ]
    assert self_times(spans) == pytest.approx([4.0, 2.0, 1.0, 2.5, 1.0])


def test_self_time_of_a_tail_slice_uses_full_list_parents():
    spans = [
        Span("old", 0.0, 1.0, None, "op0"),
        Span("root", 2.0, 6.0, None, "op1"),
        Span("child", 3.0, 5.0, 1, "op1"),
    ]
    assert self_times(spans[1:], 1) == pytest.approx([2.0, 2.0])


def test_tracer_nests_and_restores_wrapped_functions():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    tr = Tracer()
    tr.op = "q"
    tr.install(mod, "f", "layer.f")
    with tr.span("outer"):
        assert mod.f(1) == 2
    tr.uninstall()
    assert mod.f.__name__ == "<lambda>"
    outer, inner = tr.spans
    assert inner.parent == 0 and outer.parent is None
    assert tr.groups("q") == {"q|outer": "outer", "q|layer.f": "layer.f"}


# -- BENCHMARK.json ---------------------------------------------------------


_NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_metric_names_are_well_formed_and_unique():
    b = _bench_json()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert _NAME.fullmatch(n) and len(n) <= 64, n


def test_benchmark_json_limits():
    b = _bench_json()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(b["workloads"]) <= 8
    assert 1 <= len(b["end_to_end"]) <= 16
    assert 1 <= len(b["per_layer"]) <= 128
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60


def _dict_keys_assigned(func: str, var: str) -> set[str]:
    """String keys of the dict literal that ``func`` in run.py assigns to ``var``."""
    import ast

    tree = ast.parse(open(os.path.join(REPO, "perfbench", "run.py")).read())
    fn = next(n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef) and n.name == func)
    (value,) = [
        n.value
        for n in ast.walk(fn)
        if isinstance(n, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == var for t in n.targets)
        and isinstance(n.value, ast.Dict)
    ]
    return {k.value for k in value.keys if isinstance(k, ast.Constant)} | (
        {None} if any(k is None for k in value.keys) else set()  # a ** spread would hide names
    )


def test_run_reports_exactly_the_declared_metrics():
    """The metrics run.py emits are exactly those BENCHMARK.json declares:
    ``record``'s ``e2e`` dict with --trace 0, ``per_layer``'s ``m`` dict
    with --trace 1."""
    b = _bench_json()
    assert _dict_keys_assigned("record", "e2e") == {m["name"] for m in b["end_to_end"]}
    assert _dict_keys_assigned("per_layer", "m") == {m["name"] for m in b["per_layer"]}
