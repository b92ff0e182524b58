"""The bounded local solve (operators/local_solve.py): each operator that
uses it returns the same rows AND the same column types on its local and
its distributed path, for every input the distributed path accepts."""

import pathlib
import re

import pytest

from tilekiln_spark.operators import local_solve
from tilekiln_spark.operators.dedup import connected_components
from tilekiln_spark.operators.graph import label_propagation
from tilekiln_spark.operators.packing import pack_sequences
from tilekiln_spark.operators.raster import flow_accumulation


def run_logged(monkeypatch, log, build, cap=None):
    """Run ``build()`` (a DataFrame) with ``MAX_LOCAL_ROWS`` set to ``cap``
    (unchanged when None); return (dtypes, sorted rows, the decisions it
    logged)."""
    if cap is not None:
        monkeypatch.setattr(local_solve, "MAX_LOCAL_ROWS", cap)
    seen = len(log())
    df = build()
    rows = sorted((tuple(r) for r in df.collect()), key=repr)
    return df.dtypes, rows, log()[seen:]


def _cc(spark, rows, ddl="key_a long, key_b long"):
    return lambda: connected_components(spark.createDataFrame(rows, ddl))


def _lpa(spark, rows, ddl="src long, dst long"):
    return lambda: label_propagation(spark.createDataFrame(rows, ddl), rounds=2)


def _flow(spark, rows):
    ddl = "x int, y int, bin_x int, bin_y int, n long"
    return lambda: flow_accumulation(spark.createDataFrame(rows, ddl), res=4)


def _pack(spark, rows, ddl="doc_id long, n long"):
    return lambda: pack_sequences(spark.createDataFrame(rows, ddl), 8, "n")


_GRAPH = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (7, 8), (8, 9), (9, 7)]
_BOWL = [(0, 0, bx, by, (bx - 2) ** 2 + (by - 1) ** 2 + (bx * 3 + by) % 2)
         for bx in range(4) for by in range(4)]
_DOCS = [(3, 5), (1, 10), (2, 0), (4, 7), (5, 9)]

CASES = {
    "cc-long": lambda s: _cc(s, _GRAPH),
    "cc-int": lambda s: _cc(s, _GRAPH, "key_a int, key_b int"),
    "cc-null-keys": lambda s: _cc(s, _GRAPH + [(None, 1), (2, None), (None, None)]),
    "cc-duplicates": lambda s: _cc(s, _GRAPH + _GRAPH + [(2, 1)]),
    "cc-empty": lambda s: _cc(s, []),
    "lpa-long": lambda s: _lpa(s, _GRAPH),
    "lpa-int": lambda s: _lpa(s, _GRAPH, "src int, dst int"),
    "lpa-string": lambda s: _lpa(
        s, [(f"n{a}", f"n{b}") for a, b in _GRAPH], "src string, dst string"
    ),
    "lpa-null-ids": lambda s: _lpa(s, _GRAPH + [(None, 1), (None, None)]),
    "lpa-duplicates": lambda s: _lpa(s, _GRAPH + [(b, a) for a, b in _GRAPH]),
    "lpa-empty": lambda s: _lpa(s, []),
    "flow-bowl": lambda s: _flow(s, _BOWL),
    "flow-duplicate-cells": lambda s: _flow(s, _BOWL + _BOWL[:5]),
    "flow-null-coords": lambda s: _flow(s, _BOWL + [(0, 0, None, 2, 9)]),
    "flow-empty": lambda s: _flow(s, []),
    "pack-long": lambda s: _pack(s, _DOCS),
    "pack-int": lambda s: _pack(s, _DOCS, "doc_id int, n int"),
    "pack-string-keys": lambda s: _pack(
        s, [(f"d{k}", n) for k, n in _DOCS], "doc_id string, n long"
    ),
    "pack-null-lengths": lambda s: _pack(s, _DOCS + [(6, None), (7, 3)]),
    "pack-null-keys": lambda s: _pack(s, _DOCS + [(None, 4)]),
    "pack-duplicate-keys": lambda s: _pack(s, _DOCS + [(3, 2), (3, 5)]),
    "pack-empty": lambda s: _pack(s, []),
}

# inputs the local kernels cannot take: they must fall through
_DISTRIBUTED_ONLY = {
    "lpa-string", "flow-null-coords", "pack-string-keys",
    "pack-null-lengths", "pack-null-keys",
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_equals_distributed(spark, monkeypatch, local_solve_log, case):
    build = CASES[case](spark)
    types, rows, decisions = run_logged(monkeypatch, local_solve_log, build)
    want = "distributed" if case in _DISTRIBUTED_ONLY else "local"
    assert [d["path"] for d in decisions] == [want]
    d_types, d_rows, d_decisions = run_logged(monkeypatch, local_solve_log, build, cap=-1)
    assert [d["path"] for d in d_decisions] == ["distributed"]
    assert types == d_types
    assert rows == d_rows


@pytest.mark.parametrize("case", ["cc-long", "lpa-int", "flow-bowl", "pack-int"])
def test_count_at_cap_stays_local(spark, monkeypatch, local_solve_log, case):
    build = CASES[case](spark)
    _, _, decisions = run_logged(monkeypatch, local_solve_log, build)
    n = decisions[0]["count"]
    out = {}
    for cap, path in ((n, "local"), (n - 1, "distributed")):
        types, rows, got = run_logged(monkeypatch, local_solve_log, build, cap=cap)
        assert [(d["path"], d["count"], d["cap"]) for d in got] == [(path, n, cap)]
        out[path] = (types, rows)
    assert out["local"] == out["distributed"]


def test_bpe_train_logs_its_gate(spark, local_solve_log):
    from tilekiln_spark.functions.bpe import LOCAL_WORDS, bpe_train

    df = spark.createDataFrame([("low lower lowest",)], "text string")
    bpe_train(df, num_merges=1, v_words=100)
    assert local_solve_log() == [
        {"op": "bpe_train", "path": "local", "count": 100, "cap": LOCAL_WORDS}
    ]


def test_package_writes_no_session_conf():
    # operators share one session with concurrent pipeline jobs: none of
    # them may set, unset or depend on toggling session-global conf
    root = pathlib.Path(local_solve.__file__).resolve().parents[1]
    bad = re.compile(r"spark\.conf\.set\(|conf\.unset\(|arrow\.pyspark\.enabled")
    hits = [
        f"{p.relative_to(root.parent)}:{i}: {line.strip()}"
        for p in sorted(root.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if bad.search(line)
    ]
    assert hits == []
