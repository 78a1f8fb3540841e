"""The oracle-window order (queries/oracle_window.py) must keep its
contract: closures follow every path into package code, fingerprints are
reproducible across processes, the ledger only records green rows, and
the front of ``__spark_entry__.queries()`` is the SQL-oracled code that
most needs a driver row."""

from __future__ import annotations

import ast
import dataclasses
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from spark_ml_pipelines_example_spark.queries import oracle_window as ow
from spark_ml_pipelines_example_spark.queries.registry import REGISTRY, load_all

ROOT = Path(__file__).resolve().parents[1]

# the rewrites the round-12 driver window never checked
R12_UNCERTIFIED = (
    "q_scan_table_history",
    "q_scan_time_travel",
    "q_text_kneser_ney",
    "q_text_bigram_lm",
    "q_text_pmi_collocations",
    "q_stream_milestones",
    "q_stream_tws_map_state",
)


@pytest.fixture(scope="module")
def reg():
    return load_all()


@pytest.fixture(scope="module")
def ledger():
    return ow.load_ledger()


@pytest.fixture(scope="module")
def current(reg):
    return ow.closures(reg)


@pytest.fixture(scope="module")
def status(current, ledger):
    return ow.status(current, ledger)


@pytest.fixture(scope="module")
def ordered(reg):
    return list(ow.order(reg))


def test_closure_follows_local_imports_and_module_refs(reg):
    # q_stream_milestones reaches the v1 processor only through a
    # function-local `from ..streaming.jobs import ...`
    assert "streaming.jobs._spend_milestones_v1" in ow.closure(reg["q_stream_milestones"])["fns"]
    # q_win_ranking reaches the table loader through queries._util.t
    fns = ow.closure(reg["q_win_ranking"])["fns"]
    assert "sources.io.load_table" in fns and "queries._util.t" in fns
    # q_dedup_clusters builds its pair graph by calling the ngram-Jaccard
    # query, so that query's code and its loader are in its closure
    fns = ow.closure(reg["q_dedup_clusters"])["fns"]
    assert "queries.dedup.q_dedup_ngram_jaccard" in fns and "sources.io.load_table" in fns


def test_failed_local_import_reaches_nothing():
    """A package import that fails (say, a missing optional dependency)
    binds nothing: it must not break the walk, nor the entry import."""
    node = ast.parse("from .no_such_module import x").body[0]
    assert ow._import(node, "spark_ml_pipelines_example_spark.queries") == {}


def test_closures_ignore_runtime_state(reg, current):
    """Module globals hash by the source that assigns them, never by their
    value: a filled runtime cache or a reassigned global moves no digest,
    so the order does not depend on what already ran in the process."""
    from spark_ml_pipelines_example_spark.operators import _cache, similarity
    from spark_ml_pipelines_example_spark.sources import io

    read = {k for c in current.values() for k in c["consts"]}
    assert {"operators._cache._TRACKED", "operators.similarity._IVF_FIT",
            "sources.io._SCRATCH_ROOT"} <= read
    sentinel, root = object(), io._SCRATCH_ROOT
    try:
        _cache._TRACKED.append(sentinel)
        similarity._IVF_FIT["probe"] = (sentinel, [])
        io._SCRATCH_ROOT = root + "_elsewhere"
        assert ow.closures(reg) == current
    finally:
        _cache._TRACKED.remove(sentinel)
        similarity._IVF_FIT.pop("probe")
        io._SCRATCH_ROOT = root


def test_fingerprint_tracks_oracle_text(reg):
    spec = reg["q_tpch_q1"]
    cur = ow.closure(spec)
    assert ow.closure(dataclasses.replace(spec)) == cur
    edited = ow.closure(dataclasses.replace(spec, oracle=spec.oracle + " "))
    assert edited["oracle"] != cur["oracle"]
    assert {k: v for k, v in edited.items() if k != "oracle"} == {
        k: v for k, v in cur.items() if k != "oracle"
    }
    assert ow.closure(dataclasses.replace(spec, oracle=None))["oracle"] == "rows-only"


def test_fingerprints_independent_of_hash_seed():
    """Functions and globals hash by their source, never by a repr, so no
    digest may move with PYTHONHASHSEED (q_dedup_clusters reads a module
    dict whose repr would otherwise leak set order)."""
    code = (
        "import hashlib, json\n"
        "from spark_ml_pipelines_example_spark.queries import oracle_window as ow\n"
        "from spark_ml_pipelines_example_spark.queries.registry import load_all\n"
        "c = ow.closures(load_all())\n"
        "print(hashlib.sha1(json.dumps(c, sort_keys=True).encode()).hexdigest())\n"
    )
    out = []
    for seed in ("1", "2"):
        env = dict(os.environ, PYTHONHASHSEED=seed)
        out.append(
            subprocess.run(
                [sys.executable, "-c", code], cwd=ROOT, env=env,
                capture_output=True, text=True, check=True,
            ).stdout
        )
    assert out[0] == out[1] and len(out[0].strip()) == 40


def test_ledger_rounds_hold_green_rows(ledger):
    """Every ledger entry names a round whose committed artifact holds a
    green row for that query: the ledger records checks, never hopes."""
    assert ledger
    artifacts: dict[int, dict] = {}
    for name, entry in ledger.items():
        rnd = entry["round"]
        if rnd not in artifacts:
            artifacts[rnd] = json.loads((ROOT / f"CORRECTNESS_r{rnd:02d}.json").read_text())
        assert ow.green(artifacts[rnd].get(name)), (name, rnd)
        assert set(entry) == {"round", "oracle", "fns", "consts"}, name


def test_changed_digest_is_stale_not_tier0(reg, current):
    """A ledger whose rows saw an older load_table makes every query that
    reaches it stale; while one entry certifies today's load_table the
    code is not uncertified, so none is tier 0. Once no entry holds it,
    every reacher is tier 0."""
    synthetic = json.loads(json.dumps({n: {"round": 12, **c} for n, c in current.items()}))
    key = "sources.io.load_table"
    reachers = {n for n, e in synthetic.items() if key in e["fns"]}
    witness = "q_win_ranking"
    assert witness in reachers and len(reachers) < len(reg)
    for n in reachers - {witness}:
        synthetic[n]["fns"][key] = "0" * 16
    st = ow.status(current, synthetic)
    assert all(st[n] == (ow.STALE, 12) for n in reachers - {witness})
    assert st[witness] == (ow.FRESH, 12)
    assert all(st[n] == (ow.FRESH, 12) for n in set(reg) - reachers)

    synthetic[witness]["fns"][key] = "0" * 16
    st = ow.status(current, synthetic)
    assert all(st[n][0] == ow.TIER0 for n in reachers)
    # an edited oracle alone is stale, and a query with no entry is tier 0
    other = next(n for n in sorted(set(reg) - reachers) if reg[n].oracle)
    synthetic[other]["oracle"] = "0" * 16
    assert ow.status(current, synthetic)[other] == (ow.STALE, 12)
    del synthetic[other]
    assert ow.status(current, synthetic)[other] == (ow.TIER0, 0)


def test_rotation_is_a_permutation(ordered):
    assert set(ordered) == set(REGISTRY)
    assert len(ordered) == len(REGISTRY)


def test_rotation_deterministic(reg, ordered):
    # a fresh walk in registration order reversed gives the same order
    assert list(ow.order(dict(reversed(list(reg.items()))))) == ordered


def test_rotation_fronts_never_checked_sql(reg, status, ordered):
    """Every SQL-oracled query that reaches code no driver row has
    checked comes before every other query."""
    tier0 = [n for n in ordered if reg[n].oracle and status[n][0] == ow.TIER0]
    assert ordered[: len(tier0)] == tier0


def test_recert_rotation_selects_oldest_vintage_sql_only(reg, status, ordered):
    """Along the order: SQL-oracled before rows-only, then tier 0, stale,
    fresh, then oldest ledger round, then name."""
    keys = [(reg[n].oracle is None, *status[n], n) for n in ordered]
    assert keys == sorted(keys)


def test_recert_rotation_fills_driver_window(reg, status, ordered):
    """The ~50-name driver window holds only SQL-oracled queries (a
    rows-only row hashes nothing), and no fresh name takes a slot while a
    stale or tier-0 SQL name waits outside it."""
    window = ordered[:50]
    assert all(reg[n].oracle is not None for n in window)
    waiting = [n for n in ordered[50:] if reg[n].oracle and status[n][0] != ow.FRESH]
    if waiting:
        assert all(status[n][0] != ow.FRESH for n in window)


def test_uncertified_rewrites_land_in_window(status, ordered):
    """The entry module applies the order, and each round-12 rewrite the
    driver never checked sits in its first 50 names until a ledger row
    certifies its current code."""
    import __spark_entry__

    assert list(__spark_entry__.queries()) == ordered
    window = ordered[:50]
    missing = [
        n for n in R12_UNCERTIFIED if n not in window and status[n][0] != ow.FRESH
    ]
    assert not missing, f"uncertified rewrites outside the window: {missing}"


def test_recert_rotation_advances_on_fresh_row(reg):
    """A fresh row for one of two equally old names moves it behind the
    other; recording it in a newer round is all it takes. An errored,
    mismatched or empty row certifies nothing."""
    a, b = "q_agg_argmax", "q_agg_bool"
    sub = {n: reg[n] for n in (a, b)}
    current = ow.closures(sub)
    ok = {"hash_match": True, "err": None}
    ledger: dict = {}
    assert ow.record(ledger, current, {a: ok, b: ok}, 1) == 2
    assert list(ow.order(sub, ledger)) == [a, b]  # same round -> name
    for row in (
        {"hash_match": False, "err": "Traceback ..."},
        {"hash_match": True, "err": "x"},
        {"hash_match": False, "err": None},
        {"err": "no_oracle", "spark_rows": None},
        None,
    ):
        assert ow.record(ledger, current, {a: row}, 10) == 0, row
    assert ledger[a]["round"] == 1
    assert ow.record(ledger, current, {a: ok}, 10) == 1
    assert list(ow.order(sub, ledger)) == [b, a]
    # a rows-only run that returned rows is green too
    assert ow.record(ledger, current, {b: {"err": "no_oracle", "spark_rows": 3}}, 11) == 1


def test_rows_only_row_contract_complete():
    """VERDICT r5 #8: the pinned row-count contract covers EXACTLY the
    rows-only queries (a new rows-only query must declare its range; a
    rows-only -> SQL upgrade must retire its entry), and every driver-
    recorded rows-only count in the committed artifacts lands in range."""
    import json
    from pathlib import Path

    from spark_ml_pipelines_example_spark.queries.registry import (
        ROWS_ONLY_ROW_CONTRACT,
    )

    full = load_all()
    rows_only = {n for n, s in full.items() if s.oracle is None}
    assert set(ROWS_ONLY_ROW_CONTRACT) == rows_only
    root = Path(__file__).resolve().parents[1]
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        for name, row in json.loads(p.read_text()).items():
            if (
                name in ROWS_ONLY_ROW_CONTRACT
                and isinstance(row, dict)
                and row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
                and full[name].oracle is None  # still rows-only today
            ):
                lo, hi = ROWS_ONLY_ROW_CONTRACT[name]
                assert lo <= row["spark_rows"] <= hi, (name, p.name, row)
