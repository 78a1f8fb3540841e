#!/usr/bin/env python
"""Round-close ledger step: refresh tools/oracle_ledger.json.

The oracle-window order (queries/oracle_window.py) compares each query's
current code closure with the closure its last green driver row checked.
This tool takes the newest committed CORRECTNESS_rNN.json and, for every
query with a green row in it, records round NN and the query's closure as
it stands NOW.

Run it exactly at round close, right after the external driver has
checked the current code, so "current closure" and "closure as checked"
coincide. Entries for queries without a green row in the newest artifact
are left untouched: their code may have changed since their row, and
overwriting them would forge freshness.

Usage: python tools/record_fingerprints.py
"""
from __future__ import annotations

import collections
import json
import re
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from spark_ml_pipelines_example_spark.queries import oracle_window  # noqa: E402
from spark_ml_pipelines_example_spark.queries.registry import load_all  # noqa: E402


def main() -> None:
    artifacts = sorted(ROOT.glob("CORRECTNESS_r*.json"))  # rNN is zero-padded
    if not artifacts:
        print("no CORRECTNESS_r*.json artifacts; nothing to record")
        return
    newest = artifacts[-1]
    rnd = int(re.search(r"r(\d+)", newest.name).group(1))
    registry = load_all()
    ledger = oracle_window.load_ledger()

    t0 = time.perf_counter()
    current = oracle_window.closures(registry)
    walk_s = time.perf_counter() - t0
    updated = oracle_window.record(ledger, current, json.loads(newest.read_text()), rnd)
    oracle_window.write_ledger(ledger)

    tiers = collections.Counter(t for t, _ in oracle_window.status(current, ledger).values())
    print(
        f"{newest.name}: {updated} ledger entries updated, {len(ledger)} in total; "
        f"tier 0 {tiers[oracle_window.TIER0]}, stale {tiers[oracle_window.STALE]}, "
        f"fresh {tiers[oracle_window.FRESH]} (closure walk {walk_s:.1f} s)"
    )

if __name__ == "__main__":
    main()
