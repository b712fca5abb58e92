"""Registry/driver-contract hygiene: invariants the round driver
depends on, enforced so future additions can't silently break them."""

from __future__ import annotations

import re

import pytest

from walden_spark.registry import load_all


def test_every_query_documented_and_categorized():
    reg = load_all()
    for name, q in reg.items():
        assert q.doc, f"{name} has no docstring"
        assert q.category, f"{name} has no category"
        assert re.fullmatch(r"[a-z0-9_]+", name), f"{name} is not a clean identifier"


def test_oracle_sql_targets_fixture_views_only():
    """Driver oracles may only reference the 10 pre-registered fixture
    views (TPC-DS tables live behind rows-only entries by design)."""
    fixture_tables = {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    tpcds_tables = {"date_dim", "item", "store", "store_sales", "store_returns", "web_sales"}
    reg = load_all()
    for name, q in reg.items():
        if not q.oracle:
            continue
        used = set(re.findall(r"\bFROM\s+([a-z_][a-z0-9_]*)", q.oracle, re.IGNORECASE))
        used |= set(re.findall(r"\bJOIN\s+([a-z_][a-z0-9_]*)", q.oracle, re.IGNORECASE))
        bad = (used & tpcds_tables) - fixture_tables
        assert not bad, f"{name} oracle references driver-unavailable tables: {bad}"


def test_driver_window_spans_every_family():
    """The driver hash-checks only the first 50 registry entries; that
    prefix must (a) be exactly the curated DRIVER_WINDOW, (b) cover
    every category in the registry except tpcds (rows-only by design,
    its tables aren't driver views), and (c) be fully oracle-backed so
    every checked row is a hash check, not rows-only."""
    from walden_spark.registry import DRIVER_WINDOW

    reg = load_all()
    assert len(DRIVER_WINDOW) == 50
    first50 = list(reg)[:50]
    assert first50 == list(DRIVER_WINDOW)

    all_cats = {q.category for q in reg.values()}
    window_cats = {reg[n].category for n in DRIVER_WINDOW}
    assert all_cats - window_cats <= {"tpcds"}, (
        f"families missing from driver window: {all_cats - window_cats}"
    )
    no_oracle = [n for n in DRIVER_WINDOW if not reg[n].oracle]
    assert not no_oracle, f"driver-window queries without oracle: {no_oracle}"


def test_driver_window_emits_hashable_types(spark, sf_dir):
    """The driver canonicalizer sort_values a pandas frame of the output;
    cells that are Python lists/dicts make pandas factorize throw
    (r04: fn_array/fn_map ERR'd this way). Nothing in the hash-checked
    window may emit nested (array/map/struct) columns — queries must
    serialize them (concat_ws / to_json) before emission."""
    from pyspark.sql import types as T

    from walden_spark.registry import DRIVER_WINDOW

    reg = load_all()
    bad = {}
    for name in DRIVER_WINDOW:
        schema = reg[name].fn(spark, sf_dir).schema
        nested = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if nested:
            bad[name] = nested
    assert not bad, f"driver-window queries emit nested-typed columns: {bad}"


def test_load_all_is_idempotent_pure():
    """VERDICT r11 #8: load_all() must not mutate/reorder the global
    REGISTRY in place — a second call in one process (e.g. after a
    partial import) must return the identical ordering, and the two
    results must be independent dicts."""
    from walden_spark import registry as regmod

    first = load_all()
    before = list(regmod.REGISTRY)
    second = load_all()
    after = list(regmod.REGISTRY)
    assert list(first) == list(second)
    assert before == after  # global untouched between calls
    assert first is not second  # fresh dict, not the shared global
    assert first is not regmod.REGISTRY and second is not regmod.REGISTRY


def test_rotation_queue_cannot_drift():
    """VERDICT r06 #7 / r07 / r08 #2: the rotation guard is derived
    from the recorded CORRECTNESS files and round-boundary-aware; the
    three-state logic lives in tools/rotation_queue.py
    (window_guard_violations) so each arm is unit-testable against
    synthetic correctness files (negative tests below)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from rotation_queue import window_guard_violations

    from walden_spark.registry import (
        DRIVER_WINDOW,
        DRIVER_WINDOW_BODY_CHANGED,
        DRIVER_WINDOW_ROUND,
    )

    assert (
        window_guard_violations(
            DRIVER_WINDOW,
            DRIVER_WINDOW_ROUND,
            body_changed=DRIVER_WINDOW_BODY_CHANGED,
        )
        == []
    )


def test_rotation_guard_boundary_rejects_hash_mismatch(tmp_path):
    """VERDICT r08 #2 (negative test): a window entry that is err-free
    but hash-mismatched must FAIL the boundary arm — merely err-free
    was the r08 loophole the guard exists to catch."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from rotation_queue import window_guard_violations

    synthetic = {
        "good_q": {"rows_match": True, "schema_match": True,
                   "hash_match": True, "err": None},
        "bad_q": {"rows_match": True, "schema_match": True,
                  "hash_match": False, "err": None},
    }
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps(synthetic))

    v = window_guard_violations(("good_q", "bad_q"), 99, str(tmp_path))
    assert v and "bad_q" in v[0] and "'good_q'" not in v[0]
    # fully-green window passes the same boundary
    assert window_guard_violations(("good_q",), 99, str(tmp_path)) == []
    # a window name absent from the round's file is equally red
    assert window_guard_violations(("missing_q",), 99, str(tmp_path))
    # stale window (more than one rotation behind) hard-fails
    assert window_guard_violations(("good_q",), 98, str(tmp_path))


def test_stalest_witness_is_derived_and_drained():
    """VERDICT r13 "What's wrong" #1: the round notes hand-wrote
    "stalest witness is r06" while win_groups_frame_partitioned's true
    latest full-green witness was r05. The claim is now derived
    (tools/rotation_queue.py::stalest_witness) and the mid-round guard
    arm requires the stalest-tied names inside a freshly cut window —
    assert both directly here against the live history."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from rotation_queue import stalest_witness

    from walden_spark.registry import (
        DRIVER_WINDOW,
        DRIVER_WINDOW_BODY_CHANGED,
        DRIVER_WINDOW_ROUND,
    )

    stale_round, stale_names = stalest_witness()
    newest = max(
        int(f.rsplit("_r", 1)[1].split(".")[0])
        for f in os.listdir(os.path.join(os.path.dirname(__file__), ".."))
        if f.startswith("CORRECTNESS_r") and f.endswith(".json")
    )
    if DRIVER_WINDOW_ROUND > newest:
        # Mid-round: the freshly cut window must be draining the tail
        # with whatever budget the body-changed-first policy leaves
        # (VERDICT r14 #1): every free slot (not body-changed) is
        # either a stale-tail name or its category's sole window
        # representative — the drain cannot be starved by fresh
        # favorites in already-covered families.
        reg = load_all()
        from collections import Counter

        cat_counts = Counter(reg[n].category for n in DRIVER_WINDOW)
        undrained = [
            n
            for n in stale_names
            if n not in DRIVER_WINDOW and n not in DRIVER_WINDOW_BODY_CHANGED
        ]
        offenders = [
            n
            for n in DRIVER_WINDOW
            if n not in DRIVER_WINDOW_BODY_CHANGED
            and n not in stale_names
            and cat_counts[reg[n].category] > 1
        ]
        assert not (undrained and offenders), (
            f"window cut for r{DRIVER_WINDOW_ROUND} spends free slots on "
            f"{offenders} while the r{stale_round:02d} stale tail queues: "
            f"{undrained}"
        )


def test_body_changed_policy_covered():
    """VERDICT r14 #1: "body changed this round ⇒ in next round's
    driver window, staleness second". Two assertions:

    (a) every curated DRIVER_WINDOW_BODY_CHANGED name is in the window
        (the curated list is the authority for what really changed);
    (b) every def that CHANGED since the previous round's handover
        commit (git+AST tripwire, tools/rotation_queue.py::
        body_changed_queries) implicates at least one window query —
        so no rewrite can ship without a driver-ground-truth witness
        exercising it. The tripwire is deliberately over-approximate
        (a changed def reachable-but-not-called still implicates), so
        it demands a witness PER CHANGED DEF, not per implicated query
        — 67 statically-implicated queries cannot all fit a 50-slot
        window, but every changed def can and must be witnessed."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from rotation_queue import body_changed_queries

    from walden_spark.registry import DRIVER_WINDOW, DRIVER_WINDOW_BODY_CHANGED

    missing = [n for n in DRIVER_WINDOW_BODY_CHANGED if n not in DRIVER_WINDOW]
    assert not missing, f"curated body-changed names not in window: {missing}"

    derived = body_changed_queries()
    unwitnessed: dict[str, list[str]] = {}
    for qname, defs in derived.items():
        if qname in DRIVER_WINDOW:
            continue
        for d in defs:
            if not any(
                d in derived.get(w, ()) for w in DRIVER_WINDOW
            ):
                unwitnessed.setdefault(d, []).append(qname)
    assert not unwitnessed, (
        f"changed defs with NO driver-window witness: {unwitnessed}"
    )


def test_entry_schema_stable(spark):
    """The driver smoke-checks entry() for a stable schema — two builds
    must agree exactly."""
    import __spark_entry__ as e

    s1 = e.entry(spark).schema
    s2 = e.entry(spark).schema
    assert s1 == s2


def test_queries_and_oracles_consistent():
    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    assert set(osql) <= set(qs)
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and s.strip() for s in osql.values())


def test_changed_def_names_fails_loud_on_a_failed_diff():
    """A git diff that fails must not read as "nothing changed" — that
    would let the body-changed guard above pass vacuously."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from rotation_queue import changed_def_names

    with pytest.raises(RuntimeError, match="git diff"):
        changed_def_names(ref="no-such-ref-" + "0" * 8)
