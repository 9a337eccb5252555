"""Driver-contract rotation: the fingerprint ledger must auto-queue any
entry whose oracle SQL or corpus function changed after its last green
driver certification (r6 verdict item #5 — the hand-maintained changed
list depended on the builder remembering every semantics-changing fix;
this makes the tier mechanical).

No Spark session needed: the rotation operates on the registry + the
recorded CORRECTNESS_r*.json history + tools/oracle_ledger.json.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry  # noqa: E402
from datafusion_ballista_python_spark.corpus import (  # noqa: E402
    QuerySpec,
    entry_fingerprint,
    load_all,
)


def test_fingerprint_covers_oracle_and_source():
    def fn_a(spark, sf_dir):
        return None

    def fn_b(spark, sf_dir):  # different source
        return 1

    base = entry_fingerprint(QuerySpec("x", fn_a, "SELECT 1"))
    assert base == entry_fingerprint(QuerySpec("x", fn_a, "SELECT 1"))
    # an oracle edit changes the fingerprint
    assert base != entry_fingerprint(QuerySpec("x", fn_a, "SELECT 2"))
    # a corpus-function edit changes the fingerprint
    assert base != entry_fingerprint(QuerySpec("x", fn_b, "SELECT 1"))


def test_corpus_names_register_once(monkeypatch):
    """A duplicate ``@query`` name raises instead of shadowing the entry
    registered before it, and the shipped corpus has no duplicates."""
    from datafusion_ballista_python_spark import corpus

    assert len(load_all()) == 237
    monkeypatch.setattr(corpus, "REGISTRY", {})
    corpus.query("x")(lambda spark, sf_dir: None)
    with pytest.raises(ValueError, match="'x' is already registered"):
        corpus.query("x")(lambda spark, sf_dir: None)


def test_ledger_tool_inline_hash_matches_library():
    """update_oracle_ledger's --rev mode inlines the hash (to fingerprint
    revisions predating corpus.entry_fingerprint) — the inlined formula
    must stay byte-identical to the library one, which this pins by
    checking a working-tree entry hashes the same both ways."""
    import subprocess

    reg = load_all()
    name = sorted(reg)[0]
    from tools import update_oracle_ledger as tool

    script = tool._SUBPROC.format(repo=REPO)
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, check=True
    ).stdout
    assert json.loads(out)[name] == entry_fingerprint(reg[name])


def test_mutated_oracle_jumps_to_changed_tier(monkeypatch):
    """The verdict's demanded property: mutate a certified entry's oracle
    and it must leave the 'rest' tier and queue ahead of every unchanged
    certified entry."""
    reg = dict(load_all())
    seen, failed, _ = entry._driver_history()
    # pick a certified-green entry that is currently NOT fingerprint-drifted
    cert = entry._certified_fingerprints()
    if not cert:
        pytest.skip("ledger not initialized")
    stable = [
        n
        for n in reg
        if n in seen
        and n not in failed
        and n in cert
        and cert[n] == entry_fingerprint(reg[n])
    ]
    assert stable, "no stable certified entries — ledger out of date"
    victim = stable[0]
    spec = reg[victim]
    before = entry._rotated(reg)
    changed_before = set(before) - set(
        n for n in before if n not in seen or n in failed
    )

    reg[victim] = QuerySpec(victim, spec.fn, (spec.oracle or "") + " -- mutated")
    after = entry._rotated(reg)

    # same membership, different priority: the victim moved ahead of every
    # stable certified entry
    assert set(after) == set(before)
    other_stable = [n for n in stable[1:6]]
    for n in other_stable:
        assert after.index(victim) < after.index(n)
    # and it sits behind failed/fresh tiers (nothing currently in those in
    # a healthy repo, so it is simply ahead of the rest tier)
    assert changed_before  # sanity: rotation returned certified entries


def test_rotation_is_stable_and_complete():
    reg = load_all()
    order = entry._rotated(reg)
    assert sorted(order) == sorted(reg)
    assert order == entry._rotated(reg)  # deterministic


def test_ledger_rounds_match_driver_history():
    """Every ledger row's round must be <= the entry's newest green driver
    row (the updater only writes on a newer green row)."""
    cert_path = os.path.join(REPO, "tools", "oracle_ledger.json")
    if not os.path.exists(cert_path):
        pytest.skip("ledger not initialized")
    with open(cert_path) as fh:
        ledger = json.load(fh)
    seen, failed, last_round = entry._driver_history()
    for name, row in ledger.items():
        assert name in seen
        assert row["round"] <= last_round.get(name, 0)


def test_pinned_tier_sits_behind_refail_and_ahead_of_fresh():
    """r9: _PINNED entries (stale round-1 certs displaced by the r8
    fresh-entry flood) must lead everything except the refail tier, so
    no volume of new entries can push them out of the 50-slot sample;
    the pin self-clears once a driver row from >= its round lands."""
    reg = load_all()
    order = entry._rotated(reg)
    seen, failed, last_round = entry._driver_history()
    active_pins = [
        n for n, rnd in entry._PINNED if last_round.get(n, 0) < rnd
    ]
    fresh = [n for n in reg if n not in seen]
    for pin in active_pins:
        assert pin in order
        for f in failed:
            assert order.index(f) < order.index(pin)
        for fr in fresh:
            assert order.index(pin) < order.index(fr)
    # the current pin set: the three round-1-certified window entries
    # (until their r9 rows land, after which this degenerates to empty)
    for n, _ in entry._PINNED:
        assert n in reg
