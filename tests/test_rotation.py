"""The driver-window rotation contract (__spark_entry__._order_names +
QUERY_HASHES.json): failed first, then never-checked, then
rewritten-since-verdict, then greens stalest-first — r9 VERDICT item 2
(a rewrite must not wait rounds for its driver re-hash) pinned as a
unit test, plus manifest/registry sync checks."""

from __future__ import annotations

import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _order(names, verdicts, manifest, cur_hash, oracles=None):
    import __spark_entry__ as e

    return e._order_names(
        names,
        verdicts,
        {n: (oracles or {}).get(n, True) for n in names},
        manifest,
        cur_hash,
    )


def test_failed_then_new_then_rewritten_then_stalest_green():
    names = ["a", "b", "c", "d", "e", "f"]
    verdicts = {
        "a": (True, 5, False),   # green, rewritten in r8 per manifest
        "b": (True, 2, False),   # green, stalest
        "c": (False, 9, False),  # failed
        "d": (True, 9, False),   # green, fresh
        # e: never checked
        "f": (True, 7, False),   # green, hash drifted since manifest
    }
    manifest = {
        "a": {"hash": "h_a", "round": 8},
        "b": {"hash": "h_b", "round": 0},
        "c": {"hash": "h_c", "round": 0},
        "d": {"hash": "h_d", "round": 0},
        "e": {"hash": "h_e", "round": 0},
        "f": {"hash": "h_f", "round": 0},
    }
    cur = {n: f"h_{n}" for n in names}
    cur["f"] = "h_f_CHANGED"  # edited after the last manifest regen
    order = _order(names, verdicts, manifest, cur)
    assert order == ["c", "e", "a", "f", "b", "d"]


def test_same_round_verdict_still_rechecks_strict_rule():
    # verdict round == change round -> recheck (a round-N verdict may
    # predate a later round-N change; costs one redundant slot).
    names = ["x", "y"]
    verdicts = {"x": (True, 9, False), "y": (True, 9, False)}
    manifest = {
        "x": {"hash": "hx", "round": 9},
        "y": {"hash": "hy", "round": 8},
    }
    order = _order(names, verdicts, manifest, {"x": "hx", "y": "hy"})
    assert order == ["x", "y"]  # x rechecks (9 <= 9); y is plain green


def test_later_verdict_clears_recheck():
    names = ["x"]
    verdicts = {"x": (True, 10, False)}
    manifest = {"x": {"hash": "hx", "round": 9}}
    order = _order(names, verdicts, manifest, {"x": "hx"})
    assert order == ["x"]
    # ...and it sorts as GREEN (with another green of lower round first)
    names2 = ["x", "z"]
    verdicts2 = {"x": (True, 10, False), "z": (True, 3, False)}
    manifest2 = {**manifest, "z": {"hash": "hz", "round": 0}}
    assert _order(names2, verdicts2, manifest2, {"x": "hx", "z": "hz"}) == ["z", "x"]


def test_rows_only_to_oracle_upgrade_is_never_checked_tier():
    names = ["m", "n"]
    verdicts = {"m": (True, 6, True), "n": (True, 2, False)}  # m rows-only
    manifest = {n: {"hash": f"h{n}", "round": 0} for n in names}
    cur = {n: f"h{n}" for n in names}
    order = _order(names, verdicts, manifest, cur, oracles={"m": True, "n": True})
    assert order == ["m", "n"]


def test_manifest_in_sync_with_registry():
    """QUERY_HASHES.json must cover exactly the registered queries and
    carry current hashes at round close (a drifted hash is legitimate
    MID-round — it IS the recheck signal — so this only pins the name
    set; gen_source_hashes.py at close refreshes the hashes)."""
    from cuttlefish_spark.registry import load_all

    manifest = json.loads((REPO / "QUERY_HASHES.json").read_text())
    specs = load_all()
    assert set(manifest) == set(specs)
    for entry in manifest.values():
        assert set(entry) == {"hash", "round"}
        assert isinstance(entry["round"], int)


def test_live_ordering_puts_manifest_rechecks_in_window():
    """End-to-end on the real committed files: every query whose
    manifest change-round >= its latest committed verdict round, or
    whose current source hash differs from its manifest hash, must
    appear before the first plain-green entry."""
    import __spark_entry__ as e
    from cuttlefish_spark.registry import load_all, source_hash

    order = list(e._ordered_specs())
    verdicts = e._driver_verdicts()
    manifest = e._change_manifest()
    specs = load_all()
    must_recheck = {
        n
        for n in manifest
        if n in verdicts
        and verdicts[n][0]
        and not verdicts[n][2]
        and (
            source_hash(specs[n]) != manifest[n]["hash"]
            or verdicts[n][1] <= manifest[n]["round"]
        )
    }
    if not must_recheck:
        return
    greens = [
        n
        for n in order
        if n in verdicts and verdicts[n][0] and n not in must_recheck
    ]
    first_green = order.index(greens[0]) if greens else len(order)
    for n in must_recheck:
        assert order.index(n) < first_green, n
