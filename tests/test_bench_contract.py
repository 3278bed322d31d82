"""Pins the bench driver contract: the HEADLINE set must stay a
SUPERSET of every key ever recorded in a past BENCH_r{N}.json — the
judge diffs per-query times across rounds, and a dropped key reads as
a hidden regression. Also pins that every headline name resolves in
the registry."""

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _recorded_keys() -> set[str]:
    keys: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "BENCH_r0*.json")):
        raw = open(path).read()
        # the driver records the bench stdout tail; per-query keys
        # appear as "name": seconds pairs inside the queries dict
        for name, _ in re.findall(r'"([a-z0-9_]+)": ([0-9.]+)', raw):
            keys.add(name)
    drop = {"metric", "value", "sf", "n", "rc", "cpus"}
    return {k for k in keys if k not in drop}


def test_headline_superset_of_recorded_keys():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    headline = set(bench.HEADLINE)
    missing = _recorded_keys() - headline
    assert missing == set(), (
        f"HEADLINE dropped previously-recorded bench keys: {missing}"
    )


def test_headline_names_resolve_in_registry():
    import importlib.util
    import sys

    sys.path.insert(0, REPO)
    from chai_data_pipeline_spark import plans

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    unknown = [n for n in bench.HEADLINE if n not in plans.QUERIES]
    assert unknown == []


def _plans():
    import sys

    sys.path.insert(0, REPO)
    from chai_data_pipeline_spark import plans

    return plans


# A synthetic registry for driving `driver_order` directly: registration
# order, oracle-bearing names, and driver rows built per test.
_NAMES = [
    "u1", "g1", "r1", "g2", "rows_b", "g3", "g4", "u2", "g5", "g6",
    "r2", "g7", "rows_a",
]
_ORACLES = {n for n in _NAMES if not n.startswith("rows_")}
_TAIL = ["rows_a", "rows_b"]


def _rows(green_round: dict, red: dict | None = None):
    """(greens, checked, green_round) as `_load_driver_rows` returns
    them: `green_round` names are green in their latest round; `red`
    names were checked and are red in their latest round (a prior green
    round may be given)."""
    red = red or {}
    greens = set(green_round)
    gr = dict(green_round)
    gr.update({n: r for n, r in red.items() if r})
    return greens, greens | set(red), gr


def test_driver_window_names_resolve():
    """Every name in the driver-ordering inputs (_PINS, _TAIL) must
    exist in the registry — a typo'd name would silently lose its
    intended gate position — and the registry's live order is exactly
    what `driver_order` computes from the committed driver rows."""
    plans = _plans()

    for lst in (plans._PINS, plans._TAIL):
        unknown = [n for n in lst if n not in plans.QUERIES]
        assert unknown == [], unknown
    # pins spend the cap on hash-checkable evidence only
    assert [n for n in plans._PINS if n not in plans.ORACLES] == []
    names = list(plans.QUERIES)
    order = plans.driver_order(
        plans._load_driver_rows(REPO),
        names,
        plans.ORACLES,
        plans._PINS,
        plans._TAIL,
    )
    assert order == names
    assert list(plans.ORACLES) == [n for n in names if n in plans.ORACLES]


def test_load_driver_rows_parses_and_skips_corrupt(tmp_path):
    """The driver order derives greens/checked from the driver's
    CORRECTNESS_r*.json artifacts; a corrupt or non-dict file must be
    skipped, not crash the import."""
    import json

    plans = _plans()

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "green_q": {"hash_match": True, "rows_match": True},
                "red_q": {"hash_match": False, "err": "hash mismatch"},
                "rowsonly_q": {"hash_match": False, "err": "no_oracle"},
            }
        )
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text("{not json")
    (tmp_path / "CORRECTNESS_r03.json").write_text('["a", "list"]')
    (tmp_path / "CORRECTNESS_r09.json").write_text(
        json.dumps({"green_q": {"hash_match": True}})
    )
    greens, checked, green_round = plans._load_driver_rows(str(tmp_path))
    assert greens == {"green_q"}
    assert checked == {"green_q", "red_q", "rowsonly_q"}
    # the latest green round wins (drives pin self-expiry)
    assert green_round == {"green_q": 9}
    # empty dir degrades to empty sets (a fresh checkout)
    empty = tmp_path / "sub"
    empty.mkdir()
    assert plans._load_driver_rows(str(empty)) == (set(), set(), {})


def test_driver_rank_invariants():
    """Pins the rank: re-confirm quota → never-checked oracle-bearing
    (registration order) → checked-but-red → greens (oldest green round
    first, registration order on ties) → oracle-less in tail order."""
    plans = _plans()

    rows = _rows(
        {"g1": 7, "g2": 3, "g3": 9, "g4": 3, "g5": 1, "g6": 9, "g7": 2},
        red={"r1": 4, "r2": None},
    )
    order = plans.driver_order(rows, _NAMES, _ORACLES, {}, _TAIL)
    assert order == [
        "g5", "g7", "g2", "g4", "g1",  # quota: (round, name) ascending
        "u1", "u2",  # never checked
        "r1", "r2",  # checked but red, even with an older green
        "g3", "g6",  # greens: round 9 tie keeps registration order
        "rows_a", "rows_b",  # tail order, not registration order
    ]

    # the same invariants on the live registry and committed rows
    rows = plans._load_driver_rows(REPO)
    greens, checked, _ = rows
    order = plans.driver_order(
        rows, list(plans.QUERIES), plans.ORACLES, {}, plans._TAIL
    )
    assert sorted(order) == sorted(plans.QUERIES)
    pos = {n: i for i, n in enumerate(order)}
    oracle_pos = [pos[n] for n in plans.ORACLES]
    no_oracle = [n for n in order if n not in plans.ORACLES]
    assert no_oracle == plans._TAIL
    assert min(pos[n] for n in no_oracle) > max(oracle_pos)
    tiers = [
        [n for n in plans.ORACLES if n not in checked],
        [n for n in plans.ORACLES if n in checked and n not in greens],
        [n for n in order[5:] if n in greens],  # after the quota
    ]
    tiers = [t for t in tiers if t]
    for before, after in zip(tiers, tiers[1:]):
        assert max(pos[n] for n in before) < min(pos[n] for n in after)


def test_reconfirm_quota_invariants():
    """The standing re-confirm quota (judge advice r9 item 7): exactly
    QUOTA oracle-bearing greens with the OLDEST green evidence rank
    ahead of never-checked work each round, so a vacuous-parity kill
    cannot hide for a full green cycle. Actively pinned greens already
    reach the window and are skipped; oracle-less greens never count."""
    plans = _plans()
    quota = 5

    rows = _rows(
        {"g1": 7, "g2": 3, "g3": 9, "g4": 3, "g5": 1, "g6": 9, "g7": 2,
         "rows_a": 1, "rows_b": 1},
        red={"r1": None, "r2": None},
    )
    # g5 (the oldest) holds an active pin: it leads at rank 0 and the
    # quota moves on to the next-oldest green
    order = plans.driver_order(rows, _NAMES, _ORACLES, {"g5": 3}, _TAIL)
    assert order[: 1 + quota] == ["g5", "g7", "g2", "g4", "g1", "g3"]
    assert order[1 + quota : 1 + quota + 2] == ["u1", "u2"]
    assert order[-2:] == ["rows_a", "rows_b"]
    # fewer greens than the quota: every green is re-confirmed, still
    # ahead of never-checked work
    rows = _rows({"g3": 9, "g1": 7})
    order = plans.driver_order(rows, _NAMES, _ORACLES, {}, _TAIL)
    assert order[:3] == ["g1", "g3", "u1"]

    # on the live registry: picks are the stalest oracle-bearing greens
    rows = plans._load_driver_rows(REPO)
    greens, _, green_round = rows
    order = plans.driver_order(
        rows, list(plans.QUERIES), plans.ORACLES, {}, plans._TAIL
    )
    picks = order[:quota]
    assert all(n in plans.ORACLES and n in greens for n in picks)
    newest_pick = max(green_round[n] for n in picks)
    assert all(
        green_round[n] >= newest_pick
        for n in greens
        if n in plans.ORACLES and n not in picks
    )


def test_force_front_self_expiry():
    """A pin holds position 0 only until the query earns a green row in
    a round >= its since-round; a later green retires it automatically
    (no manual cleanup next round). Driven with synthetic rows, so the
    test never depends on which CORRECTNESS_r*.json artifacts exist on
    disk."""
    plans = _plans()

    greens = {"g1": 7, "g2": 3, "g3": 9, "g4": 3, "g5": 1, "g6": 9}
    pins = {"g7": 15}
    # green only in a round BEFORE the re-pin shipped → the old
    # evidence is stale, pin active: first
    rows = _rows({**greens, "g7": 14})
    order = plans.driver_order(rows, _NAMES, _ORACLES, pins, _TAIL)
    assert order.index("g7") == 0
    # green in the re-pin round → pin expires: g7 is the newest green,
    # so it falls to the end of the green rank, behind g3/g6 (round 9)
    rows = _rows({**greens, "g7": 15})
    order = plans.driver_order(rows, _NAMES, _ORACLES, pins, _TAIL)
    assert order.index("g7") == len(_NAMES) - len(_TAIL) - 1
    assert order == plans.driver_order(rows, _NAMES, _ORACLES, {}, _TAIL)


def test_regression_reexposes_at_rank_2(tmp_path):
    """Latest-round green semantics (judge advice r8): a query green
    in round N but red in round N+1 must drop out of the green set so
    the checked-but-red rank re-exposes it ahead of every green —
    _load_driver_rows takes the LATEST checked round's status, not a
    cross-round union."""
    import json

    plans = _plans()

    others = {f"g{i}": {"hash_match": True} for i in range(1, 7)}
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({"q": {"hash_match": True}, **others})
    )
    (tmp_path / "CORRECTNESS_r05.json").write_text(
        json.dumps({"q": {"hash_match": False, "err": "hash mismatch"}})
    )
    names = ["q", "g1", "g2", "g3", "g4", "g5", "g6"]
    rows = plans._load_driver_rows(str(tmp_path))
    greens, checked, green_round = rows
    assert "q" in checked and "q" not in greens
    assert green_round["q"] == 3
    order = plans.driver_order(rows, names, set(names), {}, [])
    # behind the 5 quota picks, ahead of the remaining green
    assert order[5:] == ["q", "g6"]
    # and a later re-green restores it to the green rank
    (tmp_path / "CORRECTNESS_r06.json").write_text(
        json.dumps({"q": {"hash_match": True}})
    )
    rows = plans._load_driver_rows(str(tmp_path))
    assert "q" in rows[0] and rows[2]["q"] == 6
    order = plans.driver_order(rows, names, set(names), {}, [])
    assert order[5:] == ["g6", "q"]


def test_driver_order_tail_is_registry_oracle_less():
    """The rows-only tail lists exactly the registry's oracle-less
    queries, each once: a new rows-only query must be placed in it, and
    a query that gains an oracle must leave it."""
    plans = _plans()

    assert len(plans._TAIL) == len(set(plans._TAIL))
    assert set(plans._TAIL) == set(plans.QUERIES) - set(plans.ORACLES)
    # similarity_ann_ivf stays rows-only (ADVICE r14 item 3): its fold
    # form and its Arrow/numpy matmul form agree bit-for-bit only on the
    # BLAS build they were checked on, so a hash oracle would turn a
    # BLAS difference into a red row. If it ever gets one, force
    # SPARK_GRAFT_IVF_ARROW=0. similarity_ann_ivf_checked carries the
    # hash evidence for the operator.
    assert "similarity_ann_ivf" not in plans.ORACLES
    assert "similarity_ann_ivf_checked" in plans.ORACLES


def test_driver_order_without_driver_rows(tmp_path):
    """A fresh checkout has no CORRECTNESS_r*.json: every oracle-bearing
    query is never-checked and keeps registration order, then the tail;
    nothing raises. A pin on a fresh checkout leads."""
    plans = _plans()

    rows = plans._load_driver_rows(str(tmp_path))
    assert rows == (set(), set(), {})
    names = list(plans.QUERIES)
    order = plans.driver_order(rows, names, plans.ORACLES, {}, plans._TAIL)
    assert order == [n for n in names if n in plans.ORACLES] + plans._TAIL
    order = plans.driver_order(rows, _NAMES, _ORACLES, {"g6": 15}, _TAIL)
    assert order == ["g6"] + [
        n for n in _NAMES if n in _ORACLES and n != "g6"
    ] + _TAIL


def test_parity_selection_changed_only(monkeypatch):
    """SPARK_GRAFT_PARITY_CHANGED=1 restricts the parametrized parity
    suite to queries whose plan module changed; any shared-package
    change falls back to the full sweep; env unset is a no-op."""
    import subprocess
    import sys

    sys.path.insert(0, REPO)
    from chai_data_pipeline_spark import plans
    from chai_data_pipeline_spark.testing import parity_selection

    names = sorted(plans.ORACLES)

    # env unset — full set
    monkeypatch.delenv("SPARK_GRAFT_PARITY_CHANGED", raising=False)
    assert parity_selection(names) == names

    def fake_run(diff_lines, untracked_lines):
        def run(cmd, **kw):
            class R:
                stdout = "\n".join(
                    diff_lines if "diff" in cmd else untracked_lines
                )
            return R()
        return run

    monkeypatch.setenv("SPARK_GRAFT_PARITY_CHANGED", "1")

    # only plans/dedup.py changed — restrict to dedup-module queries
    monkeypatch.setattr(
        subprocess, "run",
        fake_run(["chai_data_pipeline_spark/plans/dedup.py"], []),
    )
    got = parity_selection(names)
    assert got and all(
        plans.QUERIES[n].__module__.endswith(".dedup") for n in got
    )
    assert "substring_dedup_apply" in got
    assert "tpch_q1_pricing_summary" not in got

    # a shared package file changed — full sweep
    monkeypatch.setattr(
        subprocess, "run",
        fake_run(["chai_data_pipeline_spark/operators/text.py"], []),
    )
    assert parity_selection(names) == names

    # nothing changed — empty selection (nothing to re-prove)
    monkeypatch.setattr(subprocess, "run", fake_run([], []))
    assert parity_selection(names) == []

    # untracked new plan module also counts
    monkeypatch.setattr(
        subprocess, "run",
        fake_run([], ["chai_data_pipeline_spark/plans/dedup.py"]),
    )
    assert "dedup_exact_content" in parity_selection(names)
