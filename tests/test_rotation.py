"""Rotation-window policy tests (pure Python — no SparkSession).

The driver's correctness gate verifies the FIRST 50 entries of
``queries()``; ``compute_rotation`` derives that window from the committed
CORRECTNESS_r*.json history.  These tests pin the policy: latest-red
first (an unclosed failure never waits behind the backlog — VERDICT r5
item 3), never-verified second (zero record is weaker evidence than any
green record, however stale — VERDICT r10 item 1), expired greens third,
then fresh greens oldest-first; deterministic; every emitted name
registered.
"""

from __future__ import annotations

import json

import sqlite_to_clickhouse_spark.registry as R
from sqlite_to_clickhouse_spark.registry import all_queries, compute_rotation


def _write(tmp_path, rnd: int, recs: dict) -> None:
    (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(recs))


GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
RED_HASH = {"rows_match": True, "schema_match": True, "hash_match": False, "err": None}
RED_ERR = {"rows_match": False, "schema_match": False, "hash_match": None, "err": "boom"}
ROWS_ONLY = {"rows_match": True, "schema_match": True, "hash_match": None, "err": None}


def test_rotation_orders_red_never_stale(tmp_path):
    all_queries()  # force registration
    names = list(R._REGISTRY)
    a, b, c, d = names[0], names[1], names[2], names[3]
    _write(tmp_path, 1, {a: GREEN, b: GREEN})
    _write(tmp_path, 2, {b: GREEN, c: RED_HASH})
    rotation, latest = compute_rotation(window=10, correctness_dir=str(tmp_path))
    assert latest == 2
    # Red c LEADS the window (unclosed failures re-certify before the
    # never-verified backlog), then never-seen d and friends, then greens
    # a/b only if slots remain.
    assert rotation[0] == c
    assert rotation.index(c) < rotation.index(d)
    green_positions = [rotation.index(n) for n in (a, b) if n in rotation]
    unseen_positions = [rotation.index(n) for n in rotation if n not in (a, b)]
    assert len(unseen_positions) >= 8
    if green_positions:
        assert min(green_positions) > max(unseen_positions)


def test_rotation_green_ordered_oldest_first(tmp_path):
    all_queries()
    names = list(R._REGISTRY)
    # everything green, at staggered rounds: window should re-certify the
    # oldest-verified rows first, in registration order within a round.
    recs_r1 = {n: GREEN for n in names[: len(names) // 2]}
    recs_r2 = {n: GREEN for n in names[len(names) // 2 :]}
    _write(tmp_path, 1, recs_r2)  # second half verified FIRST (r1)
    _write(tmp_path, 2, recs_r1)
    rotation, _ = compute_rotation(window=len(names), correctness_dir=str(tmp_path))
    half = len(names) - len(names) // 2
    assert rotation[:half] == names[len(names) // 2 :]
    assert rotation[half:] == names[: len(names) // 2]


def test_rotation_latest_record_wins(tmp_path):
    all_queries()
    names = list(R._REGISTRY)
    a = names[0]
    _write(tmp_path, 1, {a: RED_ERR})
    _write(tmp_path, 2, {a: GREEN})
    _write(tmp_path, 3, {n: GREEN for n in names if n != a})
    rotation, _ = compute_rotation(window=len(names), correctness_dir=str(tmp_path))
    # a went green in r2 and is now just the stalest green — first of them.
    assert rotation[0] == a


def test_rows_only_counts_as_green(tmp_path):
    all_queries()
    names = list(R._REGISTRY)
    a = names[0]
    _write(tmp_path, 1, {n: GREEN for n in names})
    _write(tmp_path, 2, {a: ROWS_ONLY})
    rotation, _ = compute_rotation(window=len(names), correctness_dir=str(tmp_path))
    # a's newest record is rows-only green (hash_match None ≠ False): it
    # rotates to the BACK, not into the red slice.
    assert rotation[-1] == a


def test_no_oracle_record_with_rows_counts_as_pass(tmp_path):
    """The driver records rows-only ops as err='no_oracle' with spark_rows
    set.  That is a ⊘ PASS — the op must rotate by staleness, not hold a
    red slot every round.  A no_oracle record with spark_rows null (the
    query itself crashed, e.g. embedding_pca_project r6) stays red."""
    all_queries()
    names = list(R._REGISTRY)
    a, b = names[0], names[1]
    _write(tmp_path, 1, {n: GREEN for n in names})
    _write(
        tmp_path,
        2,
        {
            a: {"rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": 500, "oracle_rows": None, "err": "no_oracle"},
            b: {"rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": None, "oracle_rows": None, "err": "no_oracle"},
        },
    )
    rotation, _ = compute_rotation(window=len(names), correctness_dir=str(tmp_path))
    assert rotation[0] == b  # crashed rows-only op re-certifies first
    assert rotation[-1] == a  # ⊘-pass rotates to the freshest end


def test_never_driven_outranks_expired_green(tmp_path):
    """A never-driven op has NO driver evidence at all; an expired green
    record is stale but still evidence (VERDICT r10 item 1 — the r9-era
    opposite ordering let never-driven ops trickle in at ~1/round behind
    a steady-state-saturated expired tier).  Never-driven certifies
    BEFORE expired re-certs."""
    all_queries()
    names = list(R._REGISTRY)
    a, b = names[0], names[1]  # a: expired green; b: never driven
    _write(tmp_path, 1, {a: GREEN})
    _write(tmp_path, 1 + R.EXPIRED_AGE, {n: GREEN for n in names if n not in (a, b)})
    rotation, _ = compute_rotation(window=len(names), correctness_dir=str(tmp_path))
    assert rotation[0] == b  # never-driven leads
    assert rotation[1] == a  # then the expired tier
    # One round younger and a is merely the stalest FRESH green: b still
    # leads, a falls behind the (empty) expired tier into the fresh tail.
    _write(tmp_path, 2, {a: GREEN})
    rotation, _ = compute_rotation(window=len(names), correctness_dir=str(tmp_path))
    assert rotation[0] == b
    assert rotation[1] == a


def test_red_still_outranks_never_and_expired(tmp_path):
    all_queries()
    names = list(R._REGISTRY)
    # a: expired green; b: fresh red; c: never driven
    a, b, c = names[0], names[1], names[2]
    _write(tmp_path, 1, {a: GREEN})
    _write(
        tmp_path,
        1 + R.EXPIRED_AGE,
        {n: (RED_HASH if n == b else GREEN) for n in names if n not in (a, c)},
    )
    rotation, _ = compute_rotation(window=len(names), correctness_dir=str(tmp_path))
    assert rotation[0] == b  # red first, always
    assert rotation[1] == c  # then never-driven
    assert rotation[2] == a  # then expired


def test_rotation_names_all_registered_and_unique(tmp_path):
    q = all_queries()
    rotation, _ = compute_rotation(window=50, correctness_dir=str(tmp_path))
    assert len(rotation) == min(50, len(q))
    assert len(set(rotation)) == len(rotation)
    assert all(n in q for n in rotation)


def test_repo_window_wastes_no_slot():
    """With the real committed history, no first-50 slot may be held by a
    FRESH green op while a red, expired-green, or never-verified op waits
    outside the window — the driver's gate must always be spent on the
    highest-risk population available."""
    import glob
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, tuple[int, bool]] = {}
    latest_round = 0
    for f in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        rnd = int(f.rsplit("_r", 1)[1].split(".")[0])
        latest_round = max(latest_round, rnd)
        for name, rec in json.load(open(f)).items():
            green = (
                bool(rec.get("rows_match"))
                and bool(rec.get("schema_match"))
                and rec.get("hash_match") is not False
                and not rec.get("err")
            ) or (rec.get("err") == "no_oracle" and rec.get("spark_rows") is not None)
            latest[name] = (rnd, green)
    q = all_queries()
    names = list(q)
    window = set(names[:50])

    def risk(n):
        if n in latest and not latest[n][1]:
            return "red"
        if n in latest and latest[n][0] <= latest_round - R.EXPIRED_AGE:
            return "expired"
        if n not in latest:
            return "never"
        return "fresh"

    waiting = [n for n in names if n not in window and risk(n) != "fresh"]
    fresh_in_window = [n for n in window if risk(n) == "fresh"]
    if waiting:
        assert not fresh_in_window, (
            f"window slots wasted on fresh-green ops {fresh_in_window} "
            f"while higher-risk ops wait: {waiting[:10]}"
        )
    # And reds always make it in.
    assert all(risk(n) != "red" or n in window for n in names)


def test_expiry_arithmetic_converges_at_steady_state(tmp_path):
    """VERDICT r11 item 3 (defect): with N ops and a 50-op window the
    re-cert cycle is ceil(N/50) rounds, so any EXPIRED_AGE below that
    guarantees a permanent ~window-sized expired tier the policy can
    never clear — the tier's doctrine indicting its own steady state.
    Pin the constant against the arithmetic AND simulate the steady
    state: rotate the real registry forward with every window going
    green, and assert the expired tier drains to empty and stays empty
    (max record age = cycle length − 1 < EXPIRED_AGE)."""
    all_queries()
    names = list(R._REGISTRY)
    cycle = -(-len(names) // 50)  # ceil; steady-state max record age is
    # cycle − 1 when N % 50 ≤ the rotation slack (simulation below proves
    # the actual bound), so EXPIRED_AGE ≥ cycle keeps the tier empty.
    assert R.EXPIRED_AGE >= cycle, (
        f"EXPIRED_AGE={R.EXPIRED_AGE} below re-cert cycle {cycle}: "
        "a permanent expired tier is back"
    )
    order = {n: i for i, n in enumerate(names)}
    h = {n: 0 for n in names}  # all records equally stale at round 0
    for rnd in range(1, 3 * cycle + 1):
        window = sorted(names, key=lambda n: (h[n], order[n]))[:50]
        for n in window:
            h[n] = rnd
        if rnd >= 2 * cycle:  # past the transient
            expired = [n for n in names if h[n] <= rnd - R.EXPIRED_AGE]
            assert not expired, f"round {rnd}: {len(expired)} ops past expiry"
            # consistent with the assertion above BY CONSTRUCTION: the
            # steady-state max age must sit strictly below EXPIRED_AGE.
            assert rnd - min(h.values()) < R.EXPIRED_AGE


def test_all_queries_leads_with_rotation_window(monkeypatch):
    """``all_queries`` orders the computed rotation window first whatever
    round the history has reached — there is no hand-curated fallback
    list behind it, not even before any correctness record exists."""
    all_queries()
    names = list(R._REGISTRY)
    window = names[-3:][::-1] + names[:2]
    monkeypatch.setattr(R, "compute_rotation", lambda *a, **k: (window, 0))
    got = list(all_queries())
    assert got[: len(window)] == window
    assert sorted(got) == sorted(names)
