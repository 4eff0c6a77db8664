"""Tests of the benchmark's own pieces (no Spark session needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import sqlite3

import numpy as np
import pytest

import check
import gen
import layers
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "text, value",
    [
        ("1491.2 KiB", 1491.2 * 1024),
        ("0.0 B", 0.0),
        ("2.5 MiB", 2.5 * 1024**2),
        ("12 ms", 0.012),
        ("1.5 s", 1.5),
        ("2.0 m", 120.0),
        ("3", 3.0),
        ("1,024", 1024.0),
        (
            "total (min, med, max (stageId: taskId))\n"
            "123.0 B (59.0 B, 64.0 B, 64.0 B (stage 45.0: task 77))",
            123.0,
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "1195.5 KiB (597.6 KiB, 597.9 KiB, 597.9 KiB (stage 45.0: task 77))",
            1195.5 * 1024,
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "4.2 s (0 ms, 1.1 s, 2.0 s (stage 3.0: task 9))",
            4.2,
        ),
    ],
)
def test_metric_total_parses_status_store_strings(text, value):
    assert layers.metric_total(text) == pytest.approx(value)


def test_metric_total_rejects_unknown_units():
    with pytest.raises(ValueError):
        layers.metric_total("3 parsecs")


def test_plan_metric_pattern_reads_scala_to_string():
    text = (
        "List(SQLPlanMetric(number of output rows,12,sum), "
        "SQLPlanMetric(shuffle bytes written,40,size), "
        "SQLPlanMetric(time to run Python workers,41,timing))"
    )
    found = layers._PLAN_METRIC.findall(text)
    assert ("shuffle bytes written", "40", "size") in found
    assert ("time to run Python workers", "41", "timing") in found
    assert len(found) == 3


def test_percentile_needs_ten_samples_beyond_it():
    assert layers.percentile(list(range(19)), 0.5) is None
    assert layers.percentile(list(range(20)), 0.5) == 9
    assert layers.percentile(list(range(99)), 0.9) is None
    assert layers.percentile(list(range(100)), 0.9) == 89
    assert layers.percentile(list(range(100)), 0.1) is None
    assert layers.percentile(list(range(110)), 0.1) == 10
    assert layers.percentile([], 0.5) is None


def test_rates_use_class_medians_weighted_by_the_mix():
    r = run.Run(layers.Tracer(None, False), seconds=1.0, traced=False, run_dir="")
    for klass, seconds, items in [("a", 1.0, 10), ("a", 9.0, 10), ("a", 2.0, 10), ("b", 4.0, 0)]:
        r.begin_request(klass)
        r.measured += seconds
        r.end_request(items)
    r.begin_request(None)  # unrated: kept out of the rates
    r.measured += 100.0
    r.end_request(5)
    assert r.rates() == pytest.approx((2 / 6.0, 10 / 6.0))
    r.mix = {"a": 2, "b": 1}
    assert r.rates() == pytest.approx((3 / 8.0, 20 / 8.0))


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_tpch_is_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    rows = gen.tpch(a, 7, 0.001)
    assert gen.tpch(b, 7, 0.001) == rows
    gen.tpch(c, 8, 0.001)
    assert _tree_digest(a) == _tree_digest(b)
    assert _tree_digest(a) != _tree_digest(c)
    assert rows["lineitem"] == 4 * rows["orders"] == 6000


def test_sqlite_db_is_deterministic_per_seed(tmp_path):
    def dump(path):
        con = sqlite3.connect(path)
        try:
            return list(con.iterdump())
        finally:
            con.close()

    paths = [str(tmp_path / f"{x}.db") for x in "abc"]
    counts = gen.sqlite_db(paths[0], 3, 300)
    assert gen.sqlite_db(paths[1], 3, 300) == counts
    gen.sqlite_db(paths[2], 4, 300)
    assert dump(paths[0]) == dump(paths[1])
    assert dump(paths[0]) != dump(paths[2])
    con = sqlite3.connect(paths[0])
    try:
        n = con.execute("SELECT COUNT(*) FROM orders").fetchone()[0]
        frac = con.execute("SELECT COUNT(*) FROM orders WHERE o_orderdate LIKE '%.%'").fetchone()[0]
        nulls = con.execute("SELECT COUNT(*) FROM lineitem WHERE l_tax IS NULL").fetchone()[0]
    finally:
        con.close()
    assert n == counts["orders"] == 300 and counts["lineitem"] == 1200
    assert frac > 0 and nulls > 0


def test_vectors_are_deterministic_per_seed():
    ids, emb, labels = gen.vectors(5, "batch0", 50, 100)
    ids2, emb2, labels2 = gen.vectors(5, "batch0", 50, 100)
    assert ids.tolist() == list(range(100, 150))
    assert np.array_equal(emb, emb2) and np.array_equal(labels, labels2)
    assert not np.array_equal(emb, gen.vectors(6, "batch0", 50, 100)[1])
    assert not np.array_equal(emb, gen.vectors(5, "batch1", 50, 100)[1])


def test_names_and_documents_are_deterministic_per_seed():
    names = gen.names(5, "catalog", 200)
    assert gen.names(5, "catalog", 200) == names
    assert gen.names(6, "catalog", 200) != names
    assert all(len(n.split()) == 3 for n in names)
    t = gen.typo(5, "typo0", names[0])
    assert t == gen.typo(5, "typo0", names[0])
    assert t != names[0] and t[:-1] == names[0][:-1]
    docs = gen.documents(5, "docs", 30, 100)
    assert gen.documents(5, "docs", 30, 100) == docs
    assert [d for d, _t in docs] == list(range(100, 130))
    assert gen.documents(6, "docs", 30, 100) != docs
    assert len({t for _d, t in docs}) == 30


def test_canonical_ignores_row_and_column_order_and_float_noise():
    cols = ["b", "a"]
    rows = [(1.0000000001, "x"), (2.5, None)]
    other = [(None, 2.5), ("x", 1.0)]
    assert check.canonical(cols, rows) == check.canonical(["a", "b"], [(r[0], r[1]) for r in other])
    assert check.canonical(["t"], [(dt.datetime(2024, 1, 1, 0, 0, 7),)]) == (
        ("t",), [("2024-01-01 00:00:07",)]
    )


def test_mismatch_reports_counts_and_values():
    expected = (check.digest(check.canonical(["a"], [(1,), (2,)])), 2)
    assert check.mismatch(expected, ["a"], [(2,), (1,)]) is None
    assert "row count" in check.mismatch(expected, ["a"], [(1,)])
    assert "values" in check.mismatch(expected, ["a"], [(1,), (3,)])


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert len(run.PER_LAYER) <= 128


def test_op_modules_are_the_modules_of_the_migrate_ops(monkeypatch):
    monkeypatch.syspath_prepend(ROOT)
    from sqlite_to_clickhouse_spark.registry import all_queries

    import workloads

    reg = all_queries()
    assert {workloads.module_of(reg[n].fn) for n in workloads.Migrate.OPS} == set(run.OP_MODULES)
