"""Self-tests of the benchmark's own code.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import zlib

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import sparkenv  # noqa: E402
import stats  # noqa: E402


# --- median / quartile math -------------------------------------------------


def test_median_and_quartiles_match_statistics():
    values = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0]
    assert stats.median(values) == 3.5
    q = statistics.quantiles(values, n=4)
    assert stats.quartiles(values) == (q[0], q[2]) == (1.75, 5.25)
    assert stats.spread(values) == pytest.approx((5.25 - 1.75) / 3.5)


def test_summary_reports_sample_count():
    assert stats.summary([2.0]) == {"median": 2.0, "n": 1}
    s = stats.summary([1.0, 2.0, 3.0, 4.0])
    assert s["n"] == 4 and s["median"] == 2.5 and s["q1"] <= s["median"] <= s["q3"]


# --- self time --------------------------------------------------------------


def test_self_time_subtracts_children_once():
    spans = [
        (0.0, 10.0, None),  # root
        (1.0, 4.0, 0),
        (3.0, 6.0, 0),  # overlaps the first child: 1..6 covered once
        (8.0, 12.0, 0),  # runs past the root's end: only 8..10 counts
        (1.5, 2.0, 1),  # grandchild: counts against its parent only
    ]
    assert stats.self_times(spans) == pytest.approx([10 - 5 - 2, 3 - 0.5, 3, 4, 0.5])


def test_self_times_of_leaves_are_durations():
    assert stats.self_times([(0.0, 1.5, None), (2.0, 2.25, None)]) == [1.5, 0.25]


# --- metric-name grammar ----------------------------------------------------


def test_benchmark_json_follows_the_grammar():
    import layers

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert stats.check_metric_specs(bench["end_to_end"] + bench["per_layer"]) == []
    assert {m["name"] for m in bench["end_to_end"]} == {"docs_per_s", "setup_s", "peak_rss_mb"}
    assert [m["name"] for m in bench["per_layer"]] == [n for n, _u, _b in layers.PER_LAYER]
    assert [w["name"] for w in bench["workloads"]] == list(gen.WORKLOADS)
    assert all(stats.NAME_RE.match(w["name"]) for w in bench["workloads"])


@pytest.mark.parametrize(
    "spec",
    [
        {"name": "_x", "unit": "s", "better": "lower"},
        {"name": "a" * 65, "unit": "s", "better": "lower"},
        {"name": "x y", "unit": "s", "better": "lower"},
        {"name": "x", "unit": "m s", "better": "lower"},
        {"name": "x", "unit": "s", "better": "faster"},
    ],
)
def test_grammar_rejects_bad_specs(spec):
    assert stats.check_metric_specs([spec])


def test_grammar_rejects_duplicates():
    spec = {"name": "x", "unit": "s", "better": "lower"}
    assert stats.check_metric_specs([spec, spec]) == ["duplicate name 'x'"]


# --- seeded generator -------------------------------------------------------


@pytest.mark.parametrize("name", list(gen.WORKLOADS))
def test_generator_is_a_function_of_the_seed(name):
    w = gen.WORKLOADS[name]
    a, b, c = gen.make_docs(w, 7), gen.make_docs(w, 7), gen.make_docs(w, 8)
    assert a == b and a != c
    assert len(a) == w.n_docs == len({d[0] for d in a})
    from extractor.testgen import row_class

    counts: dict[str, int] = {}
    for d in a:
        counts[row_class(d[0])] = counts.get(row_class(d[0]), 0) + 1
    assert counts == {k: v for k, v in gen.class_quotas(w).items() if v}


# --- output check -----------------------------------------------------------


def _golden():
    from extractor.oracle import golden_for_documents

    docs = gen.make_docs(gen.WORKLOADS["corpus_build"], 3)[:60]
    return golden_for_documents(docs, gen.CFG)


def test_digest_is_order_free_and_catches_one_corrupted_row():
    golden = _golden()
    rows, crc = gen.golden_digest(golden)
    assert rows == len(golden)
    assert gen.golden_digest(dict(reversed(list(golden.items())))) == (rows, crc)
    url = next(u for u, g in golden.items() if g["text"])
    bad = dict(golden)
    bad[url] = dict(golden[url], text=golden[url]["text"] + " ")
    assert gen.golden_digest(bad) != (rows, crc)


def test_spark_digest_mirrors_the_oracle_digest():
    from pyspark.sql import SparkSession

    golden = _golden()
    rows = [(u, g["success"], g["error"], g["text"], g["total_pages"], g["warnings"])
            for u, g in golden.items()]
    schema = ("url string, success boolean, error string, text string, "
              "total_pages int, warnings array<string>")
    spark = (SparkSession.builder.master("local[1]").appName("perfbench-test")
             .config("spark.ui.enabled", "false").getOrCreate())
    try:
        def digest(data):
            r = spark.createDataFrame(data, schema).agg(*gen.digest_columns()).first()
            return r["rows"], r["crc"]

        assert digest(rows) == gen.golden_digest(golden)
        i = next(i for i, r in enumerate(rows) if r[3])
        corrupted = list(rows)
        corrupted[i] = rows[i][:3] + (rows[i][3][:-1],) + rows[i][4:]
        assert digest(corrupted) != gen.golden_digest(golden)
    finally:
        spark.stop()


def test_row_key_separates_null_from_empty():
    none = gen.row_key("u", True, None, None, None, None)
    empty = gen.row_key("u", True, "", "", None, [])
    assert zlib.crc32(none.encode()) != zlib.crc32(empty.encode())


# --- pinned environment -----------------------------------------------------


@pytest.mark.parametrize(
    "env, refused",
    [
        ({}, False),
        ({"SPARK_GRAFT_ENGINE": "surrogate", "SPARK_GRAFT_SURROGATE_PAGE_MS": "0.0"}, False),
        ({"SPARK_GRAFT_ENGINE": "deepseek"}, True),
        ({"SPARK_GRAFT_SURROGATE_PAGE_MS": "5"}, True),
    ],
)
def test_refuses_environments_that_change_the_program(monkeypatch, env, refused):
    for var in ("SPARK_GRAFT_ENGINE", "SPARK_GRAFT_SURROGATE_PAGE_MS"):
        monkeypatch.delenv(var, raising=False)
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    assert (sparkenv.refuse_foreign_env() is not None) == refused
