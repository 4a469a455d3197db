"""Self-tests of the benchmark's own logic (``pytest perfbench``).

The parser, the span arithmetic and the fallbacks run without Spark;
one test drives the readers on a live session over the sf0.001 tables.
"""

from __future__ import annotations

import os
import sys
import types
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent / "tests"))

import layers  # noqa: E402
from layers import Span, parse_sql_metric, self_times, union_length  # noqa: E402
from conftest import SF_SMOKE  # noqa: E402  (the repo's sf0.001 tables)
from run import judge  # noqa: E402


@pytest.mark.parametrize(
    "text, expected",
    [
        ("2.5 s", 2.5),
        ("151.8 KiB", 151.8 * 1024),
        ("total (min, med, max (stageId: taskId))\n"
         "4.7 s (0 ms, 1 ms, 2.3 s (stage 3.0: task 12))", 4.7),
        ("total (min, med, max (stageId: taskId))\n"
         "12.0 MiB (0.0 B, 1.0 MiB, 3.0 MiB (stage 1.0: task 4))", 12 * 2**20),
        ("850 ms", 0.85),
        ("1,234", 1234.0),
        ("", None),
        ("n/a", None),
    ],
)
def test_parse_sql_metric(text, expected):
    got = parse_sql_metric(text)
    if expected is None:
        assert got is None
    else:
        assert got == pytest.approx(expected)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10)


def test_self_time_subtracts_children_once():
    spans = [
        Span("plans", "q", 0.0, 10.0, None, 1),
        Span("operators.graph", "bfs", 1.0, 6.0, 0, 1),
        Span("sources", "load", 2.0, 3.0, 1, 1),
        Span("sources", "load", 5.0, 7.0, 0, 1),  # overlaps its sibling
        Span("spark.local_checkpoint", "cp", 9.5, 11.0, 0, 1),  # runs past
    ]
    assert self_times(spans) == pytest.approx([10 - 6 - 0.5, 4.0, 1.0, 2.0, 1.5])


def test_tracer_layer_totals_per_invocation():
    tracer = layers.Tracer()
    tracer.invocation = 7
    with tracer.span("plans", "q"):
        with tracer.span("sources", "load_table"):
            pass
    tracer.invocation = 8
    with tracer.span("plans", "other"):
        pass
    got = tracer.layer_self_times(7)
    assert set(got) == {"plans", "sources"}
    assert tracer.spans[1].parent == 0
    assert tracer.layer_self_times(9) == {}


class _Missing:
    """A py4j-like handle whose every attribute is absent."""

    def __getattr__(self, name):
        raise AttributeError(name)


@pytest.mark.parametrize(
    "call",
    [
        lambda: layers.wait_listener_bus(types.SimpleNamespace(_jsc=_Missing())),
        lambda: layers.read_new_stages(
            types.SimpleNamespace(_jsc=_Missing(), _jvm=_Missing(),
                                  _gateway=_Missing()), set()),
        lambda: layers.read_new_python_metrics(
            types.SimpleNamespace(_jsparkSession=_Missing()), set()),
        lambda: layers.read_cached_mb(types.SimpleNamespace(_jsc=_Missing())),
    ],
    ids=["listener_bus", "stages", "python_metrics", "storage"],
)
def test_reader_falls_back_to_labelled_empty_record(call):
    got = call()
    assert got["available"] is False
    assert got["reason"]
    assert set(got) == {"available", "reason"}


def test_judge_names_each_failure():
    goldens = {
        "a": {"rows": 2, "hash": "h", "problems": []},
        "b": {"rows": 1, "hash": "x", "problems": ["value hash mismatch"]},
    }
    invs = [
        {"query": "a", "pass": 0, "rows": 2, "hash": "h"},
        {"query": "a", "pass": 1, "rows": 2, "hash": "other"},
        {"query": "b", "pass": 0, "rows": 1, "hash": "x"},
        {"query": "c", "pass": 0, "error": "action: boom"},
        {"query": "u", "pass": 0, "rows": 5},  # count-only result
    ]
    goldens["u"] = {"rows": 5, "hash": "y", "problems": []}
    failures = judge(invs, goldens)
    assert [(f["query"], f["pass"]) for f in failures] == [
        ("a", 1), ("b", 0), ("c", 0)]
    assert [i["failed"] for i in invs] == [False, True, True, True, False]


@pytest.mark.skipif(not os.path.isdir(SF_SMOKE), reason="no sf0.001 tables")
def test_readers_on_a_live_session():
    from another_map_reduce_spark.queries import QUERIES
    from another_map_reduce_spark.session import get_spark

    spark = get_spark(app_name="perfbench-selftest", master="local[2]")
    sc = spark.sparkContext
    stages, execs = set(), set()
    QUERIES["pandas_wordcount"](spark, SF_SMOKE).collect()
    assert layers.wait_listener_bus(sc) == {"available": True}
    got = layers.read_new_stages(sc, stages)
    assert got["available"] and got["stages.count"] >= 1
    assert got["executor.run_s"] >= 0 and got["stages.busy_s"] > 0
    py = layers.read_new_python_metrics(spark, execs)
    assert py["available"] and py.get("python.sent_mb", 0) > 0
    assert layers.read_new_stages(sc, stages).get("stages.count", 0) == 0
    assert layers.read_cached_mb(sc)["available"]


def test_reported_metrics_match_benchmark_json():
    import json

    from run import end_to_end, per_layer

    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    layers_rec = {"self_s": {"plans": 0.1}, "stages.count": 2.0}
    result = {
        "setup_samples": [7.0, 8.0],
        "peak_rss_mb": 900.0,
        "session.get_spark_s": 6.0,
        "queries.import_s": 0.6,
        "invocations": [
            {"query": "q", "pass": p, "wall_s": 1.0, "failed": False,
             "layers": layers_rec}
            for p in (0, 1)
        ],
    }
    e2e, pl = end_to_end(result), per_layer(result)
    assert list(e2e) == [m["name"] for m in spec["end_to_end"]]
    assert sorted(pl) == sorted(m["name"] for m in spec["per_layer"])
    for got, want in ((e2e, spec["end_to_end"]), (pl, spec["per_layer"])):
        assert all(got[m["name"]][1] == m["unit"] for m in want)
    assert e2e["setup_s"][0] == 7.5 and e2e["ok_frac"][0] == 1.0


def test_time_limit_cancels_jobs_and_stops_streams():
    import time

    from worker import TimeLimit

    calls = []
    spark = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(
            cancelAllJobs=lambda: calls.append("cancel")),
        streams=types.SimpleNamespace(
            active=[types.SimpleNamespace(stop=lambda: calls.append("stop"))]),
    )
    with TimeLimit(spark, 0.05) as limit:
        time.sleep(0.5)
    assert limit.fired and calls == ["cancel", "stop"]
    with TimeLimit(spark, 30) as limit:
        pass
    assert not limit.fired and calls == ["cancel", "stop"]
