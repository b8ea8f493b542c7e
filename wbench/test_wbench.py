"""The benchmark's own tests, at toy size.

    python -m pytest wbench/test_wbench.py -q

They share one small Spark session and run one pass of each workload in
it (a few minutes in all).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import ProcTree, Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
LISTED = [w["name"] for w in SPEC["workloads"]]


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from wikid_spark.session import get_spark

    s = get_spark(app_name="wbench_tests", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


@pytest.fixture
def toy(monkeypatch):
    """Toy dumps, and a short query list that still covers a
    persisted-index miss and hit."""
    monkeypatch.setattr(workloads, "ETL_ENTITIES", 200)
    monkeypatch.setattr(workloads, "ETL_PAGES", 80)
    monkeypatch.setattr(
        workloads,
        "CORPUS_QUERIES",
        ("q22_explode_wordcount", "fts_serve_persisted", "fts_phrase_persisted"),
    )


def _execute(spark, tmp_path, name, trace):
    return run.execute(
        spark, name, seed=7, seconds=0, trace=trace, run_dir=str(tmp_path / "run"),
        cache=str(tmp_path / "cache"), cpus=2, session_s=1.0,
    )


def test_spec_lists_the_runner_metrics():
    assert E2E == run.E2E_UNITS
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]] == layers.METRICS
    assert set(LISTED) <= set(workloads.WORKLOADS)


@pytest.mark.parametrize("name", LISTED)
def test_untraced_run_prints_every_end_to_end_metric(spark, tmp_path, toy, name):
    detail, result = _execute(spark, tmp_path, name, trace=False)
    assert result["failed"] == 0 and result["correct"], detail["check_notes"]
    assert result["attempted"] > 0
    assert {k: m["unit"] for k, m in result["metrics"].items()} == E2E
    assert all(m["value"] > 0 for m in result["metrics"].values())


UNCALLED = {
    "wiki_etl": ("queries.", "catalog."),
    "corpus_analytics": ("sources.", "plans.", "streaming."),
}


@pytest.mark.parametrize("name", LISTED)
def test_traced_run_prints_every_layer_and_zero_for_uncalled(spark, tmp_path, toy, name):
    detail, result = _execute(spark, tmp_path, name, trace=True)
    assert result["failed"] == 0, detail["check_notes"]
    metrics = result["metrics"]
    assert {k: m["unit"] for k, m in metrics.items()} == PER_LAYER
    for k, m in metrics.items():
        if k.startswith(UNCALLED[name]):
            assert m["value"] == 0, k
    called = {
        "wiki_etl": (
            "plans.wiki.stage1.jobs", "sources.wikidata.read_amp", "streaming.ingest.append.wall_s",
            "streaming.fts_ingest.append.write_amp", "streaming.fts_ingest.search.files_read",
            "streaming.fts_ingest.compact.rewritten_mb",
        ),
        "corpus_analytics": ("queries.fts.jobs", "catalog.index_cache.misses", "catalog.index_cache.hits"),
    }[name]
    assert all(metrics[k]["value"] > 0 for k in called)
    if name == "corpus_analytics":
        assert metrics["catalog.index_cache.misses"]["value"] == 1
        assert metrics["catalog.index_cache.hits"]["value"] == 1
    assert all(c >= 0.9 for c in detail["span_coverage"])


def _corrupt(name):
    """A run_pass wrapper that damages one output the checks look at."""

    def damage(res):
        if name == "wiki_etl":
            res["kb_rows"] += 1
            res["hits"][0] = res["hits"][0] + [(-1, 0.0)]
        else:
            cols, rows = res["results"]["q22_explode_wordcount"]
            res["results"]["q22_explode_wordcount"] = (cols, rows[1:])
        return res

    return damage


@pytest.mark.parametrize("name", LISTED)
def test_corrupted_result_is_counted_failed(spark, tmp_path, toy, monkeypatch, name):
    cls = workloads.WORKLOADS[name]
    orig = cls.run_pass
    damage = _corrupt(name)
    monkeypatch.setattr(cls, "run_pass", lambda self, i: damage(orig(self, i)))
    detail, result = _execute(spark, tmp_path, name, trace=False)
    assert result["failed"] >= (2 if name == "wiki_etl" else 1) and not result["correct"]
    assert result["attempted"] > result["failed"]


def test_span_reports_exactly_its_own_jobs(spark, tmp_path):
    sc = spark.sparkContext
    tr = Tracer(spark, ProcTree(), enabled=True)
    sc.parallelize(range(4), 2).count()  # before any span: attributed to none
    with tr.span("outer") as outer:
        with tr.span("one") as one:
            sc.parallelize(range(100), 4).map(lambda x: x * 2).count()
        with tr.span("none") as none:
            pass
    assert one["jobs"] == 1 and none["jobs"] == 0 and outer["jobs"] == 1
    assert one["python_s"] > 0

    path = str(tmp_path / "t.parquet")
    spark.range(1000).repartition(3).write.parquet(path)
    with tr.span("scan") as scan:
        spark.read.parquet(path).collect()
    assert scan["files_read"] == 3
    assert scan["scan_b"]["parquet"] > 0
