"""Tests of the benchmark itself: generators, transport and checkers at
tiny scale, and a planted fault the sync checker must catch.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pytest

from perfbench import config as C
from perfbench import worker
from perfbench.corpus import Corpus
from perfbench.org import Org, canonical_ts
from perfbench.transport import BenchTransport

TINY_ORG = {"account": 80, "contact": 30, "task": 40}
TINY_UPDATES = {"account": 9, "contact": 5}
TINY_INSERTS = {"account": 4, "contact": 2, "task": 5}


@pytest.fixture
def tiny(monkeypatch):
    for name, value in {
        "ORG_SIZES": TINY_ORG, "SYNC_UPDATES": TINY_UPDATES, "SYNC_INSERTS": TINY_INSERTS,
        "CORPUS_DOCS": 300, "EXACT_DUP_GROUPS": 8, "NEAR_DUP_PAIRS": 10,
        "EMBED_N": 300, "EMBED_CLUSTERS": 6, "QUERIES": 8, "CHECK_SAMPLE": 10,
    }.items():
        monkeypatch.setattr(C, name, value)


# -- no Spark ---------------------------------------------------------------


def test_org_is_seeded_and_keeps_its_digest(tiny):
    a, b = Org(7, TINY_ORG), Org(7, TINY_ORG)
    assert a.rows == b.rows
    assert Org(8, TINY_ORG).rows != a.rows
    for _ in range(3):
        batch = a.apply(TINY_UPDATES, TINY_INSERTS)
        assert batch.rows_changed == sum(TINY_UPDATES.values()) + sum(TINY_INSERTS.values())
    for t in TINY_ORG:
        assert a.expected_digest(t) == a.recompute_digest(t)


def test_org_refuses_updates_to_keyless_merge_tables(tiny):
    with pytest.raises(ValueError, match="no primary key"):
        Org(1, TINY_ORG).apply({"task": 1}, {})


def test_transport_serves_only_rows_past_the_cursor(tiny):
    org = Org(3, TINY_ORG)
    tr = BenchTransport(org)
    key = "LastModifiedDate"
    full = [r for page in tr.query_bulk("Account", f"SELECT Id, {key} FROM Account "
                                        f"ORDER BY {key} ASC") for r in page]
    assert len(full) == TINY_ORG["account"]
    state = canonical_ts(max(r[key] for r in full))
    batch = org.apply(TINY_UPDATES, TINY_INSERTS)
    soql = f"SELECT Id, {key} FROM Account WHERE {key} > {state} ORDER BY {key} ASC"
    got = [r for page in tr.query_bulk("Account", soql) for r in page]
    want = set(batch.updated["account"]) | set(batch.inserted["account"])
    assert sorted(r["Id"] for r in got) == sorted(want)
    stamps = [r[key] for r in got]
    assert stamps == sorted(stamps) and min(stamps) > max(r[key] for r in full)
    assert all(r["attributes"] == {"type": "Account"} for r in got)
    assert tr.rows_fetched == len(full) + len(got)


def test_tail_percentile_keeps_ten_samples_beyond_it():
    assert worker.tail_percentile(1000) == 99
    assert worker.tail_percentile(200) == 95
    assert worker.tail_percentile(100) == 90
    assert worker.tail_percentile(40) == 75
    assert worker.tail_percentile(7) == 90
    assert worker.percentile([3.0, 1.0, 2.0], 50) == 2.0


def test_per_layer_reports_every_metric_benchmark_json_names():
    import json
    from pathlib import Path

    from perfbench.tracing import Tracer

    class Idle:
        layer: dict = {}

    bench = json.loads((Path(__file__).parents[2] / "BENCHMARK.json").read_text())
    got = worker.per_layer(Idle(), Tracer(None), 1.0, 0, 0, 0)
    got["trace.overhead_ratio"] = 0.0  # set by main from the two rounds
    assert set(got) == {m["name"] for m in bench["per_layer"]}
    e2e = set(worker.end_to_end([("op", 1.0, 10)]))
    assert {m["name"] for m in bench["end_to_end"]} - e2e == {
        "setup_s", "storage_bytes_per_user_byte", "peak_rss_mb"
    }


def test_corpus_plants_its_duplicates(tiny):
    c = Corpus(5)
    groups = c.expected_exact_groups()
    assert {(g[0], len(g)) for g in c.exact_groups} <= groups
    assert all(c.texts[a] != c.texts[b] for a, b in c.near_pairs)
    assert c.cosine_topk(3)  # one entry per query
    assert len(c.bm25_topk(c.bm25_terms, 5)) == 5


# -- Spark, tiny scale --------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from dlt_salesforce_iceberg_rest_demo_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
    })
    yield s
    s.stop()


def _one_round(w) -> list[str]:
    bad = []
    for kind in w.round():
        assert w.run(kind) > 0
        bad += w.check_op(kind)
    return bad + w.check_end()


@pytest.mark.parametrize("name", ["crm_incremental_sync", "corpus_dedup_search"])
def test_workload_smoke(tiny, spark, tmp_path, name):
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    tracer = Tracer(spark.sparkContext)
    w = WORKLOADS[name](11, tmp_path, spark, tracer)
    w.setup()
    tracer.start()
    try:
        assert _one_round(w) == []
    finally:
        tracer.stop()
    layers = {s.name.split(".")[0] for s in tracer.spans}
    if name == "corpus_dedup_search":
        assert "operators" in layers and not {"sources", "sinks"} & layers
    else:
        assert {"sources", "sinks", "state", "pipeline"} & layers and "operators" not in layers
    assert w.storage_ratio() > 0


def test_sync_check_catches_a_dropped_merge_row(tiny, spark, tmp_path):
    from perfbench.tracing import Tracer
    from perfbench.workloads import CrmIncrementalSync

    w = CrmIncrementalSync(12, tmp_path, spark, Tracer(spark.sparkContext))
    w.setup()
    w.transport.drop_next_merge_row = True
    bad = _one_round(w)
    assert any(m.startswith("account: lake (rows, hash)") for m in bad), bad


def test_corpus_check_covers_every_call(tiny, spark, tmp_path):
    from perfbench.tracing import Tracer
    from perfbench.workloads import CorpusDedupSearch

    w = CorpusDedupSearch(13, tmp_path, spark, Tracer(spark.sparkContext))
    w.setup()
    w.run("bm25_topk")
    assert w.check_op("bm25_topk") == []
    w.run("bm25_topk")
    w.rows = w.rows[1:]  # a later call that loses its top hit
    assert w.check_op("bm25_topk") == ["bm25_topk: ranking differs from the replayed scores"]
