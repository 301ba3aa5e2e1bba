"""End-to-end pipeline runs over the mock org: incremental merge,
replace snapshots, no-PK fallback, force_replace - §3.1 of SURVEY.md."""

from __future__ import annotations

from dlt_salesforce_iceberg_rest_demo_spark.pipeline import SalesforcePipeline
from dlt_salesforce_iceberg_rest_demo_spark.sinks.dispositions import ParquetLake
from dlt_salesforce_iceberg_rest_demo_spark.state import StateStore

from .fixtures_salesforce import make_transport


def make_pipeline(spark, tmp_path, version=1):
    return SalesforcePipeline(
        spark,
        make_transport(version),
        ParquetLake(spark, tmp_path / "lake"),
        StateStore(tmp_path / "state.json"),
    )


def account_rows(p):
    return {r["id"]: r.asDict() for r in p.lake.read("account").collect()}


class TestIncrementalMerge:
    def test_two_runs_upsert(self, spark, tmp_path):
        p1 = make_pipeline(spark, tmp_path, version=1)
        info1 = p1.run(("account",))
        assert p1.lake.count("account") == 2
        # cursor advanced to the max LastModifiedDate in the load
        assert info1.cursors["account"].startswith("2024-01-03")
        assert p1.state.get("account") == info1.cursors["account"]

        # second run against the updated org: only >cursor rows extracted
        p2 = make_pipeline(spark, tmp_path, version=2)
        p2.run(("account",))
        rows = account_rows(p2)
        assert len(rows) == 3
        assert rows["001B"]["annual_revenue"] == 7_500_000.0  # updated in place
        assert rows["001C"]["name"] == "Initech"  # new row inserted
        assert rows["001A"]["annual_revenue"] == 1_000_000.0  # untouched
        # the incremental query only pulled the 2 changed rows
        assert "WHERE LastModifiedDate >" in p2.transport.queries_seen[-1]

    def test_rerun_without_changes_is_noop(self, spark, tmp_path):
        p1 = make_pipeline(spark, tmp_path, version=1)
        p1.run(("account",))
        p1b = make_pipeline(spark, tmp_path, version=1)
        p1b.run(("account",))
        assert p1b.lake.count("account") == 2  # idempotent (I4)

    def test_snake_case_and_lineage(self, spark, tmp_path):
        p = make_pipeline(spark, tmp_path)
        info = p.run(("account",))
        cols = p.lake.read("account").columns
        assert "last_modified_date" in cols  # CamelCase -> snake_case
        assert "_dlt_load_id" in cols and "_dlt_id" in cols  # lineage (T5)
        vals = p.lake.read("account").select("_dlt_load_id").distinct().collect()
        assert [v["_dlt_load_id"] for v in vals] == [info.load_id]


class TestReplaceResource:
    def test_snapshot_supplants(self, spark, tmp_path):
        p1 = make_pipeline(spark, tmp_path, version=1)
        p1.run(("contact",))
        assert p1.lake.count("contact") == 2
        p2 = make_pipeline(spark, tmp_path, version=2)
        p2.run(("contact",))
        rows = {r["id"] for r in p2.lake.read("contact").collect()}
        assert rows == {"003B"}  # full snapshot replaced; 003A gone


class TestNoPkMerge:
    def test_task_falls_back_to_append(self, spark, tmp_path):
        # task/event: merge disposition, no primary key (I2) -> W4 append
        p = make_pipeline(spark, tmp_path)
        info = p.run(("task",))
        assert info.reports[0].fallback_append
        assert p.lake.count("task") == 2


class TestForceReplace:
    def test_force_replace_resets_state_and_overwrites(self, spark, tmp_path):
        p1 = make_pipeline(spark, tmp_path, version=1)
        p1.run(("account",))
        assert p1.state.get("account") is not None
        p2 = make_pipeline(spark, tmp_path, version=2)
        info = p2.run(("account",), force_replace=True)
        # W6: every resource written as replace, full re-extract
        assert info.reports[0].disposition == "replace"
        assert p2.lake.count("account") == 3

    def test_default_resources_selection(self, spark, tmp_path):
        from dlt_salesforce_iceberg_rest_demo_spark.config import DEFAULT_RESOURCES

        assert DEFAULT_RESOURCES == (
            "account",
            "contact",
            "opportunity",
            "opportunity_contact_role",
        )


class TestLoadInfo:
    def test_total_rows(self, spark, tmp_path):
        p = make_pipeline(spark, tmp_path)
        info = p.run(("account", "contact"))
        assert info.total_rows == 4
        assert [r.table for r in info.reports] == ["account", "contact"]


class TestWriteAuditPublish:
    """WAP mode: passing audits publish via fast-forward; failing audits
    leave main AND the incremental cursor untouched."""

    def test_passing_audit_publishes(self, spark, tmp_path):
        p = make_pipeline(spark, tmp_path, version=1)
        audited = []

        def audit(df, table):
            audited.append((table, df.count()))
            return True

        info = p.run(("account",), audit=audit)
        assert audited and audited[0][0] == "account" and audited[0][1] == 2
        assert p.lake.count("account") == 2          # published to main
        assert info.cursors["account"].startswith("2024-01-03")
        assert p.lake.branches("account") == {}      # staging branch dropped

    def test_failing_audit_blocks_publish_and_cursor(self, spark, tmp_path):
        p = make_pipeline(spark, tmp_path, version=1)
        p.run(("account",))  # seed main + cursor
        v0 = p.lake.current_version("account")
        cursor0 = p.state.get("account")

        p2 = make_pipeline(spark, tmp_path, version=2)
        info = p2.run(("account",), audit=lambda df, table: False)
        assert p2.lake.current_version("account") == v0   # main untouched
        assert p2.state.get("account") == cursor0         # cursor frozen
        assert info.total_rows == 0
        assert p2.lake.branches("account") == {}          # branch dropped
        # the failed batch re-extracts and publishes on the next good run
        p3 = make_pipeline(spark, tmp_path, version=2)
        p3.run(("account",), audit=lambda df, table: True)
        assert p3.lake.count("account") == 3

    def test_failing_audit_on_first_load_leaves_nothing(self, spark, tmp_path):
        # the first write auto-creates the table and forks the branch;
        # a failed audit must leave an empty main and no cursor
        p = make_pipeline(spark, tmp_path, version=1)
        info = p.run(("account",), audit=lambda df, table: False)
        assert info.total_rows == 0
        assert p.lake.count("account") == 0
        assert p.lake.branches("account") == {}
        assert p.state.get("account") is None

    def test_wap_incremental_upsert_semantics_preserved(self, spark, tmp_path):
        # WAP merge == plain merge results, just routed through a branch
        pa = make_pipeline(spark, tmp_path / "plain", version=1)
        pa.run(("account",))
        pa2 = make_pipeline(spark, tmp_path / "plain", version=2)
        pa2.run(("account",))
        plain = {r["id"]: r["annual_revenue"]
                 for r in pa2.lake.read("account").collect()}

        pb = make_pipeline(spark, tmp_path / "wap", version=1)
        pb.run(("account",), audit=lambda df, t: True)
        pb2 = make_pipeline(spark, tmp_path / "wap", version=2)
        pb2.run(("account",), audit=lambda df, t: True)
        wap = {r["id"]: r["annual_revenue"]
               for r in pb2.lake.read("account").collect()}
        assert wap == plain
