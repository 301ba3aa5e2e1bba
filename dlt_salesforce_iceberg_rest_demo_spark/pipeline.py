"""End-to-end pipeline: the Spark-native `load()`
(/root/reference/salesforce_pipeline.py:179-206, §3.1 of SURVEY.md).

Per selected resource:

1. read the last cursor from the state store (dlt incremental parity);
2. extract through the transport with P1-P5 pushdown (Bulk -> Standard
   fallback);
3. normalize: snake_case identifiers + `_dlt_load_id`/`_dlt_id` lineage
   (dlt normalize stage parity);
4. write with the resource's disposition (replace / merge-on-Id /
   append fallback);
5. advance the cursor to the max replication value actually loaded.

`force_replace` (W6, salesforce_pipeline.py:32-34,184-203): every
resource is written as replace and the state store is wiped first.

The whole of steps 2-4 is ONE lazy Catalyst plan per resource - no
intermediate materialization (the reference stages dicts -> parquet job
files -> arrow batches between its three dlt stages).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT_RESOURCES, RESOURCES, ResourceConfig
from .normalize import CANONICAL_TS_FORMAT, add_lineage, new_load_id, snake_case, snake_case_columns
from .sinks.dispositions import ParquetLake, WriteReport
from .sources.salesforce import Transport, read_object
from .state import StateStore


@dataclass
class LoadInfo:
    """Printed at the end of a run (salesforce_pipeline.py:210) and mined
    by the Dagster asset for per-table metadata
    (dagster/.../dlt_salesforce.py:90-127)."""

    load_id: str
    reports: list[WriteReport] = field(default_factory=list)
    cursors: dict[str, str] = field(default_factory=dict)

    @property
    def total_rows(self) -> int:
        return sum(r.rows_written for r in self.reports)


class SalesforcePipeline:
    def __init__(
        self,
        spark: SparkSession,
        transport: Transport,
        lake: ParquetLake,
        state: StateStore,
        *,
        is_production: bool = True,
    ) -> None:
        self.spark = spark
        self.transport = transport
        self.lake = lake
        self.state = state
        self.is_production = is_production

    def run(
        self,
        resources: tuple[str, ...] = DEFAULT_RESOURCES,
        *,
        force_replace: bool = False,
        load_id: str | None = None,
        audit=None,
    ) -> LoadInfo:
        """Load the selected resources. With ``audit`` set (a callable
        ``(DataFrame, table_name) -> bool``), every resource runs in
        WRITE-AUDIT-PUBLISH mode: the batch lands on a per-load BRANCH
        (``wap_{load_id}``), the audit inspects the branch's full table
        state, and only a passing audit fast-forwards main — a failing
        one drops the branch, leaves main untouched, and does NOT
        advance the incremental cursor (the failed batch re-extracts
        next run). The governed-ingestion upgrade the reference cannot
        express (PyIceberg single-writer, no branches; SURVEY §2.4).
        """
        if force_replace:
            self.state.reset()
        info = LoadInfo(load_id=load_id or new_load_id())
        for name in resources:
            cfg = RESOURCES[name]
            report, cursor = self._load_resource(
                cfg, info.load_id, force_replace, audit
            )
            info.reports.append(report)
            if cursor is not None:
                info.cursors[name] = cursor
        return info

    def _load_resource(
        self, cfg: ResourceConfig, load_id: str, force_replace: bool, audit=None
    ) -> tuple[WriteReport, str | None]:
        last_state = (
            None
            if force_replace
            else (
                self.state.get(cfg.name, cfg.initial_value)
                if cfg.replication_key
                else None
            )
        )
        df = read_object(
            self.spark,
            self.transport,
            cfg.sobject,
            last_state=last_state,
            replication_key=cfg.replication_key,
            is_production=self.is_production,
        )
        normalized = add_lineage(snake_case_columns(df), load_id)

        disposition = "replace" if force_replace else cfg.write_disposition
        pk = tuple(snake_case(k) for k in cfg.primary_key)
        branch = None if audit is None else f"wap_{load_id}"
        report = self.lake.write(normalized, cfg.name, disposition, pk, branch=branch)
        if branch is not None:
            published = audit(self.lake.read(cfg.name, branch), cfg.name)
            if published:
                self.lake.fast_forward(cfg.name, branch)
            self.lake.drop_branch(cfg.name, branch)
            if not published:
                # failed audit: nothing published, cursor must not move
                return WriteReport(cfg.name, disposition, 0), None

        cursor_value: str | None = None
        if cfg.replication_key:
            cursor_col = snake_case(cfg.replication_key)
            if cursor_col in normalized.columns:
                row = normalized.agg(
                    F.date_format(F.max(cursor_col), CANONICAL_TS_FORMAT).alias("m")
                ).collect()[0]
                cursor_value = row["m"]
                self.state.advance(cfg.name, cursor_value)
        return report, cursor_value
