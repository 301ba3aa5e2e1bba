"""Benchmark-owned Salesforce transport.

Implements the ``sources.salesforce.Transport`` protocol over an
:class:`org.Org`. Unlike the package's test ``MockTransport`` (which
rescans and re-filters every row in Python per query), an incremental
query here is a bisect into the org's cursor-ordered change log, so a
sync costs the simulated server O(batch), not O(table). Full reads
(replace tables, first loads) are inherently O(table).

Only the Bulk API shape is served (datetimes as epoch millis, an
``attributes`` envelope on every record), each query's rows as one page.
In traced rounds each query is a span of its own: the simulated
server's time, reported apart from the program's as
``sources.salesforce.transport_s``.
"""

from __future__ import annotations

import bisect
import datetime as dt
import re
from collections.abc import Iterator
from typing import Any

from .org import OBJECTS, Org, describe

_SOQL = re.compile(
    r"SELECT (?P<fields>.+?) FROM (?P<obj>\w+)"
    r"(?: WHERE (?P<key>\w+) > (?P<val>\S+))?"
    r"(?: ORDER BY (?P<okey>\w+) ASC)?"
    r"(?: LIMIT (?P<limit>\d+))?$"
)


def _parse_ms(value: str) -> int:
    t = dt.datetime.fromisoformat(value.strip("'").replace("Z", "+00:00"))
    return int(t.timestamp() * 1000)


class BenchTransport:
    def __init__(self, org: Org, tracer=None) -> None:
        self.org = org
        self.tracer = tracer
        self._table = {obj: t for t, (obj, _, _) in OBJECTS.items()}
        self._describes = {obj: describe(t) for t, (obj, _, _) in OBJECTS.items()}
        self.rows_fetched = 0
        # Test hook: serve the next merge-table batch with its first row
        # missing, so a checker that cannot see a lost upsert is exposed.
        self.drop_next_merge_row = False

    def describe(self, sobject: str) -> list[dict[str, Any]]:
        return self._describes[sobject]

    def query_bulk(self, sobject: str, soql: str) -> Iterator[list[dict[str, Any]]]:
        span = self.tracer.open("sources.salesforce.transport") if self.tracer else None
        rows = self._select(sobject, soql)
        if span is not None:
            table = self._table[sobject]
            self.tracer.spans[span].attrs.update(
                rows_fetched=len(rows), bytes_fetched=sum(self.org.nbytes[table][r["Id"]] for r in rows)
            )
            self.tracer.close(span)
        return iter([rows])

    def query_standard(self, soql: str) -> Iterator[list[dict[str, Any]]]:
        raise NotImplementedError("the benchmark org serves the Bulk API only")

    def _select(self, sobject: str, soql: str) -> list[dict[str, Any]]:
        m = _SOQL.match(soql)
        if not m or m.group("obj") != sobject:
            raise ValueError(f"cannot serve SOQL: {soql}")
        table = self._table[sobject]
        current = self.org.rows[table]
        if m.group("key"):
            key = m.group("key")
            if key != self.org.cursor_field[table]:
                raise ValueError(f"{table} has no change log on {key}")
            log = self.org.log[table]
            start = bisect.bisect_right(log, (_parse_ms(m.group("val")), "\uffff"))
            rows = [current[rid] for ms, rid in log[start:] if current[rid][key] == ms]
        elif self.org.cursor_field[table]:
            key = self.org.cursor_field[table]
            rows = [current[rid] for ms, rid in self.org.log[table] if current[rid][key] == ms]
        else:
            rows = list(current.values())
        if m.group("limit"):
            rows = rows[: int(m.group("limit"))]
        if self.drop_next_merge_row and rows and self.org.primary_key[table]:
            self.drop_next_merge_row = False
            rows = rows[1:]
        self.rows_fetched += len(rows)
        return rows
