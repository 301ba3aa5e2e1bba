"""Seeded Salesforce-shaped org, its change stream, and the expected lake.

Field shapes follow FIXTURES.md section A (account and contact, plus
task); each object's write disposition comes from ``config.RESOURCES``:
account merges on ``Id`` with a ``LastModifiedDate`` cursor, contact is
replaced, and task is declared merge without a key, so the lake appends.

The org is the simulated source *and* the model of the lake the
pipeline should build from it:

- merge tables (cursor + ``Id`` key) must hold the latest version of
  every row ever served;
- replace tables must hold the current snapshot;
- no-key tables (task: append fallback) must hold every row ever
  served - the change stream only inserts into them, so that is again
  the current set.

So after a sync that drained every change, each lake table equals the
org's current rows. The org keeps a per-table running digest (row count
and an order-insensitive sum of row hashes) updated in O(changes), and
``digest_expr`` computes the same digest on the lake with Spark.

Datetimes are held in the Bulk API wire shape (epoch millis), which the
transport serves as-is; the hash renders them as those integers on both
sides, so no timezone or format conversion enters the comparison.
"""

from __future__ import annotations

import datetime as dt
import hashlib
from dataclasses import dataclass, field

import numpy as np

# Lake column type per field kind (after the source's type inference).
STRING, LONG, DOUBLE, BOOL, TS = "string", "long", "double", "bool", "ts"

_DESCRIBE_TYPE = {
    STRING: "string",
    LONG: "int",
    DOUBLE: "currency",
    BOOL: "boolean",
    TS: "datetime",
}

# (SF field name, lake column name, kind). Lake names are dlt's
# snake_case normalization, written out so the checker does not depend
# on the code under test.
_SYSTEM = [
    ("CreatedDate", "created_date", TS),
    ("LastModifiedDate", "last_modified_date", TS),
    ("SystemModstamp", "system_modstamp", TS),
]

OBJECTS: dict[str, tuple[str, str, list[tuple[str, str, str]]]] = {
    # table: (sObject, Id prefix, fields)
    "account": ("Account", "001", [
        ("Id", "id", STRING), ("Name", "name", STRING), ("Type", "type", STRING),
        ("Industry", "industry", STRING), ("AnnualRevenue", "annual_revenue", DOUBLE),
        ("NumberOfEmployees", "number_of_employees", LONG), ("Phone", "phone", STRING),
        ("Website", "website", STRING), ("Description", "description", STRING),
        ("Rating", "rating", STRING), ("AccountSource", "account_source", STRING),
        ("BillingCity", "billing_city", STRING), ("BillingCountry", "billing_country", STRING),
    ] + _SYSTEM),
    "contact": ("Contact", "003", [
        ("Id", "id", STRING), ("FirstName", "first_name", STRING),
        ("LastName", "last_name", STRING), ("AccountId", "account_id", STRING),
        ("Title", "title", STRING), ("Email", "email", STRING), ("Phone", "phone", STRING),
        ("Department", "department", STRING), ("LeadSource", "lead_source", STRING),
        ("Birthdate", "birthdate", STRING), ("Description", "description", STRING),
    ] + _SYSTEM),
    "task": ("Task", "00T", [
        ("Id", "id", STRING), ("Subject", "subject", STRING), ("Status", "status", STRING),
        ("Priority", "priority", STRING), ("WhoId", "who_id", STRING),
        ("WhatId", "what_id", STRING), ("ActivityDate", "activity_date", STRING),
        ("CreatedDate", "created_date", TS), ("SystemModstamp", "system_modstamp", TS),
    ]),
}

# The reference's resource names, in load order (parents first).
TABLES = tuple(OBJECTS)

_VOCAB = {
    "Type": ["Customer - Direct", "Customer - Channel", "Prospect", "Partner", "Other"],
    "Industry": ["Technology", "Healthcare", "Finance", "Retail", "Manufacturing",
                 "Energy", "Education", "Media"],
    "Rating": ["Hot", "Warm", "Cold"],
    "AccountSource": ["Web", "Phone Inquiry", "Partner Referral", "Purchased List", "Other"],
    "BillingCity": ["Berlin", "Paris", "Austin", "Osaka", "Lagos", "Lima", "Oslo", "Pune"],
    "BillingCountry": ["DE", "FR", "US", "JP", "NG", "PE", "NO", "IN"],
    "Title": ["VP Sales", "CTO", "Engineer", "Analyst", "Director", "Manager"],
    "Department": ["Sales", "Marketing", "Engineering", "Finance", "Support"],
    "LeadSource": ["Web", "Referral", "Event", "Cold Call", "Advertisement"],
    "Status": ["Not Started", "In Progress", "Completed", "Waiting"],
    "Priority": ["High", "Normal", "Low"],
    "Subject": ["Call", "Email", "Meeting", "Follow up", "Send letter", "Demo"],
    "Name": ["Acme", "Globex", "Initech", "Umbrella", "Hooli", "Vandelay", "Wonka", "Stark"],
    "FirstName": ["Ada", "Grace", "Alan", "Edsger", "Barbara", "Donald", "Frances", "Ken"],
    "LastName": ["Lovelace", "Hopper", "Turing", "Dijkstra", "Liskov", "Knuth", "Allen"],
}
_WORDS = ("alpha beta gamma delta renewal upsell pilot expansion budget "
          "security cloud platform migration review").split()

T0_MS = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)
_SEP = "\x1f"
_NULL = "\\N"
HASH_HEX = 10  # 40-bit row hashes: a 2^24-row table cannot overflow a long sum


def describe(table: str) -> list[dict]:
    """Field metadata as ``describe()`` returns it. Account carries a
    compound address parent whose components point at it, so the
    source's compound-field pruning has something to prune."""
    _, _, fields = OBJECTS[table]
    out = [
        {"name": sf, "type": "id" if sf == "Id" else _DESCRIBE_TYPE[kind],
         "compoundFieldName": None}
        for sf, _, kind in fields
    ]
    if table == "account":
        out.insert(11, {"name": "BillingAddress", "type": "address", "compoundFieldName": None})
        for f in out:
            if f["name"] in ("BillingCity", "BillingCountry"):
                f["compoundFieldName"] = "BillingAddress"
    return out


def canonical_ts(ms: int) -> str:
    """The pipeline's cursor format (``normalize.CANONICAL_TS_FORMAT``)."""
    t = dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def _render(kind: str, v) -> str:
    if v is None:
        return _NULL
    if kind == BOOL:
        return "true" if v else "false"
    if kind == DOUBLE:  # generated doubles are whole numbers
        return str(int(v))
    return str(v)


def row_hash(table: str, rec: dict) -> int:
    _, _, fields = OBJECTS[table]
    s = _SEP.join(_render(kind, rec.get(sf)) for sf, _, kind in fields)
    return int(hashlib.md5(s.encode()).hexdigest()[:HASH_HEX], 16)


def digest_expr(table: str):
    """Spark aggregate columns computing ``(n, h)`` over a lake table, the
    same digest the org keeps for it."""
    from pyspark.sql import functions as F

    _, _, fields = OBJECTS[table]
    parts = []
    for _, col, kind in fields:
        c = F.col(col)
        if kind == TS:
            c = F.unix_millis(c).cast("string")
        elif kind == DOUBLE:
            c = c.cast("long").cast("string")
        else:
            c = c.cast("string")
        parts.append(F.coalesce(c, F.lit(_NULL)))
    h = F.conv(F.substring(F.md5(F.concat_ws(_SEP, *parts)), 1, HASH_HEX), 16, 10).cast("long")
    return [F.count(F.lit(1)).alias("n"), F.coalesce(F.sum(h), F.lit(0)).alias("h")]


@dataclass
class Batch:
    """One sync's worth of source changes: changed Ids per table."""

    updated: dict[str, list[str]] = field(default_factory=dict)
    inserted: dict[str, list[str]] = field(default_factory=dict)

    @property
    def rows_changed(self) -> int:
        return sum(map(len, self.updated.values())) + sum(map(len, self.inserted.values()))


class Org:
    """The simulated org: current rows per table, a cursor-ordered change
    log per cursor table, and running digests."""

    def __init__(self, seed: int, sizes: dict[str, int]) -> None:
        self.rng = np.random.default_rng(seed)
        self.clock_ms = T0_MS
        self.next_id = {t: 0 for t in TABLES}
        self.rows: dict[str, dict[str, dict]] = {t: {} for t in TABLES}
        self.nbytes: dict[str, dict[str, int]] = {t: {} for t in TABLES}
        self.digest = {t: [0, 0] for t in TABLES}
        # cursor tables: ascending (cursor_ms, Id) log; superseded entries
        # are skipped at serve time
        self.log: dict[str, list[tuple[int, str]]] = {t: [] for t in TABLES}
        self.cursor_field: dict[str, str | None] = {}
        from dlt_salesforce_iceberg_rest_demo_spark.config import RESOURCES

        for t in TABLES:
            self.cursor_field[t] = RESOURCES[t].replication_key
        self.disposition = {t: RESOURCES[t].write_disposition for t in TABLES}
        self.primary_key = {t: RESOURCES[t].primary_key for t in TABLES}
        for t in TABLES:
            self._insert(t, sizes.get(t, 0))

    # -- row construction --------------------------------------------------

    def _tick(self) -> int:
        self.clock_ms += 1000
        return self.clock_ms

    # Column-at-a-time draws: one vectorized RNG call per field and batch.

    def _pick(self, key: str, n: int) -> list:
        vals = _VOCAB[key]
        return [vals[i] for i in self.rng.integers(len(vals), size=n)]

    def _ints(self, lo: int, hi: int, n: int) -> list[int]:
        return self.rng.integers(lo, hi, size=n).tolist()

    def _refs(self, table: str, n: int) -> list[str | None]:
        top = self.next_id[table]
        if top == 0:
            return [None] * n
        return [self._id(table, i) for i in self.rng.integers(top, size=n).tolist()]

    @staticmethod
    def _id(table: str, n: int) -> str:
        return f"{OBJECTS[table][1]}{n:015d}"

    def _texts(self, n: int) -> list[str | None]:
        null = (self.rng.random(n) < 0.2).tolist()
        length = self.rng.integers(3, 9, size=n).tolist()
        words = self.rng.integers(len(_WORDS), size=(n, 8)).tolist()
        return [
            None if null[i] else " ".join(_WORDS[w] for w in words[i][: length[i]])
            for i in range(n)
        ]

    def _dates(self, n: int, years: tuple[int, int] = (2024, 2025)) -> list[str]:
        y, m, d = (self._ints(*years, n), self._ints(1, 13, n), self._ints(1, 29, n))
        return [f"{a}-{b:02d}-{c:02d}" for a, b, c in zip(y, m, d)]

    def _payloads(self, table: str, n: int) -> list[dict]:
        """Mutable (non-system, non-key) fields of ``n`` fresh versions."""
        if table == "account":
            cols = {
                "Name": [f"{a} {b}" for a, b in zip(self._pick("Name", n), self._ints(0, 10**6, n))],
                "Type": self._pick("Type", n), "Industry": self._pick("Industry", n),
                "AnnualRevenue": [float(v) for v in self._ints(1_000_000, 500_000_000, n)],
                "NumberOfEmployees": self._ints(1, 2001, n),
                "Phone": [f"+1-555-{v:04d}" for v in self._ints(0, 10_000, n)],
                "Website": [f"https://www.example{v}.test" for v in self._ints(0, 10_000, n)],
                "Description": self._texts(n), "Rating": self._pick("Rating", n),
                "AccountSource": self._pick("AccountSource", n),
                "BillingCity": self._pick("BillingCity", n),
                "BillingCountry": self._pick("BillingCountry", n),
            }
        elif table == "contact":
            cols = {
                "FirstName": self._pick("FirstName", n), "LastName": self._pick("LastName", n),
                "AccountId": self._refs("account", n), "Title": self._pick("Title", n),
                "Email": [f"user{v}@example.test" for v in self._ints(0, 10**9, n)],
                "Phone": [f"+1-555-{v:04d}" for v in self._ints(0, 10_000, n)],
                "Department": self._pick("Department", n),
                "LeadSource": self._pick("LeadSource", n),
                "Birthdate": self._dates(n, (1960, 2003)), "Description": self._texts(n),
            }
        else:
            cols = {
                "Subject": self._pick("Subject", n), "Status": self._pick("Status", n),
                "Priority": self._pick("Priority", n), "WhoId": self._refs("contact", n),
                "WhatId": self._refs("account", n), "ActivityDate": self._dates(n),
            }
        names = list(cols)
        return [dict(zip(names, vals)) for vals in zip(*cols.values())]

    def _insert(self, table: str, n: int) -> list[str]:
        has_lmd = any(sf == "LastModifiedDate" for sf, _, _ in OBJECTS[table][2])
        envelope = {"type": OBJECTS[table][0]}
        ids = []
        for payload in self._payloads(table, n):
            i = self.next_id[table]
            self.next_id[table] = i + 1
            now = self._tick()
            rec = {"Id": self._id(table, i), "CreatedDate": now, "SystemModstamp": now}
            if has_lmd:
                rec["LastModifiedDate"] = now
            rec.update(payload)
            rec["attributes"] = envelope
            self._put(table, rec)
            ids.append(rec["Id"])
        return ids

    def _update(self, table: str, ids: list[int]) -> None:
        current = self.rows[table]
        for i, payload in zip(ids, self._payloads(table, len(ids))):
            old = current[self._id(table, i)]
            now = self._tick()
            rec = {**old, **payload, "SystemModstamp": now}
            if "LastModifiedDate" in old:
                rec["LastModifiedDate"] = now
            self._put(table, rec)

    def _put(self, table: str, rec: dict) -> None:
        rid = rec["Id"]
        d = self.digest[table]
        old = self.rows[table].get(rid)
        if old is not None:
            d[0] -= 1
            d[1] -= row_hash(table, old)
        self.rows[table][rid] = rec
        self.nbytes[table][rid] = row_bytes(table, rec)
        d[0] += 1
        d[1] += row_hash(table, rec)
        key = self.cursor_field[table]
        if key is not None:
            self.log[table].append((rec[key], rid))

    # -- change stream -----------------------------------------------------

    def apply(self, updates: dict[str, int], inserts: dict[str, int]) -> Batch:
        """Apply one seeded batch: ``updates[t]`` distinct existing rows get
        a new version, ``inserts[t]`` rows are created. Every changed row
        gets a cursor value later than anything served before."""
        unknown = (updates.keys() | inserts.keys()) - set(TABLES)
        if unknown:
            raise ValueError(f"no such tables in the org: {sorted(unknown)}")
        batch = Batch()
        for t in TABLES:
            if updates.get(t) and self.disposition[t] == "merge" and not self.primary_key[t]:
                raise ValueError(f"{t} has no primary key: the lake appends, so only inserts")
            n_up = min(updates.get(t, 0), len(self.rows[t]))
            picks = sorted(self.rng.choice(self.next_id[t], size=n_up, replace=False).tolist())
            self._update(t, picks)
            batch.updated[t] = [self._id(t, i) for i in picks]
            batch.inserted[t] = self._insert(t, inserts.get(t, 0))
        return batch

    # -- expectations ------------------------------------------------------

    def expected_cursor(self, table: str) -> str | None:
        """The cursor a drained sync leaves in ``StateStore``: the max
        served cursor value, in the pipeline's canonical format."""
        key = self.cursor_field[table]
        if key is None or not self.log[table]:
            return None
        return canonical_ts(self.log[table][-1][0])

    def expected_digest(self, table: str) -> tuple[int, int]:
        n, h = self.digest[table]
        return n, h

    def recompute_digest(self, table: str) -> tuple[int, int]:
        """From-scratch digest (the running one must always equal it)."""
        rows = self.rows[table].values()
        return len(self.rows[table]), sum(row_hash(table, r) for r in rows)

    def logical_bytes(self, table: str) -> int:
        """User-visible payload bytes of the table's current rows."""
        return sum(self.nbytes[table].values())


def row_bytes(table: str, rec: dict) -> int:
    """User-visible payload bytes of one record: UTF-8 text, 8 bytes per
    number or datetime, 1 per boolean, nothing for NULL."""
    total = 0
    for sf, _, kind in OBJECTS[table][2]:
        v = rec.get(sf)
        if v is not None:
            total += len(v.encode()) if kind == STRING else 1 if kind == BOOL else 8
    return total
