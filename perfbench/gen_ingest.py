"""Seeded, FK-consistent source data for the ingestion workloads.

Writes, for the 8 active registry tables:

- ``day0/corleone/<table>.csv``: the full source state at ``T0``, laid
  out as the OnDemand flow expects (``<source_root>/<source_db>/``);
- ``day<k>/<table>.csv`` for k = 1..days: the full source state at
  ``T0 + k days``, laid out as ``LocalFileSource`` expects. Day k
  changes about 1% of the anchor subscriptions created in the last 90
  days, with all their FK-chain children, changes 1% of recent orders,
  and inserts a few new orders and subscriptions with children;
- ``cdc.csv``: one mixed insert/update/delete batch for
  ``retail_items`` on top of the last day's state (``_op`` column);
- ``manifest.json``: row counts and the rows each day changed.

Every FK child is created at or shortly after its parent, as in the
source database, so a day's changes fall in a few recent
``{t}_year``/``{t}_month`` partitions; uniform child timestamps would
make every increment rewrite every partition of the child tables.
"""

from __future__ import annotations

import csv
import json
import os
import random
import shutil
from datetime import datetime, timedelta

from data_ingestor_gluejob_script_spark.registry import CATALOG, tables_list

T0 = datetime(2024, 7, 1)
TS = "%Y-%m-%d %H:%M:%S"
DAY = timedelta(days=1)
RECENT = timedelta(days=90)
HISTORY_DAYS = 720

# rows per anchor subscription
FANOUT = {
    "retail_orders": 1.0,
    "retail_subscriptions": 1.0,
    "retail_plans": 1.0,
    "retail_items": 2.0,
    "retail_provisionings": 1.5,
    "retail_order_migrations": 0.25,
    "retail_migrations": 0.5,
    "retail_subscription_readjustments": 0.5,
}

# table -> (fk column, parent table); children are generated after parents
PARENT = {
    "retail_subscriptions": ("retail_order_id", "retail_orders"),
    "retail_plans": ("retail_subscription_id", "retail_subscriptions"),
    "retail_items": ("retail_plan_id", "retail_plans"),
    "retail_provisionings": ("retail_item_id", "retail_items"),
    "retail_order_migrations": ("retail_subscription_id", "retail_subscriptions"),
    "retail_migrations": ("retail_order_migration_id", "retail_order_migrations"),
    "retail_subscription_readjustments": (
        "retail_subscription_id", "retail_subscriptions",
    ),
}
ORDER = list(FANOUT)
CDC_TABLE = "retail_items"
STATUSES = ("active", "pending", "cancelled", "suspended", "closed")
BOOLS = ("t", "f", "True", "False", "true", "false")


def _fmt(ts: datetime) -> str:
    return ts.strftime(TS)


class _Source:
    """The source database: ``rows[table][id] = {column: value}``."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.rows: dict[str, dict[int, dict[str, str]]] = {t: {} for t in ORDER}
        self.children: dict[tuple[str, int], list[tuple[str, int]]] = {}
        self.next_id = {t: 1 for t in ORDER}

    def _value(self, col: str, row_id: int, created: datetime) -> str | None:
        rng = self.rng
        if col in ("status", "provisioning_status", "status_code"):
            return rng.choice(STATUSES)
        if col in ("pre_paid", "main", "suspended"):
            return rng.choice(BOOLS)
        if col == "checkout_order_xml":
            return (f'<order id="{row_id}"><total>{rng.randint(10, 9999)}.'
                    f'{rng.randint(0, 99):02d}</total><note>a; b</note></order>')
        if col == "generic_attributes":
            return f'{{"channel": "{rng.choice(("web", "app", "partner"))}"}}'
        if col.endswith("_at") or col in ("billing_date", "readjustment_index_date"):
            if rng.random() < 0.15:
                return None
            return _fmt(created + timedelta(seconds=rng.randint(0, 40 * 86400)))
        if col.endswith("_id") or col in ("number", "parent", "customer_id"):
            return str(rng.randint(1, 10**6))
        if col in ("quantity", "old_quantity", "closing_days", "period"):
            return str(rng.randint(1, 30))
        if "percentage" in col or col == "discount":
            return f"{rng.uniform(0, 15):.2f}"
        return f"{col[:3]}{rng.randint(0, 999)}"

    def insert(self, table: str, created: datetime, now: datetime,
               parent: int | None) -> int:
        """Add one row; ``updated_at`` lies in [created, now)."""
        spec = CATALOG[table]
        row_id = self.next_id[table]
        self.next_id[table] += 1
        row = {c: self._value(c, row_id, created) for c in spec.columns}
        row["id"] = str(row_id)
        row["created_at"] = _fmt(created)
        span = max(0, int((now - created).total_seconds()) - 1)
        row["updated_at"] = _fmt(created + timedelta(seconds=self.rng.randint(0, min(span, 30 * 86400))))
        if parent is not None:
            fk, ptable = PARENT[table]
            row[fk] = str(parent)
            self.children.setdefault((ptable, parent), []).append((table, row_id))
        self.rows[table][row_id] = row
        return row_id

    def insert_tree(self, created: datetime, now: datetime, frac: dict[str, float]) -> None:
        """One order with its subscription and FK descendants, each child
        created at most ``spread`` after its parent."""
        spread = min(timedelta(hours=4), (now - created) / 8)

        def child_ts(parent_ts: datetime) -> datetime:
            return parent_ts + timedelta(seconds=self.rng.randint(0, int(spread.total_seconds())))

        order_ts = created
        oid = self.insert("retail_orders", order_ts, now, None)
        sub_ts = child_ts(order_ts)
        sid = self.insert("retail_subscriptions", sub_ts, now, oid)
        pid = self.insert("retail_plans", child_ts(sub_ts), now, sid)
        plan_ts = datetime.strptime(self.rows["retail_plans"][pid]["created_at"], TS)
        for _ in range(self._count(frac["retail_items"])):
            item_ts = child_ts(plan_ts)
            iid = self.insert("retail_items", item_ts, now, pid)
            for _ in range(self._count(frac["retail_provisionings"] / frac["retail_items"])):
                self.insert("retail_provisionings", child_ts(item_ts), now, iid)
        for _ in range(self._count(frac["retail_order_migrations"])):
            om_ts = child_ts(sub_ts)
            omid = self.insert("retail_order_migrations", om_ts, now, sid)
            for _ in range(self._count(frac["retail_migrations"] / frac["retail_order_migrations"])):
                self.insert("retail_migrations", child_ts(om_ts), now, omid)
        for _ in range(self._count(frac["retail_subscription_readjustments"])):
            self.insert("retail_subscription_readjustments", child_ts(sub_ts), now, sid)

    def _count(self, mean: float) -> int:
        whole = int(mean)
        return whole + (1 if self.rng.random() < mean - whole else 0)

    def touch(self, table: str, row_id: int, lo: datetime, hi: datetime) -> None:
        """Update one row: new status-like value and ``updated_at`` in [lo, hi)."""
        row = self.rows[table][row_id]
        row["updated_at"] = _fmt(lo + timedelta(seconds=self.rng.randint(1, int((hi - lo).total_seconds()) - 1)))
        for col in ("status", "quantity", "discount", "status_code"):
            if col in row:
                row[col] = self._value(col, row_id, T0)
                break

    def descendants(self, table: str, row_id: int):
        for child in self.children.get((table, row_id), []):
            yield child
            yield from self.descendants(*child)

    def pulled(self, watermark: str) -> dict[str, int]:
        """Rows a Scheduled run with ``watermark`` extracts per table: direct
        tables by their own ``updated_at``, chained tables as descendants
        of the qualifying anchor subscriptions."""
        out = {t: 0 for t in ORDER}
        for t in ("retail_orders", "retail_subscriptions"):
            out[t] = sum(r["updated_at"] >= watermark for r in self.rows[t].values())
        for sid, row in self.rows["retail_subscriptions"].items():
            if row["updated_at"] >= watermark:
                for t, _ in self.descendants("retail_subscriptions", sid):
                    out[t] += 1
        return out

    def write(self, directory: str) -> None:
        os.makedirs(directory, exist_ok=True)
        for table in ORDER:
            spec = CATALOG[table]
            with open(os.path.join(directory, f"{table}.csv"), "w", newline="") as f:
                w = csv.writer(f, delimiter=spec.csv_sep, quotechar='"',
                               lineterminator="\n")
                w.writerow(spec.columns)
                for row in self.rows[table].values():
                    w.writerow(["" if row[c] is None else row[c] for c in spec.columns])


def generate(out: str, seed: int, anchors: int, days: int) -> dict:
    """Write the drop, ``days`` daily states and the CDC batch to ``out``."""
    if sorted(ORDER) != sorted(tables_list("allTables")):
        raise RuntimeError("registry's active tables differ from the generator's")
    rng = random.Random(seed)
    src = _Source(rng)
    frac = {t: FANOUT[t] for t in ORDER}
    start = T0 - timedelta(days=HISTORY_DAYS)
    for _ in range(anchors):
        created = start + timedelta(seconds=rng.randint(0, HISTORY_DAYS * 86400 - 86400))
        src.insert_tree(created, T0, frac)
    src.write(os.path.join(out, "day0", "corleone"))
    manifest = {"seed": seed, "anchors": anchors, "t0": _fmt(T0),
                "day0_rows": {t: len(src.rows[t]) for t in ORDER},
                "days": []}

    for k in range(1, days + 1):
        lo, hi = T0 + (k - 1) * DAY, T0 + k * DAY
        changed: set[tuple[str, int]] = set()
        recent_subs = [
            sid for sid, row in src.rows["retail_subscriptions"].items()
            if datetime.strptime(row["created_at"], TS) >= lo - RECENT
        ]
        for sid in rng.sample(recent_subs, min(len(recent_subs), max(1, anchors // 100))):
            for table, rid in [("retail_subscriptions", sid), *src.descendants("retail_subscriptions", sid)]:
                src.touch(table, rid, lo, hi)
                changed.add((table, rid))
        recent_orders = [
            oid for oid, row in src.rows["retail_orders"].items()
            if datetime.strptime(row["created_at"], TS) >= lo - RECENT
        ]
        for oid in rng.sample(recent_orders, min(len(recent_orders), max(1, anchors // 100))):
            src.touch("retail_orders", oid, lo, hi)
            changed.add(("retail_orders", oid))
        before = {t: src.next_id[t] for t in ORDER}
        for _ in range(max(1, anchors // 500)):
            src.insert_tree(lo + timedelta(seconds=rng.randint(1, 12 * 3600)), hi, frac)
        inserted = sum(src.next_id[t] - before[t] for t in ORDER)
        src.write(os.path.join(out, f"day{k}"))
        manifest["days"].append({"t0": _fmt(hi), "rows_changed": len(changed) + inserted,
                                 "pulled": src.pulled(_fmt(lo))})

    # CDC batch over the last day's state: updates and deletes of recent
    # items, inserts of new items under recent plans.
    lo = T0 + days * DAY
    hi = lo + DAY
    spec = CATALOG[CDC_TABLE]
    recent = [
        rid for rid, row in src.rows[CDC_TABLE].items()
        if datetime.strptime(row["created_at"], TS) >= lo - RECENT
    ]
    n = max(3, anchors // 50)
    picked = rng.sample(recent, min(len(recent), 2 * n // 3))
    ops: list[tuple[str, dict]] = []
    for i, rid in enumerate(picked):
        if i % 2 == 0:
            src.touch(CDC_TABLE, rid, lo, hi)
            ops.append(("U", dict(src.rows[CDC_TABLE][rid])))
        else:
            row = dict(src.rows[CDC_TABLE][rid])
            row["updated_at"] = _fmt(lo + timedelta(hours=1))
            ops.append(("D", row))
    recent_plans = [
        pid for pid, row in src.rows["retail_plans"].items()
        if datetime.strptime(row["created_at"], TS) >= lo - RECENT
    ]
    for pid in rng.sample(recent_plans, min(len(recent_plans), n - len(picked))):
        rid = src.insert(CDC_TABLE, lo + timedelta(seconds=rng.randint(1, 3600)), hi, pid)
        ops.append(("I", dict(src.rows[CDC_TABLE][rid])))
    rng.shuffle(ops)
    with open(os.path.join(out, "cdc.csv"), "w", newline="") as f:
        w = csv.writer(f, delimiter=spec.csv_sep, quotechar='"', lineterminator="\n")
        w.writerow([*spec.columns, "_op"])
        for op, row in ops:
            w.writerow([*("" if row[c] is None else row[c] for c in spec.columns), op])
    manifest["cdc"] = {"table": CDC_TABLE, "rows": len(ops),
                       "deletes": sum(op == "D" for op, _ in ops)}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def cached(cache_root: str, seed: int, anchors: int, days: int) -> tuple[str, dict]:
    """Generate once per (seed, anchors, days); later calls reuse the files."""
    out = os.path.join(cache_root, f"ingest-s{seed}-a{anchors}-d{days}")
    manifest_path = os.path.join(out, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(tmp, seed, anchors, days)
        os.replace(tmp, out)
    with open(manifest_path) as f:
        return out, json.load(f)
