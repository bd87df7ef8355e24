"""Seeded input generator for the benchmark.

Everything here is numpy + pyarrow on the driver and runs before any
timed region.  The same seed gives byte-identical files: numpy's PCG64
stream is platform-stable, parquet is written without timestamps or
pandas metadata, and CSV cells are formatted by hand.

Three inputs:

- ``star_schema``: the nine tables the registry queries read (region,
  nation, customer, supplier, part, orders, lineitem, documents,
  embeddings), with the value domains of the repo's TPC-H-ish test
  corpus.  ``replicate`` stacks N copies of the fact side with
  consistent key offsets (orders/lineitem by orderkey, customer/orders
  by custkey); dimension tables are copied once.
- ``shifted``: the regeneration variant of a star schema (nation names
  renamed, every date +37 days), the shift ``tools/regen_sweep`` uses.
- ``lead_days``: D landing days of four lead CSVs derived from
  orders/customer.  Day 1 is clean and defines the target schema; later
  days reorder columns, drop one, add one, plant an un-castable
  ``est_value`` every k-th row, and re-land one earlier file under an
  upper-case name (the same table after lower-casing).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (binds pa.compute)
import pyarrow.parquet as pq

# sf0.01 row counts of the repo's test corpus; ``scale`` multiplies
# the entity tables, documents and embeddings scale separately
BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "D").astype(np.int64)
_ORDER_DAYS = int(np.datetime64("2001-08-01", "D").astype(np.int64) - _EPOCH_1995)
_SHIP_DAYS = _ORDER_DAYS + 95


def _keys(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def _pick(rng, choices: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), n, p=p)
    return pa.array(np.asarray(choices, dtype=object)[idx])


def star_schema(seed: int, scale: float = 1.0, docs: int = 500,
                vecs: int = 500, leads_only: bool = False) -> dict[str, pa.Table]:
    """The nine registry tables at ``scale`` x sf0.01 (only customer
    and orders with ``leads_only``)."""
    rng = np.random.default_rng([seed, 1])
    n = {t: max(1, int(round(c * scale))) for t, c in BASE_ROWS.items()}
    i32 = pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": _keys("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": _keys("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    adj = np.asarray(P_ADJ, dtype=object)[rng.integers(0, 8, npart)]
    noun = np.asarray(P_NOUN, dtype=object)[rng.integers(0, 8, npart)]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, P_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, _ORDER_DAYS + 1, no)),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    if leads_only:
        return t
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _ts(_EPOCH_1995 + 1 + rng.integers(0, _SHIP_DAYS, nl)),
    })
    t["documents"] = _documents(rng, docs)
    t["embeddings"] = _embeddings(rng, vecs)
    return t


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents with ~1% exact and ~1% one-word-edit
    near duplicates (suffixed 'dup', as in the repo's corpus), so the
    dedup tiers always have clusters to find."""
    words = np.asarray(WORDS, dtype=object)
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    n_dup = max(2, n // 100)
    src = rng.choice(n, 2 * n_dup, replace=False)
    for j in range(n_dup):
        texts[src[j]] = texts[src[n_dup + j]] + " dup"
        near = texts[src[j]].split(" ")
        near[int(rng.integers(0, len(near) - 1))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts[(src[j] + 1) % n] = " ".join(near)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """Unit vectors scattered around ``labels`` random centroids."""
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    v = centers[label] + rng.normal(0.0, 1.2, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def replicate(t: dict[str, pa.Table], copies: int) -> dict[str, pa.Table]:
    """``copies`` stacked copies of customer/orders/lineitem with key
    offsets that keep every join consistent within a copy."""
    nc, no = t["customer"].num_rows, t["orders"].num_rows

    def offset(tbl: pa.Table, steps: dict[str, int], i: int) -> pa.Table:
        for col, step in steps.items():
            j = tbl.schema.get_field_index(col)
            tbl = tbl.set_column(j, col, pa.compute.add(tbl[col], i * step))
        return tbl

    out = dict(t)
    for name, steps in (
        ("customer", {"c_custkey": nc}),
        ("orders", {"o_orderkey": no, "o_custkey": nc}),
        ("lineitem", {"l_orderkey": no}),
    ):
        out[name] = pa.concat_tables(
            [offset(t[name], steps, i) for i in range(copies)]
        )
    return out


def shifted(t: dict[str, pa.Table]) -> dict[str, pa.Table]:
    """The regeneration variant: LAND_i nation names and every date +37
    days.  Unlike ``tools/regen_sweep`` it keeps doc/vec ids, because
    q_sim_topk's query vector is vec 0 and would vanish."""
    out = dict(t)
    nat = t["nation"]
    out["nation"] = nat.set_column(
        1, "n_name", pa.array([f"LAND_{k}" for k in nat["n_nationkey"].to_pylist()])
    )
    days37 = pa.scalar(37 * _US_PER_DAY, pa.duration("us"))
    for name, col in (("orders", "o_orderdate"), ("lineitem", "l_shipdate")):
        tbl = out[name]
        j = tbl.schema.get_field_index(col)
        out[name] = tbl.set_column(j, col, pa.compute.add(tbl[col], days37))
    return out


def write_tables(t: dict[str, pa.Table], out_dir: str) -> int:
    """Write each table as ``<out_dir>/<name>.parquet``; returns bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tbl in sorted(t.items()):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path, compression="snappy")
        total += os.path.getsize(path)
    return total


# ------------------------------------------------------------- leads --

LEAD_COLS = [
    "lead_id", "full_name", "email", "phone", "est_value", "acct_balance",
    "is_qualified", "created_date", "updated_at", "segment", "priority",
]
# columns a drifted file may omit (never the key or the planted column)
DROPPABLE = ["email", "acct_balance", "updated_at", "segment", "priority"]
CORRUPT_COL = "est_value"
N_TABLES = 4


@dataclass
class LeadFile:
    name: str
    table: str
    planted_nulls: int
    relanded: bool = False


@dataclass
class LeadDays:
    """Per-day landing file lists plus the expected final table state."""

    days: list[list[LeadFile]] = field(default_factory=list)
    expected_rows: dict[str, int] = field(default_factory=dict)
    expected_nulls: dict[str, int] = field(default_factory=dict)
    input_bytes: int = 0


def _lead_cells(rng, t: dict[str, pa.Table], rows: int, key0: int) -> dict[str, pa.Array]:
    """One file's cells, every column already formatted as CSV text."""
    pc = pa.compute
    cust, orders = t["customer"], t["orders"]
    oi = pa.array(rng.integers(0, orders.num_rows, rows))
    o = orders.take(oi)
    c = cust.take(o["o_custkey"])
    secs = pa.array(rng.integers(0, 86400, rows) * 1_000_000, pa.duration("us"))
    ids = np.arange(key0, key0 + rows, dtype=np.int64)
    sid = pa.array(ids).cast(pa.string())
    last4 = pc.utf8_lpad(pa.array(ids % 10000).cast(pa.string()), 4, "0")

    def text(x):
        return x.combine_chunks() if isinstance(x, pa.ChunkedArray) else x

    return {
        "lead_id": sid,
        "full_name": text(pc.binary_join_element_wise(
            pc.utf8_lower(c["c_name"]), "lead", " ")),
        "email": text(pc.binary_join_element_wise("lead", sid, "@example.com", "")),
        "phone": text(pc.binary_join_element_wise("+1-555", last4, "-")),
        "est_value": text(o["o_totalprice"].cast(pa.string())),
        "acct_balance": text(c["c_acctbal"].cast(pa.string())),
        "is_qualified": text(pc.equal(o["o_orderstatus"], "F").cast(pa.string())),
        "created_date": text(o["o_orderdate"].cast(pa.date32()).cast(pa.string())),
        "updated_at": text(pc.add(o["o_orderdate"], secs).cast(pa.string())),
        "segment": text(c["c_mktsegment"]),
        "priority": text(o["o_orderpriority"]),
    }


def _write_csv(path: str, cols: list[str], cells: dict[str, pa.Array]) -> int:
    import pyarrow.csv as pcsv

    pcsv.write_csv(
        pa.table({k: cells[k] for k in cols}),
        path,
        pcsv.WriteOptions(quoting_style="none"),
    )
    return os.path.getsize(path)


def lead_days(seed: int, out_dir: str, days: int, rows: int,
              every_kth: int = 50) -> LeadDays:
    """Write ``days`` landing dirs ``<out_dir>/day_<d>/`` of
    ``N_TABLES`` lead CSVs of ``rows`` rows each (plus, from day 2 on,
    one re-landed copy of a previous day's file)."""
    rng = np.random.default_rng([seed, 2])
    src = star_schema(seed, scale=max(1.0, rows * N_TABLES / 15000), leads_only=True)
    res = LeadDays()
    key0 = 0
    prev: dict[int, str] = {}
    for d in range(1, days + 1):
        ddir = os.path.join(out_dir, f"day_{d:02d}")
        os.makedirs(ddir, exist_ok=True)
        files: list[LeadFile] = []
        for j in range(1, N_TABLES + 1):
            table = f"leads_{j}"
            cells = _lead_cells(rng, src, rows, key0)
            key0 += rows
            cols = list(LEAD_COLS)
            planted = 0
            if d > 1:
                cols.remove(DROPPABLE[int(rng.integers(0, len(DROPPABLE)))])
                cols.append("utm_campaign")
                cells["utm_campaign"] = pa.array(
                    [f"cmp{(d * 7 + r) % 13}" for r in range(13)]
                ).take(pa.array(np.arange(rows) % 13))
                cols = [cols[i] for i in rng.permutation(len(cols))]
                bad = np.zeros(rows, dtype=bool)
                bad[int(rng.integers(0, every_kth))::every_kth] = True
                planted = int(bad.sum())
                cells[CORRUPT_COL] = pa.compute.if_else(
                    pa.array(bad), "N/A", cells[CORRUPT_COL])
            name = f"{table}.csv"
            path = os.path.join(ddir, name)
            res.input_bytes += _write_csv(path, cols, cells)
            files.append(LeadFile(name, table, planted))
            res.expected_rows[table] = res.expected_rows.get(table, 0) + rows
            res.expected_nulls[table] = res.expected_nulls.get(table, 0) + planted
            if d > 1 and j == (d % N_TABLES) + 1:
                # re-land yesterday's file for this table; the upper-case
                # stem maps to the same table and sorts first
                again = f"{table.upper()}.csv"
                shutil.copyfile(prev[j], os.path.join(ddir, again))
                files.append(LeadFile(again, table, 0, relanded=True))
            prev[j] = path
        res.days.append(files)
    return res
