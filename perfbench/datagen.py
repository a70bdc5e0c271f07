"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``seed`` (NumPy PCG64), so the
same seed gives byte-identical tables, dumps and request schedules.
The program under test only ever sees what these functions write.

- ``write_tables``: the star schema the serving façade and the query
  registry read (region, nation, customer, supplier, part, orders,
  lineitem, events, documents, embeddings), one parquet file each,
  with the column types and value domains of the harness tables.
- ``DumpStream``: hourly gzip-JSON auction dumps in the reference's
  wire format (``sources.json_dump.RAW_DUMP``), with a fixed share of
  auction ids carried over from each realm's previous snapshot.
- ``serve_schedule``: an open-loop request schedule over the nine
  serving subjects, items drawn Zipf-skewed so requests overlap.
"""

from __future__ import annotations

import gzip
import json
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["zh", "es", "fr", "de"]
DOC_WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]


@dataclass(frozen=True)
class TableSizes:
    """Row counts of the generated star schema."""

    customer: int
    supplier: int
    part: int
    orders: int
    events: int
    users: int
    documents: int
    embeddings: int

    @classmethod
    def at(cls, sf: float) -> "TableSizes":
        """Sizes at scale factor ``sf``, at the harness tables' ratios."""
        return cls(
            customer=max(int(150_000 * sf), 10),
            supplier=max(int(10_000 * sf), 5),
            part=max(int(200_000 * sf), 20),
            orders=max(int(1_500_000 * sf), 100),
            events=max(int(1_000_000 * sf), 100),
            users=max(int(15_000 * sf), 10),
            documents=max(int(50_000 * sf), 50),
            embeddings=max(int(50_000 * sf), 50),
        )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(lo + rng.random(n) * (hi - lo), 2)


def _ts(base: datetime, seconds: np.ndarray) -> pa.Array:
    micros = (seconds * 1_000_000).astype("int64")
    epoch = int((base - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(epoch + micros, type=pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def write_tables(out: str, seed: int, sf: float) -> TableSizes:
    """Write the ten harness tables under ``out`` and return their sizes."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    n = TableSizes.at(sf)
    i32 = lambda a: pa.array(a, type=pa.int32())  # noqa: E731

    _write(out, "region", {
        "r_regionkey": i32(np.arange(5)), "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": i32(np.arange(25)),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": i32(np.arange(25) % 5),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n.customer, dtype="int64"),
        "c_name": [f"Customer#{k:09d}" for k in range(n.customer)],
        "c_nationkey": i32(rng.integers(0, 25, n.customer)),
        "c_acctbal": _money(rng, -1000.0, 10000.0, n.customer),
        "c_mktsegment": [SEGS[k] for k in rng.integers(0, 5, n.customer)],
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n.supplier, dtype="int64"),
        "s_name": [f"Supplier#{k:09d}" for k in range(n.supplier)],
        "s_nationkey": i32(rng.integers(0, 25, n.supplier)),
        "s_acctbal": _money(rng, -1000.0, 10000.0, n.supplier),
    })
    adj = rng.integers(0, len(ADJS), n.part)
    noun = rng.integers(0, len(NOUNS), n.part)
    _write(out, "part", {
        "p_partkey": np.arange(n.part, dtype="int64"),
        "p_name": [f"{ADJS[a]} {NOUNS[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n.part)],
        "p_type": [TYPES[k] for k in rng.integers(0, len(TYPES), n.part)],
        "p_size": i32(rng.integers(1, 51, n.part)),
        "p_retailprice": _money(rng, 900.0, 999.9, n.part),
    })
    day = 86400.0
    order_day = rng.integers(0, 2404, n.orders)
    _write(out, "orders", {
        "o_orderkey": np.arange(n.orders, dtype="int64"),
        "o_custkey": rng.integers(0, n.customer, n.orders),
        "o_orderstatus": [("O", "F", "P")[k] for k in rng.integers(0, 3, n.orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n.orders),
        "o_orderdate": _ts(datetime(1995, 1, 1), order_day * day),
        "o_orderpriority": [PRIOS[k] for k in rng.integers(0, 5, n.orders)],
    })
    lines = rng.integers(1, 8, n.orders)
    okey = np.repeat(np.arange(n.orders, dtype="int64"), lines)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines])
    m = len(okey)
    ship = np.repeat(order_day, lines) + rng.integers(1, 121, m)
    _write(out, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n.part, m),
        "l_suppkey": rng.integers(0, n.supplier, m),
        "l_linenumber": i32(lineno),
        "l_quantity": rng.integers(1, 51, m).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, m)],
        "l_linestatus": [("O", "F")[k] for k in rng.integers(0, 2, m)],
        "l_shipdate": _ts(datetime(1995, 1, 1), ship * day),
    })
    _write(out, "events", {
        "event_id": np.arange(n.events, dtype="int64"),
        "ts": _ts(datetime(2024, 1, 1),
                  np.sort(rng.random(n.events)) * 30 * day),
        "user_id": rng.integers(0, n.users, n.events),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n.events)],
        "value": np.round(np.minimum(rng.exponential(50.0, n.events), 600.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n.events)],
    })
    texts = []
    for d in range(n.documents):
        if d >= 100 and rng.random() < 0.05:
            # near-duplicate of an earlier doc: first word replaced
            src = texts[d - int(rng.integers(1, 98))].split(" ")
            texts.append(" ".join(["dup", *src[1:]]))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(DOC_WORDS[w] for w in
                                  rng.integers(0, len(DOC_WORDS), k)))
    _write(out, "documents", {
        "doc_id": np.arange(n.documents, dtype="int64"),
        "text": texts,
        "lang": ["en" if rng.random() < 0.41 else LANGS[int(rng.integers(0, 4))]
                 for _ in range(n.documents)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n.documents)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    label = rng.integers(0, 10, n.embeddings)
    dims = np.arange(64)
    centers = np.sin((label[:, None] * 17.0 + dims[None, :]) * 1.7) * 0.3
    vecs = (centers + (rng.random((n.embeddings, 64)) - 0.5) * 0.8).astype("float32")
    _write(out, "embeddings", {
        "vec_id": np.arange(n.embeddings, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": i32(label),
    })
    return n


# --------------------------------------------------------------------------
# ingest: hourly auction dumps
# --------------------------------------------------------------------------

TIME_LEFT = ["SHORT", "MEDIUM", "LONG", "VERY_LONG"]
DUMP_REGIONS = ("us", "eu")
CARRY = 0.75  # share of a realm's auction ids kept into its next snapshot
N_ITEMS = 500  # item ids are Zipf(1.3) over 1..N_ITEMS


@dataclass
class Dump:
    """One landed dump file and what the generator put in it."""

    path: str
    region: str
    realm: str
    dump_ts: str
    aucs: frozenset
    priced_items: frozenset  # items with at least one buyout > 0
    n_bytes: int


@dataclass
class DumpStream:
    """Per-realm auction snapshots, one gzip JSON dump per realm per
    cycle. ``CARRY`` of each realm's auction ids survive into its next
    snapshot; the rest are fresh ids. Snapshot times advance
    ``24 / per_day`` hours per cycle from midnight, so every simulated
    day holds ``per_day`` snapshots."""

    out: str
    seed: int
    realms_per_region: int = 4
    auctions: int = 2000
    per_day: int = 2
    _rng: np.random.Generator = field(init=False, repr=False)
    _live: dict = field(init=False, repr=False)
    _next_auc: int = field(init=False, default=1, repr=False)

    def __post_init__(self) -> None:
        os.makedirs(self.out, exist_ok=True)
        self._rng = np.random.Generator(np.random.PCG64(self.seed))
        self._live = {}

    def realms(self) -> list[tuple[str, str]]:
        return [(r, f"{r}-realm-{k}") for r in DUMP_REGIONS
                for k in range(self.realms_per_region)]

    def snapshot_ts(self, cycle: int) -> str:
        t = datetime(2024, 3, 1) + timedelta(hours=24 / self.per_day * cycle)
        return t.strftime("%Y-%m-%d %H:%M:%S")

    def cycle(self, cycle: int) -> list[Dump]:
        """Land one cycle's dumps (one per realm) and describe them."""
        ts = self.snapshot_ts(cycle)
        return [self._dump(region, realm, ts, cycle)
                for region, realm in self.realms()]

    def _dump(self, region: str, realm: str, ts: str, cycle: int) -> Dump:
        rng = self._rng
        prev = self._live.get(realm, {})
        keep_ids = sorted(prev)
        n_keep = int(round(self.auctions * CARRY)) if prev else 0
        kept = rng.choice(len(keep_ids), size=n_keep, replace=False) if n_keep else []
        rows = {keep_ids[k]: prev[keep_ids[k]] for k in sorted(kept)}
        while len(rows) < self.auctions:
            item = int(min(rng.zipf(1.3), N_ITEMS))
            qty = int(rng.integers(1, 21))
            unit = int(rng.integers(100, 100_000))
            rows[self._next_auc] = {
                "item": item,
                "owner": f"owner{int(rng.integers(0, 300))}",
                "ownerRealm": realm,
                "bid": unit * qty // 2,
                "buyout": unit * qty if rng.random() > 0.05 else 0,
                "quantity": qty,
                "timeLeft": TIME_LEFT[int(rng.integers(0, 4))],
            }
            self._next_auc += 1
        self._live[realm] = rows
        doc = {
            "realms": [{"name": realm.title(), "slug": realm}],
            "auctions": [{"auc": a, **r} for a, r in rows.items()],
        }
        path = os.path.join(self.out, f"c{cycle:03d}-{realm}.json.gz")
        payload = json.dumps(doc, separators=(",", ":")).encode()
        with open(path, "wb") as fh:
            # mtime=0: same seed, same bytes
            fh.write(gzip.compress(payload, compresslevel=6, mtime=0))
        return Dump(path, region, realm, ts, frozenset(rows),
                    frozenset(r["item"] for r in rows.values() if r["buyout"] > 0),
                    os.path.getsize(path))


# --------------------------------------------------------------------------
# serve: open-loop request schedule
# --------------------------------------------------------------------------

SUBJECT_MIX = {
    "auctions_page": 0.30,
    "price_list": 0.20,
    "auctions_cursor": 0.10,
    "price_history_slice": 0.10,
    "items_query": 0.10,
    "owners_query": 0.05,
    "realm_status": 0.05,
    "token_history": 0.05,
    "unmet_demand": 0.05,
}

SORT_KINDS = ("buyout", "quantity", "item")


@dataclass(frozen=True)
class Request:
    """One scheduled request: when it is due (seconds from the start of
    the window), which subject, and its parameters as a hashable tuple."""

    due: float
    subject: str
    params: tuple


def _zipf_ids(rng, n_ids: int, k: int, s: float = 1.1) -> tuple:
    """``k`` distinct ids from ``[0, n_ids)``, Zipf(s)-skewed toward
    small ids so requests overlap."""
    ranks = np.arange(1, n_ids + 1, dtype="float64")
    p = ranks ** -s
    p /= p.sum()
    return tuple(sorted(int(x) for x in rng.choice(n_ids, size=k, replace=False, p=p)))


def subject_counts(n: int) -> dict:
    """``n`` requests split over ``SUBJECT_MIX`` by largest remainder,
    so every run of the same length sends the same mix."""
    exact = {k: n * w for k, w in SUBJECT_MIX.items()}
    counts = {k: int(v) for k, v in exact.items()}
    by_rest = sorted(exact, key=lambda k: (counts[k] - exact[k], k))
    for k in by_rest[: n - sum(counts.values())]:
        counts[k] += 1
    return counts


def interleave(counts: dict) -> list:
    """Smooth weighted round robin: each key ``counts[k]`` times, spread
    as evenly over the sequence as the counts allow."""
    total = sum(counts.values())
    credit = dict.fromkeys(counts, 0)
    out = []
    for _ in range(total):
        for k in credit:
            credit[k] += counts[k]
        k = max(credit, key=credit.get)
        credit[k] -= total
        out.append(k)
    return out


def serve_schedule(seed: int, rate: float, seconds: float,
                   sizes: TableSizes) -> list[Request]:
    """Requests due every ``1/rate`` s for ``seconds`` s (a fixed
    offered rate). Mix and order of subjects are the same for every
    seed, so runs differ in parameters, not in which heavy requests
    happen to overlap; the seed draws the parameters."""
    rng = np.random.Generator(np.random.PCG64(seed))
    subjects = interleave(subject_counts(int(rate * seconds)))
    return [Request(k / rate, s, _params(rng, s, sizes))
            for k, s in enumerate(subjects)]


def _params(rng, subject: str, n: TableSizes) -> tuple:
    region = REGIONS[int(rng.integers(0, 3))]
    if subject == "auctions_page":
        return (_zipf_ids(rng, n.part, 3), SORT_KINDS[int(rng.integers(0, 3))],
                int(rng.integers(0, 4)))
    if subject == "auctions_cursor":
        return (_zipf_ids(rng, n.part, 3),
                float(rng.integers(20, 100) * 1000), int(rng.integers(0, n.supplier)))
    if subject == "price_list":
        return (_zipf_ids(rng, n.part, 4),)
    if subject == "price_history_slice":
        lo = int(rng.integers(1, 20))
        return (_zipf_ids(rng, n.users, 3), f"2024-01-{lo:02d} 00:00:00",
                f"2024-01-{lo + int(rng.integers(3, 11)):02d} 00:00:00")
    if subject == "owners_query":
        return (str(int(rng.integers(1, 10))),)
    if subject == "items_query":
        return (f"{ADJS[int(rng.integers(0, 8))]} {NOUNS[int(rng.integers(0, 8))]}",)
    if subject in ("realm_status", "token_history"):
        return (region,)
    if subject == "unmet_demand":
        return (int(rng.integers(5, 15)),)
    raise KeyError(subject)
