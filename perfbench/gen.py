"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of a ``random.Random`` seeded from the
command line, so the same seed always yields the same inputs. The program
under test only ever sees the files these functions write.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import random
import string
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["login", "logout", "purchase", "page_view", "click", "error", "signup"]
OPTIONAL_VALUES = {
    "source": ["web", "ios", "android", "partner_feed"],
    "ip_address": ["10.0.0.1", "10.0.3.7", "192.168.1.20", "172.16.4.2"],
    "user_agent": ["Mozilla/5.0", "curl/8.4", "okhttp/4.12"],
    "page": ["/home", "/cart", "/search", "/item/42"],
    "referrer": ["google", "newsletter", "direct"],
    "product_id": ["prod_1", "prod_42", "prod_77"],
    "currency": ["USD", "EUR", "INR"],
    "device_id": ["dev_a1", "dev_b2", "dev_c3"],
    "location": ["Mumbai", "Berlin", "Austin"],
}

# Planted wire-event classes. Survivors pass validation and score >= 50;
# every other class must never reach the sink.
VALID, MALFORMED, MISSING_KEY, LOW_QUALITY = "valid", "malformed", "missing_key", "low_quality"
CLASS_WEIGHTS = [(VALID, 0.82), (MALFORMED, 0.06), (MISSING_KEY, 0.06), (LOW_QUALITY, 0.06)]


def iso_utc(ts: float) -> str:
    """Wire timestamp as the reference producer writes it (UTC, 'Z')."""
    return dt.datetime.fromtimestamp(ts, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%fZ")


@dataclass
class WireLedger:
    """What the generator planted: the ids that must reach the sink
    exactly once, the ids that must not, and per-file timing."""

    survivors: set[str] = field(default_factory=set)
    rejects: set[str] = field(default_factory=set)
    created: dict[str, float] = field(default_factory=dict)  # survivor id -> creation stamp
    users: set[str] = field(default_factory=set)
    event_types: set[str] = field(default_factory=set)
    file_due: list[float] = field(default_factory=list)
    file_written: list[float] = field(default_factory=list)
    file_events: list[int] = field(default_factory=list)


def _pick_class(rng: random.Random) -> str:
    x = rng.random()
    for name, w in CLASS_WEIGHTS:
        if x < w:
            return name
        x -= w
    return VALID


def wire_lines(rng: random.Random, prefix: str, n: int, created: float, ledger: WireLedger) -> list[str]:
    """``n`` JSON-lines messages in the planted classes, all stamped with
    ``created`` as their wire ``timestamp``."""
    stamp = iso_utc(created)
    out = []
    for i in range(n):
        eid = f"{prefix}-{i}"
        cls = _pick_class(rng)
        etype = rng.choice(EVENT_TYPES)
        rec = {
            "id": eid,
            "timestamp": stamp,
            "message": f"{etype} from session {rng.randrange(10_000)}",
            "user_id": f"user_{rng.randrange(500)}",
            "event_type": etype,
        }
        # survivors still vary their score: a missing value (-25) or the
        # 'unknown' user sentinel (-25) keeps them at 50/75
        r = rng.random()
        if r < 0.85:
            rec["value"] = round(rng.uniform(0.01, 500.0), 2)
        elif r < 0.92:
            rec["user_id"] = "unknown"
            rec["value"] = round(rng.uniform(0.01, 500.0), 2)
        for key, choices in OPTIONAL_VALUES.items():
            if rng.random() < 0.3:
                rec[key] = rng.choice(choices)
        if cls == MALFORMED:
            out.append(json.dumps(rec)[: rng.randrange(5, 30)])
            ledger.rejects.add(eid)
            continue
        if cls == MISSING_KEY:
            del rec[rng.choice(["id", "timestamp", "message", "user_id", "event_type"])]
        elif cls == LOW_QUALITY:
            # user sentinel + empty message + no value -> score 25 < 50
            rec.update(user_id="unknown", message="")
            rec.pop("value", None)
        out.append(json.dumps(rec))
        if cls == VALID:
            ledger.survivors.add(eid)
            ledger.created[eid] = created
            ledger.users.add(rec["user_id"])
            ledger.event_types.add(etype)
        else:
            ledger.rejects.add(eid)
    return out


def publish(lines: list[str], staging_dir: str, drop_dir: str, name: str) -> None:
    """Write to a staging name, then rename into the drop dir: the file
    source never lists a partially written file."""
    tmp = os.path.join(staging_dir, name)
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    os.rename(tmp, os.path.join(drop_dir, name))


def write_backlog(seed: int, staging_dir: str, drop_dir: str, files: int, per_file: int) -> WireLedger:
    """A backlog of wire files, all present before the drain starts."""
    rng = random.Random(seed)
    ledger = WireLedger()
    created = time.time()
    for f in range(files):
        publish(wire_lines(rng, f"b{f}", per_file, created, ledger), staging_dir, drop_dir, f"part-{f:05d}.json")
        ledger.file_events.append(per_file)
    return ledger


# --------------------------------------------------------------------------
# Warehouse tables: the fixture schemas (FIXTURES.md) at a small scale.
# --------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_WORDS = ["hot", "large", "ring", "bolt", "green", "steel", "nut", "frame"]


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def write_warehouse(seed: int, out_dir: str, scale: float) -> None:
    """Every fixture table except ``documents`` (see :func:`write_corpus`)
    at ``scale`` (1.0 == the sf1 row counts of FIXTURES.md)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_orders, n_events = int(1_500_000 * scale), int(1_000_000 * scale)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{P_WORDS[a]} {P_WORDS[b]}" for a, b in rng.integers(0, len(P_WORDS), (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(P_TYPES)[rng.integers(0, len(P_TYPES), n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_orders),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-02", n_orders),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        }
    )
    lines_per_order = rng.integers(1, 8, n_orders)
    n_li = int(lines_per_order.sum())
    l_orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), lines_per_order)
    starts = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": l_orderkey,
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-05", n_li),
        }
    )
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.sort(ts0 + rng.integers(0, 30 * 86_400_000_000, n_events)),
            "user_id": rng.integers(0, max(n_events // 60, 1), n_events).astype(np.int64),
            "event_type": np.array(["signup", "click", "error", "view", "purchase"])[rng.integers(0, 5, n_events)],
            "value": np.where(rng.random(n_events) < 0.05, 0.0, _cents(rng, 0.01, 560.0, n_events)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    n_docs = max(int(500_000 * scale), 10)
    vecs = rng.standard_normal((n_docs, 8)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_docs, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 4, n_docs).astype(np.int32),
        }
    )
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# Dedup corpus with planted exact and near-duplicate clusters.
# --------------------------------------------------------------------------


@dataclass
class Corpus:
    path: str
    exact_groups: list[frozenset[int]]  # doc ids sharing one normalized text
    clusters: list[frozenset[int]]  # planted near-dup clusters (exact groups included)


def write_corpus(seed: int, path: str, base_docs: int) -> Corpus:
    """``base_docs`` unrelated documents plus planted duplicates, so that
    about 30% of the corpus is duplicated.

    Unrelated documents draw 50-80 distinct words from a 20k-word
    vocabulary, so two of them share almost nothing. A near-duplicate
    swaps one word of its source for a fresh one: Jaccard
    (n-1)/(n+1) >= 0.95 with its source, well above the 0.8 threshold,
    where banded MinHash with independent permutations misses almost
    nothing. An exact duplicate differs from its source only in spacing,
    which both the text fingerprint and the tokenizer normalize away.
    """
    rng = random.Random(seed)
    vocab = ["".join(rng.choices(string.ascii_lowercase, k=rng.randint(4, 9))) for _ in range(20_000)]
    vocab = sorted(set(vocab))
    fresh = (f"zz{i}" for i in itertools.count())
    texts: list[list[str]] = [rng.sample(vocab, rng.randint(50, 80)) for _ in range(base_docs)]
    spacing: list[str] = [" "] * base_docs
    exact: dict[int, list[int]] = {}
    near: dict[int, list[int]] = {}
    target = int(base_docs * 0.3 / 0.7)
    sources = rng.sample(range(base_docs), max(target // 3, 1))
    added = 0
    for src in sources:
        if added >= target:
            break
        for _ in range(rng.randint(1, 2)):  # exact copies
            texts.append(list(texts[src]))
            spacing.append(rng.choice(["  ", " ", "   "]))
            exact.setdefault(src, [src]).append(len(texts) - 1)
            added += 1
        for _ in range(rng.randint(1, 3)):  # near copies: one word swapped
            words = list(texts[src])
            words[rng.randrange(len(words))] = next(fresh)
            texts.append(words)
            spacing.append(" ")
            near.setdefault(src, []).append(len(texts) - 1)
            added += 1
    rows = [
        (sep.join(words) + (" " if sep != " " else "")) for words, sep in zip(texts, spacing)
    ]
    order = list(range(len(rows)))
    rng.shuffle(order)  # doc ids carry no hint of the planted structure
    doc_id = {old: new for new, old in enumerate(order)}
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([doc_id[i] for i in range(len(rows))], pa.int64()),
                "text": rows,
            }
        ).sort_by("doc_id"),
        path,
    )
    exact_groups = [frozenset(doc_id[i] for i in g) for g in exact.values()]
    clusters = [
        frozenset(doc_id[i] for i in set(exact.get(src, [src])) | {src} | set(near.get(src, [])))
        for src in set(exact) | set(near)
    ]
    return Corpus(path, exact_groups, clusters)
