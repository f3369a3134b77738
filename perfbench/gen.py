"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` (numpy ``default_rng``), so
the same seed always yields byte-identical inputs, and nothing here
imports the package under test: the engine only ever receives what these
functions produce.

* ``write_tables(out_dir, sf, seed)`` — the driver-style star schema
  (``region nation customer supplier part orders lineitem events
  documents embeddings``) with the row counts and value distributions of
  the engine's fixture data at scale factor ``sf``.
* ``lifecycle_payloads(seed, n_tickets)`` — LiveAgent-shaped raw payloads
  (agents, tags, and two extraction waves of tickets + messages whose
  second wave re-extracts about a third of the first wave's tickets).
"""
from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01_ROWS = {
    "customer": 15_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "part": 20_000,
    "supplier": 1_000,
    "events": 100_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _micros(day0: str, days: np.ndarray) -> pa.Array:
    base = np.datetime64(day0, "D").astype("datetime64[us]")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def _rows(sf: float, name: str) -> int:
    return max(10, int(round(SF01_ROWS[name] * sf / 0.1)))


def _text(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    words = np.array(WORDS)[idx]
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(words[at:at + ln]))
        at += ln
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten source tables at scale factor ``sf``; returns rows per
    table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    rows: dict[str, int] = {}
    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    nc = _rows(sf, "customer")
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = _rows(sf, "supplier")
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = _rows(sf, "part")
    pk = np.arange(npart, dtype=np.int64)
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    no = _rows(sf, "orders")
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _micros("1995-01-01", rng.integers(0, 2405, no)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    nl = _rows(sf, "lineitem")
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
        "l_partkey": rng.integers(0, npart, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _micros("1995-01-02", rng.integers(0, 2499, nl)),
    })
    ne = _rows(sf, "events")
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, ne))
    rows["events"] = _write(out_dir, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": rng.integers(0, max(10, ne // 66), ne, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = max(500, int(round(5000 * sf / 0.1)))
    text = _text(rng, nd)
    # 5% near-duplicates: another document's text plus one extra token
    for i in np.flatnonzero(rng.random(nd) < 0.05):
        text[i] = text[int(rng.integers(0, nd))] + " dup"
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": text,
        "lang": rng.choice(LANGS, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    nv = max(500, int(round(2000 * sf / 0.1)))
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return rows


# -- LiveAgent-shaped payloads ------------------------------------------------

SYSTEM_USER_ID = "system00"
SPECIAL_USER_ID = "00054iwg"
TICKET_STATUSES = ["open", "answered", "resolved", "postponed", "new"]
CHANNELS = ["email", "chat", "facebook", "call"]
CHAT_WORDS = (
    "hello hi po car aircon brake oil change tire battery engine noise "
    "schedule tomorrow today quote price how much location makati manila "
    "cebu pasig thanks salamat ok sure available mechanic visit home"
).split()

TICKET_SCHEMA = pa.schema([
    ("id", pa.string()),
    ("code", pa.string()),
    ("status", pa.string()),
    ("subject", pa.string()),
    ("channel_type", pa.string()),
    ("departmentid", pa.string()),
    ("agentid", pa.string()),
    ("owner_name", pa.string()),
    ("owner_email", pa.string()),
    ("tags", pa.list_(pa.string())),
    ("date_created", pa.timestamp("us")),
    ("date_changed", pa.timestamp("us")),
    ("last_activity", pa.string()),
])
MESSAGE_SCHEMA = pa.schema([
    ("ticket_id", pa.string()),
    ("owner_name", pa.string()),
    ("agentid", pa.string()),
    ("message_id", pa.string()),
    ("userid", pa.string()),
    ("message_type", pa.string()),
    ("message_format", pa.string()),
    ("message_datecreated", pa.timestamp("us")),
    ("datecreated", pa.string()),
    ("message", pa.string()),
])


def _agents(rng: np.random.Generator, n: int = 40) -> pa.Table:
    ids = [f"a{i:05d}" for i in range(n - 1)] + [SPECIAL_USER_ID]
    days = rng.integers(0, 365, n)
    return pa.table({
        "id": ids,
        "name": [f"Agent {i}" for i in range(n - 1)] + ["Special Raw"],
        "email": [f"agent{i}@mechanigo.ph" for i in range(n)],
        "last_pswd_change": _micros("2023-01-01", days),
    })


def _tags(rng: np.random.Generator, n: int = 30) -> pa.Table:
    colors = [None if rng.random() < 0.2 else f"#{rng.integers(0, 1 << 24):06x}"
              for _ in range(n)]
    values = [None if rng.random() < 0.2 else int(rng.integers(1, 100))
              for _ in range(n)]
    return pa.table({
        "id": [f"tag{i:03d}" for i in range(n)],
        "name": [f"tag name {i}" for i in range(n)],
        "color": pa.array(colors, pa.string()),
        "values": pa.array(values, pa.int64()),
    })


def _wave(rng, keys: np.ndarray, agent_ids: list[str], t0_day: int, msg_base: int):
    """One extraction wave: raw tickets for ``keys`` and 1–7 messages each
    (message ids continue from ``msg_base`` so waves never collide)."""
    n = len(keys)
    ids = [f"t{k:08d}" for k in keys]
    owners = [None if k % 17 == 0 else f"Client {k}" for k in keys]
    agent_of = np.array(agent_ids + [f"gone{i}" for i in range(3)])[
        rng.integers(0, len(agent_ids) + 3, n)
    ]
    created = rng.integers(0, 86_400 * 6, n) + t0_day * 86_400
    tag_pool = np.array([f"tag{i:03d}" for i in range(30)])
    tickets = pa.table({
        "id": ids,
        "code": [f"ABC-{k:07d}" for k in keys],
        "status": np.array(TICKET_STATUSES)[rng.integers(0, 5, n)],
        "subject": [f"Service request {k}" for k in keys],
        "channel_type": np.array(CHANNELS)[rng.integers(0, 4, n)],
        "departmentid": [f"dep{d}" for d in rng.integers(0, 4, n)],
        "agentid": agent_of,
        "owner_name": pa.array(owners, pa.string()),
        "owner_email": [f"client{k}@mail.ph" for k in keys],
        "tags": pa.array(
            [None if r < 0.2 else list(tag_pool[rng.integers(0, 30, 1 + int(r * 3))])
             for r in rng.random(n)],
            pa.list_(pa.string()),
        ),
        "date_created": pa.array(
            _EPOCH + (created * 1_000_000).astype("timedelta64[us]"), pa.timestamp("us")
        ),
        "date_changed": pa.array(
            _EPOCH + ((created + 3600) * 1_000_000).astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "last_activity": [
            None if r < 0.1 else "not a date" if r < 0.15 else
            dt.datetime.utcfromtimestamp(int(c) + 7200).strftime("%Y-%m-%d %H:%M:%S")
            for r, c in zip(rng.random(n), created)
        ],
    }, schema=TICKET_SCHEMA)
    per = rng.integers(1, 8, n)
    m = int(per.sum())
    tix = np.repeat(np.arange(n), per)
    seq = np.arange(m) - np.repeat(np.cumsum(per) - per, per)
    r = rng.random(m)
    userid = np.where(
        r < 0.05, SYSTEM_USER_ID,
        np.where(r < 0.08, SPECIAL_USER_ID,
                 np.where(r < 0.45, agent_of[tix],
                          np.char.add("c", keys[tix].astype(str)))))
    words = np.array(CHAT_WORDS)[rng.integers(0, len(CHAT_WORDS), (m, 8))]
    nwords = rng.integers(2, 9, m)
    text = [" ".join(w[:k]) for w, k in zip(words, nwords)]
    for i in np.flatnonzero(rng.random(m) < 0.1):
        text[i] += f" Ref: AB{int(keys[tix[i]])}"
    msg_ts = created[tix] + seq * 300 + rng.integers(0, 300, m)
    messages = pa.table({
        "ticket_id": np.array(ids)[tix],
        "owner_name": pa.array([owners[i] for i in tix], pa.string()),
        "agentid": agent_of[tix],
        "message_id": [f"m{msg_base + i:09d}" for i in range(m)],
        "userid": userid,
        "message_type": np.where(rng.random(m) < 0.9, "M", "I"),
        "message_format": np.where(rng.random(m) < 0.75, "T", "H"),
        "message_datecreated": pa.array(
            _EPOCH + (msg_ts * 1_000_000).astype("timedelta64[us]"), pa.timestamp("us")
        ),
        "datecreated": [
            dt.datetime.utcfromtimestamp(int(t)).strftime("%Y-%m-%d %H:%M:%S")
            for t in msg_ts
        ],
        "message": text,
    }, schema=MESSAGE_SCHEMA)
    return tickets, messages


def lifecycle_payloads(seed: int, n_tickets: int) -> dict[str, pa.Table]:
    """Raw payloads for two scheduled runs: a full wave of ``n_tickets``
    tickets, then an incremental wave re-extracting a third of them (so
    the ticket MERGE replaces rows) plus as many new tickets."""
    rng = np.random.default_rng(seed)
    agents = _agents(rng)
    agent_ids = agents.column("id").to_pylist()
    keys1 = np.sort(rng.choice(10 * n_tickets, n_tickets, replace=False))
    t1, m1 = _wave(rng, keys1, agent_ids, t0_day=19_700, msg_base=0)
    overlap = rng.choice(keys1, n_tickets // 3, replace=False)
    pool = np.setdiff1d(np.arange(10 * n_tickets), keys1)
    fresh = rng.choice(pool, n_tickets // 3, replace=False)
    keys2 = np.sort(np.concatenate([overlap, fresh]))
    t2, m2 = _wave(rng, keys2, agent_ids, t0_day=19_706, msg_base=m1.num_rows)
    return {
        "agents": agents,
        "tags": _tags(rng),
        "tickets_full": t1,
        "messages_full": m1,
        "tickets_incremental": t2,
        "messages_incremental": m2,
    }
