"""Seeded generators for every benchmark input.

The engine's queries read ``<dir>/<table>.parquet`` for the ten tables
below. The generator reproduces the shape of the sf0.1 synthetic tables
(row counts, key ranges, value distributions, the 30-word document
vocabulary with ~5% appended-"dup" near-duplicates, label-clustered unit
embeddings) from a numpy seed, so the same seed always gives the same
bytes and the benchmark never reads data from outside its checkout.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts of the sf0.1 tables
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EVENT_TYPES = ("signup", "purchase", "error", "view", "click")
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400 * 1_000_000
N_USERS = 1_500
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_us(rng: np.random.Generator, first: str, last: str, n: int) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def events_table(rng: np.random.Generator, n: int, users: int = N_USERS, days: int = 30) -> pa.Table:
    """``n`` events over ``days`` days in event_id = time order."""
    ts = np.sort(rng.integers(0, days * DAY_US, n)) + EVENTS_T0_US
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(scale=2.0, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """All ten tables; ``scale`` multiplies the sf0.1 row counts."""
    rng = np.random.default_rng(seed)
    n = {t: max(10, int(c * scale)) for t, c in SF01_ROWS.items()}
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": segs[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    adj = np.array(["large", "hot", "blue", "small", "green", "red", "shiny", "old"])
    noun = np.array(["ring", "bolt", "nut", "screw", "gear", "spring", "washer"])
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": np.char.add(
                np.char.add(adj[rng.integers(0, 8, npart)], " "),
                noun[rng.integers(0, 7, npart)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
            "p_type": np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"])[
                rng.integers(0, 6, npart)
            ],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _ts(_days_us(rng, "1995-01-01", "2001-08-01", no)),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
            "l_shipdate": _ts(_days_us(rng, "1995-01-02", "2001-11-04", nl)),
        }
    )
    out["events"] = events_table(rng, n["events"])
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_tables(dest: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write every table as ``<dest>/<name>.parquet``; returns row counts."""
    os.makedirs(dest, exist_ok=True)
    counts = {}
    for name, tbl in tables(seed, scale).items():
        pq.write_table(tbl, os.path.join(dest, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


def _ts_text(us: int) -> str:
    return str(np.datetime64(int(us), "us")).replace("T", " ")


def capture_lines(events: pa.Table, rng: np.random.Generator, dup_share: float) -> list[str]:
    """The events as SSE capture lines in time order, with ``dup_share``
    of them re-delivered (same id, same payload) 1-50 lines later."""
    cols = {c: events.column(c).to_pylist() for c in ("event_id", "user_id", "event_type", "value", "props")}
    ts_us = events.column("ts").cast(pa.int64()).to_pylist()
    lines = [
        event_line(cols["event_id"][i], _ts_text(ts_us[i]), cols["user_id"][i],
                   cols["event_type"][i], cols["value"][i], cols["props"][i])
        for i in range(events.num_rows)
    ]
    n = len(lines)
    dup_at = sorted(rng.choice(n, int(n * dup_share), replace=False).tolist(), reverse=True)
    for i in dup_at:
        lines.insert(min(n, i + int(rng.integers(1, 51))), lines[i])
    return lines


def event_line(event_id: int, ts: str, user_id: int, event_type: str, value: float, props: str) -> str:
    """One SSE capture line: the event envelope as compact NDJSON."""
    return json.dumps(
        {"event_id": event_id, "ts": ts, "user_id": user_id,
         "event_type": event_type, "value": value, "props": props},
        separators=(",", ":"),
    ) + "\n"


def live_schedule(seed: int, rate: float, seconds: float, id_base: int,
                  dup_share: float = 0.05, late_share: float = 0.02) -> list[tuple]:
    """The live phase's lines in the order they are appended:
    ``(due_s, event_id, created_s, user_id, event_type, value, props)``
    with times relative to the phase start. Events are created at a
    fixed ``rate``; ``late_share`` of them reach the stream 0.5-2 s after
    creation (out of order, well inside the 10-minute watermark) and
    ``dup_share`` are re-delivered 0.05-2 s after their first line."""
    rng = np.random.default_rng(seed)
    n = int(rate * seconds)
    created = np.arange(n) / rate
    due = created + np.where(rng.random(n) < late_share, rng.uniform(0.5, 2.0, n), 0.0)
    users = rng.integers(0, N_USERS, n)
    types = np.array(EVENT_TYPES)[rng.integers(0, 5, n)]
    values = np.round(rng.exponential(50.0, n), 2)
    ks = rng.integers(0, 100, n)
    rows = [
        (float(due[i]), id_base + i, float(created[i]), int(users[i]), str(types[i]),
         float(values[i]), f'{{"k": {int(ks[i])}}}')
        for i in range(n)
    ]
    dups = rng.choice(n, int(n * dup_share), replace=False)
    rows += [(rows[i][0] + float(rng.uniform(0.05, 2.0)),) + rows[i][1:] for i in dups]
    rows.sort(key=lambda r: (r[0], r[1]))
    return rows
