"""Seeded input generators for the benchmark.

Two families, both written to disk during set-up so the program under
test sees only files:

- dCache billing messages (newline-delimited JSON) in the full record
  shapes of the four routed msgTypes, plus fixed shares of unknown
  msgTypes, malformed lines, late (old-day) records and records missing
  an optional field. ``write_billing_file`` returns the exact per-route
  row counts the pipeline must commit, so the correctness gate can catch
  both losses and duplicates.
- The star-schema tables the query catalog reads (``region`` ...
  ``embeddings``), with the column names, types and value domains of the
  catalog's test data, at a chosen scale factor.

Same seed, same arguments: same bytes.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

# Shares of the non-routable or unusual records in every billing file.
UNKNOWN_SHARE = 0.02
MALFORMED_SHARE = 0.01
LATE_SHARE = 0.05
MISSING_FIELD_SHARE = 0.05

# Routed msgTypes and their relative frequency in a dCache billing feed.
MSG_WEIGHTS = (
    ("transfer", 0.50),
    ("request", 0.25),
    ("store", 0.08),
    ("restore", 0.05),
    ("remove", 0.12),
)
MSG_ROUTE = {
    "transfer": "transfers",
    "request": "requests",
    "store": "storage",
    "restore": "storage",
    "remove": "removes",
}
ROUTES = ("transfers", "requests", "storage", "removes", "rejects")
UNKNOWN_TYPES = ("pin", "unpin", "flush-notify")

EPOCH = dt.date(2024, 1, 1)

_DOMAINS = [f"dcache-door-{i:02d}Domain" for i in range(12)]
_CELLS = [f"pool_{i:03d}" for i in range(40)]
_PROTOCOLS = ("xrootd", "webdav", "gsiftp", "dcap", "nfs4")
_OPTIONAL = ("storageInfo", "client", "locations", "transaction", "initiator")


def day_str(day: int) -> str:
    """Day index (days since EPOCH) as an ISO date."""
    return (EPOCH + dt.timedelta(days=day)).isoformat()


def _record(rng: random.Random, msg_type: str, day: int) -> dict:
    ts = (
        f"{day_str(day)}T{rng.randrange(24):02d}:{rng.randrange(60):02d}:"
        f"{rng.randrange(60):02d}.{rng.randrange(1000):03d}+0000"
    )
    pnfsid = f"0000{rng.getrandbits(64):016X}"
    session = f"door:{rng.choice(_CELLS)}@{rng.choice(_DOMAINS)}:{rng.getrandbits(32):08x}"
    size = float(rng.randrange(1, 1 << 34))
    path = f"/pnfs/example.org/data/vo{rng.randrange(8)}/run{rng.randrange(500)}/f{rng.randrange(10**6)}.root"
    status = {"msg": "" if rng.random() < 0.97 else "No such file", "code": 0 if rng.random() < 0.97 else 10001}
    common = {
        "date": ts,
        "msgType": msg_type,
        "cellName": rng.choice(_CELLS),
        "session": session,
        "queuingTime": rng.randrange(0, 5000),
        "cellDomain": rng.choice(_DOMAINS),
        "cellType": "pool" if msg_type in ("transfer", "store", "restore") else "door",
        "fileSize": size,
        "pnfsid": pnfsid,
        "billingPath": path,
        "status": status,
    }
    if msg_type == "transfer":
        common.update(
            subject=f"[CN=user{rng.randrange(300)},O=Example]",
            initiator=f"door:{rng.choice(_DOMAINS)}",
            transferPath=path,
            isP2p=rng.random() < 0.1,
            transferTime=float(rng.randrange(1, 600_000)),
            storageInfo=f"vo{rng.randrange(8)}:disk@osm",
            transferSize=size,
            localEndpoint=f"10.0.{rng.randrange(256)}.{rng.randrange(256)}:{rng.randrange(20000, 30000)}",
            protocolInfo={
                "protocol": rng.choice(_PROTOCOLS),
                "port": rng.randrange(1024, 65536),
                "host": f"wn{rng.randrange(2000):04d}.example.org",
            },
            isWrite="write" if rng.random() < 0.3 else "read",
        )
    elif msg_type in ("request", "remove"):
        common.update(
            owner=f"user{rng.randrange(300)}",
            clientChain=f"10.1.{rng.randrange(256)}.{rng.randrange(256)}",
            mappedGID=rng.randrange(1000, 5000),
            mappedUID=rng.randrange(10000, 90000),
            subject=f"[CN=user{rng.randrange(300)},O=Example]",
            transferPath=path,
            sessionDuration=rng.randrange(0, 100_000),
            client=f"10.1.{rng.randrange(256)}.{rng.randrange(256)}",
        )
        if msg_type == "request":
            common["storageInfo"] = f"vo{rng.randrange(8)}:tape@osm"
        else:
            common["transaction"] = f"remove:{rng.getrandbits(48):012x}"
    else:  # store / restore
        common.update(
            transferTime=float(rng.randrange(1, 3_600_000)),
            storageInfo=f"vo{rng.randrange(8)}:tape@osm",
            locations=f"osm://osm/?store=vo{rng.randrange(8)}&bfid={rng.getrandbits(40):010x}",
            transaction=f"{msg_type}:{rng.getrandbits(48):012x}",
        )
    return common


def billing_lines(
    seed: int, n: int, days: list[int], late_days: list[int]
) -> tuple[list[str], dict[str, int], dict[tuple[str, int], int]]:
    """``n`` billing JSON lines over ``days`` (late records over
    ``late_days``), the per-route row counts they must produce, and the
    routed rows per (route, day)."""
    rng = random.Random(seed)
    counts = dict.fromkeys(ROUTES, 0)
    by_day: dict[tuple[str, int], int] = {}
    types = [t for t, _w in MSG_WEIGHTS]
    weights = [w for _t, w in MSG_WEIGHTS]
    lines = []
    for _ in range(n):
        u = rng.random()
        day = rng.choice(late_days if late_days and rng.random() < LATE_SHARE else days)
        if u < MALFORMED_SHARE:
            rec = _record(rng, rng.choice(types), day)
            text = json.dumps(rec)
            lines.append(text[: rng.randrange(10, len(text) - 5)])
            counts["rejects"] += 1
            continue
        if u < MALFORMED_SHARE + UNKNOWN_SHARE:
            rec = _record(rng, "transfer", day)
            rec["msgType"] = rng.choice(UNKNOWN_TYPES)
            counts["rejects"] += 1
        else:
            msg_type = rng.choices(types, weights)[0]
            rec = _record(rng, msg_type, day)
            if rng.random() < MISSING_FIELD_SHARE:
                for key in _OPTIONAL:
                    rec.pop(key, None)
            counts[MSG_ROUTE[msg_type]] += 1
            key = (MSG_ROUTE[msg_type], day)
            by_day[key] = by_day.get(key, 0) + 1
        lines.append(json.dumps(rec, separators=(",", ":")))
    return lines, counts, by_day


def write_billing_file(
    path: str, seed: int, n: int, days: list[int], late_days: list[int] = ()
) -> tuple[int, dict[str, int], dict[tuple[str, int], int]]:
    """Write one newline-delimited JSON file; returns its size in bytes
    and the counts of ``billing_lines``."""
    lines, counts, by_day = billing_lines(seed, n, list(days), list(late_days))
    data = ("\n".join(lines) + "\n").encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return len(data), counts, by_day


# ---------------------------------------------------------------------------
# star-schema tables for the query catalog
# ---------------------------------------------------------------------------

_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a "
    "the line sort window join index page cache block stream file data "
    "query plan node task stage shuffle"
).split()
_UNICODE_WORDS = ("café", "naïve", "Straße", "数据", "表格", "ﬁle", "Å", "é", "ｆｕｌｌ")


def write_star_schema(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<table>.parquet`` for every catalog table; returns row counts.

    Sizes follow the catalog test data (lineitem = 6e6 x sf rows);
    ``documents`` and ``embeddings`` keep their fixed sizes."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_orders = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))
    n_docs, n_vecs, dim = (500, 500, 64) if sf <= 0.01 else (5_000, 2_000, 64)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, span, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"], n_cust
            ),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(["small", "large", "medium", "shiny", "dull", "heavy", "light", "tiny"], n_part),
                    rng.choice(["ring", "bolt", "gear", "pipe", "nut", "shaft", "valve", "clip"], n_part),
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": rng.choice(["P", "F", "O"], n_orders),
            "o_totalprice": money(1000.0, 500000.0, n_orders),
            "o_orderdate": days("1995-01-01", 2400, n_orders),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
            ),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_orders, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": days("1995-01-02", 2500, n_line),
        }),
    }
    ev_ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400_000_000, n_events).astype("timedelta64[us]")
    )
    tables["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, max(150, n_events // 66), n_events).astype(np.int64),
        "event_type": rng.choice(["error", "click", "view", "signup", "purchase"], n_events),
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    words = np.array(_WORDS + list(_UNICODE_WORDS))
    p_words = np.full(len(words), 1.0)
    p_words[len(_WORDS):] = 0.05
    p_words /= p_words.sum()
    texts = []
    for i in range(n_docs):
        n_w = int(rng.integers(8, 100))
        texts.append(" ".join(rng.choice(words, n_w, p=p_words)))
    # near-duplicate documents, so the dedup-shaped queries find pairs
    for i in range(0, n_docs, 10):
        texts[i + 1] = texts[i] + " again"
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vecs)
    # near-orthogonal unit vectors, as in the catalog test data: the
    # near-dup threshold (cos >= 0.35) then selects a thin top tail
    vecs = rng.normal(0.0, 1.0, (n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
