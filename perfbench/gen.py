"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed gives
byte-identical files and the same request streams. Nothing here imports
Spark, so the generators run (and are timed) before any engine work.

* :func:`write_tpch_parquet` — the TPC-H-shaped star schema plus the
  ``events``/``documents``/``embeddings`` side tables, one single-row-group
  parquet file per table, in the layout ``io.tables.load_table`` reads.
* :func:`write_sqlite` — a TPC-H-shaped SQLite file with the declared
  PK/FK of ``TPCH_SCHEMA`` and seeded shares of null FKs, dangling FKs,
  exact-duplicate fact rows, mixed-affinity cells and TIMESTAMP-declared
  columns, plus the node and relationship counts a correct load yields.
* :func:`merge_batches` — the ``UNWIND $rows … MERGE`` batch sequence
  for the ``ingest`` workload, with the counts each batch must return.
* :func:`ask_requests` — the seeded request stream of the ``ask``
  workload.
"""

from __future__ import annotations

import hashlib
import os
import sqlite3

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
MISSING_SEGMENTS = ("AEROSPACE", "SPACESHIPS")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
P_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
P_ADJ = ("blue", "hot", "small", "old", "red", "new", "cold", "big")
P_NOUN = ("bolt", "gear", "anvil", "widget", "rod", "ring", "plate", "nut")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "en", "en", "zh", "de", "fr", "es")
VOCAB = (
    "key agg row scan slow fast table value part hash a the line sort "
    "window merge batch spark column join small customer query order big "
    "data stream group filter vector"
).split()
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01, as in the reference data
EPOCH = np.datetime64("1995-01-01", "D")

# seeded anomaly shares of the SQLite source (the ``ingest`` workload)
NULL_FK_SHARE = 0.02
DANGLING_FK_SHARE = 0.02
DUP_FACT_SHARE = 0.03
MIXED_CELL_SHARE = 0.01
MIXED_TOKEN = "n/a"


def _rng(seed: int, *salt: int | str) -> np.random.Generator:
    """Independent stream per (seed, table) so adding a table or a
    column elsewhere never shifts another table's values."""
    words = [seed] + [
        int.from_bytes(hashlib.sha256(str(s).encode()).digest()[:4], "big")
        for s in salt
    ]
    return np.random.default_rng(np.random.SeedSequence(words))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, choices, n: int) -> np.ndarray:
    return np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)]


def _days(rng: np.random.Generator, n: int, lo: int = 0, hi: int = ORDER_DAYS):
    return EPOCH + rng.integers(lo, hi + 1, n).astype("timedelta64[D]")


def sizes(sf: float) -> dict[str, int]:
    """Row counts at scale factor ``sf`` (sf=1 ~ 6M lineitem rows)."""
    return {
        "customer": max(int(150_000 * sf), 50),
        "supplier": max(int(10_000 * sf), 10),
        "part": max(int(200_000 * sf), 50),
        "orders": max(int(1_500_000 * sf), 200),
        "lineitem": max(int(6_000_000 * sf), 800),
        "events": max(int(1_000_000 * sf), 500),
        "users": max(int(15_000 * sf), 20),
        "documents": max(int(50_000 * sf), 100),
        "embeddings": max(int(50_000 * sf), 100),
    }


# ---------------------------------------------------------------------------
# TPC-H-shaped parquet
# ---------------------------------------------------------------------------


def tpch_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    n = sizes(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    r = _rng(seed, "customer")
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(r.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, nc)),
            "c_mktsegment": pa.array(_pick(r, SEGMENTS, nc).tolist()),
        }
    )
    r = _rng(seed, "supplier")
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(r.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, ns)),
        }
    )
    r = _rng(seed, "part")
    npart = n["part"]
    names = [
        f"{a} {b}"
        for a, b in zip(_pick(r, P_ADJ, npart), _pick(r, P_NOUN, npart))
    ]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
            "p_name": pa.array(names),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in r.integers(1, 26, npart)]
            ),
            "p_type": pa.array(_pick(r, P_TYPES, npart).tolist()),
            "p_size": pa.array(r.integers(1, 51, npart).astype(np.int32)),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)
            ),
        }
    )
    r = _rng(seed, "orders")
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, nc, no).astype(np.int64)),
            "o_orderstatus": pa.array(_pick(r, STATUSES, no).tolist()),
            "o_totalprice": pa.array(_money(r, 1000.0, 500_000.0, no)),
            "o_orderdate": pa.array(
                _days(r, no).astype("datetime64[us]"), pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(_pick(r, PRIORITIES, no).tolist()),
        }
    )
    r = _rng(seed, "lineitem")
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, no, nl).astype(np.int64)),
            "l_partkey": pa.array(r.integers(0, npart, nl).astype(np.int64)),
            "l_suppkey": pa.array(r.integers(0, ns, nl).astype(np.int64)),
            "l_linenumber": pa.array(r.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(r.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(r, 900.0, 105_000.0, nl)),
            "l_discount": pa.array(r.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(_pick(r, ("A", "N", "R"), nl).tolist()),
            "l_linestatus": pa.array(_pick(r, ("O", "F"), nl).tolist()),
            "l_shipdate": pa.array(
                _days(r, nl, 1, ORDER_DAYS + 95).astype("datetime64[us]"),
                pa.timestamp("us"),
            ),
        }
    )
    r = _rng(seed, "events")
    ne = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    step = span_us // ne
    ts = (
        np.datetime64("2024-01-01", "us")
        + (np.arange(ne, dtype=np.int64) * step
           + r.integers(0, step, ne)).astype("timedelta64[us]")
    )
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(
                r.integers(0, n["users"], ne).astype(np.int64)
            ),
            "event_type": pa.array(_pick(r, EVENT_TYPES, ne).tolist()),
            "value": pa.array(_money(r, 0.01, 490.0, ne)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]
            ),
        }
    )
    out["documents"] = _documents(n["documents"], seed)
    out["embeddings"] = _embeddings(n["embeddings"], seed)
    return out


def _documents(nd: int, seed: int) -> pa.Table:
    """Random texts over a small vocabulary; every 20th document is a
    near-duplicate (one word replaced) of an earlier one, so the
    near-dup operators always have pairs to find."""
    r = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(nd):
        if i % 20 == 19:
            words = texts[int(r.integers(0, i))].split()
            words[int(r.integers(0, len(words)))] = str(
                VOCAB[int(r.integers(0, len(VOCAB)))]
            )
        else:
            k = int(r.integers(8, 101))
            words = [VOCAB[j] for j in r.integers(0, len(VOCAB), k)]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(_pick(r, LANGS, nd).tolist()),
            "source": pa.array([f"src{i % 20}" for i in range(nd)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(nv: int, seed: int) -> pa.Table:
    """Unit-norm 64-d float32 vectors; every 50th is a small
    perturbation of an earlier vector."""
    r = _rng(seed, "embeddings")
    v = r.standard_normal((nv, 64))
    for i in range(49, nv, 50):
        v[i] = v[int(r.integers(0, i))] + r.normal(0, 0.01, 64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, nv).astype(np.int32)),
        }
    )


def write_tpch_parquet(out_dir: str, sf: float, seed: int) -> dict[str, str]:
    """Write every table as ``<out_dir>/<name>.parquet`` (one row group,
    like the reference test data); returns {name: sha256 of the file}."""
    os.makedirs(out_dir, exist_ok=True)
    digests = {}
    for name, table in tpch_tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=table.num_rows or 1)
        digests[name] = file_digest(path)
    return digests


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


# ---------------------------------------------------------------------------
# SQLite source for the ingest workload
# ---------------------------------------------------------------------------


def _ts_text(days: np.ndarray) -> list[str]:
    return [f"{d} 00:00:00" for d in days.astype("datetime64[D]").astype(str)]


def _blemish(
    rng: np.random.Generator,
    values: list,
    valid: int,
    null_share: float = 0.0,
    dangling_share: float = 0.0,
    mixed_share: float = 0.0,
) -> list:
    """Replace seeded shares of an FK column with NULL, a key beyond the
    referenced table (``valid`` = its size) or a non-numeric token."""
    u = rng.random(len(values))
    out = list(values)
    for i in np.nonzero(u < null_share)[0]:
        out[i] = None
    hi = null_share + dangling_share
    for i in np.nonzero((u >= null_share) & (u < hi))[0]:
        out[i] = valid + int(rng.integers(0, 1000))
    for i in np.nonzero((u >= hi) & (u < hi + mixed_share))[0]:
        out[i] = MIXED_TOKEN
    return out


def _resolves(v, valid: int) -> bool:
    return isinstance(v, int) and 0 <= v < valid


def write_sqlite(path: str, fact_rows: int, seed: int) -> dict:
    """Write the SQLite source; return the expected graph counts.

    The declared schema is ``TPCH_SCHEMA``'s (same tables, keys and
    FKs), except that ``lineitem`` declares no composite primary key:
    the generator plants exact-duplicate fact rows, which a declared
    ``(l_orderkey, l_linenumber)`` key would reject. Two extra date
    columns are declared TIMESTAMP or TEXT by the seed.
    """
    r = _rng(seed, "sqlite")
    sf = fact_rows / 6_000_000
    n = sizes(sf)
    nc, ns, npart, no = (
        n["customer"], n["supplier"], n["part"], n["orders"]
    )
    extra_ts = [
        (c, "TIMESTAMP" if r.random() < 0.5 else "TEXT")
        for c in ("l_commitdate", "l_receiptdate")
    ]
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    ddl = [
        "CREATE TABLE region (r_regionkey BIGINT PRIMARY KEY, r_name TEXT)",
        "CREATE TABLE nation (n_nationkey BIGINT PRIMARY KEY, n_name TEXT,"
        " n_regionkey BIGINT REFERENCES region(r_regionkey))",
        "CREATE TABLE customer (c_custkey BIGINT PRIMARY KEY, c_name TEXT,"
        " c_nationkey BIGINT REFERENCES nation(n_nationkey),"
        " c_acctbal DOUBLE, c_mktsegment TEXT)",
        "CREATE TABLE supplier (s_suppkey BIGINT PRIMARY KEY, s_name TEXT,"
        " s_nationkey BIGINT REFERENCES nation(n_nationkey),"
        " s_acctbal DOUBLE)",
        "CREATE TABLE part (p_partkey BIGINT PRIMARY KEY, p_name TEXT,"
        " p_brand TEXT, p_type TEXT, p_size BIGINT, p_retailprice DOUBLE)",
        "CREATE TABLE orders (o_orderkey BIGINT PRIMARY KEY,"
        " o_custkey BIGINT REFERENCES customer(c_custkey),"
        " o_orderstatus TEXT, o_totalprice DOUBLE, o_orderdate TIMESTAMP,"
        " o_orderpriority TEXT)",
        "CREATE TABLE lineitem ("
        " l_orderkey BIGINT REFERENCES orders(o_orderkey),"
        " l_partkey BIGINT REFERENCES part(p_partkey),"
        " l_suppkey BIGINT REFERENCES supplier(s_suppkey),"
        " l_linenumber BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE,"
        " l_discount DOUBLE, l_tax DOUBLE, l_returnflag TEXT,"
        " l_linestatus TEXT, l_shipdate TIMESTAMP, "
        + ", ".join(f"{c} {t}" for c, t in extra_ts)
        + ")",
    ]
    for stmt in ddl:
        con.execute(stmt)

    con.executemany(
        "INSERT INTO region VALUES (?, ?)", list(enumerate(REGIONS))
    )
    con.executemany(
        "INSERT INTO nation VALUES (?, ?, ?)",
        [(i, f"NATION_{i}", i % 5) for i in range(25)],
    )
    c_nat = _blemish(
        r, r.integers(0, 25, nc).tolist(), 25,
        NULL_FK_SHARE, DANGLING_FK_SHARE, MIXED_CELL_SHARE,
    )
    c_bal = [
        MIXED_TOKEN if m else b
        for m, b in zip(
            r.random(nc) < MIXED_CELL_SHARE,
            _money(r, -999.99, 9999.99, nc).tolist(),
        )
    ]
    con.executemany(
        "INSERT INTO customer VALUES (?, ?, ?, ?, ?)",
        [
            (i, f"Customer#{i:09d}", c_nat[i], c_bal[i], seg)
            for i, seg in zip(range(nc), _pick(r, SEGMENTS, nc).tolist())
        ],
    )
    s_nat = _blemish(
        r, r.integers(0, 25, ns).tolist(), 25, NULL_FK_SHARE, DANGLING_FK_SHARE
    )
    con.executemany(
        "INSERT INTO supplier VALUES (?, ?, ?, ?)",
        [
            (i, f"Supplier#{i:09d}", s_nat[i], b)
            for i, b in zip(range(ns), _money(r, 0, 9999.99, ns).tolist())
        ],
    )
    con.executemany(
        "INSERT INTO part VALUES (?, ?, ?, ?, ?, ?)",
        [
            (
                i,
                f"{a} {b}",
                f"Brand#{br}",
                t,
                sz,
                round(900.0 + (i % 1000) * 0.1, 2),
            )
            for i, a, b, br, t, sz in zip(
                range(npart),
                _pick(r, P_ADJ, npart).tolist(),
                _pick(r, P_NOUN, npart).tolist(),
                r.integers(1, 26, npart).tolist(),
                _pick(r, P_TYPES, npart).tolist(),
                r.integers(1, 51, npart).tolist(),
            )
        ],
    )
    o_cust = _blemish(
        r, r.integers(0, nc, no).tolist(), nc,
        NULL_FK_SHARE, DANGLING_FK_SHARE, MIXED_CELL_SHARE,
    )
    con.executemany(
        "INSERT INTO orders VALUES (?, ?, ?, ?, ?, ?)",
        list(
            zip(
                range(no),
                o_cust,
                _pick(r, STATUSES, no).tolist(),
                _money(r, 1000.0, 500_000.0, no).tolist(),
                _ts_text(_days(r, no)),
                _pick(r, PRIORITIES, no).tolist(),
            )
        ),
    )

    base = fact_rows - int(fact_rows * DUP_FACT_SHARE)
    l_order = _blemish(
        r, r.integers(0, no, base).tolist(), no,
        NULL_FK_SHARE, DANGLING_FK_SHARE, MIXED_CELL_SHARE,
    )
    l_part = _blemish(
        r, r.integers(0, npart, base).tolist(), npart,
        NULL_FK_SHARE, DANGLING_FK_SHARE,
    )
    qty = [
        MIXED_TOKEN if m else q
        for m, q in zip(
            r.random(base) < MIXED_CELL_SHARE,
            r.integers(1, 51, base).astype(float).tolist(),
        )
    ]
    ship = _days(r, base, 1, ORDER_DAYS + 95)
    rows = list(
        zip(
            l_order,
            l_part,
            r.integers(0, ns, base).tolist(),
            r.integers(1, 8, base).tolist(),
            qty,
            _money(r, 900.0, 105_000.0, base).tolist(),
            (r.integers(0, 11, base) / 100.0).tolist(),
            (r.integers(0, 9, base) / 100.0).tolist(),
            _pick(r, ("A", "N", "R"), base).tolist(),
            _pick(r, ("O", "F"), base).tolist(),
            _ts_text(ship),
            _ts_text(ship + r.integers(0, 30, base).astype("timedelta64[D]")),
            _ts_text(ship + r.integers(1, 31, base).astype("timedelta64[D]")),
        )
    )
    rows += [rows[i] for i in r.integers(0, base, fact_rows - base)]
    con.executemany(
        "INSERT INTO lineitem VALUES (" + ", ".join("?" * 13) + ")", rows
    )
    con.commit()
    con.close()

    contains = {
        row for row in rows
        if _resolves(row[0], no) and _resolves(row[1], npart)
    }
    expected = {
        "nodes": {
            "Region": 5,
            "Nation": 25,
            "Customer": nc,
            "Supplier": ns,
            "Part": npart,
            "Orders": no,
        },
        "relationships": {
            "IN_REGION": 25,
            "FROM_NATION": sum(_resolves(v, 25) for v in c_nat),
            "LOCATED_IN": sum(_resolves(v, 25) for v in s_nat),
            "PLACED_BY": sum(_resolves(v, nc) for v in o_cust),
            "CONTAINS_ITEM": len(contains),
        },
        "source_rows": 5 + 25 + nc + ns + npart + no + fact_rows,
        "fact_rows": fact_rows,
        "timestamp_columns": 2 + sum(t == "TIMESTAMP" for _, t in extra_ts),
        # what the merge batches start from
        "customers": nc,
        "orders": no,
        "placed_by": sorted(
            (o, c) for o, c in zip(range(no), o_cust) if _resolves(c, nc)
        ),
    }
    return expected


# ---------------------------------------------------------------------------
# MERGE batches (reference dialect)
# ---------------------------------------------------------------------------

NODE_MERGE = (
    "UNWIND $rows AS row "
    "MERGE (n:Customer {c_custkey: row.c_custkey}) "
    "SET n += {c_custkey: row.c_custkey, c_name: row.c_name, "
    "c_acctbal: row.c_acctbal} "
    "RETURN count(n) AS processed"
)
REL_MERGE = (
    "UNWIND $rows AS row "
    "MATCH (s:Orders) WHERE s.o_orderkey = row.order_id "
    "WITH s, row "
    "MATCH (t:Customer) WHERE t.c_custkey = row.cust_id "
    "WITH s, t, row "
    "MERGE (s)-[r:PLACED_BY]->(t) "
    "RETURN count(r) AS relationships_created"
)


# node (n) and relationship (r) MERGE batches, in load order
MERGE_PATTERN = "nrnrrr"


def merge_batches(
    expected: dict, seed: int, batch_rows: int = 200
) -> tuple[list[dict], dict]:
    """MERGE batches over the loaded graph, in ``MERGE_PATTERN`` order.
    Node batches mix existing and new customer keys; relationship
    batches mix existing edges, new edges between existing nodes (new
    customers included) and dangling endpoints. Returns the batches
    (each with its kind and the count its RETURN must report) and the
    final counts of the merged graph."""
    r = _rng(seed, "merge")
    customers = set(range(expected["customers"]))
    n_orders = expected["orders"]
    edges = set(map(tuple, expected["placed_by"]))
    existing_edges = sorted(edges)
    next_key = expected["customers"] + 1_000_000
    batches = []
    for kind in MERGE_PATTERN:
        if kind == "n":
            keys = []
            for _ in range(batch_rows):
                if r.random() < 0.5:
                    keys.append(int(r.integers(0, expected["customers"])))
                else:
                    keys.append(next_key)
                    next_key += 1
            rows = [
                (k, f"Customer#{k:09d}", round(float(r.uniform(0, 9999)), 2))
                for k in keys
            ]
            customers.update(keys)
            batches.append(
                {
                    "kind": "node",
                    "query": NODE_MERGE,
                    "columns": ["c_custkey", "c_name", "c_acctbal"],
                    "rows": rows,
                    "returns": len(set(keys)),
                }
            )
        else:
            cust = sorted(customers)
            rows = []
            for _ in range(batch_rows):
                u = r.random()
                if u < 0.4:
                    rows.append(
                        existing_edges[int(r.integers(0, len(existing_edges)))]
                    )
                elif u < 0.8:
                    rows.append(
                        (
                            int(r.integers(0, n_orders)),
                            cust[int(r.integers(0, len(cust)))],
                        )
                    )
                elif u < 0.9:
                    rows.append(
                        (n_orders + int(r.integers(0, 1000)),
                         cust[int(r.integers(0, len(cust)))])
                    )
                else:
                    rows.append(
                        (int(r.integers(0, n_orders)), -1 - int(r.integers(0, 1000)))
                    )
            resolved = {
                (o, c) for o, c in rows if 0 <= o < n_orders and c in customers
            }
            edges |= resolved
            batches.append(
                {
                    "kind": "relationship",
                    "query": REL_MERGE,
                    "columns": ["order_id", "cust_id"],
                    "rows": rows,
                    "returns": len(resolved),
                }
            )
    final = {"Customer": len(customers), "PLACED_BY": len(edges)}
    return batches, final


# ---------------------------------------------------------------------------
# ask request stream
# ---------------------------------------------------------------------------

TYPO_TOTALPRICE = ("o_totalpryce", "o_totlprice", "o_totalprise")
# Composition of every block of requests; the seed picks the order and
# the parameters. Question templates: 0 total sales, 1 status counts,
# 2 top-k customers, 3 customers in a segment, 4 orders by segment,
# 5 revenue per year, 6 customers without orders. Each block ends with
# BLOCK_RCA investigations.
BLOCK_QUESTIONS = (0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 6)
BLOCK_FAULTY = 3
BLOCK_CYPHER = 2
BLOCK_RCA = 2
BLOCK_SIZE = len(BLOCK_QUESTIONS) + BLOCK_FAULTY + BLOCK_CYPHER + BLOCK_RCA


def _question(r: np.random.Generator, template: int, absent: bool) -> str:
    """One template question; ``absent`` asks about a year or a segment
    the data does not hold."""
    y = int(r.choice((1993, 1994, 2002) if absent else range(1995, 2002)))
    if template == 0:
        return f"total sales for year {y}"
    if template == 1:
        return f"order status counts for year {y}"
    if template == 2:
        return f"top {int(r.integers(1, 11))} customers by revenue"
    if template == 3:
        seg = str(r.choice(MISSING_SEGMENTS if absent else SEGMENTS))
        return f"how many customers in the '{seg.lower() if r.random() < 0.5 else seg}' segment?"
    if template == 4:
        return "how many orders by segment?"
    if template == 5:
        return "what is the total revenue per year?"
    return "how many customers have no orders?"


def ask_requests(
    seed: int, cypher_entries: list[str], blocks: int = 100
) -> list[dict]:
    """The seeded request stream, in blocks of ``BLOCK_SIZE`` requests of
    a fixed composition: template NL questions with seeded years, k and
    segments (a fixed share about years or segments absent from the
    data; an absent segment must hit the value-probe short-circuit),
    faulty statements for the correction loop and read-only ``cypher_*``
    registry entries, in a seeded order, then the RCA investigations,
    whose sub-questions the block's questions have already met. The
    seed picks the order and every parameter."""
    r = _rng(seed, "ask")
    order = [int(i) for i in r.permutation(len(cypher_entries))]
    out: list[dict] = []
    for b in range(blocks):
        # one of each pair of year / segment questions asks about a
        # value the data does not hold
        block = [
            {
                "kind": "question",
                "template": t,
                "text": _question(
                    r, t, t in (0, 1, 3) and BLOCK_QUESTIONS[i - 1] == t
                ),
            }
            for i, t in enumerate(BLOCK_QUESTIONS)
        ]
        for _ in range(BLOCK_FAULTY):
            k = int(r.integers(1, 11))
            typo = str(r.choice(TYPO_TOTALPRICE))
            block.append(
                {
                    "kind": "faulty",
                    "template": "faulty",
                    "text": f"top {k} customers by revenue",
                    "cypher": (
                        "MATCH (c:Customer)-[:PLACED_BY]->(o:Orders) "
                        f"RETURN c.c_name AS name, sum(o.{typo}) AS revenue "
                        f"ORDER BY revenue DESC, name LIMIT {k}"
                    ),
                }
            )
        for j in range(BLOCK_CYPHER):
            name = cypher_entries[
                order[(b * BLOCK_CYPHER + j) % len(order)]
            ]
            block.append({"kind": "cypher", "text": name})
        out.extend(block[int(i)] for i in r.permutation(len(block)))
        for y in r.choice(range(1996, 2002), size=BLOCK_RCA, replace=False):
            out.append(
                {"kind": "rca", "text": f"why did revenue drop around {y}?"}
            )
    return out


def registry_extra(
    seed: int, algorithms: list[str], headline: list[str]
) -> str:
    """The analytics call of one ``ask`` run: a graph algorithm on even
    seeds, a headline query on odd ones. Consecutive even seeds walk
    every algorithm, consecutive odd seeds every headline query."""
    if seed % 2 == 0:
        return algorithms[seed // 2 % len(algorithms)]
    return headline[seed // 2 % len(headline)]


def request_key(req: dict) -> str:
    return f"{req['kind']}:{req.get('cypher') or req['text']}"

