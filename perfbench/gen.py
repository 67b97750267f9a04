"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and sizes: the same seed
writes byte-identical files. Generation runs before the session starts, so
it is outside every timed region. Each generator returns a ``dict`` of input
sizes (rows, bytes, files, distinct keys) that the benchmark prints.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIRST = (
    "James Mary Robert Patricia John Jennifer Michael Linda David Elizabeth "
    "William Barbara Richard Susan Joseph Jessica Thomas Sarah Charles Karen "
    "Wei Fatima Arjun Yuki Olga Mateo Amara Lars Chiara Kwame"
).split()
LAST = (
    "Smith Johnson Williams Brown Jones Garcia Miller Davis Rodriguez Martinez "
    "Hernandez Lopez Gonzalez Wilson Anderson Thomas Taylor Moore Jackson Martin "
    "Nguyen Kim Okafor Rossi Novak Silva Tanaka Muller Haddad Ivanova"
).split()
DOMAINS = ("example.com", "mail.test", "corp.example", "inbox.test")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

ETL_COLUMNS = (
    "customer_id",
    "account_ref",
    "full_name",
    "email",
    "phone",
    "birth_date",
    "signup_ts",
    "balance",
    "segment",
)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# --------------------------------------------------------------------------
# etl_mask_pipeline: all-string CSV of near-unique customer PII
# --------------------------------------------------------------------------


def etl_rows(seed: int, chunk: int, rows: int, keys: int = 1000) -> list[tuple[str, ...]]:
    """Rows of one CSV chunk. Names, e-mails, phones and timestamps are
    near-unique; 2% of dates are empty and 2% of balances are ``NULL``
    (both typed to NULL through ``nullableValues``); names carry padding
    that the schema trims. ``account_ref`` is Zipf-skewed over ``keys``
    keys and holds every JVM-vector input (see ``kdf_keys``)."""
    refs = kdf_keys(seed, rows, keys, stream=2000 + chunk)
    r = _rng(seed, 1000 + chunk)
    first = r.integers(0, len(FIRST), rows).tolist()
    last = r.integers(0, len(LAST), rows).tolist()
    dom = r.integers(0, len(DOMAINS), rows).tolist()
    seg = r.integers(0, len(SEGMENTS), rows).tolist()
    phone = r.integers(2_000_000_000, 9_999_999_999, rows).tolist()
    bdays = (np.datetime64("1940-01-01") + r.integers(0, 65 * 365, rows)).astype(str)
    bnull = (r.random(rows) < 0.02).tolist()
    ts = (
        np.datetime64("2015-01-01T00:00:00")
        + r.integers(0, 10 * 365 * 86400, rows).astype("timedelta64[s]")
    ).astype(str)
    cents = r.integers(-100_000, 10_000_000, rows).tolist()
    cnull = (r.random(rows) < 0.02).tolist()
    base = chunk * rows
    out = []
    for i in range(rows):
        cid = base + i
        fn, ln = FIRST[first[i]], LAST[last[i]]
        p = phone[i]
        c = cents[i]
        out.append(
            (
                str(cid),
                refs[i],
                f"  {fn} {ln} {cid:07d} ",
                f"{fn.lower()}.{ln.lower()}{cid}@{DOMAINS[dom[i]]}",
                f"+1 {p // 10_000_000:03d} {p // 10_000 % 1000:03d} {p % 10_000:04d}",
                "" if bnull[i] else bdays[i],
                ts[i].replace("T", " "),
                "NULL" if cnull[i] else f"{'-' if c < 0 else ''}{abs(c) // 100}.{abs(c) % 100:02d}",
                SEGMENTS[seg[i]],
            )
        )
    return out


def write_etl_chunks(
    out_dir: str, seed: int, chunks: int, rows: int, files_per_chunk: int, first: int = 0
) -> dict:
    """Write CSV directories ``chunk=<first>`` .. ``chunk=<first+chunks-1>``,
    each split into ``files_per_chunk`` files so a chunk's scan runs on
    every core without a shuffle."""
    header = ",".join(ETL_COLUMNS) + "\n"
    refs: set[str] = set()
    for c in range(first, first + chunks):
        d = os.path.join(out_dir, f"chunk={c:03d}")
        os.makedirs(d, exist_ok=True)
        body = etl_rows(seed, c, rows)
        per = -(-rows // files_per_chunk)
        for f in range(files_per_chunk):
            part = body[f * per : (f + 1) * per]
            with open(os.path.join(d, f"part-{f:03d}.csv"), "w", encoding="utf-8") as fh:
                fh.write(header)
                fh.writelines(",".join(row) + "\n" for row in part)
        refs.update(row[1] for row in body)
    return {
        "rows": chunks * rows,
        "bytes": dir_bytes(out_dir),
        "files": chunks * files_per_chunk,
        "distinct_keys": len(refs),
    }


# --------------------------------------------------------------------------
# Zipf-skewed key columns incl. the JVM-vector inputs (etl_mask_pipeline's
# account_ref, kdf_skewed_keys)
# --------------------------------------------------------------------------


def vector_key(k: int) -> str:
    """Input of the JVM PBKDF2 vectors (``c_name`` of custkey ``k``)."""
    return f"Customer#{k:09d}"


def zipf_probs(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def kdf_keys(
    seed: int, rows: int, distinct: int, s: float = 1.1, stream: int = 2
) -> list[str]:
    """``rows`` Zipf(s) draws over ``distinct`` keys. Keys 0..20 are the
    JVM-vector inputs and every one of them appears at least once (given
    21 rows or more)."""
    r = _rng(seed, stream)
    rank_to_key = r.permutation(distinct)
    ranks = r.choice(distinct, size=rows, p=zipf_probs(distinct, s))
    keys = rank_to_key[ranks]
    n_vec = min(21, rows)
    keys[r.choice(rows, size=n_vec, replace=False)] = np.arange(n_vec)
    return [vector_key(int(k)) for k in keys]


def write_kdf_keys(out_dir: str, seed: int, rows: int, distinct: int, files: int) -> dict:
    keys = kdf_keys(seed, rows, distinct)
    os.makedirs(out_dir, exist_ok=True)
    per = -(-rows // files)
    for f in range(files):
        chunk = keys[f * per : (f + 1) * per]
        ids = np.arange(f * per, f * per + len(chunk), dtype=np.int64)
        pq.write_table(
            pa.table({"row_id": ids, "k": pa.array(chunk, pa.string())}),
            os.path.join(out_dir, f"part-{f:03d}.parquet"),
        )
    return {
        "rows": rows,
        "bytes": dir_bytes(out_dir),
        "files": files,
        "distinct_keys": len(set(keys)),
    }


# --------------------------------------------------------------------------
# stream_mask_microbatch: events split into many small parquet files
# --------------------------------------------------------------------------


def events_table(seed: int, file_no: int, rows: int, users: int) -> pa.Table:
    """One events file; ``user_id`` is Zipf-skewed over ``users`` ids so a
    micro-batch repeats keys, like real click streams."""
    r = _rng(seed, 3000 + file_no)
    first_id = file_no * rows
    ts0 = np.datetime64("2024-01-01T00:00:00", "us") + np.timedelta64(file_no * 60, "s")
    offs = np.sort(r.integers(0, 60_000_000, rows)).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + rows, dtype=np.int64)),
            "ts": pa.array(ts0 + offs, pa.timestamp("us")),
            "user_id": pa.array(
                r.choice(users, size=rows, p=zipf_probs(users, 1.1)).astype(np.int64)
            ),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in r.integers(0, len(EVENT_TYPES), rows)]
            ),
            "value": pa.array(np.round(r.integers(1, 50_000, rows) / 100.0, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, rows)]),
        }
    )


def write_event_files(
    out_dir: str, seed: int, first_file: int, files: int, rows: int, users: int
) -> dict:
    """Write files ``first_file .. first_file+files-1`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    distinct: set[int] = set()
    for f in range(first_file, first_file + files):
        t = events_table(seed, f, rows, users)
        distinct.update(t.column("user_id").to_pylist())
        pq.write_table(t, os.path.join(out_dir, f"part-{f:05d}.parquet"))
    return {
        "rows": files * rows,
        "bytes": dir_bytes(out_dir),
        "files": files,
        "distinct_keys": len(distinct),
    }


# --------------------------------------------------------------------------
# analytics_mix: the tables the mix's queries read, at a TPC-H scale factor
# --------------------------------------------------------------------------

_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
MIX_TABLES = ("nation", "customer", "supplier", "orders", "lineitem", "events")


def mix_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The tables the ``analytics_mix`` queries read, with the column names,
    types, value domains and row counts of the repository's TPC-H-shaped
    test tables at scale factor ``sf``: at ``sf=0.1``, 15,000 customers,
    1,000 suppliers, 150,000 orders, ~600,000 line items (1-7 per order)
    and 100,000 events over 1,500 users in January 2024. Each table is one
    parquet file with one row group."""
    r = _rng(seed, 4)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)
    n_ev = max(int(1_000_000 * sf), 500)

    def money(lo, hi, n):
        return np.round(r.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)

    t = {}
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    retail = np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)
    odate = np.datetime64("1995-01-01", "us") + (
        r.integers(0, 2400, n_ord) * 86_400_000_000
    ).astype("timedelta64[us]")
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": [_PRIORITIES[i] for i in r.integers(0, 5, n_ord)],
        }
    )
    lines = r.integers(1, 8, n_ord)
    okeys = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okeys)
    # 1..k within each order: position minus the order's first position
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(n_li) - starts + 1).astype(np.int32)
    pkeys = r.integers(0, n_part, n_li).astype(np.int64)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines) + (
        r.integers(1, 122, n_li) * 86_400_000_000
    ).astype("timedelta64[us]")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okeys),
            "l_partkey": pa.array(pkeys),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li).astype(np.int64)),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[pkeys], 2),
            "l_discount": np.round(r.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(r.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_li)],
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    ).take(r.permutation(n_li))  # stored in random order, as in the test tables
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        r.integers(0, 30 * 86_400_000_000, n_ev)
    ).astype("timedelta64[us]")
    n_users = max(n_cust // 10, 20)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, n_users, n_ev).astype(np.int64)),
            "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)],
            "value": money(0.01, 500, n_ev),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
        }
    )
    return t


def write_mix_tables(out_dir: str, seed: int, sf: float) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    tables = mix_tables(seed, sf)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {
        "rows": sum(t.num_rows for t in tables.values()),
        "bytes": dir_bytes(out_dir),
        "files": len(tables),
        "distinct_keys": tables["customer"].num_rows,
    }
