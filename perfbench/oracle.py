"""Correctness check of a run's results against DuckDB, outside the timed region.

Results are compared as sorted multisets of rows, the way
`scripts/verify_local.py` compares them: columns by name, values normalised
(floats rounded to 9 decimals, -0.0 folded into 0.0), rows sorted.
"""
import datetime
import decimal
import hashlib
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if v is None:
        return "None"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if math.isinf(f):
            return "inf" if f > 0 else "-inf"
        f = round(f, 9)
        if f == 0.0:
            f = 0.0
        if f.is_integer() and abs(f) < 2 ** 53:
            return str(int(f))
        return repr(f)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm(x)}" for k, x in
                              sorted(v.items(), key=lambda kv: str(kv[0]))) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def canon(columns, rows):
    """(sorted lower-cased column names, sorted normalised rows)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    cols = [columns[i].lower() for i in order]
    body = sorted("\x1f".join(norm(r[i]) for i in order) for r in rows)
    return cols, body


def load_dump(path):
    with open(path) as f:
        columns = json.loads(f.readline())
        rows = [json.loads(line, parse_float=decimal.Decimal) for line in f]
    return columns, rows


def connect(corpus_dir):
    con = duckdb.connect(config={"threads": os.cpu_count() or 4,
                                 "autoinstall_known_extensions": False,
                                 "autoload_known_extensions": False})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
    return con


def corpus_digest(corpus_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(f"{corpus_dir}/{t}.parquet", "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def oracle_result(con, sql, cache_dir=None, corpus=None):
    """Canonical oracle result. With a cache directory, results of queries
    over the seeded corpus are kept by (corpus digest, SQL): the same seed
    always generates the same corpus, and some oracles take seconds."""
    path = None
    if cache_dir and corpus:
        key = hashlib.sha256((corpus + "\0" + sql).encode()).hexdigest()
        path = os.path.join(cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return tuple(json.load(f))
    cur = con.execute(sql)
    want = canon([d[0] for d in cur.description], cur.fetchall())
    if path:
        os.makedirs(cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(want, f)
        os.replace(path + ".tmp", path)
    return want


def compare(con, sql, dump_path, cache_dir=None, corpus=None):
    """None when the dumped result equals the oracle's, else a reason."""
    try:
        want = oracle_result(con, sql, cache_dir, corpus)
    except Exception as e:  # noqa: BLE001 - an oracle failure is a check failure
        return f"oracle failed: {e}"
    got = canon(*load_dump(dump_path))
    if got[0] != want[0]:
        return f"columns {got[0]} != {want[0]}"
    if len(got[1]) != len(want[1]):
        return f"rows {len(got[1])} != {len(want[1])}"
    for a, b in zip(got[1], want[1]):
        if a != b:
            return f"row {a!r} != {b!r}"
    return None


def check_entry(corpus_dir, stmts, oracles, cache_dir):
    """Entry workloads: each query's first result against its oracle; every
    later execution must reproduce the first one's fingerprint.
    Returns {seq: reason} for every wrong or failed statement."""
    con = connect(corpus_dir)
    digest = corpus_digest(corpus_dir)
    bad = {}
    verdict = {}
    for s in stmts:
        if s["err"]:
            bad[s["seq"]] = "error: " + s["err"]
            continue
        name = s["name"]
        if s.get("dump"):
            sql = oracles.get(name)
            verdict[name] = (compare(con, sql, s["dump"], cache_dir, digest) if sql
                             else "no oracle for query")
        if verdict.get(name):
            bad[s["seq"]] = verdict[name]
        elif s["fp"] != s["first_fp"]:
            bad[s["seq"]] = "result differs from the first execution"
    con.close()
    return bad


def check_dialect(corpus_dir, plan_stmts, stmts, finals):
    """dialect_rw: replay every executed statement in DuckDB, in order, and
    compare each read, each probe and the final table state with the replay.
    Returns ({seq: reason}, {seq: (rows, bytes) of user data written},
    {probe name: verdict})."""
    con = connect(corpus_dir)
    bad, written, probes = {}, {}, {}
    for s in stmts:
        st = plan_stmts[s["seq"]]
        if st.kind == "probe":
            probes[st.name] = ("error: " + s["err"] if s["err"]
                               else compare(con, st.oracle, s["dump"]) or "ok")
            continue
        if s["err"]:
            bad[s["seq"]] = "error: " + s["err"]
        if st.kind == "write":
            written[s["seq"]] = _replay_write(con, st)
        elif st.kind == "read" and not s["err"]:
            reason = compare(con, st.oracle, s["dump"])
            if reason:
                bad[s["seq"]] = reason
    for f in finals:
        reason = compare(con, f"SELECT * FROM {f['table']}", f["dump"])
        if reason:
            bad["final_" + f["table"]] = "final state: " + reason
    con.close()
    return bad, written, probes


def _replay_write(con, st):
    """Apply a write to the DuckDB replay. Returns the rows and bytes of user
    data it inserted, updated or deleted; table maintenance (create, index,
    deduplication) changes no user data."""
    from workloads import TABLE, WIDTH_SQL
    stats = f"SELECT count(*), coalesce(sum({WIDTH_SQL}), 0) FROM {TABLE}"
    if st.name == "alter_update":
        where = st.oracle[0].split(" WHERE ", 1)[1]
        changed = con.execute(stats + " WHERE " + where).fetchone()
    elif st.name in ("insert_select", "insert_values", "alter_delete"):
        n0, b0 = con.execute(stats).fetchone()
    for q in st.oracle or []:
        con.execute(q)
    if st.name in ("insert_select", "insert_values", "alter_delete"):
        n1, b1 = con.execute(stats).fetchone()
        return abs(n1 - n0), abs(b1 - b0)
    if st.name == "alter_update":
        return changed[0], changed[1]
    return 0, 0
