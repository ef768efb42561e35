"""Benchmark inputs, made with the bundled DuckDB (no network, no extension
install: `tpch` and `parquet` are built in).

Fixture data is cached under `.bench_data/` in the checkout and verified by
row count on every run: TPC-H tables from `CALL dbgen(sf=...)`, the answers
DuckDB ships for that scale factor, and an `embeddings` table (list<float>).
Workload inputs (statements, slices, payloads, expected checksums) are made
from the seed into the run directory; the engine only ever sees those.
"""
import json
import os
import random

import duckdb

TPCH_TABLES = ["customer", "lineitem", "nation", "orders", "part", "partsupp",
               "region", "supplier"]
EMBED_ROWS = 50_000
EMBED_DIM = 64


def connect(tmp_dir):
    os.makedirs(tmp_dir, exist_ok=True)
    return duckdb.connect(config={
        "autoinstall_known_extensions": "false",
        "autoload_known_extensions": "false",
        "temp_directory": tmp_dir,
        "threads": "2",
    })


def _counts(con, data_dir, names):
    return {n: con.execute(
        f"SELECT count(*) FROM read_parquet('{data_dir}/{n}.parquet')").fetchone()[0]
        for n in names}


def ensure_data(root, sf, tmp_dir):
    """Generate (once) and verify the parquet fixtures; returns their dir."""
    data_dir = os.path.join(root, ".bench_data", f"sf{sf}")
    marker = os.path.join(data_dir, "rowcounts.json")
    con = connect(tmp_dir)
    names = TPCH_TABLES + ["embeddings"]
    if os.path.exists(marker):
        with open(marker) as f:
            want = json.load(f)
        try:
            if _counts(con, data_dir, names) == want:
                return data_dir
        except duckdb.Error:
            pass
    os.makedirs(data_dir, exist_ok=True)
    con.execute(f"CALL dbgen(sf={sf})")
    for t in TPCH_TABLES:
        con.execute(f"COPY {t} TO '{data_dir}/{t}.parquet' (FORMAT parquet)")
    # deterministic vectors in [-1, 1): no RNG state, so every run and host
    # builds the same table
    con.execute(f"""
        COPY (SELECT i AS vec_id,
                     list_transform(range({EMBED_DIM}),
                         j -> ((hash(i * {EMBED_DIM} + j) % 20000)::FLOAT / 10000 - 1))
                         ::FLOAT[] AS embedding,
                     (i % 10)::INTEGER AS label
              FROM range({EMBED_ROWS}) t(i))
        TO '{data_dir}/embeddings.parquet' (FORMAT parquet)""")
    for q, answer in con.execute(
            "SELECT query_nr, answer FROM tpch_answers() WHERE scale_factor = ?",
            [float(sf)]).fetchall():
        with open(os.path.join(data_dir, f"answer_q{q:02d}.txt"), "w") as f:
            f.write(answer)
    counts = _counts(con, data_dir, names)
    with open(marker, "w") as f:
        json.dump(counts, f)
    return data_dir


def tpch_queries(tmp_dir):
    con = connect(tmp_dir)
    return con.execute("SELECT query_nr, query FROM tpch_queries() ORDER BY 1").fetchall()


def tpch_inputs(data_dir, tmp_dir):
    return {"queries": [
        {"nr": nr, "sql": sql.strip().rstrip(";"),
         "answer": os.path.join(data_dir, f"answer_q{nr:02d}.txt")}
        for nr, sql in tpch_queries(tmp_dir)]}


LINEITEM_COLS = ("l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
                 "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, "
                 "l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, "
                 "l_shipmode, l_comment")


def arrow_bulk_inputs(rng, data_dir, run_dir, tmp_dir, export_rows, payload_rows,
                      n_slices=4):
    """Seeded lineitem/embeddings export slices with DuckDB checksums, and
    Arrow IPC upload payloads cut from `orders`."""
    import pyarrow as pa

    con = connect(tmp_dir)
    li = f"read_parquet('{data_dir}/lineitem.parquet')"
    emb = f"read_parquet('{data_dir}/embeddings.parquet')"
    orders = f"read_parquet('{data_dir}/orders.parquet')"
    max_ok = con.execute(f"SELECT max(l_orderkey) FROM {li}").fetchone()[0]
    exports = []
    for i in range(n_slices):
        # lineitem: ~1 row per orderkey unit, so the key span sets the size
        lo = rng.randrange(1, max_ok - export_rows)
        hi = lo + export_rows
        where = f"l_orderkey BETWEEN {lo} AND {hi}"
        n, price, qty, days, text = con.execute(f"""
            SELECT count(*), sum(l_extendedprice), sum(l_quantity),
                   sum(l_shipdate - DATE '1970-01-01'), sum(length(l_comment))
            FROM {li} WHERE {where}""").fetchone()
        exports.append({
            "cls": "lineitem", "rows": n,
            "sql": f"SELECT {LINEITEM_COLS} FROM lineitem WHERE {where}",
            "checks": [{"kind": "sum_decimal", "col": 5, "value": str(price)},
                       {"kind": "sum_decimal", "col": 4, "value": str(qty)},
                       {"kind": "sum_days", "col": 10, "value": str(days)},
                       {"kind": "sum_len", "col": 15, "value": str(text)}]})
        vlo = rng.randrange(0, EMBED_ROWS - export_rows // 4)
        vhi = vlo + export_rows // 4 - 1
        where = f"vec_id BETWEEN {vlo} AND {vhi}"
        n, labels, total = con.execute(f"""
            SELECT count(*), sum(label), sum(list_sum(embedding::DOUBLE[]))
            FROM {emb} WHERE {where}""").fetchone()
        exports.append({
            "cls": "embeddings", "rows": n,
            "sql": f"SELECT vec_id, embedding, label FROM embeddings WHERE {where}",
            "checks": [{"kind": "sum_long", "col": 2, "value": str(labels)},
                       {"kind": "sum_list", "col": 1, "value": repr(total)}]})
    payloads = []
    n_orders = con.execute(f"SELECT count(*) FROM {orders}").fetchone()[0]
    for i in range(n_slices):
        off = rng.randrange(0, n_orders - payload_rows)
        table = con.execute(f"""
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
                   o_orderpriority, o_clerk, o_shippriority, o_comment
            FROM {orders} ORDER BY o_orderkey LIMIT {payload_rows} OFFSET {off}""").arrow()
        path = os.path.join(run_dir, f"payload_{i}.arrows")
        with pa.OSFile(path, "wb") as sink:
            with pa.ipc.new_stream(sink, table.schema) as w:
                for batch in table.to_batches(max_chunksize=8192):
                    w.write_batch(batch)
        payloads.append({"path": path, "rows": table.num_rows})
    return {"exports": exports, "payloads": payloads, "ingest_table": "bench_ingest"}


def dml_inputs(rng, initial_rows, n_writes, n_reads, read_lists, key_space=4000, hot=8):
    """Writes rotate insert, update, delete, update, so the table size stays
    level and every window sees the same mix; keys and values are seeded.
    After each write the session reads once from each of `read_lists` lists.
    Each list rotates ad-hoc point read (over `key_space` distinct texts,
    far more than PlanCache holds), prepared point read (over `hot` keys),
    ad-hoc point read, prepared aggregate."""
    live = {k: rng.randrange(1000) for k in range(initial_rows)}
    initial = sorted(live.items())
    next_key = initial_rows
    writes = []
    for i in range(n_writes):
        op = ("insert", "update", "delete", "update")[i % 4]
        if op == "insert":
            k, v = next_key, rng.randrange(1000)
            next_key += 1
            live[k] = v
        elif op == "delete":
            k, v = rng.choice(list(live)), 0
            del live[k]
        else:
            k, v = rng.choice(list(live)), rng.randrange(1000)
            live[k] = v
        writes.append([op, k, v])
    reads = [[("adhoc", rng.randrange(key_space)) if i % 2 == 0 else
              ("hot", rng.randrange(hot)) if i % 4 == 1 else ("agg", 0)
              for i in range(n_reads)] for _ in range(read_lists)]
    hot_keys = [k for k, _ in initial[:hot]]
    return {"dml": {"table": "bench_kv", "initial": [list(kv) for kv in initial],
                    "writes": writes, "reads": reads, "hot_keys": hot_keys}}


def make_inputs(workload, seed, data_dir, run_dir, tmp_dir, sizes):
    rng = random.Random(seed)
    if workload == "tpch":
        return tpch_inputs(data_dir, tmp_dir)
    if workload == "arrow_bulk":
        return arrow_bulk_inputs(rng, data_dir, run_dir, tmp_dir,
                                 sizes["export_rows"], sizes["payload_rows"])
    if workload == "dml_serial":   # one session: a write, then 3 reads
        return dml_inputs(rng, sizes["dml_rows"], 4000, 4000, read_lists=3)
    raise ValueError(f"unknown workload {workload}")


def duckdb_tpch_pass(data_dir, tmp_dir, threads):
    """Same-window comparator: DuckDB over the same parquet, one warm pass
    then one timed pass of the 22 queries; seconds of the timed pass."""
    import time

    con = connect(tmp_dir)
    con.execute(f"SET threads = {threads}")
    for t in TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    queries = [q for _, q in con.execute(
        "SELECT query_nr, query FROM tpch_queries() ORDER BY 1").fetchall()]
    for q in queries:
        con.execute(q).fetchall()
    t0 = time.perf_counter()
    for q in queries:
        con.execute(q).fetchall()
    return time.perf_counter() - t0
