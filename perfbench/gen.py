"""Seeded inputs for the benchmark workloads (DuckDB), derived from the
sf0.1 test data in `data/sf0.1` so that every row keeps its distributions.

`replicas(src, dst, n, threads)` writes an n-fold scale-up of `src` with
the key offsets of `tools/make_sf1.py`: the fact tables (orders, lineitem,
events, documents, embeddings) repeat n times, replica r adding
r * KEY_OFF to its keys, and the dimension tables are copied, so star-join
selectivities do not change with scale.

`deltas(src, dst, seed, n, threads)` writes n ingest batches under
dst/delta_<k>/: orders sampled from `src` by the seed, with their
lineitems, under fresh keys; and a document batch that plants one family
per incremental-prep stage (fresh text, copies of corpus documents,
raw-text twins inside the batch, digit junk). Every choice is a hash of
(seed, batch, row), so one seed gives the same batches.
"""
import os

import duckdb

KEY_OFF = 1_000_000_000
DELTA_OFF = 100_000_000

DIMS = ["region", "nation", "customer", "supplier", "part"]
# fact table -> its key columns that a replica offsets
FACT_KEYS = {"orders": ["o_orderkey"], "lineitem": ["l_orderkey"],
             "events": ["event_id", "user_id"], "documents": ["doc_id"],
             "embeddings": ["vec_id"]}

DELTA_ORDERS = 1_500
DELTA_DOCS = 200


def connect(threads):
    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    con.execute("SET enable_progress_bar=false")
    return con


def _copy(con, sql, path, row_group=1_000_000):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE {row_group})")


def replicas(src, dst, n, threads=4):
    """Write an n-fold replica scale-up of the tables in `src` under `dst`."""
    os.makedirs(dst, exist_ok=True)
    con = connect(threads)
    for t in DIMS:
        _copy(con, f"SELECT * FROM '{src}/{t}.parquet'", f"{dst}/{t}.parquet")
    for t, keys in FACT_KEYS.items():
        sel = ", ".join(f"{k} + {{off}} AS {k}" for k in keys)
        parts = " UNION ALL ".join(
            f"SELECT * REPLACE ({sel.format(off=r * KEY_OFF)}) FROM '{src}/{t}.parquet'"
            for r in range(n))
        # DuckDB's default row groups, so scans can split; ordered by the
        # first key, because a parallel UNION ALL does not keep replica order
        _copy(con, f"{parts} ORDER BY {keys[0]}", f"{dst}/{t}.parquet", 122_880)
    con.close()


def _shuffled(text_sql, key_sql):
    """The words of `text_sql` in an order drawn from `key_sql`: the same
    length and vocabulary as the source text, other shingles."""
    return f"""(SELECT string_agg(w, ' ' ORDER BY hash({key_sql}, i))
                FROM (SELECT unnest(string_split({text_sql}, ' ')) AS w,
                             generate_subscripts(string_split({text_sql}, ' '), 1) AS i))"""


def deltas(src, dst, seed, n, threads=4):
    """Write n ingest batches for the base tables in `src` under
    dst/delta_<k>/ (orders, lineitem, docs)."""
    con = connect(threads)
    seed = int(seed)
    for k in range(n):
        d = f"{dst}/delta_{k}"
        os.makedirs(d, exist_ok=True)
        off = DELTA_OFF * (k + 1)
        con.execute(f"""CREATE OR REPLACE TABLE picked AS
            SELECT o_orderkey FROM '{src}/orders.parquet'
            ORDER BY hash(o_orderkey, {seed}, {k}) LIMIT {DELTA_ORDERS}""")
        _copy(con, f"""SELECT * REPLACE (o_orderkey + {off} AS o_orderkey)
                       FROM '{src}/orders.parquet' SEMI JOIN picked USING (o_orderkey)
                       ORDER BY o_orderkey""", f"{d}/orders.parquet")
        _copy(con, f"""SELECT * REPLACE (l_orderkey + {off} AS l_orderkey)
                       FROM '{src}/lineitem.parquet' l
                       SEMI JOIN picked p ON l.l_orderkey = p.o_orderkey
                       ORDER BY l_orderkey, l_linenumber""", f"{d}/lineitem.parquet")
        # documents: 70 % fresh text (a corpus document's words reordered),
        # 10 % copies of corpus documents (corpus near-dups), 10 % raw
        # twins of another batch row (batch exact dups), 10 % digit junk
        # (quality filter)
        con.execute(f"""CREATE OR REPLACE TABLE corpus AS
            SELECT row_number() OVER (ORDER BY doc_id) - 1 AS r, text
            FROM '{src}/documents.parquet'""")
        ndocs = con.execute("SELECT COUNT(*) FROM corpus").fetchone()[0]
        _copy(con, f"""
          SELECT CAST(i + {off} AS BIGINT) AS id,
                 CASE WHEN f < 0.7 THEN {_shuffled('a.text', f'{seed}, {k}, s.i')}
                      WHEN f < 0.8 THEN a.text
                      WHEN f < 0.9 THEN {_shuffled('t.text', f'{seed}, {k}, -1')}
                      ELSE repeat('7 31 2024 ', 8) ||
                           array_to_string(string_split(a.text, ' ')[1:4], ' ') END AS text
          FROM (SELECT i, (hash(i, {seed}, {k}, 1) % 1000) / 1000.0 AS f,
                       hash(i, {seed}, {k}, 2) % {ndocs} AS ra,
                       hash(i % 7, {seed}, {k}, 3) % {ndocs} AS rt
                FROM range({DELTA_DOCS}) t(i)) s
          JOIN corpus a ON a.r = s.ra
          JOIN corpus t ON t.r = s.rt
          ORDER BY id""", f"{d}/docs.parquet")
    con.close()
