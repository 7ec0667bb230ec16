"""DuckDB oracles for the benchmark's output checks.

Headline shapes: the SQL of the DuckDB twin of graft.Bench (plain double
aggregates, as the twins use). The harness sends an order-independent
digest of each shape's result (row count, then per column a sum: numbers
as they are, strings by length, times in epoch seconds); the same digest
of the oracle's rows must match within a relative 1e-9. Two shapes differ
from that twin on purpose: `window_rank` keeps every orders column (the
Spark twin does), and `dedup_exact` keeps the least doc_id per text (the
twin's definition; DISTINCT ON picks an arbitrary one).

Ingest: `q5_join5` rows and the `asof_like_merge` digest recomputed over
the raw tables plus every delta batch applied so far.
"""
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

HEADLINE = {
    "q1_pricing_summary": """
      SELECT l_returnflag, l_linestatus, COUNT(*) count_order,
             SUM(l_quantity) sum_qty, SUM(l_extendedprice) sum_base_price,
             SUM(l_extendedprice * (1.0 - l_discount)) sum_disc_price,
             AVG(l_quantity) avg_qty, AVG(l_extendedprice) avg_price,
             AVG(l_discount) avg_disc, STDDEV_SAMP(l_quantity) std_qty
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
      GROUP BY l_returnflag, l_linestatus""",
    "q3_join3_topk": """
      SELECT o_orderkey, o_orderdate, SUM(l_extendedprice * (1.0 - l_discount)) revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY o_orderkey, o_orderdate
      ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q5_join5": """
      SELECT n_name, SUM(l_extendedprice * (1.0 - l_discount)) revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name""",
    "window_rank": """
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) rn
        FROM orders) WHERE rn <= 3""",
    "grouping_sets": """
      SELECT o_orderstatus, o_orderpriority, COUNT(*) n, SUM(o_totalprice) sum_price
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())""",
    "pivot_transpose": """
      SELECT o_orderstatus,
             SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END) urgent,
             SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END) high,
             SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END) medium,
             SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END) notspec,
             SUM(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END) low
      FROM orders GROUP BY o_orderstatus""",
    "sessionize": """
      SELECT user_id, session_id, MIN(ts) session_start, MAX(ts) session_end,
             COUNT(*) n_events, SUM(value) sum_value
      FROM (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) session_id
        FROM (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts, value,
                 CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      OR CAST(ts AS TIMESTAMP) > LAG(CAST(ts AS TIMESTAMP)) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) + INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END new_session
          FROM events))
      GROUP BY user_id, session_id""",
    "tumbling_window": """
      SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) w, event_type,
             COUNT(*) n, SUM(value) sum_value
      FROM events GROUP BY w, event_type""",
    "text_tokens": """
      SELECT lang, COUNT(*) n_docs, SUM(len(string_split(text, ' '))) total_tokens
      FROM documents GROUP BY lang""",
    "knn_cosine": """
      SELECT b.vec_id,
             round(list_cosine_similarity(
               list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(a.embedding, x -> CAST(x AS DOUBLE))), 6) AS cos_sim
      FROM embeddings a JOIN embeddings b ON a.vec_id = 0
      ORDER BY cos_sim DESC NULLS LAST, b.vec_id LIMIT 11""",
    "dedup_exact": """
      SELECT MIN(doc_id) doc_id FROM documents GROUP BY text""",
    "asof_like_merge": """
      SELECT l_orderkey, l_linenumber, l_shipdate, o_orderdate
      FROM lineitem JOIN orders
        ON l_orderkey = o_orderkey
       AND l_shipdate >= o_orderdate
       AND l_shipdate < o_orderdate + INTERVAL 30 DAY""",
}

def connect(data, threads, tmp, overrides=None):
    """A DuckDB connection with one view per table; `overrides` maps a
    table to a list of parquet files that replaces its single file."""
    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    con.execute("SET enable_progress_bar=false")
    con.execute(f"SET temp_directory='{tmp}'")
    for t in TABLES:
        files = (overrides or {}).get(t, [f"{data}/{t}.parquet"])
        lst = "[" + ", ".join(f"'{f}'" for f in files) + "]"
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet({lst})")
    return con


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def same_rows(got, want):
    """(equal, reason) for two row lists sorted the same way, floats
    within tolerance."""
    if len(got) != len(want):
        return False, f"{len(got)} rows, oracle {len(want)}"
    for i, (a, b) in enumerate(zip(got, want)):
        if not all(_close(x, y) for x, y in zip(a, b)):
            return False, f"row {i}: {a!r} vs oracle {b!r}"
    return True, ""


_SUM = {"n": "CAST({c} AS DOUBLE)", "s": "CAST(length({c}) AS DOUBLE)",
        "t": "CAST(epoch_us({c}) // 1000000 AS DOUBLE)"}


def digest_matches(con, sql, digest):
    """(oracle row count, equal, reason) for the harness's digest of a
    result against the same digest of `sql`'s rows."""
    kinds = digest["kinds"]
    cols = ", ".join(f"c{i}" for i in range(len(kinds)))
    sums = "".join(f", SUM({_SUM[k].format(c=f'c{i}')})" for i, k in enumerate(kinds))
    want = con.execute(f"SELECT COUNT(*){sums} FROM ({sql}) AS q({cols})").fetchone()
    ok, why = same_rows([[digest["rows"]] + digest["sums"]],
                        [[want[0]] + [float(x or 0.0) for x in want[1:]]])
    return want[0], ok, why.replace("row 0: ", "digest ")


def headline(con, digests):
    """name -> (oracle row count, ok, reason) for each shape."""
    res = {}
    for name, sql in HEADLINE.items():
        d = digests.get(name, {"err": "no digest"})
        if "err" in d:
            rows = con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]
            res[name] = (rows, False, d["err"])
        else:
            res[name] = digest_matches(con, sql, d)
    return res


def q5_matches(con, rows):
    got = sorted(tuple(r) for r in rows)
    want = con.execute(f"SELECT * FROM ({HEADLINE['q5_join5']}) ORDER BY ALL").fetchall()
    return same_rows(got, want)
