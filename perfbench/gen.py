"""Seeded input generator for the benchmark.

Writes the ten tables of the repository's test fixture (region, nation,
supplier, customer, part, orders, lineitem, events, documents, embeddings;
see TESTDATA.md and FIXTURES.md) as parquet files with the fixture's
schemas, value distributions and file layout, at any scale. The fixture is
not part of the repository, so a benchmark checkout makes its own inputs;
README.md records how they compare with the fixture. One deviation: the
fixture draws l_linenumber independently of l_orderkey, so that pair is not
unique there; here it numbers the lines of an order and stays a key.

Values are a pure function of the scale (DuckDB's deterministic `hash` over
a fixed base seed); the seed fixes the row order of every file. So every
seed carries the same work, and the same seed always gives byte-equal
inputs. Row counts follow the fixture's scale factors: at scale 0.01
lineitem has 60k rows, orders 15k, events 10k, documents and embeddings 500.

    python3 perfbench/gen.py <out_dir> <seed> <scale>
"""
import os
import sys

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "supplier", "customer", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

BASE_SEED = 42

VOCAB = ["join", "hash", "row", "batch", "scan", "customer", "column", "filter",
         "small", "slow", "merge", "order", "vector", "line", "data", "table",
         "agg", "value", "key", "stream", "window", "spark", "a", "group",
         "part", "big", "sort", "query", "fast", "the"]


def _sql_list(xs):
    return "[" + ", ".join("'" + x + "'" for x in xs) + "]"


def generate(out_dir, seed, scale):
    os.makedirs(out_dir, exist_ok=True)
    n = {
        "supplier": max(10, round(10000 * scale)),
        "customer": max(150, round(150000 * scale)),
        "part": max(200, round(200000 * scale)),
        "orders": max(1500, round(1500000 * scale)),
        "events": max(1000, round(1000000 * scale)),
        "users": max(1, round(15000 * scale)),
        "documents": max(500, round(50000 * scale)),
        "embeddings": max(500, round(20000 * scale)),
    }
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    seed = int(seed)
    # u(i, salt): uniform [0, 1) from (row, column salt); ord(i): row order
    con.execute(f"CREATE MACRO u(i, s) AS (hash(i, s, {BASE_SEED}) >> 11) / 9007199254740992.0")
    con.execute(f"CREATE MACRO ord(i) AS hash(i, {seed}, 'order')")
    con.execute(f"CREATE MACRO pick(xs, i, s) AS xs[1 + CAST(floor(u(i, s) * len(xs)) AS INT)]")

    def emit(name, select):
        # written by pyarrow with its defaults, like the fixture: one row
        # group up to 1Mi rows, dictionary encoding, snappy. The row groups
        # set how many tasks, and so COPY sessions, read a table.
        pq.write_table(con.execute(select).arrow(), os.path.join(out_dir, f"{name}.parquet"))

    emit("region", """
        SELECT CAST(i AS INT) AS r_regionkey,
               ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
        FROM range(5) t(i) ORDER BY ord(i)""")
    emit("nation", """
        SELECT CAST(i AS INT) AS n_nationkey, 'NATION_' || i AS n_name,
               CAST(i % 5 AS INT) AS n_regionkey
        FROM range(25) t(i) ORDER BY ord(i)""")
    emit("supplier", f"""
        SELECT CAST(i AS BIGINT) AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
               CAST(floor(u(i, 1) * 25) AS INT) AS s_nationkey,
               round(-999.99 + u(i, 2) * 10999.98, 2) AS s_acctbal
        FROM range({n['supplier']}) t(i) ORDER BY ord(i)""")
    emit("customer", f"""
        SELECT CAST(i AS BIGINT) AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
               CAST(floor(u(i, 1) * 25) AS INT) AS c_nationkey,
               round(-999.99 + u(i, 2) * 10999.98, 2) AS c_acctbal,
               pick(['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'], i, 3) AS c_mktsegment
        FROM range({n['customer']}) t(i) ORDER BY ord(i)""")
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    emit("part", f"""
        SELECT CAST(i AS BIGINT) AS p_partkey,
               pick({_sql_list(adj)}, i, 1) || ' ' || pick({_sql_list(noun)}, i, 2) AS p_name,
               'Brand#' || (1 + CAST(floor(u(i, 3) * 25) AS INT)) AS p_brand,
               pick(['ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD'], i, 4) AS p_type,
               CAST(1 + floor(u(i, 5) * 50) AS INT) AS p_size,
               900.0 + (i % 1000) / 10.0 AS p_retailprice
        FROM range({n['part']}) t(i) ORDER BY ord(i)""")
    emit("orders", f"""
        SELECT CAST(i AS BIGINT) AS o_orderkey,
               CAST(floor(u(i, 1) * {n['customer']}) AS BIGINT) AS o_custkey,
               pick(['F','O','P'], i, 2) AS o_orderstatus,
               round(1000 + u(i, 3) * 499000, 2) AS o_totalprice,
               CAST(DATE '1995-01-01' + CAST(floor(u(i, 4) * 2404) AS INT) AS TIMESTAMP) AS o_orderdate,
               pick(['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'], i, 5) AS o_orderpriority
        FROM range({n['orders']}) t(i) ORDER BY ord(i)""")
    # four lines per order on average, each on a uniformly drawn order (so
    # lines per order are Poisson-like and a few orders have none, as in the
    # fixture); l_linenumber numbers the lines of an order, so
    # (l_orderkey, l_linenumber) stays a primary key
    emit("lineitem", f"""
        WITH l AS (
          SELECT i AS k, CAST(floor(u(i, 9) * {n['orders']}) AS BIGINT) AS l_orderkey
          FROM range({n['orders'] * 4}) t(i))
        SELECT l_orderkey,
               CAST(floor(u(k, 1) * {n['part']}) AS BIGINT) AS l_partkey,
               CAST(floor(u(k, 2) * {n['supplier']}) AS BIGINT) AS l_suppkey,
               CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY k) AS INT) AS l_linenumber,
               1.0 + floor(u(k, 3) * 50) AS l_quantity,
               round(900 + u(k, 4) * 104097, 2) AS l_extendedprice,
               floor(u(k, 5) * 11) / 100.0 AS l_discount,
               floor(u(k, 6) * 9) / 100.0 AS l_tax,
               pick(['A','N','R'], k, 7) AS l_returnflag,
               pick(['F','O'], k, 8) AS l_linestatus,
               CAST(DATE '1995-01-02' + CAST(floor(u(k, 10) * 2498) AS INT) AS TIMESTAMP) AS l_shipdate
        FROM l ORDER BY ord(k)""")
    # timestamps uniform over 30 days, event_id in timestamp order
    emit("events", f"""
        WITH e AS (
          SELECT i, TIMESTAMP '2024-01-01' + to_microseconds(
                   CAST(floor(u(i, 1) * {30 * 86400 * 1000000}) AS BIGINT)) AS ts
          FROM range({n['events']}) t(i))
        SELECT CAST(row_number() OVER (ORDER BY ts, i) - 1 AS BIGINT) AS event_id, ts,
               CAST(floor(u(i, 2) * {n['users']}) AS BIGINT) AS user_id,
               pick(['click','error','purchase','signup','view'], i, 3) AS event_type,
               round(0.01 - ln(1 - u(i, 4)) * 50, 2) AS value,
               '{{"k": ' || CAST(floor(u(i, 5) * 100) AS INT) || '}}' AS props
        FROM e ORDER BY ord(i)""")
    # one document in twenty repeats another (drawn from all of them) plus
    # a 'dup' token, so the near-duplicate and containment queries have
    # pairs to find
    emit("documents", f"""
        WITH words AS (
          SELECT i, unnest(range(10 + CAST(floor(u(i, 1) * 90) AS BIGINT))) AS j
          FROM range({n['documents']}) t(i)),
        base AS MATERIALIZED (
          SELECT i, string_agg(({_sql_list(VOCAB)})[1 + CAST(floor(u(i * 128 + j, 11) * {len(VOCAB)}) AS INT)],
                               ' ' ORDER BY j) AS body
          FROM words GROUP BY i),
        docs AS (
          SELECT b.i, CASE WHEN u(b.i, 4) < 0.05 AND src.i <> b.i THEN src.body || ' dup'
                           ELSE b.body END AS text
          FROM base b LEFT JOIN base src
            ON src.i = CAST(floor(u(b.i, 2) * {n['documents']}) AS BIGINT))
        SELECT CAST(i AS BIGINT) AS doc_id, text,
               pick(['en','en','en','de','es','fr','zh'], i, 3) AS lang,
               'src' || (i % 20) AS source,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM docs ORDER BY ord(i)""")
    # unit vectors in uniformly random directions (normalised Box-Muller
    # gaussians), labels drawn independently of them
    emit("embeddings", f"""
        WITH g AS (
          SELECT i, list_transform(range(64), d ->
                   sqrt(-2 * ln(1 - u(i * 64 + d, 21))) * cos(2 * pi() * u(i * 64 + d, 22))) AS v
          FROM range({n['embeddings']}) t(i)),
        nv AS (SELECT i, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS norm FROM g)
        SELECT CAST(i AS BIGINT) AS vec_id,
               list_transform(v, x -> CAST(x / norm AS FLOAT)) AS embedding,
               CAST(floor(u(i, 23) * 10) AS INT) AS label
        FROM nv ORDER BY ord(i)""")
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
