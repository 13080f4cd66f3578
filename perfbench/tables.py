"""Seeded input tables of the operators workload, in the shape of the
catalog's test data (TPC-H-like star schema plus events, documents and
embeddings): the same seed gives the same tables.

    generate(seed, out_dir) -> writes <out_dir>/<table>.parquet/part-0.parquet

Every random draw is a hash of (row, seed, draw number), so the result
does not depend on DuckDB's thread count or scheduling.
"""
import os

import duckdb

# table sizes as a fraction of TPC-H scale factor 1
SCALE = 0.02
WORDS = ["batch", "part", "spark", "line", "column", "order", "small", "sort", "fast", "value",
         "scan", "a", "hash", "slow", "group", "agg", "filter", "query", "big", "key", "window",
         "row", "table", "stream", "merge", "data", "vector", "join", "customer", "the"]


def generate(seed, out_dir):
    n_cust, n_supp, n_part = int(150000 * SCALE), int(10000 * SCALE), int(200000 * SCALE)
    n_orders, n_events = int(1500000 * SCALE), int(1000000 * SCALE)
    n_docs, n_vec = int(25000 * SCALE), int(10000 * SCALE)
    draws = iter(range(1, 1000))

    def u():
        """a uniform draw in [0, 1) for the row `id`"""
        return f"(hash(id, {seed}, {next(draws)}) % 1000000007) / 1000000007.0"

    def pick(values):
        lst = ", ".join(f"'{v}'" for v in values)
        return f"([{lst}])[1 + CAST(floor({u()} * {len(values)}) AS INTEGER)]"

    con = duckdb.connect()
    con.execute("SET threads=4")

    def copy(name, query):
        path = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(path, exist_ok=True)
        con.execute(f"COPY ({query}) TO '{os.path.join(path, 'part-0.parquet')}' (FORMAT PARQUET)")

    def write(name, n, cols):
        copy(name, f"SELECT {cols} FROM range({n}) t(id) ORDER BY id")

    write("region", 5, "CAST(id AS INTEGER) AS r_regionkey, "
          "(['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])[id + 1] AS r_name")
    write("nation", 25, "CAST(id AS INTEGER) AS n_nationkey, 'NATION_' || id AS n_name, "
          "CAST(id % 5 AS INTEGER) AS n_regionkey")
    write("customer", n_cust, f"""id AS c_custkey, printf('Customer#%09d', id) AS c_name,
          CAST(floor({u()} * 25) AS INTEGER) AS c_nationkey,
          round({u()} * 10999.99 - 999.99, 2) AS c_acctbal,
          {pick(['HOUSEHOLD', 'BUILDING', 'FURNITURE', 'MACHINERY', 'AUTOMOBILE'])} AS c_mktsegment""")
    write("supplier", n_supp, f"""id AS s_suppkey, printf('Supplier#%09d', id) AS s_name,
          CAST(floor({u()} * 25) AS INTEGER) AS s_nationkey,
          round({u()} * 10999.99 - 999.99, 2) AS s_acctbal""")
    write("part", n_part, f"""id AS p_partkey,
          {pick(['small', 'red', 'blue', 'hot', 'green', 'large', 'cold', 'shiny'])} || ' ' ||
          {pick(['ring', 'widget', 'bolt', 'gear', 'gizmo', 'nut', 'spring', 'valve'])} AS p_name,
          'Brand#' || CAST(floor({u()} * 25) + 1 AS INTEGER) AS p_brand,
          {pick(['SMALL', 'MEDIUM', 'PROMO', 'ECONOMY', 'STANDARD', 'LARGE'])} AS p_type,
          CAST(floor({u()} * 50) + 1 AS INTEGER) AS p_size,
          CAST(round(900.0 + (id % 1000) * 0.1, 2) AS DOUBLE) AS p_retailprice""")
    write("orders", n_orders, f"""id AS o_orderkey,
          CAST(floor({u()} * {n_cust}) AS BIGINT) AS o_custkey,
          {pick(['P', 'O', 'F'])} AS o_orderstatus,
          round({u()} * 498964.89 + 1013.7, 2) AS o_totalprice,
          CAST(DATE '1995-01-01' + CAST(floor({u()} * 2404) AS INTEGER) AS TIMESTAMP) AS o_orderdate,
          {pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])} AS o_orderpriority""")
    write("lineitem", n_orders * 4, f"""CAST(floor({u()} * {n_orders}) AS BIGINT) AS l_orderkey,
          CAST(floor({u()} * {n_part}) AS BIGINT) AS l_partkey,
          CAST(floor({u()} * {n_supp}) AS BIGINT) AS l_suppkey,
          CAST(floor({u()} * 7) + 1 AS INTEGER) AS l_linenumber,
          floor({u()} * 50) + 1.0 AS l_quantity,
          round({u()} * 99000 + 900, 2) AS l_extendedprice,
          floor({u()} * 11) / 100 AS l_discount, floor({u()} * 9) / 100 AS l_tax,
          {pick(['A', 'N', 'R'])} AS l_returnflag, {pick(['O', 'F'])} AS l_linestatus,
          CAST(DATE '1995-01-02' + CAST(floor({u()} * 2498) AS INTEGER) AS TIMESTAMP) AS l_shipdate""")
    write("events", n_events, f"""id AS event_id,
          make_timestamp(CAST((1704067200.0 + id * {2592000.0 / n_events} + {u()} * 30) * 1e6 AS BIGINT)) AS ts,
          CAST(floor({u()} * {n_events // 67}) AS BIGINT) AS user_id,
          {pick(['signup', 'click', 'error', 'view', 'purchase'])} AS event_type,
          round({u()} * 490 + 0.01, 2) AS value,
          '{{"k": ' || CAST(floor({u()} * 100) AS INTEGER) || '}}' AS props""")
    words = ", ".join(f"'{w}'" for w in WORDS)
    text_draw, length_draw = next(draws), next(draws)
    # one document in ten repeats the one seven before it: near-duplicate work for the dedup gates
    copy("documents", f"""
        SELECT doc_id, text, lang, source, CAST(length(text) AS BIGINT) AS n_chars FROM (
          SELECT id AS doc_id,
            array_to_string(list_transform(range(CAST(hash(src, {seed}, {length_draw}) % 50 + 8 AS BIGINT)),
              i -> ([{words}])[1 + CAST(hash(src, i, {seed}, {text_draw}) % {len(WORDS)} AS INTEGER)]), ' ')
              AS text,
            {pick(['en', 'en', 'en', 'zh', 'de', 'fr', 'es'])} AS lang,
            'src' || CAST(floor({u()} * 20) AS INTEGER) AS source
          FROM (SELECT id, CASE WHEN id % 10 = 3 AND id >= 7 THEN id - 7 ELSE id END AS src
                FROM range({n_docs}) t(id)))
        ORDER BY doc_id""")
    copy("embeddings", f"""
        SELECT id AS vec_id,
          list_transform(range(64), i -> CAST(
              ((hash(label, i, {seed}) % 1000) / 2500.0 - 0.2)
              + ((hash(id, i, {seed} + 1) % 1000) / 5000.0 - 0.1) AS FLOAT)) AS embedding,
          label
        FROM (SELECT id, CAST(floor({u()} * 10) AS INTEGER) AS label FROM range({n_vec}) t(id))
        ORDER BY vec_id""")
    con.close()
