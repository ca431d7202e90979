"""Seeded stand-in for the catalog's scale-factor directory.

Writes the ten parquet tables the catalog queries read, with the same
names, column types and value domains as the shipped test data, generated
with DuckDB from a seed. Row counts scale with `sf` (sf 0.1 gives 600,000
lineitem rows). Every value is a hash of (seed, table, column, row), so the
same seed gives the same tables. Money columns carry two decimals, as the
queries' exact DuckDB comparison assumes.
"""
import os

import duckdb

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["large", "hot", "small", "cold", "shiny", "rusty", "green", "heavy"]
NOUNS = ["ring", "bolt", "nut", "gear", "pipe", "valve", "plate", "screw"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ["a", "the", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
         "scan", "slow", "small", "sort", "spark", "stream", "table", "value", "vector", "window"]


def _lit(xs):
    return "[" + ", ".join("'" + x + "'" for x in xs) + "]"


def generate(out_dir, seed, sf, threads=2):
    os.makedirs(out_dir, exist_ok=True)

    def n(base):
        return max(10, round(base * sf))

    n_cust, n_supp, n_part = n(150000), n(10000), n(200000)
    n_ord, n_line, n_ev = n(1500000), n(6000000), n(1000000)
    n_doc, n_emb = n(50000), n(20000)

    def h(table, c, m):  # uniform draw in [0, m) for (table, column) of row i
        return f"(hash({seed}, '{table}', '{c}', i) % {m})::BIGINT"

    def pick(table, c, xs):
        return f"{_lit(xs)}[{h(table, c, len(xs))} + 1]"

    def cents(table, c, lo, hi):
        return f"(({h(table, c, hi - lo)} + {lo}) / 100.0)::DOUBLE"

    def day(table, c):  # midnight of a day in 1992-01-01 + [0, 10 years)
        return f"TIMESTAMP '1992-01-01' + to_days({h(table, c, 3652)}::INTEGER)"

    span = 30 * 86400 * 1000000
    tables = {
        "region": f"SELECT i::INTEGER AS r_regionkey, {_lit(['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])}[i + 1] "
                  f"AS r_name FROM range(5) t(i)",
        "nation": "SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name, (i % 5)::INTEGER AS n_regionkey "
                  "FROM range(25) t(i)",
        "customer": f"SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name, "
                    f"{h('c', 'nation', 25)}::INTEGER AS c_nationkey, {cents('c', 'bal', -99999, 999999)} AS c_acctbal, "
                    f"{pick('c', 'seg', SEGMENTS)} AS c_mktsegment FROM range({n_cust}) t(i)",
        "supplier": f"SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name, "
                    f"{h('s', 'nation', 25)}::INTEGER AS s_nationkey, {cents('s', 'bal', -99999, 999999)} AS s_acctbal "
                    f"FROM range({n_supp}) t(i)",
        "part": f"SELECT i AS p_partkey, {pick('p', 'adj', ADJECTIVES)} || ' ' || {pick('p', 'noun', NOUNS)} AS p_name, "
                f"'Brand#' || ({h('p', 'brand', 25)} + 1) AS p_brand, {pick('p', 'type', PART_TYPES)} AS p_type, "
                f"({h('p', 'size', 50)} + 1)::INTEGER AS p_size, {cents('p', 'price', 90000, 200000)} AS p_retailprice "
                f"FROM range({n_part}) t(i)",
        "orders": f"SELECT i AS o_orderkey, {h('o', 'cust', n_cust)} AS o_custkey, "
                  f"{pick('o', 'status', ['F', 'O', 'P'])} AS o_orderstatus, "
                  f"{cents('o', 'total', 100000, 50000000)} AS o_totalprice, {day('o', 'date')} AS o_orderdate, "
                  f"{pick('o', 'prio', PRIORITIES)} AS o_orderpriority FROM range({n_ord}) t(i)",
        "lineitem": f"SELECT {h('l', 'order', n_ord)} AS l_orderkey, {h('l', 'part', n_part)} AS l_partkey, "
                    f"{h('l', 'supp', n_supp)} AS l_suppkey, ({h('l', 'line', 7)} + 1)::INTEGER AS l_linenumber, "
                    f"({h('l', 'qty', 50)} + 1)::DOUBLE AS l_quantity, "
                    f"{cents('l', 'price', 100000, 10000000)} AS l_extendedprice, "
                    f"({h('l', 'disc', 11)} / 100.0)::DOUBLE AS l_discount, "
                    f"({h('l', 'tax', 9)} / 100.0)::DOUBLE AS l_tax, "
                    f"{pick('l', 'flag', ['A', 'N', 'R'])} AS l_returnflag, "
                    f"{pick('l', 'status', ['F', 'O'])} AS l_linestatus, {day('l', 'ship')} AS l_shipdate "
                    f"FROM range({n_line}) t(i)",
        # ts increases with event_id across 30 days, with microsecond jitter
        "events": f"SELECT i AS event_id, make_timestamp(1704067200000000 + i * {span // n_ev} + "
                  f"{h('e', 'jit', span // n_ev)}) AS ts, {h('e', 'user', max(10, n_ev // 66))} AS user_id, "
                  f"{pick('e', 'type', EVENT_TYPES)} AS event_type, {cents('e', 'value', 0, 20000)} AS value, "
                  f"'{{\"k\": ' || {h('e', 'k', 100)} || '}}' AS props FROM range({n_ev}) t(i)",
        "documents": f"SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars FROM ("
                     f"SELECT i AS doc_id, array_to_string(list_transform(range({h('d', 'len', 50)} + 8), "
                     f"w -> {_lit(WORDS)}[(hash({seed}, 'd', i, w) % {len(WORDS)})::BIGINT + 1]), ' ') AS text, "
                     f"{pick('d', 'lang', LANGS)} AS lang, 'src' || (i % 20) AS source FROM range({n_doc}) t(i))",
        "embeddings": f"SELECT i AS vec_id, list_transform(range(64), "
                      f"d -> (((hash({seed}, 'v', i, d) % 20001)::BIGINT - 10000) / 40000.0)::FLOAT) AS embedding, "
                      f"{h('v', 'label', 10)}::INTEGER AS label FROM range({n_emb}) t(i)",
    }
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for name, sql in tables.items():
        con.execute(f"COPY ({sql}) TO '{out_dir}/{name}.parquet' (FORMAT PARQUET)")
    con.close()
