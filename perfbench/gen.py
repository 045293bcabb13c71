"""Seeded input generator for the graft benchmark.

Every table is a closed-form function of (seed, row id), written by
DuckDB as parquet. The shapes follow the engine's sf0.1 gate corpus:
a TPC-H-like star (customer/orders/lineitem), a January-2024 event
stream over a tenth of the customers, and a 31-word document corpus
with planted exact and near duplicates. The seed salts every drawn
value (keys, prices, timestamps, token choices), so two seeds give
different inputs of the same size and shape.

A `GENERATOR` marker records the generator version, seed, row share,
tables and DuckDB version; a directory whose marker differs is
regenerated, never reused.
"""
import json
import shutil
from pathlib import Path

import duckdb

VERSION = 2

# Full-size row counts (the sf0.1 gate corpus sizes).
N_CUSTOMER = 15000
N_ORDERS = 150000
N_EVENTS = 100000
N_LINEITEM = 600000
N_DOCUMENTS = 5000
N_EVENT_USERS = 1500

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]

TABLES = {
    "customer": """
        SELECT i AS c_custkey,
               'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
               CAST(h(i, 1) % 25 AS INTEGER) AS c_nationkey,
               round(-999.99 + CAST(h(i, 2) % 1100000 AS DOUBLE) / 100, 2) AS c_acctbal,
               ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD',
                'MACHINERY'][1 + h(i, 3) % 5] AS c_mktsegment
        FROM range({N_CUSTOMER}) r(i)""",
    "orders": """
        SELECT i AS o_orderkey,
               h(i, 11) % {N_CUSTOMER} AS o_custkey,
               ['O', 'F', 'P'][1 + h(i, 12) % 3] AS o_orderstatus,
               round(1000 + CAST(h(i, 13) % 49900000 AS DOUBLE) / 100, 2) AS o_totalprice,
               TIMESTAMP '1995-01-01' + to_days(CAST(h(i, 14) % 2404 AS INTEGER)) AS o_orderdate,
               ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
                '5-LOW'][1 + h(i, 15) % 5] AS o_orderpriority
        FROM range({N_ORDERS}) r(i)""",
    "events": """
        SELECT i AS event_id,
               TIMESTAMP '2024-01-01' + to_microseconds(
                 CAST(h(i, 21) % 2592000000000 AS BIGINT)) AS ts,
               h(i, 22) % {N_EVENT_USERS} AS user_id,
               ['view', 'click', 'purchase', 'signup', 'error'][1 + h(i, 23) % 5] AS event_type,
               round(CAST(h(i, 24) % 56000 AS DOUBLE) / 100, 2) AS value,
               '{{"k": ' || CAST(h(i, 25) % 100 AS VARCHAR) || '}}' AS props
        FROM range({N_EVENTS}) r(i)""",
    "lineitem": """
        SELECT h(i, 31) % {N_ORDERS} AS l_orderkey,
               CAST(h(i, 32) % 20000 AS BIGINT) AS l_partkey,
               CAST(h(i, 33) % 1000 AS BIGINT) AS l_suppkey,
               CAST(1 + h(i, 34) % 7 AS INTEGER) AS l_linenumber,
               CAST(1 + h(i, 35) % 50 AS DOUBLE) AS l_quantity,
               round(900 + CAST(h(i, 36) % 10410000 AS DOUBLE) / 100, 2) AS l_extendedprice,
               CAST(h(i, 37) % 11 AS DOUBLE) / 100 AS l_discount,
               CAST(h(i, 38) % 9 AS DOUBLE) / 100 AS l_tax,
               ['A', 'N', 'R'][1 + h(i, 39) % 3] AS l_returnflag,
               ['O', 'F'][1 + h(i, 40) % 2] AS l_linestatus,
               TIMESTAMP '1995-01-02' + to_days(CAST(h(i, 41) % 2497 AS INTEGER)) AS l_shipdate
        FROM range({N_LINEITEM}) r(i)""",
}

# Documents: base texts of 10-100 words drawn from WORDS; one doc in
# twenty is a near duplicate (another doc's base text + ' dup') and one
# in 625 an exact duplicate of its partner.
DOCUMENTS = """
    WITH base AS (
      SELECT i, string_agg(words[1 + h(i * 128 + j, 51) % {n_words}], ' '
                           ORDER BY j) AS text
      FROM range({N_DOCUMENTS}) r(i), range(100) s(j)
      WHERE j < 10 + h(i, 52) % 91
      GROUP BY i),
    kind AS (
      SELECT i, h(i, 53) % 625 AS k, h(i, 54) % {N_DOCUMENTS} AS partner,
             CASE WHEN h(i, 55) % 100 < 40 THEN 'en'
                  ELSE ['zh', 'es', 'fr', 'de'][1 + h(i, 56) % 4] END AS lang
      FROM range({N_DOCUMENTS}) r(i))
    SELECT k.i AS doc_id,
           CASE WHEN k.k % 20 = 0 THEN p.text || ' dup'
                WHEN k.k = 1 THEN p.text
                ELSE own.text END AS text,
           k.lang,
           'src' || CAST(k.i % 20 AS VARCHAR) AS source
    FROM kind k
    JOIN base own ON own.i = k.i
    JOIN base p ON p.i = k.partner"""


def generate(out: Path, seed: int, tables, fraction: float) -> Path:
    """Write `tables` for `seed` under `out`, each holding `fraction` of
    its full-size rows; reuse a directory whose marker matches exactly."""
    mark = out / "GENERATOR"
    want = json.dumps({"version": VERSION, "seed": seed,
                       "fraction": fraction, "tables": sorted(tables),
                       "duckdb": duckdb.__version__}, sort_keys=True)
    if mark.exists() and mark.read_text() == want:
        return out
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    # Seed-salted 64-bit hash of (row id, column salt).
    con.execute(f"CREATE MACRO h(x, s) AS CAST(hash({seed}, x, s) >> 1 AS BIGINT)")
    sizes = {k: max(1, int(v * fraction)) for k, v in dict(
        N_CUSTOMER=N_CUSTOMER, N_ORDERS=N_ORDERS, N_EVENTS=N_EVENTS,
        N_LINEITEM=N_LINEITEM, N_EVENT_USERS=N_EVENT_USERS,
        N_DOCUMENTS=N_DOCUMENTS).items()}
    for name in tables:
        if name == "documents":
            words = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"
            con.execute(f"CREATE MACRO words() AS {words}")
            body = DOCUMENTS.replace("words[", "words()[").format(
                n_words=len(WORDS), **sizes)
            sql = f"SELECT *, CAST(length(text) AS BIGINT) AS n_chars FROM ({body})"
        else:
            sql = TABLES[name].format(**sizes)
        con.execute(f"COPY ({sql} ORDER BY 1) TO '{out / (name + '.parquet')}' "
                    "(FORMAT parquet)")
    con.close()
    mark.write_text(want)
    return out

