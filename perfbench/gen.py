#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads (DuckDB only).

Three kinds of input, all deterministic:

* ``base(out, sf)`` builds the ten-table star + corpus set at scale 0.1 or
  0.01 from a FIXED hash seed, with the schema, key ranges and value
  distributions of the shipped TPC-H-ish test data: dense 0..N-1 keys,
  uniform dimensions, lineitem (orderkey, linenumber) collisions, 5% of
  documents a near-duplicate of another (" dup" appended), eight exact
  duplicate documents, unit-norm 64-d embeddings weakly clustered by label.
  The base never depends on ``--seed``: the workloads' committed
  fingerprints hold for every seed.
* ``etl(base01, out, seed, copies)`` replicates the sf0.1 base ``copies``
  times through ``tools/gen_sf1.py`` (imported unchanged) and rewrites the
  row order of every table in a seed-derived permutation.
* ``corpus(base01, out, seed, ndocs)`` keeps the first ``ndocs`` documents
  (and the embeddings that reference them) in a seed-derived row order.

Usage: python3 perfbench/gen.py base|etl|corpus OUT [SEED] [N]
"""
import contextlib
import importlib.util
import os
import shutil
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# sf0.1 row counts; the 0.01 tier scales the fact/dim tables by 1/10 and
# keeps 500 documents and 500 embeddings, like the shipped sf0.01 set.
SIZES = {
    0.1: dict(customer=15_000, supplier=1_000, part=20_000, orders=150_000,
              lineitem=600_000, events=100_000, users=1_500,
              documents=5_000, embeddings=2_000),
    0.01: dict(customer=1_500, supplier=100, part=2_000, orders=15_000,
               lineitem=60_000, events=10_000, users=150,
               documents=500, embeddings=500),
}
BASE_SALT = 42

WORDS = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data part column order scan a slow agg "
         "key window table merge vector join").split()


def _u(expr, salt):
    """Uniform [0, 1) from a stable hash of (expr, salt)."""
    return f"((hash({expr}, {BASE_SALT}, '{salt}') % 1000003) / 1000003.0)"


def _h(expr, salt, n):
    """Integer in [0, n) from a stable hash of (expr, salt)."""
    return f"CAST(hash({expr}, {BASE_SALT}, '{salt}') % {n} AS BIGINT)"


def _copy(con, select, path):
    con.execute(f"COPY ({select}) TO '{path}' (FORMAT PARQUET)")


def base(out, sf):
    n = SIZES[sf]
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    p = lambda t: os.path.join(out, f"{t}.parquet")
    _copy(con, "SELECT CAST(i AS INTEGER) AS r_regionkey, name AS r_name FROM "
          "(SELECT unnest(range(5)) AS i, unnest(['AFRICA', 'AMERICA', 'ASIA', "
          "'EUROPE', 'MIDDLE EAST']) AS name)", p("region"))
    _copy(con, "SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,"
          " CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)", p("nation"))
    money = lambda salt, lo, hi: f"round({lo} + {_u('i', salt)} * {hi - lo}, 2)"
    _copy(con, f"""SELECT i AS c_custkey, printf('Customer#%09d', i) AS c_name,
        CAST({_h('i', 'cn', 25)} AS INTEGER) AS c_nationkey,
        {money('ca', -999.99, 9999.99)} AS c_acctbal,
        ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']
          [{_h('i', 'cs', 5)} + 1] AS c_mktsegment
        FROM range({n['customer']}) t(i)""", p("customer"))
    _copy(con, f"""SELECT i AS s_suppkey, printf('Supplier#%09d', i) AS s_name,
        CAST({_h('i', 'sn', 25)} AS INTEGER) AS s_nationkey,
        {money('sa', -999.99, 9999.99)} AS s_acctbal
        FROM range({n['supplier']}) t(i)""", p("supplier"))
    _copy(con, f"""SELECT i AS p_partkey,
        ['blue', 'cold', 'hot', 'red', 'small', 'new', 'old', 'large']
          [{_h('i', 'pa', 8)} + 1] || ' ' ||
        ['ring', 'plate', 'gear', 'rod', 'bolt', 'anvil', 'widget', 'pin']
          [{_h('i', 'pb', 8)} + 1] AS p_name,
        'Brand#' || ({_h('i', 'pr', 25)} + 1) AS p_brand,
        ['LARGE', 'ECONOMY', 'STANDARD', 'SMALL', 'MEDIUM', 'PROMO']
          [{_h('i', 'pt', 6)} + 1] AS p_type,
        CAST({_h('i', 'ps', 50)} + 1 AS INTEGER) AS p_size,
        round(900 + (i % 1000) / 10.0, 1) AS p_retailprice
        FROM range({n['part']}) t(i)""", p("part"))
    _copy(con, f"""SELECT i AS o_orderkey, {_h('i', 'oc', n['customer'])} AS o_custkey,
        ['O', 'P', 'F'][{_h('i', 'os', 3)} + 1] AS o_orderstatus,
        {money('ot', 1000.0, 499999.0)} AS o_totalprice,
        CAST(DATE '1995-01-01' + CAST({_h('i', 'od', 2405)} AS INTEGER) AS TIMESTAMP)
          AS o_orderdate,
        ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
          [{_h('i', 'op', 5)} + 1] AS o_orderpriority
        FROM range({n['orders']}) t(i)""", p("orders"))
    _copy(con, f"""SELECT {_h('i', 'lo', n['orders'])} AS l_orderkey,
        {_h('i', 'lp', n['part'])} AS l_partkey,
        {_h('i', 'ls', n['supplier'])} AS l_suppkey,
        CAST({_h('i', 'll', 7)} + 1 AS INTEGER) AS l_linenumber,
        CAST({_h('i', 'lq', 50)} + 1 AS DOUBLE) AS l_quantity,
        {money('le', 900.0, 105000.0)} AS l_extendedprice,
        {_h('i', 'ld', 11)} / 100.0 AS l_discount,
        {_h('i', 'lt', 9)} / 100.0 AS l_tax,
        ['A', 'N', 'R'][{_h('i', 'lr', 3)} + 1] AS l_returnflag,
        ['O', 'F'][{_h('i', 'lx', 2)} + 1] AS l_linestatus,
        CAST(DATE '1995-01-02' + CAST({_h('i', 'lh', 2499)} AS INTEGER) AS TIMESTAMP)
          AS l_shipdate
        FROM range({n['lineitem']}) t(i) ORDER BY l_orderkey, i""", p("lineitem"))
    step = 30 * 86_400_000_000 // n["events"]
    _copy(con, f"""SELECT i AS event_id,
        make_timestamp(CAST(1704067200000000 + i * {step} + {_h('i', 'et', step)} AS BIGINT)) AS ts,
        {_h('i', 'eu', n['users'])} AS user_id,
        ['signup', 'click', 'error', 'view', 'purchase'][{_h('i', 'ey', 5)} + 1] AS event_type,
        round(-ln(1.0 - {_u('i', 'ev')}) * 50.0, 2) AS value,
        '{{"k": ' || {_h('i', 'ek', 100)} || '}}' AS props
        FROM range({n['events']}) t(i)""", p("events"))
    words = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"
    con.execute(f"""CREATE TABLE raw AS SELECT d AS doc_id,
        string_agg({words}[{_h('d * 1000 + k', 'dw', len(WORDS))} + 1], ' ' ORDER BY k) AS text
        FROM (SELECT d, unnest(range(10 + {_h('d', 'dn', 91)})) AS k
              FROM range({n['documents']}) t(d))
        GROUP BY d""")
    # doc % 20 == 11 near-duplicates its predecessor; eight exact duplicates
    ndup = n["documents"] // 8
    con.execute(f"""CREATE TABLE docs AS SELECT r.doc_id,
        CASE WHEN r.doc_id % 20 = 11 THEN prev.text || ' dup'
             WHEN r.doc_id % {ndup} = {ndup // 2} THEN src.text
             ELSE r.text END AS text
        FROM raw r
        LEFT JOIN raw prev ON prev.doc_id = r.doc_id - 1
        LEFT JOIN raw src ON src.doc_id = r.doc_id - {ndup // 2 - 10}""")
    _copy(con, f"""SELECT doc_id, text,
        CASE WHEN {_h('doc_id', 'dl', 20)} < 8 THEN 'en'
             ELSE ['fr', 'de', 'es', 'zh'][{_h('doc_id', 'dm', 4)} + 1] END AS lang,
        'src' || (doc_id % 20) AS source,
        CAST(length(text) AS BIGINT) AS n_chars
        FROM docs ORDER BY doc_id""", p("documents"))
    gauss = lambda k, salt: (f"(sqrt(-2 * ln(1.0 - {_u(k, salt + 'a')}))"
                             f" * cos(2 * pi() * {_u(k, salt + 'b')}))")
    con.execute(f"""CREATE TABLE e AS SELECT v, d, {_h('v', 'el', 10)} AS label,
        {gauss('v * 64 + d', 'g')} + 0.19 * {gauss(f"{_h('v', 'el', 10)} * 64 + d", 'c')} AS x
        FROM range({n['embeddings']}) a(v), range(64) b(d)""")
    _copy(con, """SELECT v AS vec_id,
        list(CAST(x / norm AS FLOAT) ORDER BY d) AS embedding,
        CAST(any_value(label) AS INTEGER) AS label
        FROM e JOIN (SELECT v, sqrt(sum(x * x)) AS norm FROM e GROUP BY v) USING (v)
        GROUP BY v ORDER BY v""", p("embeddings"))
    con.close()


def _permute(con, src, dst, seed, where="true"):
    """Rewrite `src` parquet to `dst` in a seed-derived row order."""
    con.execute(f"""COPY (SELECT * FROM '{src}' WHERE {where}
        ORDER BY hash({seed}, COLUMNS(*)::VARCHAR)) TO '{dst}' (FORMAT PARQUET)""")


def _load_gen_sf1():
    spec = importlib.util.spec_from_file_location(
        "gen_sf1", os.path.join(ROOT, "tools", "gen_sf1.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def etl(base01, out, seed, copies):
    rep = out + ".rep"
    g = _load_gen_sf1()
    g.SRC, g.OUT, g.COPIES = base01, rep, copies
    with contextlib.redirect_stdout(sys.stderr):
        g.main()
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(rep)):
        _permute(con, os.path.join(rep, f), os.path.join(out, f), seed)
    con.close()
    shutil.rmtree(rep)


def corpus(base01, out, seed, ndocs):
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    _permute(con, f"{base01}/documents.parquet", f"{out}/documents.parquet",
             seed, f"doc_id < {ndocs}")
    _permute(con, f"{base01}/embeddings.parquet", f"{out}/embeddings.parquet",
             seed, f"vec_id < {ndocs}")
    con.close()


if __name__ == "__main__":
    kind, out = sys.argv[1], sys.argv[2]
    if kind == "base":
        base(out, float(sys.argv[3]) if len(sys.argv) > 3 else 0.1)
    elif kind == "etl":
        etl(sys.argv[3], out, int(sys.argv[4]), int(sys.argv[5]))
    elif kind == "corpus":
        corpus(sys.argv[3], out, int(sys.argv[4]), int(sys.argv[5]))
    else:
        sys.exit(f"unknown kind {kind}")
