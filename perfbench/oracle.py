"""Correctness check: every loaded output is compared with DuckDB over the
same generated input, by row count plus an order-insensitive digest.

* Registry outputs are compared with their `SparkEntry.oracleSql` query.
* `etl_star`'s five dimensions, fact and quarantine are compared with a
  DuckDB twin of the pipeline (`etl_twin`), and the quarantined share of
  record lines must equal the injected malformed share.

The digest of a relation hashes each row's canonical text (columns in
name order; integers, floats, decimals, booleans, strings, times and
lists each rendered one way) and sums the hashes, so row order does not
matter. Column names and each column's kind must match as well.
"""
import json
import os

import duckdb

import gen

KINDS = [("int", ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
                  "USMALLINT", "UINTEGER", "UBIGINT")),
         ("float", ("FLOAT", "DOUBLE")), ("decimal", ("DECIMAL",)),
         ("bool", ("BOOLEAN",)), ("str", ("VARCHAR",)),
         ("time", ("TIMESTAMP", "DATE"))]


def connect():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads TO 4")
    return con


def _kind(t):
    for k, prefixes in KINDS:
        if t.startswith(prefixes) and not t.endswith("[]"):
            return k
    return "other"


def _canon(col, kind):
    c = f'"{col}"'
    if kind == "float":
        e = f"CASE WHEN {c} = 0 THEN '0.0' ELSE CAST(CAST({c} AS DOUBLE) AS VARCHAR) END"
    elif kind == "int":
        e = f"CAST(CAST({c} AS HUGEINT) AS VARCHAR)"
    elif kind == "time":
        e = f"CAST(CAST({c} AS TIMESTAMP) AS VARCHAR)"
    else:
        e = f"CAST({c} AS VARCHAR)"
    return f"coalesce({e}, '\\N')"


def digest(con, sql, decimal_as_float=False):
    """(columns with kinds, row count, digest) of the relation `sql`.
    `decimal_as_float` reads DECIMAL columns as DOUBLE, as the
    repository's oracle check does for the DuckDB side."""
    cols = sorted((r[0], _kind(r[1])) for r in con.sql(f"DESCRIBE {sql}").fetchall())
    if decimal_as_float:
        cols = [(c, "float" if k == "decimal" else k) for c, k in cols]
    row = " || chr(31) || ".join(_canon(c, k) for c, k in cols)
    n, d = con.sql(f"SELECT count(*), coalesce(sum(hash({row})), 0) FROM ({sql})").fetchone()
    return cols, int(n), str(d)


def compare(con, got_sql, want_sql):
    """None when `got` matches `want`, else a one-line reason."""
    gc, gn, gd = digest(con, got_sql)
    wc, wn, wd = digest(con, want_sql, decimal_as_float=True)
    if [c for c, _ in gc] != [c for c, _ in wc]:
        return f"columns {[c for c, _ in gc]} != {[c for c, _ in wc]}"
    if gc != wc:
        return f"column kinds {gc} != {wc}"
    if gn != wn:
        return f"rows {gn} != {wn}"
    if gd != wd:
        return f"digest differs over {gn} rows"
    return None


def parquet(path):
    return f"read_parquet('{path}/*.parquet')"


def register_corpus(con, inputs):
    for name in os.listdir(inputs):
        if name.endswith(".parquet"):
            con.execute(f"CREATE OR REPLACE VIEW {name[:-8]} AS "
                        f"SELECT * FROM {parquet(os.path.join(inputs, name))}")


# ------------------------------------------------------------------ ETL twin

NUMERIC = {"rec_id": "BIGINT", "seq": "BIGINT", "l_orderkey": "BIGINT",
           "l_partkey": "BIGINT", "l_suppkey": "BIGINT", "l_quantity": "DOUBLE",
           "l_extendedprice": "DOUBLE", "l_discount": "DOUBLE", "l_tax": "DOUBLE"}
MONTHS = ["Janeiro", "Fevereiro", "Março", "Abril", "Maio", "Junho", "Julho",
          "Agosto", "Setembro", "Outubro", "Novembro", "Dezembro"]
DIMS = [("tempo", ["ano", "trimestre", "mes", "dia", "dia_util", "feriado"]),
        ("status", ["l_returnflag", "status"]),
        ("envio", ["l_shipmode"] + gen.FLAGS),
        ("marca", ["marca_nome", "modelo"]),
        ("prioridade", ["o_orderpriority", "canal"])]
MEASURES = ["rec_id", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount",
            "l_tax", "hora"]


def _csv(path):
    return (f"read_csv('{path}', delim=';', header=true, all_varchar=true, "
            f"quote='', escape='')")


def etl_twin(con, inputs):
    """Build the pipeline's outputs in DuckDB as tables named like the
    loaded outputs (dim_<name>, fact, quarantine)."""
    con.execute(f"CREATE OR REPLACE TABLE det AS SELECT CAST(rec_id AS BIGINT) AS rec_id, "
                f"o_orderpriority, canal FROM {_csv(os.path.join(inputs, 'det.csv'))}")
    bad = " OR ".join(f"({c} IS NOT NULL AND TRY_CAST({c} AS {t}) IS NULL)"
                      for c, t in NUMERIC.items())
    typed = ", ".join(f"TRY_CAST({c} AS {NUMERIC[c]}) AS {c}" if c in NUMERIC else c
                      for c in gen.ETL_COLS)
    raw = " || ';' || ".join(f"coalesce({c}, '')" for c in gen.ETL_COLS)
    month = "CASE month(ship_ts) " + " ".join(
        f"WHEN {i + 1} THEN '{m}'" for i, m in enumerate(MONTHS)) + " END"
    years = []
    for y in gen.ETL_YEARS:
        con.execute(f"CREATE OR REPLACE TABLE raw_{y} AS SELECT *, ({bad}) AS malformed, "
                    f"{raw} AS raw_line FROM {_csv(os.path.join(inputs, f'rec_{y}.csv'))}")
        years.append(f"""SELECT * EXCLUDE (rn) FROM (
  SELECT g.*, d.o_orderpriority, d.canal,
         row_number() OVER (PARTITION BY g.rec_id ORDER BY g.seq) AS rn
  FROM (SELECT {typed} FROM raw_{y} WHERE NOT malformed) g
  LEFT JOIN det d ON g.rec_id = d.rec_id) WHERE rn = 1""")
    # compared as text: DuckDB 1.0 answers `CAST(ts AS DATE) IN (DATE ...)` wrongly
    hol = ", ".join(f"'{d}'" for y in gen.ETL_YEARS for d in gen.brazil_holidays(y))
    modes = ", ".join(f"'{m}'" for m in gen.SHIPMODES)
    flags = ", ".join(f"contains(l_flags, '{f}') AS {f}" for f in gen.FLAGS)
    con.execute(f"""CREATE OR REPLACE TABLE etl_all AS
WITH merged AS ({" UNION ALL ".join(years)}),
meds AS (SELECT median(l_quantity) FILTER (WHERE l_quantity > 0) AS mq,
                median(l_extendedprice) FILTER (WHERE l_extendedprice > 0) AS mp FROM merged),
cleaned AS (
  SELECT m.* REPLACE (
    CASE WHEN l_quantity > 0 THEN l_quantity ELSE mq END AS l_quantity,
    CASE WHEN l_extendedprice > 0 THEN l_extendedprice ELSE mp END AS l_extendedprice,
    CASE WHEN l_suppkey IS NOT NULL THEN l_suppkey ELSE -1 END AS l_suppkey,
    CASE WHEN l_shipmode IN ({modes}) THEN l_shipmode ELSE 'OUTROS' END AS l_shipmode),
    strptime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS ship_ts
  FROM merged m, meds
  WHERE l_discount <= CAST(0.1 AS DOUBLE) AND l_tax >= 0),
segs AS (SELECT *, string_split(marca, '/') AS sg FROM cleaned),
parts AS (SELECT *, sg[1] AS seg0, CASE WHEN len(sg) >= 2 THEN sg[2] END AS seg1 FROM segs)
SELECT *, day(ship_ts) AS dia, {month} AS mes, year(ship_ts) AS ano, hour(ship_ts) AS hora,
  quarter(ship_ts) AS trimestre, isodow(ship_ts) < 6 AS dia_util,
  strftime(ship_ts, '%Y-%m-%d') IN ({hol}) AS feriado,
  CASE l_linestatus WHEN 'O' THEN 'Aberto' WHEN 'F' THEN 'Fechado' ELSE 'Desconhecido' END AS status,
  {flags},
  COALESCE(CASE WHEN substr(seg0, 1, 1) = 'I' THEN string_split(seg1, ' ')[1] ELSE seg0 END,
    'não informado') AS marca_nome,
  COALESCE(CASE WHEN seg0 = 'I' THEN (CASE WHEN seg1 IS NULL THEN NULL
    WHEN strpos(seg1, ' ') > 0 THEN substr(seg1, strpos(seg1, ' ') + 1) ELSE '' END)
    ELSE seg1 END, 'não informado') AS modelo
FROM parts""")
    for d, nk in DIMS:
        keys = ", ".join(nk)
        order = ", ".join(f"{k} NULLS FIRST" for k in nk)
        con.execute(f"CREATE OR REPLACE TABLE dim_{d} AS SELECT {keys}, "
                    f"CAST(row_number() OVER (ORDER BY {order}) AS INT) AS id_{d} "
                    f"FROM (SELECT DISTINCT {keys} FROM etl_all)")
    joins = " ".join(f"LEFT JOIN dim_{d} ON " + " AND ".join(f"a.{k} = dim_{d}.{k}" for k in nk)
                     for d, nk in DIMS)
    ids = ", ".join(f"dim_{d}.id_{d}" for d, _ in DIMS)
    con.execute(f"CREATE OR REPLACE TABLE fact AS SELECT {ids}, "
                + ", ".join(f"a.{m}" for m in MEASURES) + f" FROM etl_all a {joins}")
    con.execute("CREATE OR REPLACE TABLE quarantine AS " + " UNION ALL ".join(
        f"SELECT raw_line FROM raw_{y} WHERE malformed" for y in gen.ETL_YEARS))


# ------------------------------------------------------------------ driver

def check(workload, inputs, out, outputs, manifest):
    """Compare every loaded output of every round with the oracle.
    Returns ({(round dir, op): reason} for each failed op, extra per-layer
    values measured by the check)."""
    con = connect()
    expected = {}  # output name -> SQL of the expected relation
    extras = {}
    if workload == "etl_star":
        etl_twin(con, inputs)
        for n in outputs["etl_star"]:
            expected[n] = f"SELECT * FROM {n}"
    else:
        register_corpus(con, inputs)
        with open(os.path.join(out, "oracle_sql.json")) as f:
            oracle = json.load(f)
        for names in outputs.values():
            for n in names:
                if n not in oracle:
                    raise SystemExit(f"check: no oracle SQL for {n}")
                con.execute(f"CREATE OR REPLACE TABLE oracle_{n} AS {oracle[n]}")
                expected[n] = f"SELECT * FROM oracle_{n}"
    failures = {}
    ops_dir = os.path.join(out, "ops")
    round_dirs = sorted(os.listdir(ops_dir)) if os.path.isdir(ops_dir) else []
    for r in round_dirs:
        for op, names in outputs.items():
            for n in names:
                path = os.path.join(ops_dir, r, n)
                if not os.path.isdir(path):
                    continue  # the op failed in this round; counted already
                why = compare(con, f"SELECT * FROM {parquet(path)}", expected[n])
                if why:
                    failures.setdefault((r, op), f"{n}: {why}")
    if workload == "etl_star":
        # the quarantined share must equal the injected malformed share
        for r in round_dirs:
            path = os.path.join(ops_dir, r, "quarantine")
            if not os.path.isdir(path):
                continue  # the pipeline failed in this round; counted already
            q = con.sql(f"SELECT count(*) FROM {parquet(path)}").fetchone()[0]
            extras["sources.quarantine_frac"] = q / manifest["record_lines"]
            if q != manifest["dirt"]["malformed"]:
                failures.setdefault((r, "etl_star"),
                                    f"quarantined {q} lines, injected {manifest['dirt']['malformed']}")
    return failures, extras
