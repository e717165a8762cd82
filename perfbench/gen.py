"""Seeded input generator for the perfbench workloads.

Every table is derived from one integer seed, so the same seed always
yields byte-identical inputs. Two families are produced:

* a TPC-H-shaped corpus (region, nation, customer, supplier, part,
  orders, lineitem, events, documents, embeddings) with the schemas the
  query registry reads, at a scale factor `sf` (0.1 = the registry's
  sf0.1 row counts). The seed also fixes the row order of every table
  and how each table is split into part files.
* the ETL feed for `etl_star`: five yearly `;`-delimited CSVs of line
  records plus one details CSV, with a fixed share of injected dirt
  (null/zero numerics, out-of-whitelist categoricals, invariant
  violations, malformed lines and duplicate records) placed by the seed.

Inputs land in a directory with a `manifest.json` recording row and
byte counts; a directory whose manifest exists is reused as-is.
"""
import datetime
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]

# ETL feed vocabulary and dirt shares (fractions of record lines)
ETL_YEARS = [1995, 1996, 1997, 1998, 1999]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
BAD_SHIPMODES = ["BOAT", "??", "air", "DRONE"]
FLAGS = ["FRAGIL", "FRIO", "URGENTE", "SEGURO"]
MAKERS = ["ACME", "BOSCH", "FIAT", "IVECO", "I", "SCANIA", "VOLVO"]
CHANNELS = ["LOJA", "WEB", "TELEFONE"]
DIRT = {
    "duplicate": 0.02,   # record re-sent later in the feed (keep-first drops it)
    "malformed": 0.005,  # a numeric field that does not parse (quarantined)
    "null_qty": 0.01,    # empty quantity (median-imputed)
    "zero_qty": 0.01,    # zero quantity (median-imputed)
    "zero_price": 0.01,  # zero extended price (median-imputed)
    "bad_mode": 0.01,    # shipmode outside the whitelist
    "violation": 0.005,  # discount above 0.10 (dropped by the invariant)
    "null_supp": 0.01,   # empty supplier key (sentinel-filled)
}
ETL_COLS = ["rec_id", "seq", "l_orderkey", "l_partkey", "l_suppkey",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipmode", "l_shipdate",
            "l_flags", "marca"]


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def _split_write(df, path, rng):
    """Write `df` as a directory of 1-3 parquet part files; the seed picks
    the row order and the split points."""
    df = df.iloc[rng.permutation(len(df))].reset_index(drop=True)
    os.makedirs(path, exist_ok=True)
    parts = int(rng.integers(1, 4)) if len(df) >= 3 else 1
    cuts = np.sort(rng.choice(np.arange(1, len(df)), parts - 1, replace=False)) \
        if parts > 1 else np.array([], dtype=int)
    bounds = [0, *cuts.tolist(), len(df)]
    table = pa.Table.from_pandas(df, preserve_index=False)
    for i in range(parts):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def _dates(rng, n, start, days):
    base = np.datetime64(start, "D")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def corpus_frames(seed, sf):
    """The registry's tables at scale factor `sf`, as pandas frames."""
    n_cust = max(150, int(150000 * sf))
    n_supp = max(10, int(10000 * sf))
    n_part = max(200, int(200000 * sf))
    n_ord = max(1500, int(1500000 * sf))
    n_events = max(1000, int(1000000 * sf))
    n_users = max(15, int(15000 * sf))
    n_docs = max(500, int(50000 * sf))
    n_vecs = max(500, int(20000 * sf))
    out = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    r = _rng(seed, 1)
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": r.choice(SEGMENTS, n_cust)})
    r = _rng(seed, 2)
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})
    r = _rng(seed, 3)
    pk = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {n}" for a in ADJ for n in NOUN])
    out["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": names[r.integers(0, len(names), n_part)],
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": r.choice(PTYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    r = _rng(seed, 4)
    odate = _dates(r, n_ord, "1995-01-01", 2404)
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": r.choice(PRIORITIES, n_ord)})
    r = _rng(seed, 5)
    per = r.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n_li = len(okey)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    part_of = r.integers(0, n_part, n_li).astype(np.int64)
    disc = np.clip(np.round(r.uniform(-0.005, 0.105, n_li), 2), 0.0, 0.1) + 0.0
    tax = np.clip(np.round(r.uniform(-0.005, 0.085, n_li), 2), 0.0, 0.08) + 0.0
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": part_of,
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (part_of % 1000) * 0.1 +
                                           r.uniform(0, 1200, n_li)), 2),
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": r.choice(["A", "N", "R"], n_li),
        "l_linestatus": r.choice(["F", "O"], n_li),
        "l_shipdate": (np.repeat(odate, per) +
                       r.integers(1, 96, n_li).astype("timedelta64[D]"))
        .astype("datetime64[us]")})
    r = _rng(seed, 6)
    secs = np.sort(r.uniform(0, 30 * 86400, n_events))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + \
        (secs * 1e6).astype(np.int64).astype("timedelta64[us]")
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": r.integers(0, n_users, n_events).astype(np.int64),
        "event_type": r.choice(EVENT_TYPES, n_events),
        "value": np.round(r.gamma(2.0, 30.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)]})
    r = _rng(seed, 7)
    lens = r.integers(8, 100, n_docs)
    words = np.array(VOCAB)[r.integers(0, len(VOCAB), int(lens.sum()))]
    offs = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[offs[i]:offs[i + 1]]) for i in range(n_docs)]
    # ~5% near-duplicates: a copy of another document with a marker token
    for i in np.flatnonzero(r.random(n_docs) < 0.05):
        texts[i] = texts[int(r.integers(0, n_docs))] + " dup"
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": r.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    r = _rng(seed, 8)
    labels = r.integers(0, 10, n_vecs)
    centers = r.normal(0, 1, (10, 64))
    vecs = centers[labels] + r.normal(0, 1.5, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32)})
    return out


def write_corpus(path, seed, sf):
    """Generate the registry corpus under `path` (one directory per table,
    named `<table>.parquet` like the registry expects)."""
    if os.path.exists(os.path.join(path, "manifest.json")):
        return load_manifest(path)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    frames = corpus_frames(seed, sf)
    rows = {}
    for i, (name, df) in enumerate(sorted(frames.items())):
        _split_write(df, os.path.join(tmp, f"{name}.parquet"), _rng(seed, 100 + i))
        rows[name] = len(df)
    return _finish(tmp, path, {"seed": seed, "sf": sf, "rows": rows})


def etl_frames(seed, n_records):
    """The `etl_star` feed: per-year record frames (as CSV-ready strings,
    dirt included) and the details frame. Returns (years, details, dirt)
    where `dirt` counts the injected lines of each kind."""
    r = _rng(seed, 20)
    n = int(n_records)
    rec = np.arange(n, dtype=np.int64) * 7 + 3  # sparse, key-shifted ids
    year = np.array(ETL_YEARS)[r.integers(0, len(ETL_YEARS), n)]
    start = np.array([np.datetime64(f"{y}-01-01T00:00:00", "s") for y in year])
    stamp = start + r.integers(0, 365 * 86400, n).astype("timedelta64[s]")
    qty = r.integers(1, 51, n)
    price = np.round(qty * r.uniform(900.0, 2100.0, n), 2)
    disc = np.clip(np.round(r.uniform(-0.005, 0.105, n), 2), 0.0, 0.1) + 0.0
    tax = np.clip(np.round(r.uniform(-0.005, 0.085, n), 2), 0.0, 0.08) + 0.0
    flags = r.random((n, len(FLAGS))) < 0.3
    maker = np.array(MAKERS)[r.integers(0, len(MAKERS), n)]
    model = np.array(NOUN)[r.integers(0, len(NOUN), n)]
    trim = r.integers(1, 40, n)
    base = pd.DataFrame({
        "rec_id": rec,
        "seq": np.zeros(n, dtype=np.int64),
        "l_orderkey": rec // 4,
        "l_partkey": r.integers(0, 20000, n),
        "l_suppkey": r.integers(0, 1000, n).astype(str),
        "l_quantity": qty.astype(str),
        "l_extendedprice": np.char.mod("%.2f", price),
        "l_discount": np.char.mod("%.2f", disc),
        "l_tax": np.char.mod("%.2f", tax),
        "l_returnflag": r.choice(["A", "N", "R"], n),
        "l_linestatus": r.choice(["F", "O"], n),
        "l_shipmode": r.choice(SHIPMODES, n),
        "l_shipdate": pd.to_datetime(stamp).strftime("%Y-%m-%d %H:%M:%S"),
        "l_flags": ["|".join(f for f, on in zip(FLAGS, row) if on) for row in flags],
        "marca": [f"{m}/{md.upper()} {t}" for m, md, t in zip(maker, model, trim)],
        "_year": year})
    base = base.astype({c: object for c in ETL_COLS if base[c].dtype.kind in "iuf"})
    dirt = {}
    # each kind of dirt picks its own seeded rows of the base records
    def pick(kind):
        idx = np.flatnonzero(_rng(seed, 30 + list(DIRT).index(kind)).random(n) < DIRT[kind])
        dirt[kind] = int(len(idx))
        return idx
    base.loc[pick("null_qty"), "l_quantity"] = ""
    base.loc[pick("zero_qty"), "l_quantity"] = "0"
    base.loc[pick("zero_price"), "l_extendedprice"] = "0.00"
    bm = pick("bad_mode")
    base.loc[bm, "l_shipmode"] = np.array(BAD_SHIPMODES)[
        _rng(seed, 40).integers(0, len(BAD_SHIPMODES), len(bm))]
    base.loc[pick("violation"), "l_discount"] = "0.50"
    base.loc[pick("null_supp"), "l_suppkey"] = ""
    mal = pick("malformed")
    mcol = np.array(["l_quantity", "l_extendedprice", "l_partkey"])[
        _rng(seed, 41).integers(0, 3, len(mal))]
    for c in set(mcol):
        base.loc[mal[mcol == c], c] = "n/d#"
    dup = pick("duplicate")
    dups = base.iloc[dup].copy()
    dups["seq"] = np.arange(1, len(dup) + 1, dtype=np.int64)
    dups["l_quantity"] = (_rng(seed, 42).integers(1, 51, len(dup))).astype(str)
    feed = pd.concat([base, dups], ignore_index=True)
    # a duplicate of a malformed record may itself be malformed: count lines
    dirt["malformed"] = int((feed[ETL_COLS] == "n/d#").any(axis=1).sum())
    feed = feed.iloc[_rng(seed, 43).permutation(len(feed))]
    years = {y: feed[feed["_year"] == y][ETL_COLS] for y in ETL_YEARS}
    rd = _rng(seed, 44)
    details = pd.DataFrame({
        "rec_id": rec,
        "o_orderpriority": rd.choice(PRIORITIES, n),
        "canal": rd.choice(CHANNELS, n)}).iloc[rd.permutation(n)]
    return years, details, dirt


def write_etl(path, seed, n_records):
    """Generate the `etl_star` feed under `path`: `rec_<year>.csv` for each
    year and `det.csv`, all `;`-delimited latin1 with a header line."""
    if os.path.exists(os.path.join(path, "manifest.json")):
        return load_manifest(path)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    years, details, dirt = etl_frames(seed, n_records)
    lines = {}
    for y, df in years.items():
        df.to_csv(os.path.join(tmp, f"rec_{y}.csv"), sep=";", index=False,
                  encoding="latin-1")
        lines[f"rec_{y}"] = len(df)
    details.to_csv(os.path.join(tmp, "det.csv"), sep=";", index=False,
                   encoding="latin-1")
    lines["det"] = len(details)
    total = sum(v for k, v in lines.items() if k.startswith("rec_"))
    meta = {"seed": seed, "records": int(n_records), "rows": lines,
            "dirt": dirt, "record_lines": total,
            "malformed_share": dirt["malformed"] / total}
    return _finish(tmp, path, meta)


def _finish(tmp, path, meta):
    size = 0
    for root, _, files in os.walk(tmp):
        size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    meta["bytes"] = size
    meta["total_rows"] = sum(meta["rows"].values())
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return meta


def load_manifest(path):
    with open(os.path.join(path, "manifest.json")) as f:
        return json.load(f)


def easter(year):
    """Anonymous Gregorian computus (mirrors Transforms.easterSunday)."""
    a = year % 19
    b, c = divmod(year, 100)
    d, e = divmod(b, 4)
    f = (b + 8) // 25
    g = (b - f + 1) // 3
    h = (19 * a + b - d - g + 15) % 30
    i, k = divmod(c, 4)
    l = (32 + 2 * e + 2 * i - h - k) % 7
    m = (a + 11 * h + 22 * l) // 451
    month = (h + l - 7 * m + 114) // 31
    day = (h + l - 7 * m + 114) % 31 + 1
    return datetime.date(year, month, day)


def brazil_holidays(year):
    """Mirrors Transforms.brazilHolidays for one year."""
    e = easter(year)
    fixed = [datetime.date(year, m, d) for m, d in
             [(1, 1), (4, 21), (5, 1), (9, 7), (10, 12), (11, 2), (11, 15), (12, 25)]]
    movable = [e + datetime.timedelta(days=k) for k in (-48, -47, -2, 0, 60)]
    return sorted(set(fixed + movable))
