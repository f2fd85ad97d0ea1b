"""Seeded input generators for the benchmark.

Every value is a closed-form function of (seed, table, row id, column), built
on the splitmix64 finalizer, so the same seed gives byte-identical files and
no value depends on how many rows were generated before it.

Two input families:

* Uber sources (`uber_sources`, `uber_ticks`): the reference's three CSVs —
  a Jan-Jun 2015 pickup fact, the 9-row base dim and a 265-row zone dim.
  Base shares are skewed so a few bases carry most pickups, a share of
  `affiliated_base_num` is null, and every foreign key resolves, so all
  eight source checks pass. June can be held back and landed as
  month-to-date tick files (tick d = June 1..d).
* Operator tables (`operator_tables`): the ten parquet tables the
  `SparkEntry.queries` registry reads (TPC-H-ish star schema, an events
  stream, a text corpus with planted near-duplicates, unit embeddings), with
  the column types and value domains the registry's queries are written for.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq


def _mix(x):
    """splitmix64 finalizer over a uint64 array (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _salt(seed, table, column):
    key = f"{seed}/{table}/{column}".encode()
    h = np.uint64(1469598103934665603)
    with np.errstate(over="ignore"):
        for b in key:  # FNV-1a: a stable, order-sensitive stream key
            h = (h ^ np.uint64(b)) * np.uint64(1099511628211)
    return _mix(np.array([h], dtype=np.uint64))[0]


def uniform(seed, table, column, ids):
    """U[0,1) per row id, independent per (seed, table, column)."""
    z = _mix(ids.astype(np.uint64) ^ _salt(seed, table, column))
    return (z >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def randint(seed, table, column, ids, lo, hi):
    """Integer in [lo, hi) per row id."""
    return lo + np.floor(uniform(seed, table, column, ids) * (hi - lo)).astype(np.int64)


# ------------------------------------------------------------------ Uber

BASES = [  # (base_num, base_name, pickup share) — reference dim, skewed shares
    ("B02512", "Unter", 0.040),
    ("B02598", "Hinter", 0.240),
    ("B02617", "Weiter", 0.300),
    ("B02682", "Schmecken", 0.180),
    ("B02764", "Danach-NY", 0.110),
    ("B02765", "Grun", 0.060),
    ("B02774", "ALFRED EXECUTIVE TRANSPORTATION", 0.035),
    ("B02835", "Dreist", 0.020),
    ("B02836", "Drinnen", 0.015),
]
BOROUGHS = ["EWR", "Queens", "Bronx", "Manhattan", "Staten Island", "Brooklyn"]
N_ZONES = 265
DAYS = 181          # 2015-01-01 .. 2015-06-30
JUNE_FIRST = 151    # day index of 2015-06-01
EPOCH_2015 = np.datetime64("2015-01-01T00:00:00", "s")
AFFILIATED_NULL_SHARE = 0.08
AFFILIATED_SAME_SHARE = 0.70

FACT = "raw_data_janjune_15"
BASE = "base_num_and_name"
ZONE = "taxi_zone_lookup"


def _write_csv(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="needed"))


def zone_table():
    ids = np.arange(1, N_ZONES + 1, dtype=np.int32)
    boroughs = [("Unknown" if i > N_ZONES - 2 else BOROUGHS[i % len(BOROUGHS)]) for i in ids]
    return pa.table({
        "locationid": pa.array(ids),
        "borough": pa.array(boroughs),
        "zone": pa.array([f"Zone {i}" for i in ids]),
    })


def base_table():
    return pa.table({
        "base_num": [b[0] for b in BASES],
        "base_name": [b[1] for b in BASES],
    })


def _pick_base(u):
    cum = np.cumsum([b[2] for b in BASES])
    cum[-1] = 1.0
    return np.searchsorted(cum, u, side="right")


def fact_rows(seed, n_rows):
    """All fact columns for row ids 0..n_rows-1, plus each row's day index."""
    ids = np.arange(n_rows, dtype=np.uint64)
    day = randint(seed, FACT, "day", ids, 0, DAYS)
    sec = randint(seed, FACT, "second", ids, 0, 86400)
    disp = _pick_base(uniform(seed, FACT, "dispatching", ids))
    other = _pick_base(uniform(seed, FACT, "affiliated_other", ids))
    ua = uniform(seed, FACT, "affiliated", ids)
    aff = np.where(ua < AFFILIATED_SAME_SHARE + AFFILIATED_NULL_SHARE, disp, other)
    aff_null = ua < AFFILIATED_NULL_SHARE
    loc = randint(seed, FACT, "locationid", ids, 1, N_ZONES + 1).astype(np.int32)
    nums = np.array([b[0] for b in BASES], dtype=object)
    ts = EPOCH_2015 + (day * 86400 + sec).astype("timedelta64[s]")
    cols = {
        "dispatching_base_num": pa.array(nums[disp], type=pa.string()),
        "pickup_date": pa.array(ts, type=pa.timestamp("s")),
        "affiliated_base_num": pa.array(nums[aff], type=pa.string(), mask=aff_null),
        "locationid": pa.array(loc),
    }
    return pa.table(cols), day


def uber_sources(seed, n_rows, out_dir, months="janjune"):
    """Write the three source CSVs; months='janmay' holds June back."""
    fact, day = fact_rows(seed, n_rows)
    if months == "janmay":
        fact = fact.filter(pa.array(day < JUNE_FIRST))
    _write_csv(zone_table(), os.path.join(out_dir, ZONE + ".csv"))
    _write_csv(base_table(), os.path.join(out_dir, BASE + ".csv"))
    _write_csv(fact, os.path.join(out_dir, FACT + ".csv"))
    return out_dir


def uber_ticks(seed, n_rows, out_dir, days):
    """Tick d (1..days) = every June pickup on June 1..d, one CSV each."""
    fact, day = fact_rows(seed, n_rows)
    paths = []
    for d in range(1, days + 1):
        sel = (day >= JUNE_FIRST) & (day < JUNE_FIRST + d)
        path = os.path.join(out_dir, f"june_{d:02d}.csv")
        _write_csv(fact.filter(pa.array(sel)), path)
        paths.append(path)
    return paths


# -------------------------------------------------------- operator tables

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "red", "green", "small", "large", "shiny", "black", "white"]
NOUNS = ["anvil", "widget", "ring", "bolt", "gear", "spring", "valve", "lever"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_SHARE = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()
EMB_DIM = 64
SHIP_EPOCH = np.datetime64("1995-01-01T00:00:00", "us")
EVENT_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")


def _money(u, lo, hi):
    return np.floor((lo + u * (hi - lo)) * 100.0) / 100.0


def _choice(values, u):
    return np.array(values, dtype=object)[np.minimum((u * len(values)).astype(np.int64), len(values) - 1)]


def operator_tables(seed, out_dir, sf=0.01):
    """Write the registry's ten tables as single parquet files under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc = 500

    def ids(n):
        return np.arange(n, dtype=np.uint64)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))

    write("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": REGIONS})
    write("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    c = ids(n_cust)
    write("customer", {
        "c_custkey": pa.array(c.astype(np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(randint(seed, "customer", "nation", c, 0, 25).astype(np.int32)),
        "c_acctbal": pa.array(_money(uniform(seed, "customer", "acctbal", c), -999.99, 9999.99)),
        "c_mktsegment": pa.array(_choice(SEGMENTS, uniform(seed, "customer", "segment", c)), type=pa.string()),
    })
    s = ids(n_supp)
    write("supplier", {
        "s_suppkey": pa.array(s.astype(np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(randint(seed, "supplier", "nation", s, 0, 25).astype(np.int32)),
        "s_acctbal": pa.array(_money(uniform(seed, "supplier", "acctbal", s), -999.99, 9999.99)),
    })
    p = ids(n_part)
    names = [f"{a} {b}" for a in COLORS for b in NOUNS]
    write("part", {
        "p_partkey": pa.array(p.astype(np.int64)),
        "p_name": pa.array(_choice(names, uniform(seed, "part", "name", p)), type=pa.string()),
        "p_brand": pa.array(np.array([f"Brand#{i}" for i in range(1, 26)], dtype=object)[
            randint(seed, "part", "brand", p, 0, 25)], type=pa.string()),
        "p_type": pa.array(_choice(PTYPES, uniform(seed, "part", "type", p)), type=pa.string()),
        "p_size": pa.array(randint(seed, "part", "size", p, 1, 51).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (p % np.uint64(1000)).astype(np.float64) / 10.0),
    })
    o = ids(n_ord)
    write("orders", {
        "o_orderkey": pa.array(o.astype(np.int64)),
        "o_custkey": pa.array(randint(seed, "orders", "cust", o, 0, n_cust)),
        "o_orderstatus": pa.array(_choice(STATUS, uniform(seed, "orders", "status", o)), type=pa.string()),
        "o_totalprice": pa.array(_money(uniform(seed, "orders", "price", o), 1000.0, 500000.0)),
        "o_orderdate": pa.array(SHIP_EPOCH + (randint(seed, "orders", "date", o, 0, 2400) * 86400_000000)
                                .astype("timedelta64[us]"), type=pa.timestamp("us")),
        "o_orderpriority": pa.array(_choice(PRIORITY, uniform(seed, "orders", "prio", o)), type=pa.string()),
    })
    li = ids(n_line)
    write("lineitem", {
        "l_orderkey": pa.array(randint(seed, "lineitem", "order", li, 0, n_ord)),
        "l_partkey": pa.array(randint(seed, "lineitem", "part", li, 0, n_part)),
        "l_suppkey": pa.array(randint(seed, "lineitem", "supp", li, 0, n_supp)),
        "l_linenumber": pa.array(randint(seed, "lineitem", "line", li, 1, 8).astype(np.int32)),
        "l_quantity": pa.array(randint(seed, "lineitem", "qty", li, 1, 51).astype(np.float64)),
        "l_extendedprice": pa.array(_money(uniform(seed, "lineitem", "price", li), 900.0, 105000.0)),
        "l_discount": pa.array(randint(seed, "lineitem", "disc", li, 0, 11) / 100.0),
        "l_tax": pa.array(randint(seed, "lineitem", "tax", li, 0, 9) / 100.0),
        "l_returnflag": pa.array(_choice(["A", "N", "R"], uniform(seed, "lineitem", "rf", li)), type=pa.string()),
        "l_linestatus": pa.array(_choice(["F", "O"], uniform(seed, "lineitem", "ls", li)), type=pa.string()),
        "l_shipdate": pa.array(SHIP_EPOCH + (randint(seed, "lineitem", "ship", li, 0, 2500) * 86400_000000)
                               .astype("timedelta64[us]"), type=pa.timestamp("us")),
    })
    e = ids(n_ev)
    # event ids follow time order: sorted uniform offsets over 30 days
    offs = np.sort(randint(seed, "events", "ts", e, 0, 30 * 86400 * 1000000))
    write("events", {
        "event_id": pa.array(e.astype(np.int64)),
        "ts": pa.array(EVENT_EPOCH + offs.astype("timedelta64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(randint(seed, "events", "user", e, 0, 150)),
        "event_type": pa.array(_choice(EVENT_TYPES, uniform(seed, "events", "type", e)), type=pa.string()),
        "value": pa.array(_money(uniform(seed, "events", "value", e), 0.01, 500.0)),
        "props": [f'{{"k": {k}}}' for k in randint(seed, "events", "k", e, 0, 100)],
    })
    d = ids(n_doc)
    n_words = randint(seed, "documents", "n_words", d, 10, 100)
    texts = []
    for i in range(n_doc):
        w = randint(seed, "documents", f"words/{i}", np.arange(n_words[i], dtype=np.uint64), 0, len(VOCAB))
        texts.append(" ".join(VOCAB[j] for j in w))
    # ~5% planted near-duplicates: an earlier doc's text plus a marker token
    near = uniform(seed, "documents", "near_dup", d) < 0.05
    src = randint(seed, "documents", "near_src", d, 0, n_doc)
    for i in np.nonzero(near)[0]:
        j = int(src[i]) % max(1, int(i))
        if i > 0:
            texts[i] = texts[j] + " dup"
    lang_u = uniform(seed, "documents", "lang", d)
    lang = np.array(LANGS, dtype=object)[np.searchsorted(np.cumsum(LANG_SHARE)[:-1], lang_u, side="right")]
    write("documents", {
        "doc_id": pa.array(d.astype(np.int64)),
        "text": texts,
        "lang": pa.array(lang, type=pa.string()),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    # unit vectors from Box-Muller normals over (row, dim) ids
    cell = (d[:, None] * np.uint64(EMB_DIM) + np.arange(EMB_DIM, dtype=np.uint64)[None, :]).ravel()
    u1 = np.maximum(uniform(seed, "embeddings", "u1", cell), 1e-12)
    u2 = uniform(seed, "embeddings", "u2", cell)
    g = (np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)).reshape(n_doc, EMB_DIM)
    g = (g / np.linalg.norm(g, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(d.astype(np.int64)),
        "embedding": pa.array(list(g), type=pa.list_(pa.float32())),
        "label": pa.array(randint(seed, "embeddings", "label", d, 0, 10).astype(np.int32)),
    })
    return out_dir
