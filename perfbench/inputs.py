"""Seeded input generation for the benchmark workloads.

Everything the program under test reads is written here, from the seed
alone: the same seed gives byte-identical files, a different seed gives
different rows. Nothing is read from outside the output directory.

One seed directory holds:

- a star schema in the shape the registry entries read
  (``region nation customer supplier part orders lineitem events
  documents embeddings``, one parquet file each). Customer names come
  in groups that share a name up to a one-character typo, documents in
  duplicate groups, so the entity and dedup operators have real
  clusters to find;
- ``cdc_indicators.csv``: the 34-column CDC-indicator source of the
  daily batch, with nulls, dirty strings, planted exact duplicate rows
  and planted range and order violations;
- ``manifest.json``: row counts and the planted counts the daily batch
  is checked against.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

# Bump when the generated bytes change, so cached seed directories of
# an older layout are never reused.
LAYOUT = 4

N_CUSTOMERS = 600
N_ORDERS = 6000
N_LINEITEMS = 24000
N_PARTS = 800
N_SUPPLIERS = 40
N_EVENTS = 4000
N_DOCS = 500
N_VECTORS = 500
DIM = 64
N_CDC_BASE = 40000
CDC_DUP_FRAC = 0.03
CDC_RANGE_FRAC = 0.01
CDC_ORDER_FRAC = 0.01

WORDS = (
    "the a fast slow big small key value order sort table scan merge part "
    "window hash join batch stream spark data line row column filter query "
    "agg group customer vector index shard cache plan skew spill"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "big", "green", "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "nut", "valve", "pipe", "cog"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

CDC_COLUMNS = [
    "YearStart", "YearEnd", "LocationAbbr", "LocationDesc", "DataSource",
    "Topic", "Question", "Response", "DataValueUnit", "DataValueType",
    "DataValue", "DataValueAlt", "DataValueFootnoteSymbol",
    "DataValueFootnote", "LowConfidenceLimit", "HighConfidenceLimit",
    "StratificationCategory1", "Stratification1", "StratificationCategory2",
    "Stratification2", "StratificationCategory3", "Stratification3",
    "Geolocation", "LocationID", "TopicID", "QuestionID", "ResponseID",
    "DataValueTypeID", "StratificationCategoryID1", "StratificationID1",
    "StratificationCategoryID2", "StratificationID2",
    "StratificationCategoryID3", "StratificationID3",
]
STATES = [
    ("US", "United States"), ("CA", "California"), ("NY", "New York"),
    ("TX", "Texas"), ("FL", "Florida"), ("WA", "Washington"),
    ("IL", "Illinois"), ("OH", "Ohio"), ("GA", "Georgia"), ("MA", "Massachusetts"),
    ("AZ", "Arizona"), ("CO", "Colorado"),
]
TOPICS = [
    ("Diabetes", "DIA"), ("Asthma", "AST"), ("Cancer", "CAN"),
    ("Alzheimer's Disease", "ALZ"), ("Heart Disease (CVD)", "CVD"),
    ("Diabetes & Obesity", "OBE"),
]


def seed_dir_name(seed: int) -> str:
    """Unique basename per seed and layout: registry entries key their
    temp paths on the data directory's basename."""
    tag = hashlib.sha1(f"perfbench:{LAYOUT}:{seed}".encode()).hexdigest()[:8]
    return f"pb_s{seed}_{tag}"


def _write(table: pa.Table, path: str) -> None:
    # fixed writer settings and no pandas metadata: the bytes depend
    # on the rows alone
    pq.write_table(
        table, path, compression="snappy", write_statistics=True,
        store_schema=False,
    )


def _ts(days: np.ndarray, base: dt.date) -> pa.Array:
    epoch = (dt.datetime.combine(base, dt.time()) - dt.datetime(1970, 1, 1))
    us = (epoch.days + days.astype(np.int64)) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _typo(rng: np.random.Generator, name: str) -> str:
    i = int(rng.integers(len(name)))
    c = str(rng.choice(LETTERS))
    if c == name[i]:
        c = "z" if c != "z" else "y"
    return name[:i] + c + name[i + 1:]


def _names(rng: np.random.Generator, n: int) -> list[str]:
    """Groups of 1-3 records sharing a name up to one typo."""
    out: list[str] = []
    while len(out) < n:
        base = "".join(rng.choice(LETTERS, size=10))
        out.append(base)
        for _ in range(int(rng.integers(0, 3))):
            out.append(_typo(rng, base))
    return out[:n]


def _doc_text(rng: np.random.Generator) -> str:
    return " ".join(rng.choice(WORDS, size=int(rng.integers(12, 60))))


def _documents(rng: np.random.Generator, ids: np.ndarray) -> pa.Table:
    texts: list[str] = []
    for i in range(len(ids)):
        if texts and rng.random() < 0.2:
            texts.append(texts[int(rng.integers(len(texts)))])
        else:
            texts.append(_doc_text(rng))
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=len(ids)), pa.string()),
        "source": pa.array(
            [f"src{k}" for k in rng.integers(0, 20, size=len(ids))], pa.string()
        ),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(
    rng: np.random.Generator, ids: np.ndarray, centers: np.ndarray
) -> pa.Table:
    labels = rng.integers(0, len(centers), size=len(ids))
    vecs = centers[labels] + rng.normal(0, 0.08, size=(len(ids), DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), DIM)
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _star(rng: np.random.Generator, out: str) -> None:
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }), f"{out}/nation.parquet")

    ck = rng.permutation(N_CUSTOMERS).astype(np.int64)
    _write(pa.table({
        "c_custkey": pa.array(ck),
        "c_name": pa.array(_names(rng, N_CUSTOMERS), pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, N_CUSTOMERS), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUSTOMERS), pa.string()),
    }), f"{out}/customer.parquet")

    _write(pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIERS, dtype=np.int64)),
        "s_name": pa.array(
            [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)], pa.string()
        ),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, N_SUPPLIERS), 2)),
    }), f"{out}/supplier.parquet")

    _write(pa.table({
        "p_partkey": pa.array(np.arange(N_PARTS, dtype=np.int64)),
        "p_name": pa.array([
            f"{a} {b}" for a, b in zip(
                rng.choice(PART_ADJ, N_PARTS), rng.choice(PART_NOUN, N_PARTS)
            )
        ], pa.string()),
        "p_brand": pa.array(
            [f"Brand#{k}" for k in rng.integers(1, 26, N_PARTS)], pa.string()
        ),
        "p_type": pa.array(rng.choice(PART_TYPES, N_PARTS), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900 + rng.integers(0, 1000, N_PARTS) * 0.1, 2)
        ),
    }), f"{out}/part.parquet")

    ok = rng.permutation(N_ORDERS).astype(np.int64)
    _write(pa.table({
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORDERS), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, N_ORDERS), 2)),
        "o_orderdate": _ts(rng.integers(0, 2400, N_ORDERS), dt.date(1995, 1, 1)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, N_ORDERS), pa.string()),
    }), f"{out}/orders.parquet")

    qty = rng.integers(1, 51, N_LINEITEMS).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEMS)),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, N_LINEITEMS)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, N_LINEITEMS)),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEMS), pa.int32()),
        "l_quantity": pa.array(qty),
        # a whole-cent unit price: extendedprice / quantity then has no
        # half-way digit for the engines' 4-dp rounding to disagree on
        "l_extendedprice": pa.array(
            np.round(qty * rng.integers(90_000, 210_000, N_LINEITEMS) / 100.0, 2)
        ),
        "l_discount": pa.array(rng.integers(0, 11, N_LINEITEMS) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, N_LINEITEMS) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], N_LINEITEMS), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], N_LINEITEMS), pa.string()),
        "l_shipdate": _ts(rng.integers(1, 2500, N_LINEITEMS), dt.date(1995, 1, 1)),
    }), f"{out}/lineitem.parquet")

    sec = np.sort(rng.integers(0, 30 * 86400 * 10**6, N_EVENTS))
    _write(pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(
            sec + (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).days
            * 86_400_000_000, pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, 150, N_EVENTS)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS), pa.string()),
        "value": pa.array(np.round(rng.uniform(0.01, 490, N_EVENTS), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)], pa.string()
        ),
    }), f"{out}/events.parquet")

    _write(_documents(rng, np.arange(N_DOCS)), f"{out}/documents.parquet")
    centers = rng.normal(0, 1, size=(10, DIM))
    _write(_embeddings(rng, np.arange(N_VECTORS), centers), f"{out}/embeddings.parquet")


def _dirty(rng: np.random.Generator, values: np.ndarray) -> np.ndarray:
    """F4: random leading/trailing blanks and upper case on ~20 %."""
    out = values.astype(object)
    pick = rng.random(len(values)) < 0.2
    for i in np.flatnonzero(pick):
        v = str(out[i])
        out[i] = ("  " + v.upper() + " ") if i % 2 else (" " + v + "   ")
    return out


def _cdc(rng: np.random.Generator, out: str) -> dict:
    """The CDC-indicator CSV plus the counts a correct pipeline finds.

    Base rows are pairwise distinct (``LowConfidenceLimit`` carries the
    row index), so after cleaning the only duplicates are the planted
    verbatim copies. The expected counts follow the pipeline's own
    semantics: cleaning fills numeric nulls with 0, so a null
    ``YearEnd`` also violates ``yearstart <= yearend``."""
    n = N_CDC_BASE
    ys = rng.integers(2010, 2023, n)
    ye = ys + rng.integers(0, 3, n)
    order_bad = rng.random(n) < CDC_ORDER_FRAC
    ye[order_bad] = ys[order_bad] - 1 - rng.integers(0, 3, order_bad.sum())
    ye_null = rng.random(n) < 0.01
    val = np.round(rng.uniform(0, 100, n), 1)
    range_bad = rng.random(n) < CDC_RANGE_FRAC
    val[range_bad] = np.where(
        rng.random(range_bad.sum()) < 0.5,
        -np.round(rng.uniform(1, 50, range_bad.sum()), 1),
        np.round(rng.uniform(101, 400, range_bad.sum()), 1),
    )
    val_null = rng.random(n) < 0.02
    st = rng.integers(0, len(STATES), n)
    tp = rng.integers(0, len(TOPICS), n)
    low = np.arange(n) * 0.001
    resp_present = rng.random(n) < 0.05
    topic_null = rng.random(n) < 0.01

    def col(values, mask=None, typ=pa.string()):
        return pa.array(values, typ, mask=mask)

    abbr = np.array([s[0] for s in STATES])[st]
    desc = np.array([s[1] for s in STATES])[st]
    topic = np.array([t[0] for t in TOPICS])[tp]
    tid = np.array([t[1] for t in TOPICS])[tp]
    qid = np.char.add(tid.astype(str), np.char.zfill((tp + 1).astype(str), 3))
    cat = rng.choice(["Overall", "Gender", "Race"], n)
    cols = {
        "YearStart": col(ys, typ=pa.int64()),
        "YearEnd": col(ye, ye_null, pa.int64()),
        "LocationAbbr": col(_dirty(rng, abbr)),
        "LocationDesc": col(desc),
        "DataSource": col(rng.choice(["BRFSS", "NVSS", "YRBSS"], n)),
        "Topic": col(_dirty(rng, topic), topic_null),
        "Question": col(np.char.add("Rate > 50%? for ", topic)),
        "Response": col(rng.choice(["Yes", "No"], n), ~resp_present),
        "DataValueUnit": col(rng.choice(["%", "Number"], n)),
        "DataValueType": col(
            rng.choice(["Crude Prevalence", "Age-adjusted Prevalence"], n)
        ),
        "DataValue": col(val, val_null, pa.float64()),
        "DataValueAlt": col(val, val_null, pa.float64()),
        "DataValueFootnoteSymbol": col(np.full(n, "*"), rng.random(n) > 0.03),
        "DataValueFootnote": col(
            np.full(n, "Data not shown"), rng.random(n) > 0.03
        ),
        "LowConfidenceLimit": col(low, typ=pa.float64()),
        "HighConfidenceLimit": col(low + 1.5, typ=pa.float64()),
        "StratificationCategory1": col(cat),
        "Stratification1": col(rng.choice(["Overall", "Male", "Female"], n)),
        "StratificationCategory2": col(np.full(n, "Age"), rng.random(n) > 0.1),
        "Stratification2": col(np.full(n, "18-44"), rng.random(n) > 0.1),
        "StratificationCategory3": col(np.full(n, "Income"), rng.random(n) > 0.05),
        "Stratification3": col(np.full(n, "Low"), rng.random(n) > 0.05),
        "Geolocation": col(np.array([
            f"POINT ({x:.4f} {y:.4f})" for x, y in zip(
                rng.uniform(-124, -67, n), rng.uniform(25, 49, n)
            )
        ])),
        "LocationID": col(st + 1, typ=pa.int64()),
        "TopicID": col(tid),
        "QuestionID": col(qid),
        "ResponseID": col(rng.choice(["RESP01", "RESP02"], n), ~resp_present),
        "DataValueTypeID": col(rng.choice(["CRDPREV", "AGEADJPREV"], n)),
        "StratificationCategoryID1": col(np.char.upper(cat.astype(str))),
        "StratificationID1": col(rng.choice(["OVR", "MALE", "FEMALE"], n)),
        "StratificationCategoryID2": col(np.full(n, "AGE"), rng.random(n) > 0.1),
        "StratificationID2": col(np.full(n, "AGE1844"), rng.random(n) > 0.1),
        "StratificationCategoryID3": col(np.full(n, "INC"), rng.random(n) > 0.05),
        "StratificationID3": col(np.full(n, "INCLOW"), rng.random(n) > 0.05),
    }
    base = pa.table(cols)
    assert base.column_names == CDC_COLUMNS
    n_dup = int(round(n * CDC_DUP_FRAC))
    dup_idx = rng.choice(n, size=n_dup, replace=False)
    order = rng.permutation(n + n_dup)
    rows = np.concatenate([np.arange(n), dup_idx])[order]
    table = base.take(pa.array(rows))
    pcsv.write_csv(
        table, f"{out}/cdc_indicators.csv",
        pcsv.WriteOptions(include_header=True, quoting_style="needed"),
    )
    ye_clean = np.where(ye_null, 0, ye)
    val_clean = np.where(val_null, 0.0, val)
    order_viol = ys > ye_clean
    range_viol = (val_clean < 0) | (val_clean > 100)
    return {
        "csv_rows": int(n + n_dup),
        "unique_rows": int(n),
        "duplicate_rows": int(n_dup),
        "order_violations": int(order_viol.sum()),
        "range_violations": int(range_viol.sum()),
        "violating_rows": int((order_viol | range_viol).sum()),
        "distinct_yearstart": int(len(np.unique(ys))),
        "distinct_locationabbr": int(len(STATES)),
        "null_topic": 0,
    }


def generate(seed: int, root: str) -> str:
    """Write the seed's input directory under ``root`` (once; later
    calls reuse it) and return its path."""
    path = os.path.join(root, seed_dir_name(seed))
    if os.path.exists(os.path.join(path, "manifest.json")):
        return path
    tmp = path + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([LAYOUT, seed])
    _star(rng, tmp)
    manifest = {"seed": seed, "layout": LAYOUT, "cdc": _cdc(rng, tmp)}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def load_manifest(path: str) -> dict:
    with open(os.path.join(path, "manifest.json")) as f:
        return json.load(f)
