#!/usr/bin/env python3
"""Shape statistics of the benchmark's input tables.

The generator (``gen.py``) replicates the shapes of the program's own test
data, the seed-42 reference tables at sf0.01. ``REFERENCE`` holds those
shapes as measured on the reference tables, and the helper tests check
every generated table against them. To measure a directory of tables
(``<name>.parquet`` each; the reference tables or a generated base):

    python3 perfbench/shapes.py <dir>

Shapes are ratios, means and shares, so they hold at any scale factor.
"""
import json
import sys

import duckdb

# Measured on the reference tables at sf0.01 (60 000 line items, 10 000
# events, 500 documents); a generated table must agree within TOLERANCE
# (WIDER for a rare-event share).
REFERENCE = {
    "trips.customers_per_lineitem": 0.025,
    "trips.suppliers_per_lineitem": 1 / 600,
    "trips.parts_per_lineitem": 1 / 30,
    "trips.orders_per_lineitem": 0.25,
    "trips.lineitems_per_order": 4.0,
    "trips.orders_without_lineitems": 0.0171,
    "trips.orders_per_customer": 10.0,
    "trips.max_linenumber": 7,
    "trips.returnflag_linestatus_pairs": 6,
    "trips.shipdate_span_days": 2498,
    "trips.orderdate_span_days": 2403,
    "trips.part_names": 64,
    "events.events_per_user": 66.7,
    "events.event_types": 5,
    "events.max_event_type_share": 0.2017,
    "events.value_mean": 49.6,
    "events.value_median": 34.6,
    "events.days": 30,
    "documents.words_min": 10,
    "documents.words_max": 99,
    "documents.words_mean": 54.3,
    "documents.vocabulary": 31,
    "documents.docs_per_source": 25,
    "documents.en_share": 0.436,
    "documents.exact_duplicates": 0,
    "documents.near_duplicate_share": 0.05,
    "embeddings.dim": 64,
    "embeddings.labels": 10,
}
# relative tolerance; shares of random draws at sf0.01 move by a few %,
# the rare orders without line items by more (6 % is one standard
# deviation there)
TOLERANCE = 0.15
WIDER = {"trips.orders_without_lineitems": 0.3}


def _one(con, sql):
    return con.sql(sql).fetchone()[0]


def trips(con, src):
    """Shapes of a trip star; ``src`` maps table name to a parquet path."""
    for t, p in src.items():
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    li = _one(con, "SELECT count(*) FROM lineitem")
    orders = _one(con, "SELECT count(*) FROM orders")
    return {
        "trips.customers_per_lineitem": _one(con, "SELECT count(*) FROM customer") / li,
        "trips.suppliers_per_lineitem": _one(con, "SELECT count(*) FROM supplier") / li,
        "trips.parts_per_lineitem": _one(con, "SELECT count(*) FROM part") / li,
        "trips.orders_per_lineitem": orders / li,
        "trips.lineitems_per_order": li / orders,
        "trips.orders_without_lineitems": _one(
            con, "SELECT count(*) FROM orders WHERE o_orderkey NOT IN "
                 "(SELECT l_orderkey FROM lineitem)") / orders,
        "trips.orders_per_customer": orders / _one(
            con, "SELECT count(DISTINCT o_custkey) FROM orders"),
        "trips.max_linenumber": _one(con, "SELECT max(l_linenumber) FROM lineitem"),
        "trips.returnflag_linestatus_pairs": _one(
            con, "SELECT count(*) FROM (SELECT DISTINCT l_returnflag, l_linestatus "
                 "FROM lineitem)"),
        "trips.shipdate_span_days": _one(
            con, "SELECT date_diff('day', min(l_shipdate), max(l_shipdate)) FROM lineitem"),
        "trips.orderdate_span_days": _one(
            con, "SELECT date_diff('day', min(o_orderdate), max(o_orderdate)) FROM orders"),
        "trips.part_names": _one(con, "SELECT count(DISTINCT p_name) FROM part"),
    }


def events(con, path):
    """Shapes of an events feed (``path`` may be a glob)."""
    con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet('{path}')")
    n = _one(con, "SELECT count(*) FROM events")
    return {
        "events.events_per_user": n / _one(con, "SELECT count(DISTINCT user_id) FROM events"),
        "events.event_types": _one(con, "SELECT count(DISTINCT event_type) FROM events"),
        "events.max_event_type_share": _one(
            con, "SELECT max(c) FROM (SELECT count(*) c FROM events GROUP BY event_type)") / n,
        "events.value_mean": _one(con, "SELECT avg(value) FROM events"),
        "events.value_median": _one(con, "SELECT median(value) FROM events"),
        "events.days": _one(con, "SELECT count(DISTINCT CAST(ts AS DATE)) FROM events"),
    }


def _shingles(text, w=5):
    words = text.split(" ")
    return {tuple(words[i:i + w]) for i in range(max(1, len(words) - w + 1))}


def documents(con, docs, embeddings):
    """Shapes of a document corpus and its embeddings. A near duplicate is
    a document whose 5-word shingles overlap an earlier one's with
    Jaccard similarity above 0.3."""
    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    con.execute(f"CREATE OR REPLACE VIEW embeddings AS SELECT * FROM read_parquet('{embeddings}')")
    texts = [t for (t,) in con.sql("SELECT text FROM documents ORDER BY doc_id").fetchall()]
    words = [len(t.split(" ")) for t in texts]
    sh = [_shingles(t) for t in texts]
    near = sum(1 for i in range(len(sh))
               if any(len(sh[i] & sh[j]) / len(sh[i] | sh[j]) > 0.3 for j in range(i)))
    return {
        "documents.words_min": min(words),
        "documents.words_max": max(words),
        "documents.words_mean": sum(words) / len(words),
        "documents.vocabulary": len({w for t in texts for w in t.split(" ")}),
        "documents.docs_per_source": len(texts) / _one(
            con, "SELECT count(DISTINCT source) FROM documents"),
        "documents.en_share": _one(con, "SELECT avg(CAST(lang = 'en' AS INT)) FROM documents"),
        "documents.exact_duplicates": len(texts) - len(set(texts)),
        "documents.near_duplicate_share": near / len(texts),
        "embeddings.dim": _one(con, "SELECT max(len(embedding)) FROM embeddings"),
        "embeddings.labels": _one(con, "SELECT count(DISTINCT label) FROM embeddings"),
    }


def mismatches(measured):
    """Shapes that differ from the reference by more than their tolerance."""
    out = {}
    for k, v in measured.items():
        ref = REFERENCE[k]
        if abs(v - ref) > WIDER.get(k, TOLERANCE) * abs(ref) if ref else v != ref:
            out[k] = (v, ref)
    return out


def measure_dir(d):
    """Every shape of a directory that holds the reference's tables."""
    con = duckdb.connect()
    names = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
    out = trips(con, {t: f"{d}/{t}.parquet" for t in names})
    out.update(events(con, f"{d}/events.parquet"))
    out.update(documents(con, f"{d}/documents.parquet", f"{d}/embeddings.parquet"))
    return out


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: shapes.py <dir of <table>.parquet files>")
    got = measure_dir(sys.argv[1])
    print(json.dumps({"shapes": got, "outside_tolerance": mismatches(got)}, indent=1))
