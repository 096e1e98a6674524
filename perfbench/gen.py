"""Seeded input generator for the pipeline benchmark.

Every input the program reads is made here from the workload's seed, so
the same (workload, seed) always gives byte-identical files. Inputs are
cached under ``<cache>/inputs/<workload>-<seed>-<version>/`` and a
``manifest.json`` next to them records rows, bytes and the file list.

The tables replicate the shapes of the program's own test data, the
seed-42 reference tables at sf0.01 (``shapes.REFERENCE`` lists each shape
and ``python3 perfbench/shapes.py`` measures them): row ratios, key
fan-out, value domains and distributions, event-type mix, users per
event, document lengths, sources, languages and near-duplicates. The
constants below set the sizes.

Run directly to generate one workload's inputs:

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import datetime as _dt
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated content changes, so stale caches are not reused.
VERSION = 6

# medallion_rebuild: an sf0.01 base star replicated R times with the rules
# of graft.tools.ScaleUp (every key offset by r * 1e9 in replica r, region
# and nation shared), then every table row-shuffled by the seed.
TRIP_BASE_SF = 0.01
TRIP_REPLICAS = 2
KEY_OFFSET = 1_000_000_000

# incremental_batches: one month of the events feed at EVENTS_SF (the
# reference keeps 30 days at every scale; events and users grow with sf),
# cut into half-day arrival batches. The first HISTORY_DAYS arrive as one
# history batch; every event is late with probability LATE_SHARE and then
# arrives LATE_SLOTS later, when the mart already holds its day.
EVENTS_SF = 0.1
EVENT_DAYS = 30
HISTORY_DAYS = 4
BATCH_HOURS = 12
LATE_SHARE = 0.1
LATE_SLOTS = (2, 8)

# corpus_admission: documents with paired 64-d embeddings, split by the
# seed into micro-batch files.
DOCS = 500
DOC_FILES = 3
EMB_DIM = 64
NEAR_DUP_SHARE = 0.05

VOCAB = ["value", "hash", "batch", "sort", "data", "big", "filter", "dup",
         "row", "the", "query", "stream", "fast", "spark", "line", "small",
         "customer", "group", "key", "agg", "scan", "slow", "table", "part",
         "a", "merge", "window", "order", "column", "join", "vector"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SOURCES = 20
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

WORKLOADS = ("medallion_rebuild", "incremental_batches", "corpus_admission")


def _rng(workload, seed):
    # one independent stream per (workload, seed); the workload name is
    # folded in so two workloads never share a stream for the same seed
    salt = int(hashlib.sha256(workload.encode()).hexdigest()[:8], 16)
    return np.random.default_rng([int(seed), salt])


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _ts(days_since_epoch):
    return pa.array(np.asarray(days_since_epoch, dtype="int64") * 86_400_000_000,
                    type=pa.timestamp("us"))


def _days(y, m, d):
    return (_dt.date(y, m, d) - _dt.date(1970, 1, 1)).days


# ---------------------------------------------------------------- trips

def trip_tables(rng, sf, replicas):
    """The trip star at ``sf``, replicated ``replicas`` times, shuffled."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    lo, hi = _days(1995, 1, 1), _days(2001, 8, 1)
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": REGIONS})
    nation = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                       "n_name": [f"NATION_{i}" for i in range(25)],
                       "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    base = {
        "customer": {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)},
        "part": {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                                  rng.choice(PART_NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)},
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": rng.integers(lo, hi + 1, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)},
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": rng.integers(lo + 1, hi + 95, n_li)},
    }
    # ScaleUp's replication rule: every surrogate and foreign key moves by
    # r * 1e9 in replica r; low-cardinality domains keep their values.
    keyed = {"customer": ["c_custkey"], "supplier": ["s_suppkey"],
             "part": ["p_partkey"], "orders": ["o_orderkey", "o_custkey"],
             "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"]}
    out = {"region": region, "nation": nation}
    for name, cols in base.items():
        reps = []
        for r in range(replicas):
            c = dict(cols)
            for k in keyed[name]:
                c[k] = c[k] + r * KEY_OFFSET
            reps.append(c)
        merged = {k: np.concatenate([np.asarray(rep[k]) for rep in reps])
                  for k in cols}
        order = rng.permutation(len(next(iter(merged.values()))))
        arrays = {}
        for k, v in merged.items():
            v = v[order]
            if k in ("o_orderdate", "l_shipdate"):
                arrays[k] = _ts(v)
            else:
                arrays[k] = pa.array(v.tolist() if v.dtype.kind in "UO" else v)
        out[name] = pa.table(arrays)
    return out


# --------------------------------------------------------------- events

def event_batches(rng):
    """The month's events, cut into the history batch and the arrival
    batches.

    Events are uniform in time over EVENT_DAYS, ids in time order, users
    uniform over a pool of 0.015 per event, five equally likely types and
    exponential values of mean 50, as in the reference feed. An event of
    half-day slot s arrives in the batch of its slot, or, if late, in the
    batch LATE_SLOTS later, so every arrival batch carries rows for days
    the mart already holds.
    """
    n = int(1_000_000 * EVENTS_SF)
    users = int(n * 0.015)
    hour = 3_600_000_000
    t0 = _days(2024, 1, 1) * 24 * hour
    ts = np.sort(rng.integers(t0, t0 + EVENT_DAYS * 24 * hour, n))
    slot = (ts - t0) // (BATCH_HOURS * hour)
    late = rng.random(n) < LATE_SHARE
    slot = np.where(late, slot + rng.integers(LATE_SLOTS[0], LATE_SLOTS[1] + 1, n), slot)
    history = HISTORY_DAYS * 24 // BATCH_HOURS
    last = EVENT_DAYS * 24 // BATCH_HOURS - 1
    batch = np.maximum(np.minimum(slot, last), history - 1) - (history - 1)
    events = pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype("int64")),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, n)]),
    })
    return [events.filter(pa.array(batch == k)) for k in range(int(batch.max()) + 1)]


# ------------------------------------------------------------ documents

def documents(rng, n):
    """Random-vocabulary documents, plus unit-norm embeddings paired on
    ``vec_id = doc_id``.

    As in the reference corpus: 10 to 99 words from a 31-word vocabulary,
    sources assigned round robin, no exact duplicates, and NEAR_DUP_SHARE
    near duplicates -- an earlier document with its last word dropped or
    one word appended.
    """
    texts = []
    near = set(rng.choice(np.arange(11, n), int(n * NEAR_DUP_SHARE), replace=False))
    for i in range(n):
        if i in near:
            words = texts[rng.integers(0, i)].split(" ")
            if rng.random() < 0.5 and len(words) > 10:
                words = words[:-1]
            else:
                words = words + [VOCAB[rng.integers(0, len(VOCAB))]]
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(VOCAB, rng.integers(10, 100)))
        if text in texts:  # the reference corpus has no exact duplicates
            text = " ".join(rng.choice(VOCAB, rng.integers(10, 100)))
        texts.append(text)
    emb = rng.normal(0.0, 1.0, (n, EMB_DIM)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % SOURCES}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype("int32")),
    })
    return docs, embeddings


# ---------------------------------------------------------------- entry

def generate(workload, seed, out):
    """Write the workload's inputs under ``out``; return the manifest."""
    rng = _rng(workload, seed)
    files, rows = {}, {}
    if workload == "medallion_rebuild":
        for name, t in trip_tables(rng, TRIP_BASE_SF, TRIP_REPLICAS).items():
            files[f"src/{name}.parquet"] = _write(t, f"{out}/src/{name}.parquet")
            rows[name] = t.num_rows
        input_rows = rows["lineitem"]
    elif workload == "incremental_batches":
        for k, t in enumerate(event_batches(rng)):
            rel = f"batches/{k:03d}/events.parquet"
            files[rel] = _write(t, f"{out}/{rel}")
            rows[f"batch_{k:03d}"] = t.num_rows
        input_rows = sum(rows.values())
    elif workload == "corpus_admission":
        docs, emb = documents(rng, DOCS)
        files["src/documents.parquet"] = _write(docs, f"{out}/src/documents.parquet")
        files["src/embeddings.parquet"] = _write(emb, f"{out}/src/embeddings.parquet")
        # the seed assigns every document to one micro-batch file
        part = rng.permutation(DOCS) % DOC_FILES
        for f in range(DOC_FILES):
            rel = f"feed/part-{f:03d}.parquet"
            idx = np.flatnonzero(part == f)
            files[rel] = _write(docs.take(pa.array(idx)), f"{out}/{rel}")
        rows = {"documents": docs.num_rows, "embeddings": emb.num_rows}
        input_rows = docs.num_rows
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return {"workload": workload, "seed": int(seed), "version": VERSION,
            "rows": rows, "input_rows": input_rows, "files": files}


def ensure(cache, workload, seed):
    """Generate once per (workload, seed, VERSION); return (dir, manifest)."""
    out = os.path.join(cache, "inputs", f"{workload}-{seed}-v{VERSION}")
    manifest = os.path.join(out, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return out, json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    m = generate(workload, seed, tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, m


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: gen.py <workload> <seed> <out_dir>")
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]),
                     indent=1, sort_keys=True))
