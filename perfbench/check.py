"""Output checks for the pipeline benchmark, run after the timed window.

Each check returns the set of failed step numbers plus notes; a step whose
output is wrong counts as a failed operation, exactly like one that threw.

- medallion_rebuild: every rebuild's four promoted marts equal their
  DuckDB oracle SQL (``SparkEntry.oracleSql``) over the generated sources.
- incremental_batches: every step's read-back equals a recompute over the
  batches landed so far; the final mart equals a one-shot recompute; the
  users dimension holds each user once; the stream sink equals the batch
  hourly aggregation of the rows the watermark admitted, for every window
  below the final watermark.
- corpus_admission: the union of the streamed per-batch decision tables is
  identical to the batch ``Admission.report`` of the same cycle.
"""
import glob
import os

import duckdb
import pandas as pd

# promoted mart -> oracle key
MARTS = {"dm_daily_trip_summary": "gold_daily_summary",
         "dm_popular_routes": "gold_popular_routes",
         "dm_station_popularity": "gold_station_popularity",
         "dm_user_behavior": "gold_user_behavior"}
TRIP_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem"]
HOUR_US = 3_600_000_000


def same_rows(got, exp):
    """Multiset equality of two pandas frames with the same column names,
    exact values; returns None or a one-line reason."""
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        return f"columns {gcols} vs {ecols}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    g = got[gcols].sort_values(gcols, kind="mergesort").reset_index(drop=True)
    e = exp[ecols].sort_values(ecols, kind="mergesort").reset_index(drop=True)
    for c in gcols:
        gv, ev = g[c], e[c]
        try:
            eq = (gv.isna() & ev.isna()) | (gv == ev)
        except (TypeError, ValueError):
            eq = gv.astype(str) == ev.astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            return f"{c}[{i}]: {gv[i]!r} vs {ev[i]!r}"
    return None


def medallion(record, inputs, work):
    con = duckdb.connect()
    for t in TRIP_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/src/{t}.parquet')")
    oracle = record["workload_record"]["oracle"]
    expected = {m: con.sql(oracle[k]).df() for m, k in MARTS.items()}
    failed, notes = set(), []
    for step in sorted({o["step"] for o in record["ops"] if o["ok"]}):
        for m, exp in expected.items():
            path = f"{work}/checks/op-{step}/{m}"
            files = glob.glob(f"{path}/*.parquet")
            why = same_rows(con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df(),
                            exp) if files else "no output"
            if why:
                failed.add(step)
                notes.append(f"step {step} {m}: {why}")
    return failed, notes, {}


def _events(con, inputs, upto):
    """View ``ev``: the events of batches 0..upto."""
    files = [f"{inputs}/batches/{k:03d}/events.parquet" for k in range(upto + 1)]
    con.execute(f"CREATE OR REPLACE VIEW ev AS SELECT * FROM read_parquet({files!r})")


MART_SQL = """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date, event_type,
  count(*) AS n_events, CAST(sum(round(value * 100)) AS BIGINT) AS value_cents,
  count(DISTINCT user_id) AS n_users
FROM ev {where} GROUP BY 1, 2"""


def incremental(record, inputs, work):
    wr = record["workload_record"]
    state = wr["state"]
    con = duckdb.connect()
    failed, notes = set(), []
    steps = [o["step"] for o in record["ops"] if o["ok"]]
    for step, rb in zip(steps, wr["read_back"]):
        _events(con, inputs, rb["batch"])
        days = ", ".join(f"'{d}'" for d in rb["days"])
        exp = con.sql(MART_SQL.format(where=f"WHERE CAST(CAST(ts AS DATE) AS VARCHAR) IN ({days})")).df()
        got = pd.DataFrame(rb["rows"], columns=["event_date", "event_type", "n_events",
                                                "value_cents", "n_users"])
        why = same_rows(got, exp)
        if why:
            failed.add(step)
            notes.append(f"step {step} read-back: {why}")
    last = wr["batches_processed"] - 1
    final_step = steps[-1] if steps else 0
    _events(con, inputs, last)
    exp = con.sql(MART_SQL.format(where="")).df()
    got = con.sql(f"""SELECT CAST(event_date AS VARCHAR) AS event_date, event_type,
        n_events, value_cents, n_users
        FROM read_parquet('{state}/mart/*/*.parquet', hive_partitioning = true)""").df()
    why = same_rows(got, exp)
    if why:
        failed.add(final_step)
        notes.append(f"final mart vs one-shot recompute: {why}")
    # users: one row per distinct user landed so far
    n_users, n_ids = con.sql(f"""SELECT count(*), count(DISTINCT user_id)
        FROM read_parquet('{state}/users/*.parquet')""").fetchone()
    (want,) = con.sql("SELECT count(DISTINCT user_id) FROM ev").fetchone()
    if not (n_users == n_ids == want):
        failed.add(final_step)
        notes.append(f"users: {n_users} rows, {n_ids} ids, {want} expected")
    why = _stream_check(con, inputs, state, last)
    if why:
        failed.add(final_step)
        notes.append(f"stream sink vs batch aggregation: {why}")
    return failed, notes, {}


def _stream_check(con, inputs, state, last):
    """The hourly stream sink against the batch aggregation below the
    watermark horizon.

    Batch k reaches the stream as one micro-batch. Its rows are admitted
    when their window ends after the watermark the previous micro-batches
    left (max event time seen minus one hour); windows are emitted once
    the watermark passes their end.
    """
    frames, watermark = [], None
    for k in range(last + 1):
        b = con.sql(f"""SELECT epoch_us(ts) AS t, event_type, value
            FROM read_parquet('{inputs}/batches/{k:03d}/events.parquet')""").df()
        b["w"] = b["t"] // HOUR_US * HOUR_US
        if watermark is not None:
            b = b[b["w"] + HOUR_US > watermark]
        frames.append(b)
        top = con.sql(f"""SELECT max(epoch_us(ts)) FROM
            read_parquet('{inputs}/batches/{k:03d}/events.parquet')""").fetchone()[0]
        watermark = top - HOUR_US if watermark is None else max(watermark, top - HOUR_US)
    rows = pd.concat(frames)
    rows = rows[rows["w"] + HOUR_US <= watermark]
    rows["cents"] = (rows["value"] * 100).round().astype("int64")
    exp = (rows.groupby(["w", "event_type"])
           .agg(n_events=("t", "size"), value_cents=("cents", "sum"))
           .reset_index().rename(columns={"w": "window_start"}))
    files = glob.glob(f"{state}/stream_out/*.parquet")
    if not files:
        return "no sink output" if len(exp) else None
    got = con.sql(f"""SELECT epoch_us(window_start) AS window_start, event_type,
        n_events, value_cents FROM read_parquet('{state}/stream_out/*.parquet')""").df()
    return same_rows(got, exp)


def admission(record, inputs, work):
    con = duckdb.connect()
    failed, notes = set(), []
    cols = "doc_id, gate, pass, score"
    keep = []
    by_cycle = {}
    for o in record["ops"]:
        by_cycle.setdefault(o["step"], []).append(o)
    for step, d in zip(sorted(s for s, os_ in by_cycle.items()
                              if all(o["ok"] for o in os_)),
                       record["workload_record"]["cycles"]):
        if not os.path.isdir(f"{d}/report"):
            failed.add(step)
            notes.append(f"step {step}: no report")
            continue
        rep = con.sql(f"SELECT {cols} FROM read_parquet('{d}/report/*.parquet')").df()
        streamed = glob.glob(f"{d}/stream_out/*/*.parquet")
        got = con.sql(f"SELECT {cols} FROM read_parquet({streamed!r})").df() \
            if streamed else rep.iloc[0:0]
        why = same_rows(got, rep)
        if why:
            failed.add(step)
            notes.append(f"step {step} streamed vs batch report: {why}")
        dec = rep[rep["gate"] == "8_decision"]
        if len(dec):
            keep.append(float(dec["pass"].astype(bool).mean()))
    extra = {"ext.admission.keep_ratio": sum(keep) / len(keep)} if keep else {}
    return failed, notes, extra


CHECKS = {"medallion_rebuild": medallion, "incremental_batches": incremental,
          "corpus_admission": admission}


def check(record, inputs, work):
    """(failed step numbers, notes, extra metrics) for one run."""
    return CHECKS[record["workload"]](record, inputs, work)
