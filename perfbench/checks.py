"""Output checks for the graft benchmark, run after the timed loop.

Each check recomputes the expected output independently of the program
(DuckDB SQL or numpy over the generated files) and returns the set of op
indices whose output does not match; each such op counts as failed.
"""
import glob

import duckdb
import pyarrow.parquet as pq

# the alert_tick rule set as SQL (the Scala side holds the same rules)
K = r"CAST(regexp_extract(props, '\"k\":\s*(-?\d+)', 1) AS INTEGER)"
RULES = [
    ("high_value_error", "event_type = 'error' AND value > 50.0"),
    ("big_purchase", "event_type = 'purchase' AND value > 150.0"),
    ("click_flood", "event_type = 'click' AND value > 120.0"),
    ("view_spike", "event_type = 'view' AND value > 130.0"),
    ("signup_anomaly", "event_type = 'signup' AND value > 100.0"),
    ("error_hot_prop", f"event_type = 'error' AND {K} >= 90"),
    ("error_user_mod7", "event_type = 'error' AND user_id % 7 = 0"),
    ("tiny_purchase", "event_type = 'purchase' AND value < 0.5"),
    ("click_low_prop", f"event_type = 'click' AND {K} < 3"),
    ("any_extreme", "value > 250.0"),
]
SUPPRESS = "user_id % 10 = 3"


def expected_ticks(data, windows):
    """Per window (from, to): rule hits, merged alerts, suppressed, live."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{data}/events.parquet')")
    out = {}
    for d0, d1 in windows:
        hits = " UNION ALL ".join(
            f"SELECT '{n}' AS rule, user_id, event_type, "
            f"CAST(floor(value / 100.0) AS BIGINT) AS band FROM w WHERE {p}"
            for n, p in RULES)
        sql = (f"WITH w AS (SELECT * FROM events WHERE ts >= TIMESTAMP '{d0}'"
               f" AND ts < TIMESTAMP '{d1}'), h AS ({hits})")
        per_rule = dict(con.execute(
            f"{sql} SELECT rule, count(*) FROM h GROUP BY rule").fetchall())
        merged, suppressed = con.execute(
            f"{sql} SELECT count(*), count(*) FILTER (WHERE {SUPPRESS}) FROM "
            f"(SELECT DISTINCT user_id, event_type, band FROM h)").fetchone()
        events = con.execute(f"{sql} SELECT count(*) FROM w").fetchone()[0]
        out[d0, d1] = {"rules": {n: per_rule.get(n, 0) for n, _ in RULES},
                       "merged": merged, "suppressed": suppressed,
                       "live": merged - suppressed, "events": events}
    return out


def check_alert_tick(ops, data):
    """Also sets each tick's input units: the events in its window."""
    exp = expected_ticks(data, sorted({(o["from"], o["to"]) for o in ops
                                       if o.get("ok")}))
    bad = set()
    for i, o in enumerate(ops):
        if not o.get("ok"):
            continue
        e = exp[o["from"], o["to"]]
        o["units"] = e["events"]
        if (o["rules"] != e["rules"] or o["merged"] != e["merged"]
                or o["suppressed"] != e["suppressed"]
                or o["passed"] != e["live"] or o["live"] != e["live"]
                or o["sent"] != e["live"] or o["errors"] != 0):
            bad.add(i)
    return bad


def expected_stream(data):
    """Alerts each arrival batch adds: distinct ids of rule-matching
    events not emitted by an earlier batch."""
    seen, out = set(), []
    for f in sorted(glob.glob(f"{data}/arrivals/*.parquet")):
        t = pq.read_table(f, columns=["event_id", "event_type", "value"])
        et = t.column("event_type").to_numpy(zero_copy_only=False)
        v = t.column("value").to_numpy()
        ids = set(t.column("event_id").to_numpy()[
            (et == "error") & (v > 50.0)].tolist())
        out.append(len(ids - seen))
        seen |= ids
    return out


def check_stream_ingest(ops, data):
    exp = expected_stream(data)
    return {i for i, o in enumerate(ops)
            if o.get("ok") and o["alerts_out"] != exp[o["batch"]]}


def failed_ops(workload, ops, data):
    """Indices of ops that failed or gave wrong output."""
    bad = {i for i, o in enumerate(ops) if not o.get("ok")}
    if workload == "alert_tick":
        bad |= check_alert_tick(ops, data)
    else:
        bad |= check_stream_ingest(ops, data)
    return bad

