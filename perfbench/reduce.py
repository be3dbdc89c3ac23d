"""Span reducer: turns a traced run's span file into per-layer numbers.

The span file (JSON lines, written by the harness at exit) holds three
kinds of record:

- ``span``: a call into a layer, timed by the benchmark's own code
  (``id``, ``parent``, ``name``, ``t0_us``, ``t1_us``);
- ``job``: one Spark job from the listener, tagged with the job group of
  the span that submitted it (``pb-<span id>``), or with a streaming run
  id that a ``streaming.cycle`` span records as ``stream_run_id``;
- ``progress``: one streaming micro-batch progress event.

A job becomes a child span named ``spark.job`` of its tagging span. Self
time of a span is its duration minus the part of it covered by its child
spans (overlapping children are merged, and clipped to the parent).
``run.py`` keeps the layer table in the run's record under
``.bench_build/results/``.
"""
import json


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def tree(records):
    """Spans plus jobs as child spans: {id: span}, with ``children``."""
    spans = {r["id"]: dict(r, children=[]) for r in records
             if r["kind"] == "span"}
    by_run = {r["stream_run_id"]: r["id"] for r in spans.values()
              if r.get("stream_run_id")}
    for n, r in enumerate(x for x in records if x["kind"] == "job"):
        group = r.get("group", "")
        parent = (int(group[3:]) if group.startswith("pb-")
                  else by_run.get(group, 0))
        if parent not in spans:
            continue  # a job outside every span: untimed work
        jid = f"job-{r['job']}-{n}"
        spans[jid] = dict(r, id=jid, parent=parent, name="spark.job",
                          children=[])
    for s in spans.values():
        if s["parent"] in spans:
            spans[s["parent"]]["children"].append(s["id"])
    return spans


def covered(t0, t1, intervals):
    """Length of [t0, t1] covered by the union of the intervals."""
    total, end = 0.0, t0
    for a, b in sorted((max(a, t0), min(b, t1)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """{span id: self seconds}."""
    out = {}
    for s in spans.values():
        kids = [(spans[c]["t0_us"], spans[c]["t1_us"]) for c in s["children"]]
        dur = s["t1_us"] - s["t0_us"]
        out[s["id"]] = (dur - covered(s["t0_us"], s["t1_us"], kids)) / 1e6
    return out


def op_of(spans, sid):
    """The enclosing ``op`` span of a span, or None."""
    while sid in spans:
        if spans[sid]["name"] == "op":
            return sid
        sid = spans[sid]["parent"]
    return None


def layer_table(spans):
    """Per span name: count, total seconds and self seconds."""
    selfs = self_times(spans)
    table = {}
    for sid, s in spans.items():
        row = table.setdefault(s["name"], {"count": 0, "total_s": 0.0,
                                           "self_s": 0.0})
        row["count"] += 1
        row["total_s"] += (s["t1_us"] - s["t0_us"]) / 1e6
        row["self_s"] += selfs[sid]
    return table


def jobs_in_ops(spans):
    """Job records that ran inside an op span."""
    return [s for s in spans.values()
            if s["name"] == "spark.job" and op_of(spans, s["parent"])]

