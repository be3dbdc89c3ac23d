#!/usr/bin/env python3
"""graft benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload alert_tick --seed 1 --seconds 11 --trace 0

Run it from the root of a graft checkout. It builds the harness and the
library from source (sbt, offline; reused while the sources are
unchanged), generates the workload's inputs from the seed, runs the
workload in its own JVM, checks the outputs, and prints one JSON line:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. Build outputs, run records and caches go under
``.bench_build/`` in the checkout. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import reduce  # noqa: E402

BUILD_DIR = ".bench_build"
WORKLOADS = ("alert_tick", "stream_ingest")
JVM_TIMEOUT_S = 150
MB = 1048576.0
# Spark 4 on JDK 17 outside spark-submit (as in the root build.sbt)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    return int(subprocess.run(["nproc"], capture_output=True, text=True,
                              check=True).stdout.strip())


def heap():
    """JVM heap by the tier-1 formula: MemTotal / 2, clamped to 2-8 GB."""
    g = 2
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                g = int(int(line.split()[1]) / 2097152)
    return f"{min(max(g, 2), 8)}g"


def fingerprint(root):
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for d in ("src/main", "perfbench/src", "project"):
        files += [os.path.relpath(p, root) for p in glob.glob(
            f"{root}/{d}/**/*", recursive=True)
            if p.endswith((".scala", ".java", ".sbt"))
            and "/target/" not in p]
    h = hashlib.sha256()
    for f in sorted(set(files)):
        if os.path.isfile(f"{root}/{f}"):
            h.update(f.encode())
            with open(f"{root}/{f}", "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile library and harness; returns the runtime classpath."""
    out = f"{root}/{BUILD_DIR}"
    stamp = f"{out}/build.json"
    fp = fingerprint(root)
    if os.path.exists(stamp):
        with open(stamp) as fh:
            b = json.load(fh)
        if b["fingerprint"] == fp and all(os.path.exists(p) for p in b["cp"]):
            return b["cp"]
    os.makedirs(f"{out}/tmp", exist_ok=True)
    # keep sbt's own state (global base, ivy home, temp files, native
    # libraries) inside the checkout; the dependency caches are only read
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={out}/sbt-global",
           f"-Dsbt.ivy.home={out}/ivy", f"-Djava.io.tmpdir={out}/tmp",
           f"-Djna.tmpdir={out}/tmp", "-J-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath"]
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=f"{out}/tmp")
    try:
        p = subprocess.run(cmd, cwd=f"{root}/perfbench", env=env,
                           capture_output=True, text=True, timeout=840)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    with open(f"{out}/build.log", "w") as fh:
        fh.write(p.stdout + p.stderr)
    lines = [x for x in p.stdout.splitlines()
             if ".jar" in x and not x.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (see {BUILD_DIR}/build.log)")
    cp = lines[-1].strip().split(os.pathsep)
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "cp": cp}, fh)
    return cp


def run_jvm(cp, work, data, a, cores):
    cmd = (["java", f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=1g",
            "-XX:-UsePerfData"]
           + ADD_OPENS
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work}/tmp",
              "-cp", os.pathsep.join(cp), "perfbench.Main",
              "--workload", a.workload, "--data", data, "--work", work,
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores), "--seed", str(a.seed)])
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    env.update(SPARK_LOCAL_DIRS=f"{work}/spark-local", TMPDIR=f"{work}/tmp")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as log:
        try:
            p = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               env=env, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{a.workload} timed out (see {work}/jvm.log)")
    if p.returncode != 0 or not os.path.exists(f"{work}/record.json"):
        fail(f"{a.workload} JVM exited {p.returncode} (see {work}/jvm.log)")
    with open(f"{work}/record.json") as fh:
        return json.load(fh)


def tail(lat):
    """Tail latency: (value, percentile, samples beyond it).

    With 100 ops or more: the highest percentile with at least 10
    samples beyond it. A shorter run has no such percentile at or above
    p90 (and with 20 ops or fewer none above the median), so it gives
    p90, interpolated between the two nearest samples."""
    s = sorted(lat)
    n = len(s)
    if n >= 100:
        k = n - 11
        return s[k], 100.0 * (k + 1) / n, n - 1 - k
    pos = 0.9 * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (pos - lo) * (s[hi] - s[lo]), 90.0, n - 1 - lo


def end_to_end(rec):
    run = rec["run"]
    ops = run["ops"]
    lat = [o["latency_s"] for o in ops]
    value, pct, beyond = tail(lat)
    units = sum(o.get("units", 0) for o in ops if o.get("ok"))
    metrics = {
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": value,
        "input_per_s": units / run["timed_s"],
        "cpu_s_per_op": sum(o["cpu_s"] for o in ops) / len(ops),
        "setup_s": statistics.median(rec["setup_s"]),
        "heap_peak_mb": run["heap_peak_mb"],
    }
    return metrics, {"tail_percentile": pct, "tail_samples_beyond": beyond,
                     "ops": len(ops), "steal_share": run["steal_share"],
                     "latencies_s": lat, "cpu_s": [o["cpu_s"] for o in ops],
                     "jit_s": [o["jit_s"] for o in ops],
                     "heap_mb": run.get("heap_mb")}


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def engine_layers(ticks, run_alerts_s):
    live = sum(t["live"] for t in ticks)
    return {
        "engine.run_alerts_s": run_alerts_s,
        "engine.record_status_s": _mean(t["record_status_s"] for t in ticks),
        "engine.merged_per_tick": _mean(t["merged"] for t in ticks),
        "engine.suppressed_per_tick": _mean(t["suppressed"] for t in ticks),
        "engine.live_per_tick": _mean(t["live"] for t in ticks),
        "sinks.sends_per_live_alert": (
            sum(t["sent"] for t in ticks) / live if live else 0.0),
    }


def stream_layers(progress, cycles):
    """Streaming layers per cycle from the progress events of `cycles`."""
    n = len(cycles)

    def dur(k):
        return sum(p["duration_ms"].get(k, 0) for p in progress) / 1000.0 / n

    in_bytes = sum(c["input_bytes"] for c in cycles)
    return {
        "streaming.trigger_s": dur("triggerExecution"),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.query_planning_s": dur("queryPlanning"),
        "streaming.wal_commit_s": dur("walCommit"),
        "streaming.commit_offsets_s": dur("commitOffsets"),
        "streaming.state_rows": _mean(p["state_rows"] for p in progress),
        "streaming.state_mb": _mean(p["state_bytes"] / MB for p in progress),
        "streaming.bytes_written_per_input_byte": (
            sum(c["bytes_written"] for c in cycles) / in_bytes),
    }


def corpus_layers(c):
    cand = c["candidate_pairs"]
    return {
        "corpus.curate_s": c["corpus.curate_s"],
        "dedup.clusters_s": c["dedup.clusters_s"],
        "ann.ivf_pq_s": c["ann.ivf_pq_s"],
        "dedup.candidate_pairs": cand,
        "dedup.verified_pairs": c["verified_pairs"],
        "dedup.verify_yield": c["verified_pairs"] / cand if cand else 0.0,
    }


def per_layer(rec, spans_path, cores):
    """Per-layer metrics of a traced run: from the traced ops of the
    workload's loop, and from the one-shot probes for the layers the
    loop does not exercise."""
    ops = [o for o in rec["run"]["ops"] if o.get("traced")]
    plain = [o for o in rec["run"]["ops"] if not o.get("traced")]
    n = len(ops)
    records = reduce.load(spans_path)
    spans = reduce.tree(records)
    jobs = reduce.jobs_in_ops(spans)
    wall = sum(o["latency_s"] for o in ops)

    def jsum(k):
        return sum(j[k] for j in jobs)

    def span_s(name):
        return sum((s["t1_us"] - s["t0_us"]) / 1e6 for s in spans.values()
                   if s["name"] == name) / n

    m = {
        "spark.jobs_per_op": len(jobs) / n,
        "spark.stages_per_op": jsum("stages") / n,
        "spark.tasks_per_op": jsum("tasks") / n,
        "spark.busy_share": jsum("task_run_ms") / 1000.0 / (cores * wall),
        "spark.shuffle_write_mb_per_op": jsum("shuffle_write_bytes") / MB / n,
        "spark.shuffle_read_mb_per_op": jsum("shuffle_read_bytes") / MB / n,
        "spark.spill_mb_per_op": jsum("spill_bytes") / MB / n,
        "spark.scan_mb_per_op": jsum("scan_bytes") / MB / n,
        "spark.task_cpu_s_per_op": jsum("task_cpu_ns") / 1e9 / n,
        "materialize.checkpoints_per_op": sum(
            1 for j in jobs
            if any("Materialize.scala" in x for x in j["stage_names"])) / n,
        "jvm.gc_s_per_op": sum(o["gc_s"] for o in ops) / n,
        "jvm.jit_s_per_op": sum(o["jit_s"] for o in ops) / n,
        "trace.overhead_share": (
            statistics.median(o["latency_s"] for o in ops)
            / statistics.median(o["latency_s"] for o in plain) - 1.0
            if plain else 0.0),
    }
    m.update({f"functions.{k}.rows_per_s": v
              for k, v in rec.get("kernels", {}).items()})
    probes = rec.get("probes", {})
    q = probes["queries"]
    m.update({"entry.construct_s": _mean(x["construct_s"] for x in q),
              "catalyst.plan_s": _mean(x["plan_s"] for x in q),
              "exec.execute_s": _mean(x["execute_s"] for x in q)})
    if "tick" in probes:
        t = probes["tick"]
        m.update(engine_layers([t], t["run_alerts_s"]))
    else:
        m.update(engine_layers(ops, span_s("engine.run_alerts")))
    if "stream" in probes:
        c = probes["stream"]
        m.update(stream_layers(c["progress"], [c]))
    else:
        runs = {s["stream_run_id"] for s in spans.values()
                if s.get("stream_run_id")}
        m.update(stream_layers([r for r in records if r["kind"] == "progress"
                                and r["run_id"] in runs], ops))
    m.update(corpus_layers(probes["corpus"]))
    return m, reduce.layer_table(spans)


def units(kind):
    """{metric: unit} of BENCHMARK.json's `end_to_end` or `per_layer`."""
    with open(f"{HERE}/../BENCHMARK.json") as fh:
        return {x["name"]: x["unit"] for x in json.load(fh)[kind]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(f"{root}/build.sbt")
            and os.path.isdir(f"{root}/src/main/scala/graft")
            and os.path.isfile(f"{root}/perfbench/build.sbt")):
        fail("run from the root of a graft checkout (build.sbt, src/, perfbench/)")
    cores = nproc()
    cp = build(root)
    work = (f"{root}/{BUILD_DIR}/runs/"
            f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = f"{work}/data"
    gen.generate(data, a.workload, a.seed, probes=bool(a.trace))
    rec = run_jvm(cp, work, data, a, cores)

    ops = rec["run"]["ops"]
    bad = checks.failed_ops(a.workload, ops, data)
    e2e, info = end_to_end(rec)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "host": dict(rec["host"], heap=heap()), "end_to_end": e2e,
              "info": info, "failed_ops": sorted(bad), "setup_s": rec["setup_s"]}
    if a.trace:
        values, table = per_layer(rec, f"{work}/spans.jsonl", cores)
        record.update(per_layer=values, layer_table=table)
        kind = "per_layer"
    else:
        values, kind = e2e, "end_to_end"
    metrics = {k: {"value": values[k], "unit": u}
               for k, u in units(kind).items()}
    os.makedirs(f"{root}/{BUILD_DIR}/results", exist_ok=True)
    with open(f"{root}/{BUILD_DIR}/results/"
              f"{a.workload}-s{a.seed}-t{a.trace}.json", "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(dict(record["host"], steal_share=info["steal_share"])),
          file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not bad, "attempted": len(ops),
                      "failed": len(bad), "metrics": metrics}))


if __name__ == "__main__":
    main()
