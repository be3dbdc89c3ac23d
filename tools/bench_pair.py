#!/usr/bin/env python3
"""Run ONE same-boot bench pair — the graft Spark suite and the DuckDB
oracle suite back to back on this machine — and write every artifact
that must agree in ONE step: BENCH.json, BASELINE_DUCKDB.json, and the
headline block of BASELINE.md (between the bench-pair markers).

This exists because SURVEY §6's reconciliation rule ("BENCH.json,
BASELINE.md and the SURVEY delta must all cite ONE committed same-boot
run") drifted twice when the three were written by hand in separate
steps. Driver-side tooling only — NOT part of the shipped library.

Usage:
    python3 tools/bench_pair.py [sf_dir]           # default /root/testdata/sf0.1
        [--oracle /tmp/vout/oracle_sql.json]       # else dumped via sbt Verify
        [--bench-out BENCH.json] [--duck-out BASELINE_DUCKDB.json]
        [--md BASELINE.md] [--label "round 10"] [--dry]

/proc/stat col 9 (steal jiffies) is sampled around each side; a pair
with heavy steal should be rerun, not committed.
"""
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MARK_BEGIN = "<!-- bench-pair:begin -->"
MARK_END = "<!-- bench-pair:end -->"


def steal_jiffies():
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def run(cmd, env=None):
    e = dict(os.environ)
    if env:
        e.update(env)
    print(f"[bench_pair] $ {' '.join(cmd)}", file=sys.stderr)
    subprocess.run(cmd, cwd=REPO, env=e, check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)


def main():
    args = sys.argv[1:]
    def opt(name, default):
        if name in args:
            i = args.index(name)
            v = args[i + 1]
            del args[i:i + 2]
            return v
        return default
    dry = "--dry" in args
    if dry:
        args.remove("--dry")
    oracle = opt("--oracle", None)
    bench_out = opt("--bench-out", "BENCH.json")
    duck_out = opt("--duck-out", "BASELINE_DUCKDB.json")
    md = opt("--md", "BASELINE.md")
    label = opt("--label", "")
    # --only q_a,q_b: pair a query SUBSET (e.g. the alert engine at a
    # scaled events dir) — same tool, same artifact discipline, its own
    # marker block via --mark so subset pairs never overwrite the
    # full-suite headline.
    only = opt("--only", None)
    mark = opt("--mark", None)
    mark_begin = (f"<!-- bench-pair:{mark}:begin -->" if mark
                  else MARK_BEGIN)
    mark_end = f"<!-- bench-pair:{mark}:end -->" if mark else MARK_END
    sf_dir = args[0] if args else "/root/testdata/sf0.1"

    # 1. graft suite (steal-sampled). The bench writes to a TEMP file;
    # the committed bench_out is only replaced after the whole pair
    # completes — an aborted or crashed attempt must never clobber the
    # committed BENCH.json while BASELINE.md/duck_out keep the old pair
    # (the structural cause of the round-20 artifact tear).
    bench_tmp = bench_out + ".pairtmp"
    # graft runs on every CPU this process may use (what nproc prints)
    cpus = len(os.sched_getaffinity(0))
    genv = {"SPARK_GRAFT_SF_DIR": sf_dir, "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_BENCH_OUT": bench_tmp}
    if only:
        genv["SPARK_GRAFT_BENCH_ONLY"] = only
    s0, t0 = steal_jiffies(), time.time()
    run(["sbt", "-batch", "runMain graft.Bench"], env=genv)
    s1, t1 = steal_jiffies(), time.time()
    with open(os.path.join(REPO, bench_tmp)) as fh:
        bench = json.load(fh)

    # Early abort (opt-in via BENCH_PAIR_ABORT_STEAL_PCT): if the graft
    # side ALREADY blew the calm budget, pair_when_calm.sh is going to
    # reject the attempt no matter what the oracle side reads — skip
    # the (long) DuckDB run and the artifact/MD writes, emit a summary
    # the gate's grep can parse, and let the loop retry ~25 min sooner.
    # A storm-wasted docs-1000x attempt costs the DuckDB side ~23 min;
    # this turns that into zero.
    abort_pct = os.environ.get("BENCH_PAIR_ABORT_STEAL_PCT")
    if abort_pct:
        hz = os.sysconf("SC_CLK_TCK")
        gsteal = (s1 - s0) / hz
        gwall = t1 - t0
        if gsteal > float(abort_pct) / 100.0 * gwall:
            summary = {"graft_s": bench["value"], "duckdb_s": None,
                       "ratio": None, "aborted": "graft steal over budget",
                       "steal": {"graft_s": round(gsteal, 2),
                                 "graft_wall_s": round(gwall, 1)},
                       "sf": sf_dir, "label": label}
            print(json.dumps(summary))
            print(f"[bench_pair] ABORT: graft steal {gsteal:.1f} s > "
                  f"{abort_pct}% of {gwall:.1f} s wall — duckdb side "
                  f"skipped; {bench_out} left untouched", file=sys.stderr)
            os.remove(os.path.join(REPO, bench_tmp))
            return

    # 2. oracle SQL dump (cheap, sf0.001) unless supplied
    if oracle is None:
        run(["sbt", "-batch",
             "runMain graft.Verify /root/testdata/sf0.001 /tmp/bench_pair_v"])
        oracle = "/tmp/bench_pair_v/oracle_sql.json"

    # 3. DuckDB suite, same boot (steal-sampled)
    s2, t2 = steal_jiffies(), time.time()
    duck_cmd = [sys.executable, os.path.join(REPO, "tools", "baseline.py"),
                sf_dir, oracle]
    if only:
        duck_cmd.append(only)
    duck_raw = subprocess.run(
        duck_cmd,
        cwd=REPO, check=True, capture_output=True, text=True).stdout
    s3, t3 = steal_jiffies(), time.time()
    duck = json.loads(duck_raw.strip().splitlines()[-1])
    # duck side ALSO goes to a temp file: writing it to its final path
    # here would reopen the tear window this tool exists to close (a
    # crash before the graft promotion would pair a NEW duck_out with
    # the OLD bench_out). Both artifacts are promoted together just
    # before the BASELINE.md block update at the end.
    duck_tmp = duck_out + ".pairtmp"
    with open(os.path.join(REPO, duck_tmp), "w") as fh:
        fh.write(json.dumps(duck) + "\n")

    hz = os.sysconf("SC_CLK_TCK")
    # wall per side lets the calm gate judge steal PROPORTIONALLY
    # (<x% of the run it actually brackets) — a fixed jiffy budget is
    # provably too strict for 90-250 s runs and too lax for 10 s ones.
    steal = {"graft_s": round((s1 - s0) / hz, 2),
             "duckdb_s": round((s3 - s2) / hz, 2),
             "graft_wall_s": round(t1 - t0, 1),
             "duckdb_wall_s": round(t3 - t2, 1)}
    g, d = bench["value"], duck["value"]
    ratio = round(g / d, 2)
    stamp = time.strftime("%Y-%m-%d %H:%M UTC", time.gmtime())
    nq = bench.get("n_queries", len(bench.get("queries", {})))
    summary = {"graft_s": g, "duckdb_s": d, "ratio": ratio,
               "n_queries": nq, "steal": steal, "sf": sf_dir,
               "label": label, "at": stamp}
    print(json.dumps(summary))

    # 4. BASELINE.md headline block between markers — the same run the
    # two committed JSONs hold, so the three cannot disagree.
    block = (
        f"{mark_begin}\n"
        f"| DuckDB oracle suite total ({nq} queries{', ' + label if label else ''}) "
        f"| **{d:.1f} s** (`{duck_out}` — same-boot pair of `{bench_out}`, "
        f"written together by `tools/bench_pair.py`; steal "
        f"{steal['duckdb_s']} s) |\n"
        f"| graft Spark total, same boot ({nq} queries{', ' + label if label else ''}) "
        f"| **{g:.1f} s** = **{ratio}×** (local[{cpus}], steady-state: "
        f"best-of-2 + burst arbitration per query, noop-sink writes; "
        f"steal {steal['graft_s']} s; {stamp}) |\n")
    # subset pairs get per-query rows (that's what they exist to show);
    # the full suite's ~160-row table stays in the JSON artifacts only
    if only:
        block += "\n| query | graft s | duckdb s | ratio |\n"
        block += "| --- | --- | --- | --- |\n"
        for q in sorted(bench.get("queries", {})):
            gq = bench["queries"].get(q)
            dq = duck.get("queries", {}).get(q)
            if gq is None or dq is None:
                continue
            r = f"{gq / dq:.2f}x" if dq else "n/a"
            block += f"| {q} | {gq:.2f} | {dq:.2f} | {r} |\n"
    block += mark_end

    # promote both JSON artifacts back to back BEFORE the MD rewrite:
    # bench_out and duck_out always describe ONE pair, with the crash
    # window reduced to the instant between the two renames, and a
    # crash in the rewrite below cannot leave the block describing
    # JSONs that were never promoted.
    os.replace(os.path.join(REPO, bench_tmp), os.path.join(REPO, bench_out))
    os.replace(os.path.join(REPO, duck_tmp), os.path.join(REPO, duck_out))
    print(f"[bench_pair] promoted {bench_out} + {duck_out}", file=sys.stderr)

    md_path = os.path.join(REPO, md)
    with open(md_path) as fh:
        text = fh.read()
    if mark_begin in text and mark_end in text and not dry:
        pre = text[:text.index(mark_begin)]
        post = text[text.index(mark_end) + len(mark_end):]
        with open(md_path, "w") as fh:
            fh.write(pre + block + post)
        print(f"[bench_pair] {md} headline block updated", file=sys.stderr)
    else:
        print(f"[bench_pair] markers not found in {md} (or --dry) — "
              f"block:\n{block}", file=sys.stderr)


if __name__ == "__main__":
    main()
