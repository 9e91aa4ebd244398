#!/usr/bin/env python3
"""Benchmark of the renoir-style façade over Spark, end to end and by layer.

One workload per run:

    python3 perfbench/run.py --workload batch_iterative --seed 1 --seconds 10 --trace 0

prints a report and, as its last line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, the per-layer ones with `--trace 1`.
All workloads (or the one named with --workload), each in five alternating
untraced and traced runs, with the layer shares and the tracing overhead:

    python3 perfbench/run.py --all --seed 1 [--pairs 5] [--workload W]

Workloads (one Spark session at local[4], inputs generated from the seed by
gen.py and cached under perfbench/work/data):
  batch_iterative   closed loop, one client: connected components, an
                    iterate loop, k-means written through the partitioned
                    parquet sink, and minhash dedup;
  event_stream      open loop at a fixed offered rate through the façade's
                    async source into event-time tumbling and session
                    windows;
  batch_relational  closed loop, one client: pricing summary, a four-way
                    join with top-k, the co-purchase self-join, sliding and
                    session windows, and a partitioned parquet sink. Run by
                    --all and on request, but not listed in BENCHMARK.json:
                    three workloads' runs do not fit the time budget the
                    benchmark's runs share.
Each batch run sets up five times (a fresh session plus one warm-up pass
over the pipelines) and reports the median set-up, then times at least
three passes, each on a fresh session, and reports their median.
event_stream sets up three times (a fresh session whose queries start and
take their first input), then streams for 12 s while the JIT settles before
its measured window.

The first run in a checkout compiles the library with the benchmark's JVM
side (sbt, in this directory) and dumps the catalog's oracle SQL; later runs
reuse the build while the sources are unchanged.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import report  # noqa: E402
import stats  # noqa: E402

REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
ORACLE = os.path.join(WORK, "oracle_sql.json")
STAMP = os.path.join(WORK, "build.stamp")
WORKLOADS = ("batch_relational", "batch_iterative", "event_stream")
DEFAULT_SEED = 1            # held-out seed, never used while tuning: 7919
JVM_HEAP = "1g"
RUN_DEADLINE_S = 170        # a run must finish well inside 180 s
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main", "scala"), os.path.join(HERE, "scala")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath():
    spark = os.environ.get("SPARK_HOME")
    if not spark:
        fail("SPARK_HOME is not set")
    return f"{CLASSES}:{os.path.join(spark, 'jars', '*')}"


def build():
    """Compile library + JVM side when the sources changed since the last
    build, then dump the catalog's oracle SQL."""
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found next to the benchmark")
    digest = source_digest()
    if (os.path.exists(STAMP) and open(STAMP).read() == digest
            and os.path.exists(ORACLE)):
        return
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=840)
        if rc == 0:
            rc = subprocess.call(["java", "-cp", classpath(), "perfbench.DumpOracle", ORACLE],
                                 stdout=out, stderr=subprocess.STDOUT, timeout=60)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (log: {log})")
    with open(STAMP, "w") as f:
        f.write(digest)


def run_jvm(args, data, ref, out, spans, deadline):
    """Run the JVM side; return its peak RSS in MB (VmHWM via wait4)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    cmd = (["java", *ADD_OPENS, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={tmp}", "-cp", classpath(), "perfbench.Main",
            "--workload", args.workload, "--data", data, "--ref", ref,
            "--work", os.path.dirname(out), "--out", out, "--spans", spans,
            "--seconds", str(args.seconds), "--trace", str(args.trace)])
    log = out + ".log"
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, env=env,
                             stdin=subprocess.DEVNULL)
        killer = threading.Timer(max(1.0, deadline - time.time()), p.kill)
        killer.start()
        try:
            _, status, usage = os.wait4(p.pid, 0)
        finally:
            killer.cancel()
        p.returncode = os.waitstatus_to_exitcode(status)
    if p.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"JVM side exited with {p.returncode} (log: {log})")
    return usage.ru_maxrss / 1024.0


def batch_metrics(res):
    """A batch round is one closed-loop pass: the client submits every
    pipeline's input at the round's start, and each pipeline's result is an
    event whose latency runs from that start until the benchmark (the sink)
    holds the result."""
    rounds = [r for r in res["rounds"] if r["round"] >= 1]
    walls = [r["wall_s"] for r in rounds]
    lat = [p["end_s"] for r in rounds for p in r["pipelines"]]
    rows = sum(p["rows"] for r in rounds for p in r["pipelines"])
    # Results come back in pipeline order, so the latencies of all rounds
    # cluster by pipeline and a percentile over all of them sits on the edge
    # between two clusters, where one slow round moves it a cluster. The
    # p50 is the median over rounds of each round's median result instead.
    # batch_iterative times three or four rounds of four pipelines: 12 to
    # 16 results, where a percentile with ten beyond it needs 20 (p50). So
    # the batch tail is always the slowest result, whatever the count.
    return {
        "round_p50_s": stats.median(walls),
        "rows_per_s": rows / sum(walls),
        "event_latency_p50_s": stats.median(
            [stats.median([p["end_s"] for p in r["pipelines"]]) for r in rounds]),
        "event_latency_tail_s": max(lat),
    }, {"round_p50_s": len(walls), "rows_per_s": len(walls),
        "event_latency_p50_s": len(lat), "event_latency_tail_s": len(lat),
        "tail_percentile": "max"}


def load_events(path):
    import numpy as np
    a = np.fromfile(path, dtype="<i8").reshape(-1, 3)
    return a[:, 0], a[:, 1], a[:, 2]


def iso_us(s):
    from datetime import datetime, timezone
    t = datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return int(t.timestamp() * 1000000)


def stream_metrics(res):
    """End-to-end metrics and the correctness verdict of event_stream."""
    user, ts, created = load_events(res["events_file"])
    w0, w1 = res["window_ns"]
    expected = {
        "tumbling": stats.tumbling_expected(user, ts, created, res["window_size_us"]),
        "sessions": stats.sessions_expected(user, ts, created, res["session_gap_us"]),
    }
    checked, lat = 0, []
    failures = [f"source of {kind} failed: {e}" for kind, e in res["source_failures"]]
    for kind, exp in expected.items():
        marks = [p["watermark"] for p in res["progress"] if p["query"] == kind and p["watermark"]]
        wm = max(iso_us(m) for m in marks) if marks else 0
        if not stats.watermark_complete(wm, int(ts.max()), res["delay_us"]):
            failures.append(f"{kind}: final watermark {wm} us is short of the last event "
                            f"time {int(ts.max())} us minus the delay: windows left unchecked")
        rows = [e for e in res["emits"] if e["kind"] == kind]
        c, f = stats.check_windows(exp, [(e["user_id"], e["w_start_us"], e["n"]) for e in rows], wm)
        checked += c
        failures += [f"{kind}: {x}" for x in f]
        lat += stats.emission_latencies(exp, [(e["user_id"], e["w_start_us"], e["seen_ns"])
                                              for e in rows if w0 <= e["seen_ns"] <= w1])
    lat = [x / 1e9 for x in lat]
    seen = sorted(d["seen_ns"] for d in res["deliveries"]
                  if d["kind"] == "tumbling" and w0 <= d["seen_ns"] <= w1)
    gaps = [(b - a) / 1e9 for a, b in zip(seen, seen[1:])]
    rates = [stats.processing_rate(res["ticks"], res["progress"], q, *res["window_ms"])
             for q in expected]
    if not lat or not gaps or None in rates:
        failures.append("too few batches or window rows inside the measured window")
        lat, gaps = lat or [float("nan")], gaps or [float("nan")]
        rates = [r or float("nan") for r in rates]
    tail_p, tail_v = stats.tail(lat)
    m = {
        "round_p50_s": stats.median(gaps),
        "rows_per_s": min(rates),
        "event_latency_p50_s": stats.percentile(lat, 50),
        "event_latency_tail_s": tail_v,
    }
    n = {"round_p50_s": len(gaps), "rows_per_s": len(res["progress"]),
         "event_latency_p50_s": len(lat), "event_latency_tail_s": len(lat),
         "tail_percentile": tail_p}
    return m, n, max(checked, 1), failures


def run_one(args, deadline):
    """One run of one workload; returns the result record."""
    build()
    with open(ORACLE) as f:
        oracle = json.load(f)
    g0 = time.time()
    base = gen.prepare(args.workload, args.seed, os.path.join(WORK, "data"), oracle)
    gen_s = time.time() - g0
    rdir = os.path.join(WORK, "runs", f"{args.workload}-trace{args.trace}")
    shutil.rmtree(rdir, ignore_errors=True)
    os.makedirs(rdir)
    out = os.path.join(rdir, "result.json")
    spans = os.path.join(rdir, "spans.jsonl")
    rss = run_jvm(args, os.path.join(base, "data"), os.path.join(base, "ref"),
                  out, spans, deadline)
    with open(out) as f:
        raw = json.load(f)
    if args.workload == "event_stream":
        m, n, attempted, failures = stream_metrics(raw)
    else:
        m, n = batch_metrics(raw)
        attempted, failures = raw["attempted"], []
        for r in raw["rounds"]:
            failures += [f"round {r['round']} {p['name']}: {p['error']}"
                         for p in r["pipelines"] if not p["ok"]]
    m["setup_s"] = stats.median(raw["setup_s"])
    m["peak_rss_mb"] = rss
    m["failed_ratio"] = len(failures) / attempted
    n["setup_s"] = len(raw["setup_s"])
    rec = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "gen_s": gen_s, "end_to_end": m, "samples": n, "attempted": attempted,
           "failures": failures, "raw": raw}
    if args.trace:
        layers, orphans, counts = report.layer_metrics(report.load_spans(spans), raw)
        rec["per_layer"] = layers
        rec["orphans"] = [f"{s['kind']} {s['name']}: {why}" for s, why in orphans]
        rec["counts_by_round"] = {str(k): v for k, v in counts.items()}
    keep = os.path.join(WORK, "results")
    os.makedirs(keep, exist_ok=True)
    stem = os.path.join(keep, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(rec, f)
    if args.trace:
        shutil.copyfile(spans, stem + ".spans.jsonl")
    return rec


def print_report(rec, sp):
    # failed_ratio is printed, not a BENCHMARK.json metric: it is 0 when
    # every result is right, and the run's `failed`/`attempted` carry it
    units = {x["name"]: x["unit"] for x in sp["end_to_end"] + sp["per_layer"]}
    units["failed_ratio"] = "ratio"
    print(f"== {rec['workload']} seed {rec['seed']} trace {rec['trace']} "
          f"(inputs generated in {rec['gen_s']:.2f} s, not part of setup_s)")
    n = rec["samples"]
    for k, v in rec["end_to_end"].items():
        extra = f" n={n[k]}" if k in n else ""
        if k == "event_latency_tail_s":
            tp = n["tail_percentile"]
            extra += " at max" if tp == "max" else f" at p{tp}"
        print(f"  {k:24s} {v:14.6f} {units.get(k, '')}{extra}")
    for f in rec["failures"][:20]:
        print(f"  FAILED {f}")
    if rec["trace"]:
        report.print_table(rec["per_layer"], [], {int(k): tuple(v) for k, v in
                                                   rec["counts_by_round"].items()})
        for o in rec["orphans"][:20]:
            print(f"  ORPHAN {o}")


def contract_line(rec, sp):
    names = sp["per_layer"] if rec["trace"] else sp["end_to_end"]
    vals = rec["per_layer"] if rec["trace"] else rec["end_to_end"]
    metrics = {x["name"]: {"value": vals[x["name"]], "unit": x["unit"]} for x in names}
    return json.dumps({"correct": not rec["failures"], "attempted": rec["attempted"],
                       "failed": len(rec["failures"]), "metrics": metrics})


def shares(rec):
    """Layer times of one traced run as shares of `round_p50_s`; for
    event_stream, whose layer metrics are totals over the measured window,
    as shares of the window."""
    pl = rec["per_layer"]
    if rec["workload"] == "event_stream":
        w0, w1 = rec["raw"]["window_ns"]
        whole = (w1 - w0) / 1e9
    else:
        whole = rec["end_to_end"]["round_p50_s"]
    cat = sum(pl[f"catalyst.{p}_s"] for p in ("analysis", "optimization", "planning"))
    return {"inside_calls": pl["library.inside_s"] / whole,
            "library_self": sum(pl[f"{m}.self_s"] for m in report.MODULES) / whole,
            "catalyst": cat / whole,
            "task_run": pl["exec.task_run_s"] / whole,
            "streaming_batches": pl["streaming.batches"]}


def run_all(args, sp):
    """Each workload (or the one named) in `--pairs` alternating untraced
    and traced runs at one seed. Prints the seven end-to-end metrics (median
    of the untraced runs), the median layer shares of the traced runs, and
    the tracing overhead as the median traced minus the median untraced
    value."""
    rows = []
    for w in ([args.workload] if args.workload else WORKLOADS):
        recs = {0: [], 1: []}
        for _ in range(args.pairs):
            for t in (0, 1):
                a = argparse.Namespace(**{**vars(args), "workload": w, "trace": t})
                recs[t].append(run_one(a, time.time() + 900))
                print_report(recs[t][-1], sp)
        rows.append((w, recs))

    def med(rs, k):
        return stats.median([r["end_to_end"][k] for r in rs])
    cols = ["setup_s", "round_p50_s", "rows_per_s", "event_latency_p50_s",
            "event_latency_tail_s", "failed_ratio", "peak_rss_mb"]
    print(f"\nseed {args.seed}, untraced, median of {args.pairs} run(s):")
    print(f"  {'workload':18s}" + "".join(f"{c:>22s}" for c in cols))
    for w, recs in rows:
        print(f"  {w:18s}" + "".join(f"{med(recs[0], c):22.4f}" for c in cols))
    print(f"\nlayers of the traced runs as shares of round_p50_s (event_stream: of the "
          f"measured window), median of {args.pairs}:")
    for w, recs in rows:
        sh = [shares(r) for r in recs[1]]
        print(f"  {w:18s} " + ", ".join(f"{k} {stats.median([x[k] for x in sh]):.3f}"
                                         for k in sh[0]))
        for k in ("round_p50_s", "event_latency_p50_s"):
            diffs = [b["end_to_end"][k] - a["end_to_end"][k] for a, b in zip(recs[0], recs[1])]
            print(f"  {'':18s} trace overhead {k}: {med(recs[1], k) - med(recs[0], k):+.4f} s "
                  f"({(med(recs[1], k) - med(recs[0], k)) / med(recs[0], k):+.1%}); "
                  f"per pair {', '.join(f'{d:+.3f}' for d in diffs)}")
    bad = [w for w, recs in rows if any(r["failures"] for r in recs[0] + recs[1])]
    print(json.dumps({"correct": not bad, "failed_workloads": bad}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--pairs", type=int, default=5,
                    help="untraced/traced run pairs per workload with --all")
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    sp = spec()
    if args.all:
        run_all(args, sp)
        return
    if not args.workload:
        fail("--workload or --all is required")
    rec = run_one(args, start + RUN_DEADLINE_S)
    print_report(rec, sp)
    print(contract_line(rec, sp))


if __name__ == "__main__":
    main()
