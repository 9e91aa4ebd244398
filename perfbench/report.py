#!/usr/bin/env python3
"""Trace report: turns a traced run's span file into the per-layer table.

    python3 perfbench/report.py --workload batch_iterative [--seed 1]

reads `perfbench/work/results/<workload>-seed<seed>-trace1.{json,spans.jsonl}`
as written by `run.py --trace 1`, and, when the matching untraced result
(`...-trace0.json`) exists, reports the tracing overhead as traced minus
untraced `round_p50_s` and `event_latency_p50_s`.

Layers are the library's modules (`api`, `algorithms`, `operators`,
`functions`, `streaming`) timed around the benchmark's calls into them, and
the Spark layers beneath: Catalyst (`catalyst.*`, from each executed plan's
phase tracker) and the scheduler/executor (`exec.*`, from job, stage and
task listener events). A module's self time is its call spans' time not
covered by child spans: the Spark jobs the call launched (tied to it by a
job-local property) and the Catalyst phases that ran inside it.

Spans whose parent is missing are listed, never folded into another layer:
a job without the property (launched from a thread that did not inherit it)
or naming a span that does not enclose it in time.
"""
import argparse
import json
import os
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
MODULES = ("api", "algorithms", "operators", "functions", "streaming")
OWN_KINDS = ("round", "pipeline", "call", "action", "query", "check")
MB = 1024.0 * 1024.0
# job/stage times are whole milliseconds; allow that much slack when
# checking that a job lies inside the span it names
CLOCK_SLACK_US = 2000


def load_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def resolve(spans):
    """Index spans by id, attach Catalyst phases to the innermost own span
    containing them, and return (by_id, children, orphans)."""
    by_id = {s["id"]: s for s in spans}
    own = sorted((s for s in spans if s["kind"] in OWN_KINDS),
                 key=lambda s: s["end_us"] - s["start_us"])
    for s in spans:
        if s["kind"] == "catalyst":
            # phase times are whole milliseconds: place the phase by its midpoint
            mid = (s["start_us"] + s["end_us"]) // 2
            s["parent"] = next((o["id"] for o in own if o["start_us"] <= mid <= o["end_us"]), -1)
    children = {}
    orphans = []
    for s in spans:
        p = by_id.get(s["parent"])
        if s["parent"] == 0:
            continue
        if p is None:
            orphans.append((s, "no parent span"))
            continue
        if s["kind"] == "job" and not (p["start_us"] - CLOCK_SLACK_US <= s["start_us"]
                                       and s["end_us"] <= p["end_us"] + CLOCK_SLACK_US):
            orphans.append((s, f"outside its parent {p['kind']} {p['name']}"))
            continue
        children.setdefault(s["parent"], []).append(s)
    return by_id, children, orphans


def ancestor_round(s, by_id):
    """The benchmark round a span belongs to, through its parent chain."""
    seen = 0
    while s is not None and seen < 64:
        if s["kind"] in OWN_KINDS:
            return s["round"]
        s = by_id.get(s["parent"])
        seen += 1
    return None


def layer_metrics(spans, result):
    """Per-layer metrics of one traced run. Batch workloads report per
    measured round (round ≥ 1); event_stream reports totals over its
    measured window."""
    by_id, children, orphans = resolve(spans)
    stream = result["workload"] == "event_stream"
    if stream:
        w0, w1 = (x * 1000 for x in result["window_ms"])

        def measured(s):
            return w0 <= s["start_us"] <= w1
        per = 1.0
    else:
        def measured(s):
            r = ancestor_round(s, by_id)
            return r is not None and r >= 1
        per = float(sum(1 for r in result["rounds"] if r["round"] >= 1))

    def dur(s):
        return (s["end_us"] - s["start_us"]) / 1e6

    def self_s(s):
        kids = [(c["start_us"], c["end_us"]) for c in children.get(s["id"], [])]
        return stats.self_time((s["start_us"], s["end_us"]), kids) / 1e6

    m = {}
    calls = [s for s in spans if s["kind"] == "call" and measured(s)]
    for mod in MODULES:
        mine = [s for s in calls if s["module"] == mod]
        m[f"{mod}.self_s"] = sum(self_s(s) for s in mine) / per
        m[f"{mod}.jobs"] = sum(1 for s in mine for c in children.get(s["id"], [])
                               if c["kind"] == "job") / per
    # wall time inside algorithms/operators/functions calls, jobs included
    m["library.inside_s"] = sum(dur(s) for s in calls if s["module"] in
                                ("algorithms", "operators", "functions")) / per
    api = [s for s in calls if s["module"] == "api"]
    m["api.build_s"] = sum(self_s(s) for s in api if not s["name"].startswith("Stream.write")) / per
    m["api.write_s"] = sum(dur(s) for s in api if s["name"].startswith("Stream.write")) / per
    m["functions.cached_mb"] = sum(s["attrs"].get("cached_bytes", 0) for s in calls
                                   if s["module"] == "functions") / MB / per
    m["api.conf_leaks"] = float(len(result.get("conf_leaks", [])))

    cat = [s for s in spans if s["kind"] == "catalyst" and measured(s)]
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = sum(dur(s) for s in cat if s["name"] == phase) / per
    m["catalyst.plans"] = sum(1 for s in cat if s["name"] == "planning") / per

    jobs = [s for s in spans if s["kind"] == "job" and measured(s)]
    job_ids = {s["id"] for s in jobs}
    stages = [s for s in spans if s["kind"] == "stage" and s["parent"] in job_ids]
    a = lambda k: sum(s["attrs"].get(k, 0) for s in stages)  # noqa: E731
    m["exec.jobs"] = len(jobs) / per
    m["exec.stages"] = len(stages) / per
    m["exec.tasks"] = a("task_attempts") / per
    m["exec.task_run_s"] = a("run_ms") / 1e3 / per
    m["exec.task_cpu_s"] = a("cpu_ns") / 1e9 / per
    m["exec.task_gc_s"] = a("gc_ms") / 1e3 / per
    m["exec.task_wait_s"] = a("wait_ms") / 1e3 / per
    m["exec.shuffle_write_mb"] = a("shuffle_write") / MB / per
    m["exec.shuffle_read_mb"] = a("shuffle_read") / MB / per
    m["exec.spill_mb"] = a("spill_disk") / MB / per
    m["exec.peak_exec_mem_mb"] = max([s["attrs"].get("peak_exec_mem", 0) for s in stages],
                                     default=0) / MB
    m["exec.output_mb"] = a("output") / MB / per
    attempts = a("task_attempts")
    m["exec.task_success_ratio"] = a("task_succeeded") / attempts if attempts else 1.0

    trig = [s for s in spans if s["kind"] == "trigger" and measured(s)]
    d = lambda k: sum(s["attrs"]["duration_ms"].get(k, 0) for s in trig) / 1e3  # noqa: E731
    m["streaming.batches"] = float(len(trig))
    m["streaming.trigger_p50_s"] = stats.median([dur(s) for s in trig]) if trig else 0.0
    m["streaming.add_batch_s"] = d("addBatch")
    m["streaming.wal_commit_s"] = d("walCommit")
    m["streaming.planning_s"] = d("queryPlanning")
    m["streaming.empty_batch_ratio"] = (sum(1 for s in trig if s["attrs"]["input_rows"] == 0)
                                        / len(trig)) if trig else 0.0
    last = {}
    for s in sorted(trig, key=lambda s: s["start_us"]):
        last[s["name"]] = s
    m["streaming.state_rows"] = float(sum(s["attrs"]["state_rows"] for s in last.values()))
    m["streaming.state_mem_mb"] = sum(s["attrs"]["state_mem"] for s in last.values()) / MB
    if stream:
        # offered by the window's end but not yet through the slower query
        t1_ns = result["window_ns"][1]
        offered = sum(n for at, _, n in result["ticks"] if at <= t1_ns)
        done = min(stats.events_processed(result["ticks"], result["progress"], q,
                                          result["window_ms"][1])
                   for q in ("tumbling", "sessions"))
        m["streaming.backlog_events"] = float(max(offered - done, 0))
        lags = [lag for at, lag, _ in result["ticks"]
                if result["window_ns"][0] <= at <= t1_ns]
        m["gen.lag_s"] = stats.percentile(lags, 99) / 1e9 if lags else 0.0
    else:
        m["streaming.backlog_events"] = 0.0
        m["gen.lag_s"] = 0.0
    return m, orphans, counts_by_round(spans, by_id, result)


def counts_by_round(spans, by_id, result):
    """Per round, warm-up rounds included: (jobs, stages, tasks, shuffle
    bytes written), to show whether the counts repeat exactly from round to
    round."""
    if result["workload"] == "event_stream":
        return {}
    out = {}
    jobs = {}
    for s in spans:
        if s["kind"] == "job":
            r = ancestor_round(s, by_id)
            if r:   # None: unattributed; 0: the benchmark's own checks
                jobs[s["id"]] = r
                out.setdefault(r, [0, 0, 0, 0])[0] += 1
    for s in spans:
        if s["kind"] == "stage" and s["parent"] in jobs:
            c = out[jobs[s["parent"]]]
            c[1] += 1
            c[2] += s["attrs"].get("task_attempts", 0)
            c[3] += s["attrs"].get("shuffle_write", 0)
    return {r: tuple(c) for r, c in sorted(out.items())}


def print_table(m, orphans, counts, out=sys.stdout):
    for k in sorted(m):
        print(f"  {k:32s} {m[k]:14.4f}", file=out)
    for s, why in orphans[:20]:
        print(f"  ORPHAN {s['kind']} {s['name']}: {why}", file=out)
    if orphans:
        print(f"  orphan spans: {len(orphans)}", file=out)
    if counts:
        repeat = len(set(counts.values())) == 1
        print(f"  per-round (jobs, stages, tasks, shuffle bytes): {counts} "
              f"-> {'repeat exactly' if repeat else 'DIFFER between rounds'}", file=out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    base = os.path.join(HERE, "work", "results", f"{args.workload}-seed{args.seed}")
    with open(base + "-trace1.json") as f:
        traced = json.load(f)
    spans = load_spans(base + "-trace1.spans.jsonl")
    m, orphans, counts = layer_metrics(spans, traced["raw"])
    print(f"{args.workload} seed {args.seed}: per-layer metrics from {len(spans)} spans")
    print_table(m, orphans, counts)
    e2e = traced["end_to_end"]
    rp = e2e["round_p50_s"]
    print(f"  library self time: api {m['api.self_s']:.3f} s, algorithms "
          f"{m['algorithms.self_s']:.3f} s, operators {m['operators.self_s']:.3f} s, "
          f"functions {m['functions.self_s']:.3f} s, streaming {m['streaming.self_s']:.3f} s "
          f"per round of {rp:.3f} s (traced)")
    if os.path.exists(base + "-trace0.json"):
        with open(base + "-trace0.json") as f:
            plain = json.load(f)["end_to_end"]
        for k in ("round_p50_s", "event_latency_p50_s"):
            print(f"  trace overhead {k}: {e2e[k] - plain[k]:+.4f} s "
                  f"(traced {e2e[k]:.4f}, untraced {plain[k]:.4f})")
    else:
        print("  trace overhead: no untraced result for this seed; run with --trace 0 first")


if __name__ == "__main__":
    main()
