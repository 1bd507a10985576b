#!/usr/bin/env python3
"""Per-micro-batch Spark jobs of a traced perfbench run.

Usage: trace_summary.py <trace.json> [<trace.json> ...]

Each argument is a trace that `perfbench/run.py --trace 1` wrote,
`.bench_out/trace-<workload>-<seed>.json`. For every stream micro-batch
(`stream.trigger` span) it prints the Spark jobs that ran under it, in
start order, each with its task count, wall time and the span that
submitted it, then the batch's `sink.write` self time (the span's
duration minus the jobs and child spans it covers). A last line gives
the medians over the batches. Task counts come from the harness record
beside the trace (`raw-<workload>-<seed>-trace1.json`); without it they
print as `?`.
"""
import json
import os
import statistics
import sys
from collections import defaultdict


def task_counts(trace_path):
    """job span id ('job<N>') -> task count, from the raw record beside the trace."""
    d, name = os.path.split(trace_path)
    raw = os.path.join(d, name.replace("trace-", "raw-", 1)[:-len(".json")] + "-trace1.json")
    if not os.path.exists(raw):
        return {}
    with open(raw) as fh:
        return {f"job{j['id']}": j["tasks"] for j in json.load(fh).get("jobs", [])}


def batches(spans):
    """(batch id, [(job span, submitting span name)], sink.write self ms) per micro-batch."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = []
    for trig in sorted((s for s in spans if s["name"] == "stream.trigger"),
                       key=lambda s: s["start"]):
        jobs, sink_self = [], None
        stack = [trig]
        while stack:
            s = stack.pop()
            if s["name"] == "sink.write":
                sink_self = s["self_ms"]
            for c in kids.get(s["id"], []):
                if c["kind"] == "job":
                    jobs.append((c, s["name"]))
                else:
                    stack.append(c)
        jobs.sort(key=lambda js: js[0]["start"])
        out.append((trig.get("batch"), jobs, sink_self))
    return out


def summarize(path):
    with open(path) as fh:
        spans = json.load(fh)["spans"]
    tasks = task_counts(path)
    print(path)
    per_batch = batches(spans)
    for batch, jobs, sink_self in per_batch:
        sink = "-" if sink_self is None else f"{sink_self:.0f} ms"
        print(f"batch {batch}: {len(jobs)} jobs, sink.write self {sink}")
        for j, under in jobs:
            print(f"  {j['id']:>7} {tasks.get(j['id'], '?'):>3} tasks "
                  f"{j['dur_ms']:7.0f} ms  {under}")
    if per_batch:
        sinks = [s for _, _, s in per_batch if s is not None]
        print(f"median over {len(per_batch)} batches: "
              f"{statistics.median(len(j) for _, j, _ in per_batch):g} jobs, "
              f"sink.write self {statistics.median(sinks) if sinks else float('nan'):.0f} ms")


def main(argv):
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    for i, path in enumerate(argv):
        if i:
            print()
        summarize(path)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
