"""Metric computation from a harness run's raw record.

Pure functions over the raw JSON the harness writes: freshness
attribution, the percentile rule, span self times, and the end-to-end
and per-layer metric sets. Unit-tested in perfbench/tests.
"""
import bisect
import json
import os
import statistics

# name -> (unit, better); the order is the print order
END_TO_END = {
    "setup_s": ("s", "lower"),
    "work_s": ("s", "lower"),
    "latency_p50_ms": ("ms", "lower"),
    "latency_tail_ms": ("ms", "lower"),
    "heap_live_mb": ("MiB", "lower"),
}

# StreamingQueryProgress.durationMs key -> metric name part
STREAM_PHASES = {"latestOffset": "latest_offset", "getBatch": "get_batch",
                 "queryPlanning": "query_planning", "addBatch": "add_batch",
                 "walCommit": "wal_commit", "commitOffsets": "commit_offsets"}
PER_LAYER = {
    "cdc.decode_msgs_per_s": ("1/s", "higher"),
    "cdc.decode_busy_ms": ("ms", "lower"),
    "gen.late_p90_ms": ("ms", "lower"),
    "stream.start_ms": ("ms", "lower"),
    "stream.batches": ("count", "lower"),
    "stream.rows_per_batch_p50": ("count", "higher"),
    **{f"stream.{p}_ms": ("ms", "lower") for p in STREAM_PHASES.values()},
    "stream.backlog_max_events": ("count", "lower"),
    "pipeline.process_batch_ms_p50": ("ms", "lower"),
    "pipeline.overhead_ms": ("ms", "lower"),
    "sink.write_ms_p50": ("ms", "lower"),
    "sink.write_ms_p90": ("ms", "lower"),
    "sink.rows": ("count", "higher"),
    "sink.retries": ("count", "lower"),
    "sink.dlq_rows": ("count", "lower"),
    "read.p50_ms": ("ms", "lower"),
    "read.p90_ms": ("ms", "lower"),
    "lakehouse.snapshots": ("count", "lower"),
    "lakehouse.live_files": ("count", "lower"),
    "lakehouse.write_amp": ("ratio", "lower"),
    "lakehouse.space_amp": ("ratio", "lower"),
    "lakehouse.read_count_ms": ("ms", "lower"),
    "lakehouse.read_range_ms": ("ms", "lower"),
    "lakehouse.read_point_ms": ("ms", "lower"),
    "lakehouse.read_timetravel_ms": ("ms", "lower"),
    "lakehouse.files_scanned_range": ("count", "lower"),
    "lakehouse.files_scanned_point": ("count", "lower"),
    "lakehouse.prune_ratio": ("ratio", "higher"),
    "lakehouse.compact_ms": ("ms", "lower"),
    "lakehouse.fold_ms": ("ms", "lower"),
    **{f"spark.{m}": (u, "lower") for m, u in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("job_wall_ms", "ms"),
        ("driver_ms", "ms"), ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"),
        ("spill_bytes", "B"), ("gc_ms", "ms"), ("executor_run_ms", "ms"))},
    "query.relational_s": ("s", "lower"),
    "query.llm_s": ("s", "lower"),
    "query.lakehouse_s": ("s", "lower"),
    "query.total_s": ("s", "lower"),
    "query.analysis_ms": ("ms", "lower"),
    "query.optimization_ms": ("ms", "lower"),
    "query.planning_ms": ("ms", "lower"),
    "host.calib_s": ("s", "lower"),
    "host.loadavg": ("load", "lower"),
}
QUERY_NAMES = [
    "q01_pricing_summary", "q03_shipping_priority", "q10_regional_revenue", "q14_cube",
    "q38_session_window", "q89_scd2_history", "q47_ngram_jaccard", "q57_tfidf",
    "q67_neardup_lsh", "q77_dedup_clusters", "q103_simhash_neardup", "q111_ann_ivfpq",
    "q99_retrieval_serve", "q61_lakehouse_timetravel", "q117_lakehouse_dsv2_scan",
    "q127_sql_dml", "q130_runtime_prune", "q136_native_mor_scan", "q114_ann_index_reuse"]
PER_LAYER.update({f"query.{q.split('_')[0]}_s": ("s", "lower") for q in QUERY_NAMES})

MIN_BEYOND = 10


# ---------------------------------------------------------------- percentiles

def percentile(xs, q):
    """Linear-interpolated q-quantile (0 <= q <= 1) of a non-empty sample."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of an empty sample")
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def supported(n, q):
    """The percentile rule: a q-quantile of n samples is reported only
    when at least MIN_BEYOND samples lie beyond it."""
    return n * (1.0 - q) >= MIN_BEYOND - 1e-9


def tail_level(n, cap=0.9):
    """Highest quantile up to `cap` the rule supports for n samples; the
    median when no quantile above it is supported."""
    q = min(cap, 1.0 - MIN_BEYOND / n) if n > 0 else 0.5
    return q if q > 0.5 and supported(n, q) else 0.5


def summary(xs, cap=0.9):
    """Median and rule-supported tail of a sample, with the count."""
    if not xs:
        return {"n": 0, "p50": 0.0, "tail": 0.0, "tail_q": 0.5}
    q = tail_level(len(xs), cap)
    return {"n": len(xs), "p50": percentile(xs, 0.5), "tail": percentile(xs, q), "tail_q": q}


# ---------------------------------------------------------- freshness attribution

def commit_ends(progress):
    """Commit end (ms) of every micro-batch: the end of its trigger."""
    return {p["batch"]: p["start"] + p["durations"].get("triggerExecution", 0) for p in progress}


def attribute(batch_end, file_batch, first_open, files, per_file):
    """Freshness of every open-loop event.

    `file_batch` maps each published file (by index) to the micro-batch
    that read it, as recorded by the stream's own source log;
    `batch_end` gives each batch's commit end. Open-loop file t has index
    `first_open + t`, was due at `files[t][0]` and holds `per_file`
    events that share its due time. An event's freshness is the commit
    end of the batch that delivered it minus its due time. Returns
    (freshness_ms per event, count of events never committed).
    """
    fresh, missing = [], 0
    for t, f in enumerate(files):
        due = f[0]
        b = file_batch.get(first_open + t)
        if b is None or b not in batch_end:
            missing += per_file
        else:
            fresh.extend([batch_end[b] - due] * per_file)
    return fresh, missing


def backlog_series(batch_end, file_batch, first_open, files, per_file, go):
    """Open-loop events published but not yet committed, at each commit
    after `go`."""
    pubs = sorted(f[1] for f in files)
    done = sorted(batch_end[file_batch[first_open + t]] for t in range(len(files))
                  if file_batch.get(first_open + t) in batch_end)
    out = []
    for end in sorted(e for e in batch_end.values() if e >= go):
        out.append((bisect.bisect_right(pubs, end) - bisect.bisect_right(done, end)) * per_file)
    return out


# ------------------------------------------------------------------- spans

def self_times(spans, jobs):
    """Attach each job to its submitting span (descending into the
    deepest child span that encloses the job's start) and compute every
    span's self time: its duration minus the part its children cover."""
    nodes = {s["id"]: dict(s, kind="span", children=[]) for s in spans}
    for s in nodes.values():
        if s["parent"] in nodes:
            nodes[s["parent"]]["children"].append(s["id"])
    out = list(nodes.values())
    for j in jobs:
        if j.get("end") is None:
            continue
        sid = j["span"]
        while sid in nodes:
            inner = [c for c in nodes[sid]["children"]
                     if nodes[c]["kind"] == "span" and nodes[c]["start"] <= j["start"] <= nodes[c]["end"]]
            if not inner:
                break
            sid = inner[0]
        jid = f"job{j['id']}"
        nodes[jid] = {"id": jid, "parent": sid if sid in nodes else 0, "kind": "job",
                      "name": "spark.job", "start": j["start"], "end": j["end"], "children": []}
        if sid in nodes:
            nodes[sid]["children"].append(jid)
        out.append(nodes[jid])
    for n in out:
        ivs = sorted((max(nodes[c]["start"], n["start"]), min(nodes[c]["end"], n["end"]))
                     for c in n["children"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        n["dur_ms"] = n["end"] - n["start"]
        n["self_ms"] = n["dur_ms"] - covered
    for n in out:
        n.pop("children", None)
    return out


def stream_spans(progress, first_id=10**9):
    """Trigger and processBatch spans reconstructed from progress events
    (phases run in order; addBatch is the foreachBatch body that runs
    ChangePipeline.processBatch)."""
    out = []
    for i, p in enumerate(sorted(progress, key=lambda p: p["batch"])):
        d = p["durations"]
        end = p["start"] + d.get("triggerExecution", 0)
        tid = first_id + 2 * i
        out.append({"id": tid, "parent": None, "name": "stream.trigger", "start": p["start"],
                    "end": end, "batch": p["batch"]})
        pe = end - d.get("commitOffsets", 0)
        out.append({"id": tid + 1, "parent": tid, "name": "pipeline.processBatch",
                    "start": pe - d.get("addBatch", 0), "end": pe, "batch": p["batch"]})
    return out


# ------------------------------------------------------------------- compute

def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _unit_jobs(jobs, windows):
    """Per-unit (batch or query) sums of job counters; windows: (start, end)."""
    units = []
    starts = [w[0] for w in windows]
    acc = [dict(jobs=0, stages=0, tasks=0, job_wall_ms=0.0, shuffle_read_bytes=0,
                shuffle_write_bytes=0, spill_bytes=0, gc_ms=0, executor_run_ms=0)
           for _ in windows]
    for j in jobs:
        if j.get("end") is None:
            continue
        i = bisect.bisect_right(starts, j["start"]) - 1
        if i < 0 or j["start"] > windows[i][1]:
            continue
        a = acc[i]
        a["jobs"] += 1
        a["stages"] += j["stages"]
        a["tasks"] += j["tasks"]
        a["job_wall_ms"] += j["end"] - j["start"]
        a["shuffle_read_bytes"] += j["shuffle_read"]
        a["shuffle_write_bytes"] += j["shuffle_write"]
        a["spill_bytes"] += j["spill"]
        a["gc_ms"] += j["gc_ms"]
        a["executor_run_ms"] += j["run_ms"]
    for (s, e), a in zip(windows, acc):
        a["driver_ms"] = max(0.0, (e - s) - a["job_wall_ms"])
        units.append(a)
    return units


def _phase_sums(phases, windows):
    """Per-window sums of QueryPlanningTracker phases. Executions are
    matched by when their listener event arrived, which can trail the
    window's end by a few milliseconds."""
    ends = sorted(phases, key=lambda p: p["end"])
    out = []
    for s, e in windows:
        sel = [p for p in ends if s <= p["end"] <= e + 50]
        out.append({k: sum(p.get(k, 0.0) for p in sel) for k in ("analysis", "optimization", "planning")})
    return out


def compute(raw, expected):
    """The result record of one run: checks, counts, e2e and layer metrics."""
    w = raw["workload"]
    checks, attempted, failed = [], 0, 0
    e2e = {k: 0.0 for k in END_TO_END}
    layer = {k: 0.0 for k in PER_LAYER}
    extra = {}
    spans = []
    if raw.get("fatal"):
        checks.append({"name": "harness", "ok": False, "detail": raw["fatal"]})
        failed += 1
        attempted += 1
    e2e["setup_s"] = _med(raw.get("setup_s", []))
    e2e["heap_live_mb"] = raw.get("heap_live_mb", 0.0)
    layer["host.calib_s"] = raw.get("calib_pre_s", 0.0)
    layer["host.loadavg"] = raw.get("loadavg_pre", 0.0)
    extra["calib_post_s"] = raw.get("calib_post_s")
    jobs = raw.get("jobs", [])
    phases = raw.get("phases", [])

    if w.startswith("cdc_") and "gen" in raw:
        gen = json.loads(raw["gen"])
        batch_end = commit_ends(raw["progress"])
        file_batch = {f: b for b, f in raw["batch_files"]}
        backlog, per_file = gen["backlog_events"], gen["events_per_file"]
        first_open = gen["backlog_files"]
        files = gen["open_files"]
        t_start = raw["stream_start_call_ms"]
        drain_batch = max((file_batch.get(f, 10**12) for f in range(first_open)), default=None)
        drain_end = batch_end.get(drain_batch)
        e2e["work_s"] = (drain_end - t_start) / 1000.0 if drain_end else 0.0
        fresh, missing = attribute(batch_end, file_batch, first_open, files, per_file)
        fs = summary(fresh)
        e2e["latency_p50_ms"], e2e["latency_tail_ms"] = fs["p50"], fs["tail"]
        extra["freshness"] = fs
        extra["drain_msgs_per_s"] = backlog / e2e["work_s"] if e2e["work_s"] else 0.0
        bl = backlog_series(batch_end, file_batch, first_open, files, per_file, gen["go_ms"])
        half = len(bl) // 2
        extra["backlog_max_first_half"] = max(bl[:half], default=0)
        extra["backlog_max_second_half"] = max(bl[half:], default=0)
        late = [f[1] - f[0] for f in files]
        extra["gen_late"] = summary(late)

        n_files = first_open + len(files)
        committed = sum(1 for f in range(n_files) if file_batch.get(f) in batch_end)
        rows_in = {}
        for f, b in file_batch.items():
            n = per_file if f >= first_open else min(gen["backlog_file_events"], backlog - f * gen["backlog_file_events"])
            rows_in[b] = rows_in.get(b, 0) + n
        attempted += len(rows_in) + 1
        checks.append({"name": "all_events_committed", "ok": missing == 0 and committed == n_files,
                       "detail": f"{committed} of {n_files} files committed"})
        checks.append({"name": "content", "ok": raw["table_count"] == gen["expect_count"]
                       and raw["table_hash"] == gen["expect_hash"],
                       "detail": f"table {raw['table_count']} rows / hash {raw['table_hash']}, "
                                 f"model {gen['expect_count']} rows / hash {gen['expect_hash']}"})
        writes = raw["sink_writes"]
        bad_writes = sum(1 for s in writes if not s["ok"])
        failed += bad_writes + (0 if checks[-1]["ok"] and checks[-2]["ok"] else 1)
        reads = raw.get("reads", [])
        attempted += len(reads)
        failed += sum(1 for r in reads if r["error"])
        rl = summary([r["end"] - r["due"] for r in reads])
        extra["reads"] = rl
        extra["reads_by_kind"] = {
            k: summary([r["end"] - r["due"] for r in reads if r["kind"] == k])
            for k in sorted({r["kind"] for r in reads})}

        layer["cdc.decode_msgs_per_s"] = gen["decode_msgs"] / (gen["decode_ns"] / 1e9) if gen["decode_ns"] else 0.0
        layer["cdc.decode_busy_ms"] = gen["decode_ns"] / 1e6
        layer["gen.late_p90_ms"] = percentile(late, 0.9) if late else 0.0
        prog = sorted((p for p in raw["progress"] if p["batch"] in rows_in), key=lambda p: p["batch"])
        if prog:
            layer["stream.start_ms"] = prog[0]["start"] - t_start
        layer["stream.batches"] = len(prog)
        layer["stream.rows_per_batch_p50"] = _med(list(rows_in.values()))
        for key, name in STREAM_PHASES.items():
            layer[f"stream.{name}_ms"] = _med([p["durations"].get(key, 0) for p in prog])
        layer["stream.backlog_max_events"] = max(bl, default=0)
        add = {p["batch"]: p["durations"].get("addBatch", 0) for p in prog}
        wdur = {s["batch"]: s["end"] - s["start"] for s in writes}
        layer["pipeline.process_batch_ms_p50"] = _med(list(add.values()))
        layer["pipeline.overhead_ms"] = _med([add[b] - wdur[b] for b in add if b in wdur])
        wd = [s["end"] - s["start"] for s in writes]
        layer["sink.write_ms_p50"] = _med(wd)
        layer["sink.write_ms_p90"] = percentile(wd, 0.9) if wd else 0.0
        extra["sink_write_n"] = len(wd)
        layer["sink.rows"] = sum(rows_in.values())
        layer["sink.retries"] = bad_writes
        layer["sink.dlq_rows"] = raw.get("dlq_rows", 0)
        layer["read.p50_ms"] = rl["p50"]
        layer["read.p90_ms"] = percentile([r["end"] - r["due"] for r in reads], 0.9) if reads else 0.0
        lake = raw.get("lake")
        if lake:
            layer["lakehouse.snapshots"] = lake["snapshots"]
            layer["lakehouse.live_files"] = lake["live_files"]
            layer["lakehouse.write_amp"] = lake["written_bytes"] / gen["bytes_published"]
            layer["lakehouse.space_amp"] = lake["live_bytes"] / max(lake["compacted_bytes"], 1)
            for k, v in lake["read_ms"].items():
                layer[f"lakehouse.read_{k}_ms"] = v
            layer["lakehouse.files_scanned_range"] = lake["files_scanned_range"]
            layer["lakehouse.files_scanned_point"] = lake["files_scanned_point"]
            n_files = lake["files_scanned_range"] + lake["files_skipped_range"]
            layer["lakehouse.prune_ratio"] = lake["files_skipped_range"] / n_files if n_files else 0.0
            layer["lakehouse.compact_ms"] = lake["compact_ms"]
            layer["lakehouse.fold_ms"] = lake["fold_ms"]
        windows = [(p["start"], p["start"] + p["durations"].get("triggerExecution", 0)) for p in prog]
        stream_jobs = jobs
        if jobs:
            stream_ids = {s["id"] for s in raw.get("spans", []) if s["name"] in ("stream", "sink.write")}
            stream_jobs = [j for j in jobs if j["span"] in stream_ids]
        units = _unit_jobs(stream_jobs, windows)
        ph = _phase_sums(phases, windows)
        if raw["trace"]:
            spans = self_times(raw.get("spans", []) + _link_stream(raw, stream_spans(raw["progress"]))
                               + generator_spans(files), jobs)

    elif w == "query_mix":
        qs = raw.get("queries", [])
        exp = expected.get("queries", {})
        bad = []
        for q in qs:
            attempted += 1
            e = exp.get(q["query"])
            ok = not q["error"] and e is not None and e["rows"] == q["rows"] and e["hash"] == q["hash"]
            if not ok:
                failed += 1
                bad.append(f"{q['query']}#{q['pass']}: {q['error'] or (q['rows'], q['hash'])}")
        checks.append({"name": "query_results", "ok": not bad and bool(qs),
                       "detail": f"{len(qs) - len(bad)} of {len(qs)} executions match the recorded results"
                                 + ("; " + "; ".join(bad[:5]) if bad else "")})
        times = [(q["end"] - q["start"]) for q in qs]
        passes = sorted({q["pass"] for q in qs})
        pass_tot = [sum(q["end"] - q["start"] for q in qs if q["pass"] == p) / 1000.0 for p in passes]
        e2e["work_s"] = _med(pass_tot)
        ls = summary(times)
        e2e["latency_p50_ms"], e2e["latency_tail_ms"] = ls["p50"], ls["tail"]
        extra["latency"] = ls
        per_q = {n: _med([(q["end"] - q["start"]) / 1000.0 for q in qs if q["query"] == n])
                 for n in QUERY_NAMES}
        for n, v in per_q.items():
            layer[f"query.{n.split('_')[0]}_s"] = v
        groups = {}
        for q in qs:
            groups.setdefault(q["group"], set()).add(q["query"])
        for g, names in groups.items():
            layer[f"query.{g}_s"] = sum(per_q[n] for n in names)
        layer["query.total_s"] = sum(per_q.values())
        windows = [(q["start"], q["end"]) for q in qs]
        units = _unit_jobs(jobs, windows)
        ph = _phase_sums(phases, windows)
        extra["per_query"] = {}
        for q, u in zip(qs, units):
            rec = {"s": (q["end"] - q["start"]) / 1000.0}
            if raw["trace"]:
                rec.update(jobs=u["jobs"], driver_ms=u["driver_ms"])
            extra["per_query"][f"{q['query']}#{q['pass']}"] = rec
        if raw["trace"]:
            spans = self_times(raw.get("spans", []), jobs)
    else:
        units, ph = [], []

    if raw["trace"] and units:
        for k in ("jobs", "stages", "tasks", "job_wall_ms", "driver_ms", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "gc_ms", "executor_run_ms"):
            layer[f"spark.{k}"] = _med([u[k] for u in units])
        # per batch (CDC) or summed over a pass (query_mix)
        for k in ("analysis", "optimization", "planning"):
            if w == "query_mix":
                layer[f"query.{k}_ms"] = sum(p[k] for p in ph) / max(len(set(q["pass"] for q in raw["queries"])), 1)
            else:
                layer[f"query.{k}_ms"] = _med([p[k] for p in ph])

    correct = all(c["ok"] for c in checks) and bool(checks)
    return {"workload": w, "seed": raw["seed"], "trace": raw["trace"], "seconds": raw["seconds"],
            "correct": correct, "attempted": max(attempted, 1), "failed": failed,
            "checks": checks, "e2e": e2e, "layer": layer, "extra": extra,
            "setup_reps_s": raw.get("setup_s", []), "spans": spans}


def generator_spans(files, first_id=2 * 10**9):
    """Publish spans of the generator's open-loop files, each with its
    decode child, from the generator's log."""
    out = []
    for t, (due, pub, start, d0, d1) in enumerate(files):
        out.append({"id": first_id + 2 * t, "parent": 0, "name": "gen.publish",
                    "start": start, "end": pub, "due": due})
        out.append({"id": first_id + 2 * t + 1, "parent": first_id + 2 * t,
                    "name": "cdc.decode", "start": d0, "end": d1})
    return out


def _link_stream(raw, recon):
    """Hang reconstructed trigger spans under the stream span and each
    sink.write span under its batch's processBatch span."""
    stream = [s for s in raw.get("spans", []) if s["name"] == "stream"]
    sid = stream[0]["id"] if stream else 0
    by_batch = {}
    for s in recon:
        if s["parent"] is None:
            s["parent"] = sid
        if s["name"] == "pipeline.processBatch":
            by_batch[s["batch"]] = s["id"]
    for s in raw.get("spans", []):
        if s["name"] == "sink.write" and s.get("batch") in by_batch:
            s["parent"] = by_batch[s["batch"]]
    return recon


# ------------------------------------------------------------ tracing overhead

def tracing_overhead(results_path, workload, traced_e2e):
    """Traced value minus the median of earlier untraced runs, per e2e
    metric (empty when no untraced run of the workload is on record)."""
    if not os.path.exists(results_path):
        return {}
    vals = {}
    with open(results_path) as fh:
        for line in fh:
            r = json.loads(line)
            if r["workload"] == workload and not r["trace"] and r["correct"]:
                for k, v in r["e2e"].items():
                    vals.setdefault(k, []).append(v)
    return {k: {"untraced_median": statistics.median(v), "traced": traced_e2e[k],
                "overhead": traced_e2e[k] - statistics.median(v)} for k, v in vals.items()}
