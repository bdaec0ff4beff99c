"""Output checks, percentile rules and the trace roll-up.

Pure functions over the raw JSON that perfbench.Main writes, so the self-tests
in selftest.py can feed them hand-made and perturbed inputs.
"""
import math
import statistics


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, sample_count). With n samples that is the
    (n - beyond)-th smallest value, at percentile 100 * (n - beyond) / n;
    with `beyond` samples or fewer there is no such percentile, and the
    value is None."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return None, None, n
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, n


def min_watermarks(chunks):
    """Per chunk of one pass, in order: the min-of-inputs watermark once
    that chunk is in (zero delay: each input's max event time so far)."""
    out, max_a, max_b = [], -math.inf, -math.inf
    for c in sorted(chunks, key=lambda c: c["chunk"]):
        max_a, max_b = max(max_a, c["max_ts_a"]), max(max_b, c["max_ts_b"])
        out.append((c, min(max_a, max_b)))
    return out


def attribute(chunks, window_end):
    """The chunk whose arrival first pushed the min watermark to or past
    `window_end` (Spark evicts a window once end <= watermark), or None."""
    for c, wm in min_watermarks(chunks):
        if wm >= window_end:
            return c
    return None


def check_pageview(chk):
    """Returns (errors, latencies_ms of windows attributed to measured
    chunks, passes checked)."""
    errors, lat = [], []
    expected = {(r["start"], r["url"]): r for r in chk["expected"]}
    if chk["rows_dropped_by_watermark"] != 0:
        errors.append(f"{chk['rows_dropped_by_watermark']} rows dropped by the watermark")
    passes = sorted({c["pass"] for c in chk["chunks"]})
    for p in passes:
        chunks = [c for c in chk["chunks"] if c["pass"] == p]
        if not all(c["ok"] for c in chunks):
            continue  # a failed chunk is counted as a failed op, not checked
        final_wm = min_watermarks(chunks)[-1][1]
        got = {}
        for e in (e for e in chk["emitted"] if e["pass"] == p):
            key = (e["start"], e["url"])
            if key in got:
                errors.append(f"pass {p}: window {key} fired twice")
            got[key] = e
        want = {k: r for k, r in expected.items() if r["end"] <= final_wm}
        if set(got) != set(want):
            errors.append(f"pass {p}: fired {len(got)} windows, expected {len(want)}: "
                          f"missing {sorted(set(want) - set(got))[:3]}, "
                          f"extra {sorted(set(got) - set(want))[:3]}")
        for key, e in got.items():
            if key in want and e["cnt"] != want[key]["cnt"]:
                errors.append(f"pass {p}: window {key} count {e['cnt']} != {want[key]['cnt']}")
            c = attribute(chunks, e["end"])
            if c is None or not c["add_ns"] <= e["arrival_ns"] <= c["done_ns"]:
                errors.append(f"pass {p}: window {key} did not fire in the chunk "
                              f"that carried the min watermark past its end")
            elif c["measured"]:
                lat.append((e["arrival_ns"] - c["add_ns"]) / 1e6)
    return errors, lat, len(passes)


def check_searches(searches):
    """Each served search must equal its index-free replay, row for row."""
    errors = []
    for s in searches:
        if [list(r) for r in s["served"]] != [list(r) for r in s["replayed"]]:
            errors.append(f"{s['kind']} search {s['terms']}: served {s['served']} "
                          f"!= index-free replay {s['replayed']}")
    if not searches:
        errors.append("no searches recorded")
    return errors


def compare(got, exp):
    """None when the two frames are equal in tools/check.py's canonical form
    (columns sorted by name, rows by every column), else why not."""
    from check import canon
    got, exp = canon(got), canon(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    if not got.equals(exp):
        return "values differ in " + ", ".join(c for c in got.columns if not got[c].equals(exp[c]))
    return None


def check_catalog(chk, data_dir):
    import duckdb
    import pandas as pd
    from check import TABLES
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    errors = []
    for name, sql in sorted(chk["oracle_sql"].items()):
        if sql is None:
            errors.append(f"{name}: no oracle")
            continue
        try:
            why = compare(pd.read_parquet(f"{chk['results']}/{name}"), con.execute(sql).fetchdf())
        except Exception as e:  # a missing result or an oracle error fails the check
            why = f"{type(e).__name__}: {e}"
        if why:
            errors.append(f"{name}: {why}")
    return errors


# ---- trace roll-up --------------------------------------------------------

def _innermost(spans, t):
    """Id of the innermost span containing time t (spans nest), or None."""
    best = None
    for s in spans:
        if s["start_us"] <= t <= s["end_us"] and (best is None or s["start_us"] >= best["start_us"]):
            best = s
    return None if best is None else best["id"]


def _union_us(intervals, lo, hi):
    total, cur = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= cur:
            continue
        total += b - max(a, cur)
        cur = b
    return total


def rollup(trace, wall_s):
    """Self time and engine counts per layer, from the traced segment."""
    spans = trace["spans"]
    by_id = {s["id"]: s for s in spans}
    layers = {}

    def layer(s):
        return layers.setdefault(s["layer"], {"spans": 0, "wall_ms": 0.0, "self_ms": 0.0,
                                              "jobs": 0, "tasks": 0, "executor_run_ms": 0.0})
    for s in spans:
        d = (s["end_us"] - s["start_us"]) / 1000
        L = layer(s)
        L["spans"] += 1
        L["wall_ms"] += d
        L["self_ms"] += d
        if s["parent"] >= 0:
            layer(by_id[s["parent"]])["self_ms"] -= d
    for t in trace["tasks"]:
        sid = _innermost(spans, t["at_us"])
        if sid is not None:
            L = layers[by_id[sid]["layer"]]
            L["tasks"] += 1
            L["executor_run_ms"] += t["run_ms"]
    starts = {j["id"]: j["start_us"] for j in trace["jobs"] if "start_us" in j}
    for sid in (_innermost(spans, u) for u in starts.values()):
        if sid is not None:
            layers[by_id[sid]["layer"]]["jobs"] += 1
    roots = sum((s["end_us"] - s["start_us"]) / 1000 for s in spans if s["parent"] < 0)
    layers["perfbench"] = {"spans": 0, "wall_ms": wall_s * 1000, "self_ms": wall_s * 1000 - roots,
                           "jobs": 0, "tasks": 0, "executor_run_ms": 0.0}
    return layers


def per_layer(trace, traced, untraced_rate, traced_rate, cpus, families):
    """Every per-layer metric, from the traced segment's records. The
    tracing overhead compares the traced rate with `untraced_rate` (0 when
    there is none to compare with)."""
    spans, tasks, prog = trace["spans"], trace["tasks"], trace["progress"]
    wall_s = traced["counters"]["wall_s"]
    ctr = traced["counters"]

    def mean_span(layer, name=None):
        d = [(s["end_us"] - s["start_us"]) / 1000 for s in spans
             if s["layer"] == layer and (name is None or s["name"] == name)]
        return statistics.fmean(d) if d else 0.0

    def mean(xs):
        xs = list(xs)
        return statistics.fmean(xs) if xs else 0.0

    dur = lambda p, k: p["duration_ms"].get(k, 0)
    m = {
        "streaming.triggers": len(prog),
        "streaming.nodata_triggers": sum(1 for p in prog if p["input_rows"] == 0),
        "streaming.trigger_ms": statistics.median([dur(p, "triggerExecution") for p in prog]) if prog else 0.0,
        "streaming.add_batch_ms": mean(dur(p, "addBatch") for p in prog),
        "streaming.query_planning_ms": mean(dur(p, "queryPlanning") for p in prog),
        "streaming.wal_commit_ms": mean(dur(p, "walCommit") for p in prog),
        "streaming.commit_offsets_ms": mean(dur(p, "commitOffsets") for p in prog),
        "streaming.latest_offset_ms": mean(dur(p, "latestOffset") for p in prog),
        "streaming.state_rows_peak": max((p["state_rows"] for p in prog), default=0),
        "streaming.state_memory_bytes_peak": max((p["state_memory_bytes"] for p in prog), default=0),
        "streaming.state_commit_ms": mean(p["state_commit_ms"] for p in prog),
        "streaming.rows_dropped_by_watermark": sum(p["rows_dropped_by_watermark"] for p in prog),
        "streaming.source_add_ms": mean_span("streaming", "source_add"),
        "streaming.sink_ms": mean(traced["samples"].get("sink", [])),
        "streaming.wait_ms": mean_span("streaming", "wait"),
    }
    query_spans = [s for s in spans if s["layer"] in families]
    for f in families:
        m[f"{f}.wall_ms"] = mean_span(f)
    m["SparkEntry.build_ms"] = mean_span("SparkEntry", "build")
    plans = [(p, _innermost(query_spans, p["at_us"])) for p in trace["plans"]]
    n_q = max(len(query_spans), 1)
    for ph in ("analysis", "optimization", "planning"):
        m[f"plans.{ph}_ms"] = sum(p[f"{ph}_ms"] for p, sid in plans if sid is not None) / n_q
    ends = {j["id"]: j["end_us"] for j in trace["jobs"] if "end_us" in j}
    jobs = [(j["start_us"], ends[j["id"]]) for j in trace["jobs"] if "start_us" in j and j["id"] in ends]
    gaps = []
    for s in query_spans:
        lo, hi = s["start_us"], s["end_us"]
        planned = sum(p["analysis_ms"] + p["optimization_ms"] + p["planning_ms"]
                      for p, sid in plans if sid == s["id"])
        gaps.append((hi - lo - _union_us(jobs, lo, hi)) / 1000 - planned)
    m["SparkEntry.driver_gap_ms"] = mean(gaps)
    m.update({
        "operators.index_build_ms": mean_span("operators", "index_build"),
        "operators.index_append_ms": mean_span("operators", "index_append"),
        "operators.index_bytes_per_doc": ctr.get("operators.index_bytes_per_doc", 0.0),
        "operators.index_files": ctr.get("operators.index_files", 0.0),
        "operators.index_ensure_probe_ms": mean_span("operators", "index_ensure_probe"),
        "operators.index_search_ms": mean_span("operators", "index_search"),
        "operators.dedup_ms": mean_span("operators", "dedup"),
        "operators.minhash_candidates": ctr.get("operators.minhash_candidates", 0.0),
        "operators.verified_pairs": ctr.get("operators.verified_pairs", 0.0),
        "operators.verify_yield": ctr.get("operators.verify_yield", 0.0),
        "sources.load_ms": ctr.get("sources.load_ms", 0.0),
        "sources.input_bytes": sum(t["input_bytes"] for t in tasks),
        "sources.input_rows": sum(t["input_rows"] for t in tasks),
        "functions.bpe_count_ns_per_doc": ctr.get("functions.bpe_count_ns_per_doc", 0.0),
        "functions.hash60_ns_per_call": ctr.get("functions.hash60_ns_per_call", 0.0),
        "spark.jobs": len(jobs),
        "spark.stages": len(trace["stages"]),
        "spark.tasks": len(tasks),
        "spark.executor_run_ms": sum(t["run_ms"] for t in tasks),
        "spark.executor_cpu_ms": sum(t["cpu_ms"] for t in tasks),
        "spark.gc_ms": sum(t["gc_ms"] for t in tasks),
        "spark.shuffle_read_bytes": sum(t["shuffle_read_bytes"] for t in tasks),
        "spark.shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "spark.spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "spark.slot_busy_ratio": sum(t["run_ms"] for t in tasks) / (wall_s * 1000 * cpus),
        "trace.overhead_pct": (untraced_rate / traced_rate - 1) * 100
        if untraced_rate and traced_rate else 0.0,
    })
    return m
