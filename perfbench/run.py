#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one JVM, one JSON line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
JVM runner with sbt (perfbench/build.sbt) into .bench_build/; later runs reuse
the build while the sources are unchanged. Inputs are generated from the
seed (gen.py), the runner (src/main/scala/perfbench) runs the workload at
local[N] as a closed loop with one client, and this script checks the
outputs and prints the metrics. The last stdout line is
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones;
a traced run also writes its spans and layer roll-up to
.bench_build/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
# tools/ for the oracle compare's canonical form (tools/check.py)
sys.path[:0] = [HERE, os.path.join(ROOT, "tools")]
import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("pageview_skew", "catalog_sweep")
FAMILIES = ("CoreQueries", "RelationalQueries", "TextQueries", "DedupQueries", "WindowQueries")
# JDK 17 module opens Spark needs outside spark-submit (Spark's
# JavaModuleOptions, as the engine's build.sbt passes them)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]
DEADLINE_S = 170


T0 = time.monotonic()


def log(msg):
    print(f"[perfbench {time.monotonic() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the runner; return the runtime classpath."""
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    log("building the engine and the runner with sbt")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
         "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=os.path.join(ROOT, "perfbench"), capture_output=True, text=True, timeout=840)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("sbt build failed")
    cp = [ln for ln in out.stdout.splitlines() if ln.endswith(".jar") or "classes" in ln]
    if not cp:
        raise SystemExit("sbt printed no classpath")
    open(cp_file, "w").write(cp[-1].strip())
    open(stamp_file, "w").write(stamp)
    return cp[-1].strip()


def run_jvm(cp, args, work, budget_s):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # temp files inside the checkout; no hsperfdata file under the system /tmp
    cmd = [java, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"the runner did not finish within {budget_s:.0f} s")


def end_to_end(raw, latencies, rate, units):
    seg = raw["segments"]["untraced"]
    lat_tail, pct, n = metrics.tail(latencies)
    log(f"latency samples {n}; tail = p{pct:.1f} (10 samples beyond it)" if pct
        else f"latency samples {n}: too few for a tail percentile")
    vals = {
        "setup_s": statistics.median(raw["setup_s"]),
        "retained_heap_mb": raw["retained_heap_mb"],
        "items_per_s": rate,
        "latency_p50_ms": statistics.median(latencies) if latencies else 0.0,
        "latency_tail_ms": lat_tail or 0.0,
    }
    log(f"untraced segment: {seg['counters']['wall_s']:.1f} s, {seg['attempted']} ops")
    return {k: {"value": v, "unit": units[k]} for k, v in vals.items()}


def op_times(seg):
    """Every timed catalog operation of a segment: the queries (sampled
    under their own names) and the ingest step's operations."""
    return [t for ts in seg["samples"].values() for t in ts]


def throughput(workload, seg, chk):
    """Items per second of the measured segment: events per second of the
    median chunk (every chunk carries one hour of both inputs), or catalog
    operations per second of a round in which each operation (each query,
    each ingest step) takes its median time."""
    if workload == "pageview_skew":
        chunks = [c for c in chk["chunks"] if c["measured"] and c["ok"]]
        if not chunks:
            return 0.0
        return chunks[0]["events"] / statistics.median((c["done_ns"] - c["add_ns"]) / 1e9
                                                      for c in chunks)
    medians = [statistics.median(ts) for ts in seg["samples"].values()]
    return len(medians) / (sum(medians) / 1000) if medians else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("run from the repository root: the engine's build.sbt and "
                         "src/main/scala/graft are not here")
    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    started = time.monotonic()  # the first run's build has a budget of its own
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    for d in (data, os.path.join(work, "tmp")):
        os.makedirs(d)
    if a.workload == "catalog_sweep":
        gen.catalog_tables(a.seed, data)
    log("inputs generated; starting the runner")
    cpus = min(4, os.cpu_count() or 1)
    out = os.path.join(work, "raw.json")
    rc = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                      "--trace", str(a.trace), "--cpus", str(cpus), "--data", data,
                      "--work", work, "--out", out],
                 work, DEADLINE_S - (time.monotonic() - started))
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        raise SystemExit(f"the runner exited with {rc}")
    log("runner done")
    raw = json.load(open(out))
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    chk = raw["check"]
    seg = "traced" if a.trace else "untraced"

    if a.workload == "pageview_skew":
        errors, lat, passes = metrics.check_pageview(chk)
        log(f"checked {passes} passes, {len(chk['emitted'])} fired windows")
    else:
        errors = metrics.check_catalog(chk, data) + metrics.check_searches(chk["searches"])
        lat = op_times(raw["segments"][seg])
        log(f"checked {len(chk['oracle_sql'])} queries against DuckDB and "
            f"{len(chk['searches'])} fresh searches against index-free replays")
    for e in errors:
        log(f"CHECK FAILED: {e}")

    segs = [raw["warmup"]] + list(raw["segments"].values())
    attempted = sum(s["attempted"] for s in segs)
    failed = sum(s["failed"] for s in segs)
    rate = throughput(a.workload, raw["segments"][seg], chk)
    # untraced rates of this checkout's recent runs: the traced run's
    # overhead is measured against their median
    history = os.path.join(BUILD, f"untraced-{a.workload}.json")
    rates = json.load(open(history)) if os.path.exists(history) else []
    if a.trace == 0:
        result = end_to_end(raw, lat, rate, units)
        if not errors and failed == 0:
            json.dump((rates + [rate])[-9:], open(history, "w"))
    else:
        base = statistics.median(rates) if rates else None
        traced = raw["segments"]["traced"]
        vals = metrics.per_layer(raw["trace"], traced, base, rate, raw["cpus"], FAMILIES)
        vals["jvm.peak_rss_mb"] = raw["peak_rss_mb"]
        layers = metrics.rollup(raw["trace"], traced["counters"]["wall_s"])
        tdir = os.path.join(BUILD, "traces")
        os.makedirs(tdir, exist_ok=True)
        tfile = os.path.join(tdir, f"{a.workload}-seed{a.seed}.json")
        with open(tfile, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "layers": layers,
                       "per_layer": vals, "spans": raw["trace"]["spans"]}, f)
        log(f"trace written to {os.path.relpath(tfile, ROOT)}; self time per layer (ms):")
        for name, L in sorted(layers.items(), key=lambda kv: -kv[1]["self_ms"]):
            log(f"  {name:<20} self {L['self_ms']:10.1f}  wall {L['wall_ms']:10.1f}  "
                f"spans {L['spans']:5d}  jobs {L['jobs']:5d}  tasks {L['tasks']:6d}")
        if base is None:
            log("tracing overhead: no untraced run of this workload recorded in this checkout "
                "yet, reported as 0")
        else:
            log(f"tracing overhead: {vals['trace.overhead_pct']:+.1f}% (traced rate {rate:.4g}/s "
                f"vs median {base:.4g}/s of {len(rates)} untraced runs)")
        result = {k: {"value": v, "unit": units[k]} for k, v in vals.items()}
    want = {m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    if set(result) != want:
        raise SystemExit(f"metrics differ from BENCHMARK.json: {sorted(set(result) ^ want)}")
    for k, v in result.items():
        log(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": failed, "metrics": result}))


if __name__ == "__main__":
    main()
