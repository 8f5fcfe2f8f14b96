#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload serve-small --seed 1 --seconds 30 --trace 0

Builds the engine and the benchmark harness from source into .bench_build/
(once per source change), runs one workload in a fresh JVM, checks every
output, writes per-layer numbers and spans under .bench_out/, and prints the
final record as the last stdout line. See perfbench/README.md.
"""

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib as bl  # noqa: E402

BUILD_DIR = ".bench_build"
OUT_DIR = ".bench_out"
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
RUN_DEADLINE_S = 170  # the whole run, build excluded

# JDK 17 module opens Spark 4 needs outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

E2E_UNITS = {
    "setup_s": "s", "latency_p50_ms": "ms", "latency_p95_ms": "ms",
    "qps": "1/s", "pass_s": "s", "rss_peak_mb": "MB",
}

LAYER_UNITS = {
    "query.parse_ms": "ms", "engine.plan_ms": "ms", "engine.routed_share": "share",
    "catalyst.plan_ms": "ms", "result.exec_ms": "ms", "result.job_ms": "ms",
    "result.driver_gap_ms": "ms", "result.jobs_per_query": "count",
    "result.stages_per_query": "count", "result.tasks_per_query": "count",
    "result.rows_scanned_per_query": "rows", "result.bytes_scanned_per_query": "bytes",
    "result.shuffle_bytes_per_query": "bytes", "result.core_s_per_query": "s",
    "server.wall_ms": "ms", "server.overhead_ms": "ms",
    "spark.session_s": "s", "sources.write_s": "s", "catalog.register_s": "s",
    **{f"ops.{f}_s": "s" for f in bl.FAMILIES},
    "ops.construct_s": "s", "ops.catalyst_s": "s", "ops.exec_s": "s", "ops.jobs": "count",
    "jvm.gc_ms": "ms", "trace.overhead_ms": "ms",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def build():
    """Compile src/main/scala plus the harness into .bench_build/classes with
    the Scala compiler shipped among the Spark jars; skipped when the
    sources' digest matches the last build."""
    sources = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True) +
                     glob.glob("perfbench/src/**/*.scala", recursive=True))
    if not any(s.startswith("src/main/scala/") for s in sources):
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from the repository root")
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler among {SPARK_JARS}; "
                         "set SPARK_HOME to a Spark 4 installation")
    digest = bl.sources_digest(sources)
    classes = os.path.join(BUILD_DIR, "classes")
    stamp = os.path.join(BUILD_DIR, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    log(f"building {len(sources)} sources")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(SPARK_JARS, "*")
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    t0 = time.time()
    r = subprocess.run(["java", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("perfbench: build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f}s")
    return classes


# ---------------------------------------------------------------- run

def jvm_command(classes, heap, tmp=None):
    """java command line for a harness main class (appended by the caller)."""
    return (["java", f"-Xms{heap}", f"-Xmx{heap}"] +
            ([f"-Djava.io.tmpdir={tmp}"] if tmp else []) +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dlog4j2.configurationFile=perfbench/log4j2.properties"] +
            [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-cp", f"{classes}:{os.path.join(SPARK_JARS, '*')}"])


def run_jvm(classes, workload, cfg, work, deadline):
    conf = bl.WORKLOADS[workload]
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = jvm_command(classes, conf["heap"], tmp) + ["perfbench.Main", cfg_path, work]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: workload timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0:
        raise SystemExit(f"perfbench: JVM exited with {rc}")
    with open(os.path.join(work, "raw.json")) as f:
        return json.load(f)


def load_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def per_request_spans(spans):
    by_req = {}
    for s in spans:
        by_req.setdefault(s["req"], []).append(s)
    return by_req


def span_layers(spans, top_prefix, exec_name):
    """Per-request layer numbers from one request's spans: phase durations,
    job union inside the execution phase, and Spark counts."""
    phases = {s["name"]: s["end_ms"] - s["start_ms"] for s in spans if s["parent"].startswith("r")
              and s["name"] != "spark.job"}
    top = next(s for s in spans if s["name"].startswith(top_prefix))
    ex = next(s for s in spans if s["name"] == exec_name)
    jobs = [s for s in spans if s["name"] == "spark.job"]
    exec_jobs = [(max(ex["start_ms"], j["start_ms"]), min(ex["end_ms"], j["end_ms"]))
                 for j in jobs if j["parent"] == ex["id"] and j["end_ms"] > ex["start_ms"]]
    tasks = [s for s in spans if s["name"] == "spark.task"]
    attr = lambda k: sum(t.get("attrs", {}).get(k, 0) for t in tasks)
    job_ms = bl.union_ms(exec_jobs)
    return {
        "wall_ms": top["end_ms"] - top["start_ms"], "phases": phases,
        "job_ms": job_ms, "gap_ms": (ex["end_ms"] - ex["start_ms"]) - job_ms,
        "jobs": len(jobs), "stages": sum(s["name"] == "spark.stage" for s in spans),
        "tasks": len(tasks), "rows": attr("rows"), "bytes": attr("bytes"),
        "shuffle": attr("shuffle_bytes"), "core_s": attr("run_ms") / 1000.0,
    }


def http_metrics(workload, raw, cfg, shapes, trace):
    reqs = raw["requests"]
    lat = [r["lat_ms"] for r in reqs]
    ok = [r for r in reqs if r["status"] == 200]
    setup = raw["setup"]
    per_rep = [w + r for w, r in zip(setup["write_s"], setup["register_s"])]
    shape_lat = {}
    for r in reqs:
        shape_lat.setdefault(shapes[r["q"]], []).append(r["lat_ms"])
    props = dict(raw["props"])
    props.update(bl.stream_properties(cfg["stream"], shapes, len(reqs), cfg["warmup"]))
    props["nominal_rows_per_s"] = props["rows"] * len(reqs) / raw["measure_wall_s"]
    props["untraced_routed_share"] = bl.mean([r["plan"] != "window" for r in reqs])
    below = props["catalyst_size_estimate"] < props["routing_min_bytes"]
    gate_ok = below if workload == "serve-small" else (not below and props["untraced_routed_share"] > 0)
    e2e = {
        "setup_s": raw["session_s"] + bl.median(per_rep),
        "latency_p50_ms": bl.hd_quantile(lat, 0.5),
        "latency_p95_ms": bl.hd_quantile(lat, 0.95),
        # Closed-loop throughput by Little's law (clients / mean latency): the
        # rate the clients sustain, without the drain after the deadline
        # when the last block's final requests run on fewer clients.
        "qps": cfg["clients"] / bl.mean(lat) * 1000.0,
        "pass_s": sum(bl.median(v) for v in shape_lat.values()) / 1000.0,
        "rss_peak_mb": raw["rss_peak_mb"],
    }
    props["shape_p50_ms"] = {k: bl.median(v) for k, v in sorted(shape_lat.items())}
    props["shape_rows_scanned"] = {s: bl.median([r["rows_scanned"] for r in ok if shapes[r["q"]] == s])
                                   for s in sorted(shape_lat)}
    props["latency_ms_by_request"] = [[r["q"], shapes[r["q"]], r["lat_ms"]] for r in reqs]
    props["latency_samples"] = len(lat)
    props["p95_supported"] = bl.supported(len(lat), 95)
    props["highest_supported_percentile"] = bl.highest_supported_percentile(len(lat))
    layers = {k: 0.0 for k in LAYER_UNITS}
    layers.update({
        "server.wall_ms": bl.median([r["server_wall_ms"] for r in ok]),
        "server.overhead_ms": bl.median([r["lat_ms"] - r["server_wall_ms"] for r in ok]),
        "spark.session_s": raw["session_s"],
        "sources.write_s": bl.median(setup["write_s"]),
        "catalog.register_s": bl.median(setup["register_s"]),
        "jvm.gc_ms": float(raw["gc_ms"]),
    })
    self_times = {}
    if trace:
        t = raw["traced"]
        spans = load_spans(t["spans"])
        per = [span_layers(s, "request", "result.exec") for s in per_request_spans(spans).values()]
        ph = lambda name: bl.median([p["phases"].get(name, 0.0) for p in per])
        layers.update({
            "query.parse_ms": ph("query.parse"), "engine.plan_ms": ph("engine.plan"),
            "engine.routed_share": bl.mean([p != "window" for p in t["plans"]]),
            "catalyst.plan_ms": ph("catalyst.plan"), "result.exec_ms": ph("result.exec"),
            "result.job_ms": bl.median([p["job_ms"] for p in per]),
            "result.driver_gap_ms": bl.median([p["gap_ms"] for p in per]),
            "result.jobs_per_query": bl.mean([p["jobs"] for p in per]),
            "result.stages_per_query": bl.mean([p["stages"] for p in per]),
            "result.tasks_per_query": bl.mean([p["tasks"] for p in per]),
            "result.rows_scanned_per_query": bl.mean([p["rows"] for p in per]),
            "result.bytes_scanned_per_query": bl.mean([p["bytes"] for p in per]),
            "result.shuffle_bytes_per_query": bl.mean([p["shuffle"] for p in per]),
            "result.core_s_per_query": bl.mean([p["core_s"] for p in per]),
            "trace.overhead_ms": bl.median([p["wall_ms"] for p in per]) - bl.median(t["plain_ms"]),
        })
        props["traced_gc_ms"] = t["gc_ms"]
        self_times = bl.layer_self_times(spans)
    checks = {"mismatches": raw["mismatches"][:20], "routing_gate_ok": gate_ok}
    attempted = len(reqs)
    failed = len({m.split(":", 1)[0] for m in raw["mismatches"]})
    correct = not raw["mismatches"] and gate_ok and attempted > 0
    return e2e, layers, self_times, props, checks, attempted, failed, correct


def battery_metrics(raw, trace):
    rows = raw["rows"]
    times = [t for r in rows for t in r["times_s"]]
    if not times:
        raise SystemExit(f"perfbench: no battery row completed: {raw['errors'][:3]}")
    # Each row's warm time is the median of its timed runs (identical work).
    row_warm = {r["name"]: bl.median(r["times_s"]) for r in rows if r["times_s"]}
    warm = list(row_warm.values())
    e2e = {
        "setup_s": raw["session_s"] + sum(raw["setup"]["cold_s"]),
        "latency_p50_ms": bl.hd_quantile(warm, 0.5) * 1000.0,
        "latency_p95_ms": bl.hd_quantile(warm, 0.95) * 1000.0,
        "qps": len(warm) / sum(warm),
        "pass_s": sum(warm),
        "rss_peak_mb": raw["rss_peak_mb"],
    }
    layers = {k: 0.0 for k in LAYER_UNITS}
    for name, m in row_warm.items():
        layers[f"ops.{bl.family(name)}_s"] += m
    layers["spark.session_s"] = raw["session_s"]
    layers["jvm.gc_ms"] = float(raw["gc_ms"])
    self_times = {}
    if trace:
        spans = load_spans(raw["traced"]["spans"])
        per = [span_layers(s, "row:", "ops.exec") for s in per_request_spans(spans).values()]
        ph = lambda name: [p["phases"].get(name, 0.0) for p in per]
        layers.update({
            "ops.construct_s": sum(ph("ops.construct")) / 1000.0,
            "ops.catalyst_s": sum(ph("ops.catalyst")) / 1000.0,
            "ops.exec_s": sum(ph("ops.exec")) / 1000.0,
            "ops.jobs": float(sum(p["jobs"] for p in per)),
            "catalyst.plan_ms": bl.median(ph("ops.catalyst")),
            "result.exec_ms": bl.median(ph("ops.exec")),
            "result.job_ms": bl.median([p["job_ms"] for p in per]),
            "result.driver_gap_ms": bl.median([p["gap_ms"] for p in per]),
            "result.jobs_per_query": bl.mean([p["jobs"] for p in per]),
            "result.stages_per_query": bl.mean([p["stages"] for p in per]),
            "result.tasks_per_query": bl.mean([p["tasks"] for p in per]),
            "result.rows_scanned_per_query": bl.mean([p["rows"] for p in per]),
            "result.bytes_scanned_per_query": bl.mean([p["bytes"] for p in per]),
            "result.shuffle_bytes_per_query": bl.mean([p["shuffle"] for p in per]),
            "result.core_s_per_query": bl.mean([p["core_s"] for p in per]),
            "trace.overhead_ms": bl.median([p["wall_ms"] for p in per]) -
                                 bl.median(raw["traced"]["plain_ms"]),
        })
        self_times = bl.layer_self_times(spans)
    oracle = subprocess.run([sys.executable, "tools/check_correctness.py", raw["sf_dir"],
                             raw["dump_dir"]], capture_output=True, text=True)
    lines = [l for l in oracle.stdout.splitlines() if l.startswith(("PASS ", "FAIL "))]
    fails = [l for l in lines if l.startswith("FAIL ")]
    props = {"rows": len(rows), "passes": raw["passes"], "latency_samples": len(warm),
             "p95_supported": bl.supported(len(warm), 95),
             "highest_supported_percentile": bl.highest_supported_percentile(len(warm)),
             "tables": raw["props"]["tables"], "row_warm_s": row_warm,
             "row_times_s": {r["name"]: r["times_s"] for r in rows}}
    checks = {"oracle_rows": len(lines), "oracle_failures": fails[:20],
              "oracle_exit": oracle.returncode, "row_errors": raw["errors"][:20]}
    correct = oracle.returncode == 0 and not fails and len(lines) > 0 and not raw["errors"]
    return (e2e, layers, self_times, props, checks, len(times) + len(raw["errors"]),
            len(fails) + len(raw["errors"]), correct)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(bl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build()
    start = time.time()
    deadline = start + RUN_DEADLINE_S
    conf = bl.WORKLOADS[args.workload]
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.abspath(os.path.join(BUILD_DIR, "runs", f"{tag}-{os.getpid()}"))
    out = os.path.join(OUT_DIR, tag)
    os.makedirs(work)
    os.makedirs(out, exist_ok=True)
    cfg = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": bool(args.trace), "rows": conf["rows"], "groups": conf["groups"],
           "parts": conf["parts"], "prop_tokens": conf["prop_tokens"],
           "clients": conf["clients"], "block": conf["block"], "setup_reps": conf["setup_reps"]}
    shapes = []
    if args.workload == "serve-small":
        cfg["warmup"], cfg["stream"], shapes = bl.serve_small_stream(args.seed, 5000)
    elif args.workload == "scan-large":
        cfg["warmup"], cfg["stream"], shapes = bl.scan_large_stream(args.seed, 200)
    else:
        cfg["battery"] = bl.BATTERY_ROWS
    try:
        raw = run_jvm(classes, args.workload, cfg, work, deadline)
        if args.workload == "ops-battery":
            res = battery_metrics(raw, args.trace)
        else:
            res = http_metrics(args.workload, raw, cfg, shapes, args.trace)
        e2e, layers, self_times, props, checks, attempted, failed, correct = res
        if args.trace:
            shutil.copy(raw["traced"]["spans"], os.path.join(out, "spans.jsonl"))
        report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "end_to_end": e2e, "per_layer": layers,
                  "layer_self_ms": self_times, "properties": props, "checks": checks,
                  "correct": correct, "attempted": attempted, "failed": failed,
                  "run_s": time.time() - start}
        with open(os.path.join(out, "report.json"), "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    summary = {k: props[k] for k in ("rows", "groups", "parts", "bytes_on_disk", "repeat_share",
                                     "distinct", "latency_samples") if k in props}
    print(json.dumps({"workload": args.workload, "properties": summary,
                      "routed_share": layers["engine.routed_share"] if args.trace else
                      props.get("untraced_routed_share"), "checks": checks},
                     separators=(",", ":"), default=str)[:1500])
    if args.trace:
        print(bl.final_record(correct, attempted, failed,
                              {k: (v, LAYER_UNITS[k]) for k, v in layers.items()},
                              bl.TRACE_RECORD_MAX_BYTES))
    else:
        print(bl.final_record(correct, attempted, failed,
                              {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}))


if __name__ == "__main__":
    main()
