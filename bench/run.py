"""The repository benchmark: one command per workload run.

    python3 bench/run.py --workload behavior --seed 1 --seconds 6 --trace 0
    python3 bench/run.py --write-manifest      # regenerate BENCHMARK.json

Builds the library and harness (bench/build.py), generates the seeded
inputs (bench/gen.py, cached per seed and size), runs the harness JVM,
checks every output (bench/checks.py), and prints one JSON line per run:
first a report line with every metric of the workload, then, as the last
line, the result: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics with `--trace 0`, the per-layer metrics with `--trace 1`).
Exits 1 when a check or a call failed, 2 when it could not run at all.
See bench/BENCH.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
BUILD = build.BUILD
HARNESS_TIMEOUT_S = 165

# Rate ladder (events/s) and p99 latency limit of the behavior stream.
RATES = [250, 1000, 4000]
P99_LIMIT_MS = 3000

WORKLOADS = {
    "behavior": {
        "kind": "behavior", "size": 100_000,
        # per-layer metrics the workload produces; the others read 0
        "layers": ("Tables.", "jobs.", "operators.SlidingCounts.", "streaming.", "spark.",
                   "harness."),
        "why": "seeded Zipf-keyed day: alert events replayed open-loop at 250/1000/4000 ev/s into 3 stream "
               "twins (p99 limit 3000 ms), then all 14 batch Jobs over parquet; no kernels or graphs"},
    "curation": {
        "kind": "corpus", "size": 1_500,
        "layers": ("Tables.", "functions.", "api.", "operators.ConnectedComponents.", "spark.",
                   "harness.trace_overhead_pct", "harness.unattributed_jobs"),
        "why": "seeded corpus with planted near-dups: MinHash pairs, components, keepers, index "
               "write/fold/compact/probe; kernels, graph rounds, index I/O, no stream state"},
}

# Gated metrics are JVM CPU seconds: time the host steals from this VM does
# not count in them, while it moved the wall-clock figures (on the report
# line) by 40-65% between runs.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("pass_cpu_s", "s", "lower", 0.25),
]

JOBS = ["hotItems", "hotUrls", "pageViews", "uniqueVisitors", "uniqueVisitorsApprox",
        "marketingByChannel", "marketingTotal", "adClicksByProvince", "adBlacklist",
        "filterWithBlacklist", "loginFailWarnings", "orderTimeouts", "txMatch", "txMatchByJoin"]

PER_LAYER = (
    [("Tables.scan_s", "s", "lower"), ("Tables.input_bytes", "bytes", "lower")]
    + [m for j in JOBS for m in ((f"jobs.{j}.wall_s", "s", "lower"),
                                 (f"jobs.{j}.shuffle_bytes", "bytes", "lower"))]
    + [("operators.SlidingCounts.wall_s", "s", "lower"),
       ("functions.kernel_task_cpu_s", "s", "lower"),
       ("api.DedupOps.candidate_pairs", "count", "lower"),
       ("api.DedupOps.verified_pairs", "count", "higher"),
       ("api.DedupOps.verify_ratio", "ratio", "higher"),
       ("operators.ConnectedComponents.rounds", "count", "lower"),
       ("operators.ConnectedComponents.spark_jobs", "count", "lower"),
       ("operators.ConnectedComponents.wall_s", "s", "lower"),
       ("api.IndexMaintenance.write_s", "s", "lower"),
       ("api.IndexMaintenance.fold_s", "s", "lower"),
       ("api.IndexMaintenance.compact_s", "s", "lower"),
       ("api.IndexMaintenance.probe_s", "s", "lower"),
       ("api.IndexMaintenance.bytes_written", "bytes", "lower"),
       ("api.IndexMaintenance.runs", "count", "lower"),
       ("api.IndexMaintenance.write_amplification", "ratio", "lower"),
       ("api.IndexMaintenance.index_bytes_per_doc", "bytes/doc", "lower"),
       ("streaming.batch_ms_p50", "ms", "lower"),
       ("streaming.batch_ms_p99", "ms", "lower"),
       ("streaming.batches", "count", "higher"),
       ("streaming.empty_batches", "count", "lower"),
       ("streaming.jobs_per_batch", "count", "lower"),
       ("streaming.backlog_max_events", "count", "lower"),
       ("streaming.state_rows", "count", "lower"),
       ("streaming.state_bytes", "bytes", "lower"),
       ("streaming.state_commit_ms", "ms", "lower"),
       ("spark.jobs", "count", "lower"),
       ("spark.tasks", "count", "lower"),
       ("spark.task_cpu_s", "s", "lower"),
       ("spark.shuffle_bytes", "bytes", "lower"),
       ("spark.spill_bytes", "bytes", "lower"),
       ("spark.driver_gap_s", "s", "lower"),
       ("harness.generator_lag_ms_p99", "ms", "lower"),
       ("harness.trace_overhead_pct", "%", "lower"),
       ("harness.unattributed_jobs", "count", "lower")])

RUN_SECONDS = 6

# Units of the report line: the gated metrics, the wall-clock ones, and
# those that read 0 on a healthy run or move in steps of the rate ladder.
REPORT_UNITS = {**{n: u for n, u, _, _ in END_TO_END}, "error_rate": "ratio",
                "setup_wall_s": "s", "stream_cpu_s": "s", "batch_cpu_s": "s",
                "rows_per_s": "1/s", "latency_p50_ms": "ms", "latency_p99_ms": "ms",
                "peak_rss_mb": "MB",
                "index_bytes_per_doc": "bytes/doc", "max_rate_eps": "1/s",
                "latency_samples": "count"}


def manifest():
    return {
        "command": ["python3", "bench/run.py"],
        "paths": ["bench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w["why"]} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x}
                       for n, u, b, x in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


def data_dir(kind, seed, size):
    """Cached inputs; the key includes the generator's own source."""
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:10]
    out = os.path.join(BUILD, "data", f"{kind}-s{seed}-n{size}-g{version}")
    gen.generate(kind, seed, size, out)
    return out


def harness(cp, args, log, timeout):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the first run writes the class-data-sharing archive, later runs map
    # it: JVM and Spark start-up then load classes from one mapped file
    cds = (f"-XX:SharedArchiveFile={build.CDS_ARCHIVE}" if os.path.exists(build.CDS_ARCHIVE)
           else f"-XX:ArchiveClassesAtExit={build.CDS_ARCHIVE}")
    # no perf-data file: the JVM would write it under /tmp, outside the checkout
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", cds,
            "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
           + [x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "perfbench.Main"] + args)
    with open(log, "w") as f:
        r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, timeout=timeout, cwd=ROOT)
    return r.returncode


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-manifest", action="store_true")
    a = ap.parse_args(argv)
    if a.write_manifest:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            json.dump(manifest(), f, indent=2)
            f.write("\n")
        return 0
    if not a.workload:
        ap.error("--workload is required")

    w = WORKLOADS[a.workload]
    try:
        _, cp = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    data = data_dir(w["kind"], a.seed, w["size"])
    with open(os.path.join(data, "meta.json")) as f:
        meta = json.load(f)

    run = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    rows = meta["rows"]["documents"] if w["kind"] == "corpus" else sum(meta["rows"].values())
    args = ["--workload", a.workload, "--data", data, "--out", run,
            "--local", os.path.join(run, "local"), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--input-rows", str(rows),
            "--rates", ",".join(map(str, RATES)), "--limit-ms", str(P99_LIMIT_MS)]
    log = os.path.join(run, "harness.log")
    if not os.path.exists(build.CDS_ARCHIVE):
        # first run after a build: one short unmeasured run writes the
        # class-data-sharing archive, so every measured run maps it
        train = run + "-cds"
        os.makedirs(train, exist_ok=True)
        try:
            harness(cp, args[:args.index("--out")] + ["--out", train, "--local", train + "/local",
                    "--seconds", "1"] + args[args.index("--trace"):], log + ".cds", 600)
        except subprocess.TimeoutExpired:
            pass
        shutil.rmtree(train, ignore_errors=True)
    try:
        code = harness(cp, args, log, HARNESS_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = "timeout"
    result_path = os.path.join(run, "result.json")
    if not os.path.exists(result_path):
        print(f"harness exited {code} without a result; see {log}", file=sys.stderr)
        return 2
    with open(result_path) as f:
        res = json.load(f)
    if "fatal" in res:
        res.update({"attempted": 1, "failed": 1, "e2e": {}, "per_layer": None})
        found = [("harness", False, f"{res['fatal']}: {res.get('message')}")]
    else:
        corrupt = os.environ.get("PERFBENCH_CORRUPT")
        if corrupt:
            checks.corrupt(os.path.join(run, "out", corrupt))
        found = checks.run(a.workload, data, os.path.join(run, "out"), res)
        if a.trace:
            n = (res.get("per_layer") or {}).get("harness.unattributed_jobs")
            found.append(("every Spark job attributed to one call", n == 0,
                          f"unattributed_jobs={n}"))

    failed_checks = [c for c in found if not c[1]]
    attempted = int(res["attempted"]) + len(found)
    failed = int(res["failed"]) + len(failed_checks)
    if a.trace:
        layer = res.get("per_layer") or {}
        # a metric the workload should produce stays null when it is missing
        metrics = {n: {"value": layer.get(n) if n.startswith(w["layers"]) else 0.0, "unit": u}
                   for n, u, _ in PER_LAYER}
    else:
        e2e = res.get("e2e") or {}
        metrics = {n: {"value": e2e.get(n), "unit": u} for n, u, _, _ in END_TO_END}
    correct = failed == 0 and all(m["value"] is not None for m in metrics.values())
    extra = {"error_rate": failed / attempted}
    if a.workload == "curation" and "facts" in res:
        extra["index_bytes_per_doc"] = res["facts"]["index_bytes"] / res["facts"]["indexed_docs"]
    for k in ("max_rate_eps", "latency_samples"):
        if k in (res.get("report") or {}):
            extra[k] = res["report"][k]
    everything = {**(res.get("e2e") or {}), **extra}
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "metrics": {k: {"value": v, "unit": REPORT_UNITS[k]} for k, v in everything.items()},
        "detail": res.get("report"), "session_cpu_s": res.get("session_cpu_s"),
        "phases_s": res.get("phases_s"), "errors": res.get("errors"),
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in found],
        "zipf": meta.get("zipf"), "planted": meta.get("planted"),
    }
    print(json.dumps(report))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
