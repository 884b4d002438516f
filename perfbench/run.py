#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles graft's sources
(src/main/scala) together with the benchmark's own Scala sources
(perfbench/src) into .bench_build/perfbench with the Scala compiler that
ships in $SPARK_HOME/jars; later runs reuse the classes while the sources
are unchanged. Each run starts one JVM (heap and thread count sized to the
host), which generates the workload's inputs from the seed, measures for the
given seconds, checks the outputs and writes a raw result. This script turns
the raw result into metrics: with --trace 0 the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import stats  # noqa: E402  (after the bytecode switch)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("ingest_video", "search_local", "curate_corpus")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # with the JVM timeout, under the 900 s first-run limit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die("no Spark distribution with a Scala compiler found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        die("no java found (set JAVA_HOME)")
    return exe


def run_bounded(cmd, timeout, log, env=None):
    """Run `cmd` in its own process group with output to `log`; kill the
    whole group on timeout. Returns the exit status (None on timeout)."""
    with open(log, "wb") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             cwd=ROOT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build(jars):
    """Compile graft and the benchmark unless the classes are current."""
    graft = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    if not graft:
        die("graft sources (src/main/scala) not found; run from a full checkout")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    h = hashlib.sha256()
    for f in graft + own:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    if os.path.exists(stamp):
        os.remove(stamp)
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    rc = run_bounded([java(), "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
                      "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes]
                     + graft + own, BUILD_TIMEOUT_S, log)
    if rc != 0:
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        die(f"build failed (status {rc})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def heap_mb():
    """A quarter of physical memory, between 2 and 6 GB."""
    with open("/proc/meminfo") as fh:
        kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return max(2048, min(6144, kb // 4 // 1024))


def run_jvm(classes, jars, workload, seed, seconds, trace):
    work = os.path.join(BUILD, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log = os.path.join(BUILD, f"{workload}.log")
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               SPARK_GRAFT_CPUS=str(cpus))
    cmd = [java(), f"-Xmx{heap_mb()}m", "-XX:+UseG1GC", "-Xss4m",
           f"-XX:ActiveProcessorCount={cpus}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work, "--out", out]
    rc = run_bounded(cmd, JVM_TIMEOUT_S, log, env)
    try:
        if os.path.exists(out):
            results = os.path.join(BUILD, "results")
            os.makedirs(results, exist_ok=True)
            shutil.copy(out, os.path.join(
                results, f"{workload}-seed{seed}-trace{1 if trace else 0}.json"))
        if rc != 0 or not os.path.exists(out):
            tail = open(log, errors="replace").read()[-6000:]
            sys.stderr.write(tail)
            die(f"{workload}: JVM " + ("timed out" if rc is None else f"exited with {rc}"))
        with open(out) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---- metrics ---------------------------------------------------------------

def spans_of(raw):
    return [{"id": s[0], "parent": s[1], "req": s[2], "name": s[3],
             "start_ns": s[4], "end_ns": s[5]} for s in raw.get("spans", [])]


def median(xs):
    return stats.percentile(xs, 50)


def end_to_end(raw):
    """Every end-to-end metric for one workload's raw result, plus the
    workload-specific figures they come from."""
    w = raw["workload"]
    detail = {}
    if w == "ingest_video":
        rounds = raw["rounds"]
        walls = [r["wall_s"] * 1e3 for r in rounds]
        throughput = rounds[0]["source_frames"] / median(walls) * 1e3
        setup = raw["session_s"] + median([r["start_s"] for r in rounds])
        detail["ingest_fps"] = (throughput, "frames/s")
        quality = median([r["kept"] for r in rounds]) / raw["inputs"]["expected_kept_per_round"]
    elif w == "curate_corpus":
        passes = raw["passes"]
        walls = [p["wall_s"] * 1e3 for p in passes]
        throughput = passes[0]["docs"] / median(walls) * 1e3
        setup = raw["session_s"]
        detail["curate_docs_per_s"] = (throughput, "docs/s")
        quality = raw["near_collapse"]
    else:
        inp = raw["inputs"]
        ref = [p for p in raw["phases"] if p["name"] == "ref"]
        rungs = [p for p in raw["phases"] if p["name"] == "rung"]
        lake = [x for p in raw["phases"] if p["name"] == "lake"
                for x in stats.request_latencies_ms(p)]
        walls = [x for p in ref for x in stats.request_latencies_ms(p)]
        throughput, rung = stats.max_rps(rungs, inp["p95_limit_ms"], raw["cpus"])
        setup = raw["session_s"] + raw["load_s"]
        quality = raw["recall15"]
        detail["search_max_rps"] = (throughput, "req/s")
        detail["search_max_rps_rung"] = (inp["ladder"][rung] if rung >= 0 else 0, "req/s")
        detail["search_recall15"] = (quality, "ratio")
        detail["search_lake_p50_ms"] = (median(lake), "ms")
        detail["search_lake_max_ms"] = (max(lake), "ms")
        detail["search_lake_samples"] = (len(lake), "count")
        detail["refresh_s"] = (median(raw["refresh_s"]), "s")
        detail["index_bytes_per_vector"] = (raw["index_bytes_per_vector"], "B")
    summary = stats.summarize(walls)
    if w == "search_local":
        detail["search_p50_ms"] = (summary["p50"], "ms")
        detail["search_p95_ms"] = (stats.percentile(walls, 95), "ms")
    detail["latency_samples"] = (summary["n"], "count")
    detail["latency_top_percentile"] = (summary["top_percentile"] or 0, "pct")
    values = {
        "setup_s": setup,
        "live_heap_growth_mb": raw["host"]["live_heap_growth_mb"],
        "throughput_per_s": throughput,
        "latency_p50_ms": summary["p50"],
        # the highest percentile the sample supports; the median when none is
        "latency_tail_ms": summary["top"] if summary["top"] is not None else summary["p50"],
        "quality_ratio": quality,
    }
    return values, detail


def per_layer(raw):
    """Every per-layer metric for one traced run; a layer the workload does
    not exercise reads 0."""
    spans = spans_of(raw)
    scale = {"s": 1e-9, "ms": 1e-6, "us": 1e-3}
    out = {}

    def span_median(name, unit):
        ds = [s["end_ns"] - s["start_ns"] for s in spans if s["name"] == name]
        return median(ds) * scale[unit] if ds else 0.0

    for name in ("multimodal.avi_parse_ms", "multimodal.describe_us",
                 "multimodal.bitsampling_us", "streaming.extract_s", "streaming.vectorize_s",
                 "operators.temporal_dedup_s", "sources.frames_write_s",
                 "api.recipe_build_ms", "operators.minhash_sig_s", "operators.band_pairs_s"):
        out[name] = span_median(name, name.rsplit("_", 1)[1])
    counts = raw.get("layer_counts", {})
    for name in ("streaming.frames_in", "operators.temporal_dedup_kept_ratio",
                 "operators.candidate_pairs", "operators.verified_pair_ratio"):
        out[name] = counts.get(name, 0)
    out["spark.jobs_during_build"] = raw.get("jobs_during_build", 0)
    if "phases" in raw:
        # search_local only (not in BENCHMARK.json; see perfbench/README.md)
        for name in ("sources.index_write_s", "operators.ivf_build_s", "operators.sq8_fit_s",
                     "serving.http_rtt_ms", "serving.search_ms", "serving.search_vector_ms",
                     "serving.to_json_us", "operators.rank_centroids_us", "serving.refresh_s",
                     "serving.http_rtt_lake_ms", "serving.search_vector_lake_ms"):
            out[name] = span_median(name, name.rsplit("_", 1)[1])
        out["spark.jobs_per_request"] = raw["jobs_per_request_local"]
        lake = raw["lake_counts"]
        out["spark.jobs_per_request_lake"] = lake["jobs"] / lake["requests"]
        out["spark.tasks_per_request_lake"] = lake["tasks"] / lake["requests"]
        out["sql.rows_scanned_per_result_lake"] = lake["rows_scanned"] / (lake["requests"] * 15)
        ref = [p for p in raw["phases"] if p["name"] == "ref"]
        late = [x for p in ref for x in stats.lateness_ms(p)]
        out["loadgen.late_ms"] = stats.percentile(late, 95)
        out["loadgen.backlog_max"] = max(max(stats.backlog(p)) for p in ref)
    eng = raw["engine"]
    out["spark.stages"] = eng["stages"]
    out["spark.tasks"] = eng["tasks"]
    out["spark.single_task_stages"] = eng["single_task_stages"]
    out["spark.executor_cpu_s"] = eng["executor_cpu_ns"] / 1e9
    out["spark.shuffle_write_mb"] = eng["shuffle_write_bytes"] / 2**20
    out["spark.spill_mb"] = eng["spill_bytes"] / 2**20
    out["jvm.gc_ms"] = raw["host"]["jvm_gc_ms"]
    out["host.steal_ticks"] = raw["host"]["steal_ticks"]
    out["trace.overhead_pct"] = overhead_pct(raw)
    return out


def overhead_pct(raw):
    """Tracing overhead: the time of the replayed layer calls with spans
    recorded over their time without, in percent (the two alternate)."""
    r = raw["replays"]
    return (sum(r["traced_s"]) / sum(r["plain_s"]) - 1) * 100


def one(workload, seed, seconds, trace, spec, classes, jars):
    raw = run_jvm(classes, jars, workload, seed, seconds, trace)
    checks = raw["checks"]
    attempted, failed = stats.count_failures(raw.get("phases", []))
    attempted += raw["attempted"]
    failed += raw["failed"]
    correct = all(c["ok"] for c in checks) and failed == 0
    if trace:
        values = per_layer(raw)
        names = spec["per_layer"]
        # layers of workloads BENCHMARK.json does not list go on report lines
        known = {m["name"] for m in names}
        detail = {k: (v, "") for k, v in values.items() if k not in known}
    else:
        values, detail = end_to_end(raw)
        names = spec["end_to_end"]
    missing = [m["name"] for m in names if m["name"] not in values]
    if missing:
        die(f"no value computed for {missing}")
    # a latency of a failed or unsent request is infinite; such a run has
    # no measurement to report
    unmeasured = [k for k, v in values.items() if not math.isfinite(v)]
    if unmeasured:
        die(f"{workload}: no finite value for {unmeasured} (requests failed or went unsent)")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}

    # human-readable report; the machine line comes last
    for c in checks:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    print(f"inputs {json.dumps(raw['inputs'])}")
    for k, (v, unit) in detail.items():
        print(f"{workload} {k} {v:.6g} {unit}")
    bad = {}
    for p in raw.get("phases", []):
        for st, s, ok in zip(p["status"], p["send_ns"], p["ok"]):
            if s >= 0 and not ok:
                bad[st] = bad.get(st, 0) + 1
    if bad:
        print(f"failed requests by status {bad}")
    print("timeline " + " ".join(f"{k}={v:.1f}" for k, v in (raw["timeline"] or {}).items()))
    h = raw["host"]
    eng = raw["engine"]
    print(f"host wall_s {h['wall_s']:.3f} rss_peak_mb {h['rss_peak_mb']:.1f} "
          f"steal_ticks {h['steal_ticks']} "
          f"executor_cpu_s {eng['executor_cpu_ns'] / 1e9:.3f} jvm_gc_ms {h['jvm_gc_ms']}")
    if trace:
        self_ns = stats.self_times(spans_of(raw))
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{workload}-seed{seed}.json")
        with open(path, "w") as fh:
            json.dump([dict(s, self_ns=self_ns[s["id"]]) for s in spans_of(raw)], fh)
        print(f"spans written to {os.path.relpath(path, ROOT)}")
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found; run from the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    jars = spark_jars()
    classes = build(jars)
    workloads = ([w["name"] for w in spec["workloads"]] if a.workload == "all"
                 else (a.workload,))
    results = {}
    for w in workloads:
        results[w] = one(w, a.seed, a.seconds, a.trace == 1, spec, classes, jars)
        if len(workloads) > 1:
            print(json.dumps(dict(results[w], workload=w)))
    if len(workloads) == 1:
        final = results[workloads[0]]
    else:
        final = {"correct": all(r["correct"] for r in results.values()),
                 "attempted": sum(r["attempted"] for r in results.values()),
                 "failed": sum(r["failed"] for r in results.values()),
                 "metrics": {f"{w}.{k}": v for w, r in results.items()
                             for k, v in r["metrics"].items()}}
    print(json.dumps(final), flush=True)
    sys.exit(0 if final["correct"] else 1)


if __name__ == "__main__":
    main()
