#!/usr/bin/env python3
"""Benchmark of the graft engine, run from the root of a checkout:

    python3 perfbench/run.py --workload elt --seed 1 --seconds 20 --trace 0

Builds the program and the harness from source (once per source state),
then runs the workload in fresh JVMs: one pass is one JVM that sets up a
session and makes the workload's calls. Passes repeat while another one
fits in --seconds; each pass samples set-up once. Every output is
checked against the DuckDB oracle after the timed window.

The last line of stdout is one JSON object: correct, attempted, failed
and metrics (end-to-end metrics untraced; per-layer metrics with
--trace 1). Lines before it are the human-readable report. Every run's
full record, stamped with the box fingerprint, is kept under
perfbench/.work/results; compare.py compares two sets of them. Exits 1
when any step throws or any output differs from its oracle."""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import oracle
import stats
from workloads import ANALYTICS, WORKLOADS, outputs, oracle_gates

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")

# JVM settings of every pass, part of the box fingerprint
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
PASS_TIMEOUT_S = 75
MIN_SPAN_COVERAGE = 0.9

# metric names and units, as declared in the benchmark's manifest
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _manifest = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _manifest["end_to_end"]}
WHY = {m["name"]: m["why"] for m in _manifest["workloads"]}
PER_LAYER = {m["name"]: m["unit"] for m in _manifest["per_layer"]}


def log(*a):
    print(*a, flush=True)


# ---------------------------------------------------------------- build

def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: SPARK_HOME must name a Spark installation")
    return home


def tree_hash(files):
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def files_under(d):
    return [p for p in glob.glob(os.path.join(d, "**", "*"), recursive=True) if os.path.isfile(p)]


def code_hashes():
    """(commit, bench): content hashes of the program's sources and of the
    benchmark's own files. They name what was measured, also in checkouts
    that are not git repositories."""
    main = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(main):
        sys.exit(f"perfbench: no program sources at {main}")
    bench = (files_under(os.path.join(HERE, "harness")) + glob.glob(os.path.join(HERE, "*.py")) +
             [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
              os.path.join(ROOT, "BENCHMARK.json")])
    return tree_hash(files_under(main)), tree_hash(bench)


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    return env


def run_child(cmd, timeout, log_path, cwd=None, env=None):
    """Run cmd in its own process group, output to log_path; on timeout
    kill the whole group. Returns the exit code, or None on timeout."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def ensure_build(code):
    """Compile the program and the harness and cache every oracle answer
    the workloads need, once per `code` (the source hashes)."""
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == code and os.path.isdir(CLASSES):
        return
    log(f"[perfbench] building program and harness ({code})")
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "copyResources"],
                   800, os.path.join(WORK, "build.log"), cwd=HERE, env=sbt_env())
    if rc != 0:
        sys.exit(f"perfbench: build failed (exit {rc}), see {os.path.join(WORK, 'build.log')}")
    for sf in sorted({w.sf for w in WORKLOADS.values()}):
        path = os.path.join(WORK, f"oracle_sql_{sf}.json")
        rc = run_child(java("oracle-sql", os.path.join(DATA, sf), path), 120,
                       os.path.join(WORK, "oracle_sql.log"))
        if rc != 0:
            sys.exit("perfbench: could not read the oracle SQL from the program")
    # every oracle answer any workload needs, so no timed run pays for one
    for w in WORKLOADS.values():
        cache, sql = oracles(w)
        for g in oracle_gates(w):
            cache.get(g, sql[g])
    with open(stamp, "w") as f:
        f.write(code)


def java(*args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
             "-cp", f"{CLASSES}:{os.path.join(spark_home(), 'jars', '*')}",
             "graftbench.Harness"] + list(args))


def oracles(w):
    sf_dir = os.path.join(DATA, w.sf)
    with open(os.path.join(WORK, f"oracle_sql_{w.sf}.json")) as f:
        sql = json.load(f)
    return oracle.OracleCache(sf_dir, os.path.join(WORK, "oracle", w.sf)), sql


# ---------------------------------------------------------------- passes

def jvm(label, args):
    """Launch one harness JVM; `args` maps the path of its result file to
    its arguments. (result dict or None, launch epoch ms)."""
    result = os.path.join(WORK, "runs", f"{label}.json")
    launch_ms = time.time() * 1000
    rc = run_child(java(*args(result)), PASS_TIMEOUT_S, os.path.join(WORK, "runs", f"{label}.log"))
    if rc != 0 or not os.path.exists(result):
        return None, launch_ms
    with open(result) as f:
        res = json.load(f)
    for p in (result, os.path.join(WORK, "runs", f"{label}.log")):
        os.remove(p)  # kept only when the JVM failed
    return res, launch_ms


def run_pass(w, steps, trace, label):
    out_dir = os.path.join(WORK, "runs", label)  # fresh for every pass
    res, launch_ms = jvm(label, lambda r: ["run", os.path.join(DATA, w.sf), out_dir,
                                           "1" if trace else "0", r, ",".join(steps)])
    if res is None:
        return {"crashed": True, "steps": []}, out_dir
    res["setup_s"] = (res["ready_ms"] - launch_ms) / 1000
    return res, out_dir


def check_pass(w, res, out_dir, cache, sql):
    """Mark each step failed if it threw or left an output that differs
    from its oracle; return the unverified output names."""
    unverified = set()
    for st in res["steps"]:
        if not st["ok"]:
            continue
        for gate, path, project in outputs(st["name"], out_dir):
            verdict, detail = oracle.check(path, cache.get(gate, sql[gate]), project)
            if verdict == "unverified" and gate in oracle.KNOWN_UNVERIFIED:
                unverified.add(gate)
            elif verdict != "ok":
                st["ok"] = False
                st["error"] = f"{gate}: {verdict}: {detail}"
    missing = [p for p in w.required_stages
               if not any(k.startswith(p) for k in res.get("staged_build_s", {}))]
    if missing and res["steps"]:
        res["steps"][0]["ok"] = False
        res["steps"][0]["error"] = f"stages not built in this pass: {missing}"
    return unverified


def account(passes):
    """(attempted, failed): steps attempted, and steps that threw or left
    a wrong output; a pass whose JVM died counts as one failed step."""
    crashed = sum(1 for p in passes if p.get("crashed"))
    steps = [s for p in passes for s in p["steps"]]
    return len(steps) + crashed, sum(1 for s in steps if not s["ok"]) + crashed


def pass_ok(res):
    return not res.get("crashed") and all(s["ok"] for s in res["steps"])


# ---------------------------------------------------------------- metrics

def end_to_end(passes):
    """(medians, samples, gate latencies) over clean passes; a pass with a
    failed step gives no timing sample, so a throw can never read as a
    fast run."""
    clean = [p for p in passes if pass_ok(p)]
    lat = [s["end_s"] - s["start_s"] for p in clean for s in p["steps"]]
    if not clean:
        return {}, {}, []
    samples = {
        "setup_s": [p["setup_s"] for p in clean],
        "wall_s": [p["wall_s"] for p in clean],
        "cpu_s": [p["cpu_s"] for p in clean],
        "peak_rss_mb": [p["peak_rss_mb"] for p in clean],
    }
    return {k: stats.median(v) for k, v in samples.items()}, samples, lat


def layer_metrics(p, untraced_wall):
    steps = p["steps"]
    tot = lambda k: sum(s[k] for s in steps)  # noqa: E731
    span_s = sum(s["end_s"] - s["start_s"] for s in steps)
    staged = p["staged_build_s"]
    return {
        "driver.self_s": tot("driver_self_s"),
        "driver.planning_s": tot("planning_s"),
        "spark.jobs": tot("jobs"), "spark.stages": tot("stages"), "spark.tasks": tot("tasks"),
        "spark.executor_run_s": tot("executor_run_s"),
        "spark.executor_cpu_s": tot("executor_cpu_s"),
        "spark.shuffle_write_bytes": tot("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": tot("shuffle_read_bytes"),
        "spark.spill_bytes": tot("spill_bytes"),
        "spark.core_util": tot("executor_run_s") / (p["wall_s"] * p["cores"]),
        "spark.retained_block_mb": max(s["retained_block_mb"] for s in steps),
        "staged.build_s": sum(staged.values()), "staged.builds": len(staged),
        "sources.bytes_read": tot("bytes_read"),
        # whole-file bytes of every scan over the bytes of the distinct
        # files scanned: above 1 when a run reads a table more than once
        "sources.read_amplification": tot("scanned_bytes") / max(1, p["distinct_input_bytes"]),
        "session.start_s": p["session_start_s"], "jvm.jit_s": p["jit_s"], "jvm.gc_s": p["gc_s"],
        "trace.overhead_s": p["wall_s"] - untraced_wall,
        "trace.span_coverage": span_s / p["wall_s"],
    }


def stage_name(key):
    """Staged key without its data-directory suffix (`_sf0.01_<hash>...`)."""
    i = key.find("_sf")
    return key if i < 0 else key[:i]


def workload_layers(p):
    """Layer numbers that exist only on some workloads: {name: (value, unit)}."""
    by = {s["name"]: s for s in p["steps"]}
    span = lambda s: s["end_s"] - s["start_s"]  # noqa: E731
    out = {f"staged.build_s.{stage_name(k)}": (v, "s") for k, v in p["staged_build_s"].items()}
    if "pipeline" in by:
        out["pipeline.run_s"] = (span(by["pipeline"]), "s")
        out["pipeline.bytes_written"] = (by["pipeline"]["bytes_written"], "bytes")
    if "q_quality_report" in by:
        out["quality.report_s"] = (span(by["q_quality_report"]), "s")
    stream = [s for s in p["steps"] if s["name"].startswith("q_stream_")]
    if stream:
        ms = lambda k: (sum(s["batch_ms"].get(k, 0) for s in stream), "ms")  # noqa: E731
        out.update({
            "streaming.batches": (sum(s["batches"] for s in stream), "count"),
            "streaming.add_batch_ms": ms("addBatch"),
            "streaming.wal_commit_ms": ms("walCommit"),
            "streaming.commit_offsets_ms": ms("commitOffsets"),
            "streaming.query_planning_ms": ms("queryPlanning"),
            "streaming.state_rows": (sum(s["state_rows"] for s in stream), "count"),
            "streaming.state_commit_ms": (sum(s["state_commit_ms"] for s in stream), "ms"),
            "streaming.block_s": (sum(span(s) for s in stream), "s")})
    for s in p["steps"]:
        if s["name"] in ANALYTICS:
            out[f"analytics.{s['name']}_s"] = (span(s), "s")
        elif s["name"].startswith("q_") and s["name"] != "q_quality_report":
            out[f"gates.latency_s.{s['name']}"] = (span(s), "s")
    return out


# ---------------------------------------------------------------- fingerprint

def fingerprint(w, p, data_fp, commit, bench):
    """What must match for two results to be compared (box, data and
    benchmark), and the program measured, which may differ: that is what
    comparing is for."""
    return {"box": {"cpus": p.get("cores"), "xmx": HEAP,
                    "jdk": p.get("java_version"), "spark": p.get("spark_version")},
            "sf": f"{w.sf}:{data_fp}", "bench": bench, "commit": commit}


def untraced_walls(w, commit, bench):
    """wall_s of earlier clean untraced runs of this workload, program and
    benchmark on this box."""
    walls = []
    for path in glob.glob(os.path.join(WORK, "results", w.name, "*-trace0.json")):
        with open(path) as f:
            r = json.load(f)
        fp = r["fingerprint"]
        if (r["correct"] and fp["commit"] == commit and fp.get("bench") == bench
                and fp["box"]["cpus"] == os.cpu_count() and fp["box"]["xmx"] == HEAP):
            walls += r["samples"]["wall_s"]
    return walls


# ---------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    w = WORKLOADS[a.workload]
    spark_home()
    commit, bench = code_hashes()
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    ensure_build(f"{commit}-{bench}")
    cache, sql = oracles(w)
    steps = w.steps(a.seed)
    run_id = f"{w.name}-{os.getpid()}-{int(time.time())}"

    passes, unverified = [], set()

    def one_pass(trace):
        res, out_dir = run_pass(w, steps, trace, f"{run_id}-{len(passes)}{'t' if trace else ''}")
        if not res.get("crashed"):
            unverified.update(check_pass(w, res, out_dir, cache, sql))
        shutil.rmtree(out_dir, ignore_errors=True)
        return res

    # a traced run compares against this code's untraced runs on this
    # box; with none on record it makes its own first
    untraced = untraced_walls(w, commit, bench) if a.trace else []
    if not untraced:
        measured = 0.0
        while True:
            res = one_pass(trace=False)
            passes.append(res)
            if res.get("crashed"):
                break
            measured += res["wall_s"]
            if measured + res["wall_s"] > a.seconds:
                break
    traced = one_pass(trace=True) if a.trace else None

    e2e, samples, lat = end_to_end(passes)
    checked = passes + ([traced] if traced else [])
    all_steps = [s for p in checked for s in p["steps"]]
    attempted, failed = account(checked)
    fp = fingerprint(w, next((p for p in checked if not p.get("crashed")), {}), cache.fp,
                     commit, bench)

    log(f"[perfbench] workload {w.name} ({w.sf}, seed {a.seed}): {WHY[w.name]}")
    log(f"[perfbench] box {json.dumps(fp['box'])} sf {fp['sf']} commit {fp['commit']} "
        f"bench {fp['bench']}")
    for st in all_steps:
        if not st["ok"]:
            log(f"[perfbench] FAILED {st['name']}: {st['error'][:300]}")
    log(f"[perfbench] error_rate {failed}/{attempted} = {failed / max(1, attempted):.4f}")
    if unverified:
        log(f"[perfbench] unverified (oracle does not finish): {', '.join(sorted(unverified))}")
    for k, unit in END_TO_END.items():
        if k in samples:
            xs = samples[k]
            q1, q3 = stats.quartiles(xs)
            log(f"[perfbench] {k} {e2e[k]:.4f} {unit} median of n={len(xs)} (q1 {q1:.4f}, q3 {q3:.4f})")
    if lat:
        # per-call latency moves with the seeded call order, which decides
        # the calls that pay the cold JVM, too much to bound across seeds
        t = stats.tail(lat)
        log(f"[perfbench] gate latency p50 {stats.median(lat):.4f} s, " +
            (f"p{t[0]:g} {t[1]:.4f} s" if t else "no higher percentile has 10 samples beyond it") +
            f" (n={len(lat)})")

    layers, extra = {}, {}
    base = untraced or samples.get("wall_s")
    if traced and pass_ok(traced) and base:
        layers = layer_metrics(traced, stats.median(base))
        extra = workload_layers(traced)
        log(f"[perfbench] trace overhead {layers['trace.overhead_s']:.4f} s = traced wall "
            f"{traced['wall_s']:.4f} s - untraced median {stats.median(base):.4f} s (n={len(base)})")
        if layers["trace.span_coverage"] < MIN_SPAN_COVERAGE:
            failed += 1
            log(f"[perfbench] FAILED span coverage {layers['trace.span_coverage']:.3f} "
                f"< {MIN_SPAN_COVERAGE}")
        for k, v in layers.items():
            log(f"[perfbench] layer {k} {v:.6g} {PER_LAYER[k]}")
        for k, (v, unit) in sorted(extra.items()):
            log(f"[perfbench] layer {k} {v:.6g} {unit}")

    correct = failed == 0 and bool(layers if a.trace else e2e)
    record = {"workload": w.name, "seed": a.seed, "trace": a.trace, "fingerprint": fp,
              "correct": correct, "attempted": attempted, "failed": failed,
              "unverified": sorted(unverified), "metrics": e2e, "samples": samples,
              "gate_latency_s": lat,
              "layers": layers, "workload_layers": extra, "passes": passes, "traced": traced}
    os.makedirs(os.path.join(WORK, "results", w.name), exist_ok=True)
    with open(os.path.join(WORK, "results", w.name, f"{run_id}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f)

    chosen = {k: {"value": layers[k], "unit": PER_LAYER[k]} for k in PER_LAYER} if a.trace and layers \
        else {k: {"value": e2e[k], "unit": END_TO_END[k]} for k in END_TO_END if k in e2e}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": chosen}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
