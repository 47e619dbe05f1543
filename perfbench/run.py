#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. It compiles graft's sources and
the benchmark's JVM harness (cached under ``.bench_build``), generates the
workload's inputs from the seed, runs the workload in one JVM, checks every
output against DuckDB references, and prints a report line and then, as the
last line, ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (plus the
span file and layer summary under ``.bench_build/traces``).

Workloads, their op lists, input sizes and the reasons for them are in
``perfbench/workloads.json``.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

import check
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
TIMEOUT_S = 165
HEAP = "1g"
MIN_WARM = 3
SETUP_SAMPLES = 3
E2E = ["setup_s", "cold_s", "warm_s", "read_ms", "peak_rss_mb"]
LAYERS = ["relational", "features", "ml", "text", "dedup", "corpus", "ann",
          "sources", "streaming"]
LAYER_METRICS = [("construct_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
                 ("task_s", "s"), ("occupancy", "ratio"), ("driver_wait_s", "s"),
                 ("jobs", "count"), ("tasks", "count"), ("shuffle_bytes", "bytes"),
                 ("task_skew", "ratio")]
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def jar_dir():
    """The Spark jar directory the sbt build declares as unmanagedBase."""
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        fail("no build.sbt here: run from the root of a graft checkout")
    path = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(path):
        fail(f"Spark jar directory {path} not found")
    return path


def sources():
    found = []
    for root in ("src/main/scala", "src/main/java", os.path.join(HERE, "scala")):
        for d, _, files in os.walk(root):
            found += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    if not any(p.startswith("src/main") for p in found):
        fail("no graft sources under src/main: run from the root of a graft checkout")
    return sorted(found)


def build(jars, name, cfg):
    """Compile graft and the harness once per source tree (keyed by content)
    into ``graft.jar``, then archive the classes a set-up loads (class data
    sharing), so that every JVM of a run sets up from the same archive."""
    files = sources()
    h = hashlib.sha256()
    for p in files:
        with open(p, "rb") as f:
            h.update(p.encode() + b"\0" + f.read())
    out = os.path.join(BUILD, "build-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", os.path.join(out, "graft.jar"), "-classpath", cp] + files,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    dump = os.path.join(out, "dump")
    run_jvm(out, jars, name, cfg, dump, dump, 0, False, setup_only=True,
            archive=os.path.join(out, "setup.jsa"))
    shutil.rmtree(dump)
    open(os.path.join(out, ".ok"), "w").close()
    print(f"perfbench: built {len(files)} sources in {time.time() - t0:.1f}s",
          file=sys.stderr)
    return out


def generate(cfg, seed, data, days):
    """The workload's inputs, plus ``days`` day slices for the lifecycle."""
    t0 = time.time()
    inp = cfg["inputs"]
    layout = gen.corpus_4x if inp["layout"] == "corpus_4x" else gen.tables
    layout(data, inp["sf"], seed, inp["docs"], inp["vectors"])
    if "lifecycle" in cfg:
        gen.daily(data, cfg["lifecycle"]["sf"], days, seed + 1)
    return time.time() - t0


def warm_passes(cfg, seconds):
    """Warm passes filling ``seconds`` at the workload's nominal warm-pass
    time (at least ``MIN_WARM``): a fixed count for given seconds, so both
    sides of a comparison take the same number of samples."""
    return max(MIN_WARM, math.ceil(seconds / cfg["pass_s"]))


def run_jvm(built, jars, name, cfg, data, out, warm, trace, setup_only=False, archive=None):
    """One JVM over the workload (or, with ``setup_only``, only its set-up):
    its result.json and the wall-clock time it was started at, in ms. With
    ``archive``, the JVM writes the class-sharing archive there at exit."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jsa = os.path.join(built, "setup.jsa")
    share = ([f"-XX:ArchiveClassesAtExit={archive}"] if archive else
             [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else [])
    # a fixed heap keeps the resident size from following G1's resizing
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] + share + JAVA_OPTS +
           ["-cp", os.path.join(built, "graft.jar") + os.pathsep + os.path.join(jars, "*"),
            "graft.perfbench.Main",
            "--workload", name, "--data", data, "--out", out,
            "--warm", str(warm), "--trace", "1" if trace else "0", "--ops", ",".join(cfg["ops"])])
    if "lifecycle" in cfg:
        cmd += ["--lifecycle", "1"]
    if setup_only:
        cmd += ["--setup-only", "1"]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_DIRS=os.path.join(out, "spark-local"))
    log = open(os.path.join(out, "jvm.log"), "w")
    start_ms = time.time() * 1000
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
    try:
        proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{name} did not finish within {TIMEOUT_S}s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    path = os.path.join(out, "result.json")
    if proc.returncode != 0 or not os.path.exists(path):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{name} JVM exited with {proc.returncode}")
    with open(path) as f:
        res = json.load(f)
    os.remove(path)
    return res, start_ms


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    return (xs[(n - 1) // 2] + xs[n // 2]) / 2 if n else None


def tail(xs):
    """The highest percentile with at least ten samples beyond it, or
    None below twenty samples, where that percentile is not above the
    median."""
    xs = sorted(xs)
    n = len(xs)
    if n < 20:
        return None, None
    return xs[n - 11], 100.0 * (n - 10) / n


def end_to_end(res, setups):
    calls = res["calls"]
    passes = sorted({c["pass"] for c in calls})

    def wall(p):
        return sum(c["construct_ms"] + c["exec_ms"] for c in calls if c["pass"] == p) / 1e3

    # a pass with a failed call is no timing sample: its wall would read fast
    complete = [p for p in passes if all(c["ok"] for c in calls if c["pass"] == p)]
    # hot code is still compiling in the first warm pass, so warm figures
    # leave it out
    warm_passes = [p for p in complete if p > 1 and p not in res["traced_passes"]]
    warm = [wall(p) for p in warm_passes]
    reads = [c["construct_ms"] + c["exec_ms"] for c in calls
             if c["pass"] in warm_passes and c["kind"] == "read"]
    writes = [c["construct_ms"] + c["exec_ms"] for c in calls
              if c["pass"] in warm_passes and c["kind"] == "write"]
    rt, rp = tail(reads)
    # one figure per read op (its median), combined geometrically, so an op
    # mix with very different latencies gives a steady typical latency
    per_op = {}
    for c in calls:
        if c["pass"] in warm_passes and c["kind"] == "read":
            per_op.setdefault(c["op"], []).append(c["construct_ms"] + c["exec_ms"])
    read_ms = (math.exp(sum(math.log(median(v)) for v in per_op.values()) / len(per_op))
               if per_op else None)
    m = {
        "setup_s": (median(setups), "s", len(setups)),
        "cold_s": (wall(0) if 0 in complete else None, "s", 1),
        "warm_s": (median(warm), "s", len(warm)),
        "read_ms": (read_ms, "ms", len(reads)),
        "read_p50_ms": (median(reads), "ms", len(reads)),
        "read_tail_ms": (rt, "ms", len(reads), rp),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024, "MB", 1),
    }
    if writes:
        wt, wp = tail(writes)
        m["write_p50_ms"] = (median(writes), "ms", len(writes))
        m["write_tail_ms"] = (wt, "ms", len(writes), wp)
    if "store_bytes" in res:
        m["store_bytes_per_input_byte"] = (
            res["store_bytes"] / max(1, res["input_batch_bytes"]), "ratio", 1)
    return m


def per_layer(res, inputs, overhead):
    n = max(1, len(res["traced_passes"]))
    layers = res.get("layers", {})
    m = {}
    for layer in LAYERS:
        got = layers.get(layer, {})
        for k, unit in LAYER_METRICS:
            v = got.get(k, 0.0)
            # counts and times are per traced warm pass; ratios as measured
            m[f"{layer}.{k}"] = (v if unit == "ratio" else v / n, unit)
    spill = sum(v.get("spill_bytes", 0.0) for v in layers.values()) / n
    f = res.get("functions", {})
    m.update({
        "spark.jit_s": (res["jit_ms"] / 1e3, "s"),
        "spark.gc_s": (res["gc_ms"] / 1e3, "s"),
        "spark.spill_bytes": (spill, "bytes"),
        "memo.persisted_bytes": (float(res["memo_bytes"]), "bytes"),
        "memo.persisted_blocks": (float(res["memo_blocks"]), "count"),
        "tables.input_bytes": (float(inputs[1]), "bytes"),
        "tables.input_rows": (float(inputs[0]), "count"),
        "sources.log_files_per_read": (res.get("log_files_per_read", 0.0), "count"),
        "sources.bytes_rewritten": (float(res.get("bytes_rewritten", 0)), "bytes"),
        "sources.compact_s": (sum(c["construct_ms"] for c in res["calls"]
                                  if c["op"] == "compact") / 1e3, "s"),
        "streaming.rows_per_tick": (res.get("streaming_rows_per_tick", 0.0), "count"),
        "functions.jaccard_ns_per_pair": (f.get("jaccard_ns_per_pair", 0.0), "ns"),
        "functions.rollhash_ns_per_row": (f.get("rollhash_ns_per_row", 0.0), "ns"),
        "functions.cosine_ns_per_pair": (f.get("cosine_ns_per_pair", 0.0), "ns"),
        "trace.overhead_frac": (overhead, "ratio"),
    })
    return m


def tracing_overhead(res):
    """Tracing overhead within the traced run: for each op, its median
    latency in traced warm passes over its median in untraced ones (the
    first warm pass, still compiling, only when no other untraced pass
    ran), as a geometric mean over ops, minus one."""
    traced = set(res["traced_passes"])
    by = {}
    for c in res["calls"]:
        if c["pass"] > 0 and c["ok"]:
            by.setdefault(c["op"], {}).setdefault(c["pass"], []).append(
                c["construct_ms"] + c["exec_ms"])
    logs = []
    for passes in by.values():
        on = [x for p, xs in passes.items() if p in traced for x in xs]
        off = [x for p, xs in passes.items() if p not in traced and p > 1 for x in xs]
        off = off or passes.get(1, [])
        if on and off:
            logs.append(math.log(median(on) / median(off)))
    return math.exp(sum(logs) / len(logs)) - 1.0 if logs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated runner still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}")
    cfg = spec["workloads"][a.workload]
    jars = jar_dir()
    built = build(jars, a.workload, cfg)

    run = os.path.join(BUILD, "run", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    data, out = os.path.join(run, "data"), os.path.join(run, "out")
    warm = warm_passes(cfg, a.seconds)
    try:
        gen_s = generate(cfg, a.seed, data, warm + 1)
        inputs = gen.input_stats(data)
        # set-up is sampled in JVMs that stop once set up, then in the main one
        setups = []
        for _ in range(0 if a.trace else SETUP_SAMPLES - 1):
            r, start_ms = run_jvm(built, jars, a.workload, cfg, data, out, warm,
                                  a.trace, setup_only=True)
            setups.append((r["first_op_ms"] - start_ms) / 1e3)
        res, start_ms = run_jvm(built, jars, a.workload, cfg, data, out, warm, a.trace)
        after_timing_s = time.time() - res["end_ms"] / 1e3
        setups.append((res["first_op_ms"] - start_ms) / 1e3)
        t0 = time.time()
        bad = check.run(cfg, res, data, out, warm)
        check_s = time.time() - t0
        if a.trace:
            keep = os.path.join(BUILD, "traces", f"{a.workload}-s{a.seed}")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(out, "spans.jsonl"), keep)
    finally:
        shutil.rmtree(run, ignore_errors=True)

    calls = res["calls"]
    for c in calls:
        if not c["ok"]:
            print(f"perfbench: FAILED {c['op']} pass {c['pass']}: {c['error']}", file=sys.stderr)
    for p, op, why in bad:
        print(f"perfbench: WRONG {op} pass {p}: {why}", file=sys.stderr)
    # a call fails when it throws or when its checked output is wrong; the
    # timings then leave out the pass it ran in
    wrong = {(p, op) for p, op, _ in bad}
    for c in calls:
        c["ok"] = c["ok"] and (c["pass"], c["op"]) not in wrong
    failed = len({(c["pass"], c["op"]) for c in calls if not c["ok"]} | wrong)
    attempted = len(calls)
    e2e = end_to_end(res, setups)
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "inputs": {"rows": inputs[0], "bytes": inputs[1]},
        "phases_s": {"generate": round(gen_s, 3), "after_timing": round(after_timing_s, 3),
                     "check": round(check_s, 3)},
        "attempted": attempted, "failed": failed, "fail_frac": failed / attempted,
        "warm_passes": warm,
        "pass_s": [round(sum(c["construct_ms"] + c["exec_ms"] for c in calls
                             if c["pass"] == p) / 1e3, 3) for p in range(warm + 1)],
        "op_ms": {op: [round(c["construct_ms"] + c["exec_ms"], 1) for c in calls if c["op"] == op]
                  for op in dict.fromkeys(c["op"] for c in calls)},
        "end_to_end": {k: dict(zip(("value", "unit", "n", "percentile"), v)) for k, v in e2e.items()},
    }
    if a.trace:
        layer = per_layer(res, inputs, tracing_overhead(res))
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        report["per_layer"] = metrics
        with open(os.path.join(keep, "layers.json"), "w") as f:
            json.dump(report, f, indent=1)
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in E2E}
    print("perfbench report " + json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
