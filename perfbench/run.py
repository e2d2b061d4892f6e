#!/usr/bin/env python3
"""Repository benchmark: rollup, study and ingest workloads.

    python3 perfbench/run.py --workload rollup --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the library and the
harness from source with sbt (offline) into `.bench_build/`; later runs
reuse the build while the sources are unchanged. Each run starts one JVM
(`local[N]`, N = usable cores), makes the workload's inputs from the seed,
warms up, measures closed-loop passes for `--seconds`, checks every
pass's outputs and prints a metric table followed by one JSON line.
With `--trace 1` the run alternates untraced and traced passes and prints
the per-layer metrics instead; the raw spans and Spark job/stage records
are kept in `.bench_build/trace/`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchstats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")

# Input sizes, per workload (pages, Zipf hosts).
SIZES = {
    "rollup": {"pages": 50_000, "hosts": 80},
    "study": {"pages": 40_000, "hosts": 60},
    "ingest": {"pages": 22_000, "hosts": 80},
}
SHUFFLE_PARTITIONS = 8
HEAP = "3g"
JVM_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    for top in (LIB_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile library + harness with sbt when the sources changed; return
    the runtime classpath."""
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"library sources not found under {os.path.relpath(LIB_SRC, ROOT)}; "
             "run from a checkout of the repository")
    digest = sources_digest()
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("digest") == digest:
            return got["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=840).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [ln for ln in lines if "perfbench" in ln and ln.count(os.pathsep) > 5]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); log in {os.path.relpath(log, ROOT)}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip()


def run_jvm(classpath, a, cores):
    work = os.path.join(BUILD, "work", a.workload)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    os.makedirs(work, exist_ok=True)
    tag = f"{a.workload}-{a.seed}-{a.trace}"
    out = os.path.join(BUILD, f"result-{tag}.json")
    trace_out = os.path.join(BUILD, "trace", f"{tag}.jsonl")
    for p in (out, trace_out):
        if os.path.exists(p):
            os.remove(p)
    size = SIZES[a.workload]
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap: a heap grown on demand made whole runs fast or slow
    cmd = ["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cores", str(cores),
           "--shuffle-partitions", str(SHUFFLE_PARTITIONS),
           "--pages", str(size["pages"]), "--hosts", str(size["hosts"]),
           "--work", work, "--out", out, "--trace-out", trace_out,
           "--launch-ms", str(int(time.time() * 1000))]
    log = os.path.join(BUILD, f"jvm-{tag}.log")
    with open(log, "w") as err:
        try:
            rc = subprocess.run(cmd, cwd=ROOT, stdout=err, stderr=subprocess.STDOUT,
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s; log in {os.path.relpath(log, ROOT)}")
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM failed (exit {rc}); log in {os.path.relpath(log, ROOT)}")
    with open(out) as f:
        res = json.load(f)
    return res, trace_out


def end_to_end(res):
    """The contract metrics plus the workload's own named figures."""
    sm = res["samples"]
    wl = res["workload"]
    med = benchstats.median
    setup_s = res["session_s"] + med(res["synth_s"]) + res["warmup_s"]
    prim = med(sm["primary_s"])
    second_key, second_scale = ("read_ms", 1e-3) if wl == "ingest" else ("secondary_s", 1.0)
    second = med(sm[second_key]) * second_scale
    named = []  # (name, value, unit, note)
    if wl == "rollup":
        pts = int(res["info"]["points"])
        named += [("rollup_pps", pts / prim, "points/s", f"{pts} points / median pass"),
                  ("coarse_s", second, "s", "daily + weekly + flags of a pass")]
    elif wl == "study":
        named += [("study_s", prim, "s", "processAStudy, outputs materialized"),
                  ("mixed_effects_s", second, "s", "MixedEffects.score, collected")]
    else:
        reads = sm["read_ms"]
        named += [("append_day_s", prim, "s", f"median of {len(sm['primary_s'])} appends"),
                  ("tier_read_ms_p50", med(reads), "ms", f"{len(reads)} reads")]
        p90 = benchstats.percentile(reads, 90)
        named.append(("tier_read_ms_p90", p90 if p90 is not None else float("nan"), "ms",
                      "needs >= 10 reads above it" if p90 is None else f"{len(reads)} reads"))
    ff = benchstats.failed_frac(res["attempted"], res["failed"])
    named += [("setup_s", setup_s, "s", "session + median input synthesis + warm-up"),
              ("failed_frac", ff, "ratio", f"{res['failed']} of {res['attempted']} ops"),
              ("peak_rss_mb", res["peak_rss_mb"], "MB", "JVM VmHWM")]
    metrics = {"primary_s": (prim, "s"), "setup_s": (setup_s, "s")}
    return metrics, named


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cores = len(os.sched_getaffinity(0))
    classpath = build()
    res, trace_out = run_jvm(classpath, a, cores)

    correct = res["failed"] == 0 and res["warmup_failed"] == 0 and res["attempted"] >= 1
    config = json.dumps(res["config"]).replace(ROOT + os.sep, "")
    print(f"# workload={a.workload} seed={a.seed} cores={cores} passes={res['passes']} "
          f"steal_frac={res['steal_frac']:.4f} config={config}")
    print("# outputs: " + " ".join(f"{k}={v}" for k, v in res["info"].items()))
    for e in res["errors"]:
        print(f"# check failed: {e}")
    if a.trace:
        with open(trace_out) as f:
            records = [json.loads(ln) for ln in f if ln.strip()]
        values = benchstats.layer_metrics(records, cores, res["traced_pass_s"],
                                          res["untraced_pass_s"], res["steal_frac"])
        metrics = {k: (v, benchstats.PER_LAYER_UNITS[k]) for k, v in values.items()}
        print(f"# trace: {os.path.relpath(trace_out, ROOT)}")
        for k, (v, unit) in metrics.items():
            print(f"{k:<52} {v:>14.6g} {unit}")
    else:
        metrics, named = end_to_end(res)
        for name, v, unit, note in named:
            print(f"{name:<20} {v:>14.6g} {unit:<9} {note}")
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
