#!/usr/bin/env python3
"""Steadiness check: run each workload once per seed and report, for every
end-to-end metric, the spread (inter-quartile distance over median) of the
per-run values next to each run's hypervisor steal share.

    python3 perfbench/steady.py --seeds 1-10 --out perfbench/results/steady.json rollup study ingest

With `--against <earlier.json>` the report also gives, per workload and
metric, how far this set's median moved from the earlier set's, as a share
of the earlier median, next to the metric's bound.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchstats  # noqa: E402

ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="+")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", required=True)
    ap.add_argument("--against")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for w in a.workloads:
        runs = []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            if p.returncode != 0:
                sys.exit(f"{w} seed {s} failed:\n{p.stderr[-2000:]}")
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            steal = float(lines[0].split("steal_frac=")[1].split()[0])
            outputs = dict(kv.split("=", 1) for kv in lines[1][len("# outputs:"):].split())
            runs.append({"seed": s, "wall_s": round(wall, 1), "steal_frac": steal,
                         "outputs": outputs,
                         "correct": res["correct"], "attempted": res["attempted"],
                         "failed": res["failed"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print(f"{w} seed={s} wall={wall:.1f}s steal={steal:.3f} "
                  + " ".join(f"{k}={v:.4g}" for k, v in runs[-1]["metrics"].items()),
                  flush=True)
        summary = {}
        for m in runs[0]["metrics"]:
            vals = [r["metrics"][m] for r in runs]
            sp = benchstats.spread(vals)
            bound = bounds.get(m)
            summary[m] = {"median": benchstats.median(vals), "spread": sp, "bound": bound,
                          "within_third_of_bound": bound is not None and sp < bound / 3}
            print(f"  {w} {m}: median={summary[m]['median']:.4g} spread={sp:.3f} "
                  f"bound={bounds.get(m)}", flush=True)
        report["workloads"][w] = {"runs": runs, "summary": summary}
    if a.against:
        with open(a.against) as f:
            report["against"] = {"file": os.path.basename(a.against),
                                 "shift": shifts(json.load(f), report)}
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
    with open(os.path.splitext(a.out)[0] + ".md", "w") as f:
        f.write(markdown(report))


def shifts(old, new):
    """Per workload and metric: (new median - old median) / old median, and
    whether the outputs of runs with the same seed are the same."""
    out = {}
    for w, r in new["workloads"].items():
        if w not in old["workloads"]:
            continue
        o = old["workloads"][w]
        out[w] = {m: (s["median"] - o["summary"][m]["median"]) / o["summary"][m]["median"]
                  for m, s in r["summary"].items() if m in o["summary"]}
        before = {run["seed"]: run.get("outputs") for run in o["runs"]}
        out[w]["same_outputs_per_seed"] = all(
            before.get(run["seed"]) == run["outputs"] for run in r["runs"])
    return out


def markdown(report):
    """Per-run values with each run's steal share; runs whose steal exceeds
    5% are marked as noisy windows (kept, not filtered)."""
    out = []
    for w, r in report["workloads"].items():
        names = list(r["summary"])
        out.append(f"### {w}\n")
        out.append("| seed | wall_s | steal_frac | " + " | ".join(names) + " |")
        out.append("|---" * (3 + len(names)) + "|")
        for run in r["runs"]:
            mark = " (noisy)" if run["steal_frac"] > 0.05 else ""
            out.append(f"| {run['seed']} | {run['wall_s']} | {run['steal_frac']:.3f}{mark} | "
                       + " | ".join(f"{run['metrics'][n]:.4g}" for n in names) + " |")
        out.append("| **median** | | | " + " | ".join(
            f"{r['summary'][n]['median']:.4g}" for n in names) + " |")
        out.append("| **spread** | | | " + " | ".join(
            f"{r['summary'][n]['spread']:.3f} (bound {r['summary'][n]['bound']})"
            for n in names) + " |\n")
    if "against" in report:
        out.append(f"### median shift against {report['against']['file']}\n")
        out.append("| workload | metric | shift | bound |")
        out.append("|---|---|---|---|")
        for w, sh in report["against"]["shift"].items():
            for m, v in sh.items():
                if m != "same_outputs_per_seed":
                    bound = report["workloads"][w]["summary"][m]["bound"]
                    out.append(f"| {w} | {m} | {v:+.3f} | {bound} |")
            out.append(f"| {w} | outputs identical per seed | "
                       f"{'yes' if sh['same_outputs_per_seed'] else 'no'} | |")
        out.append("")
    return "\n".join(out) + "\n"


if __name__ == "__main__":
    main()
