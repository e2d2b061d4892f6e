"""Arithmetic of the benchmark: percentiles, failure share, span self time
and the per-layer metrics of a traced run.

The only I/O is reading the per-layer metric list from BENCHMARK.json at
import; everything else is pure, so `test_benchstats.py` checks it directly.
"""
import json
import math
import os
import statistics

def _per_layer():
    """The per-layer metrics (name, unit, better) that BENCHMARK.json lists."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    with open(path) as f:
        return [(m["name"], m["unit"], m["better"]) for m in json.load(f)["per_layer"]]


PER_LAYER = _per_layer()
PER_LAYER_UNITS = {name: unit for name, unit, _ in PER_LAYER}


def median(xs):
    return statistics.median(xs)


def percentile(xs, p):
    """Nearest-rank p-th percentile, or None unless at least ten samples lie
    above it (a tail is only reported where it is backed by ten samples)."""
    if not xs:
        return None
    s = sorted(xs)
    q = s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]
    return q if sum(1 for x in s if x > q) >= 10 else None


def failed_frac(attempted, failed):
    """Share of attempted operations that failed or failed their check."""
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def union_ms(intervals):
    """Total length of a union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(span, children):
    """A span's duration minus the part of it its child spans cover."""
    s, e = span["start_ms"], span["end_ms"]
    covered = union_ms((max(c["start_ms"], s), min(c["end_ms"], e)) for c in children)
    return (e - s) - covered


class _Jobs:
    """Jobs with their completed stages folded in."""

    def __init__(self, jobs, stages):
        by_id = {}
        for st in stages:  # the last attempt of a stage wins
            by_id[st["id"]] = st
        claimed = set()
        self.jobs = sorted(jobs, key=lambda j: (j["start_ms"], j["id"]))
        for j in self.jobs:
            own = [by_id[i] for i in j.get("stages", []) if i in by_id and i not in claimed]
            claimed.update(st["id"] for st in own)
            j["_stages"] = own

    @staticmethod
    def stats(jobs, wall_ms, cores):
        stages = [st for j in jobs for st in j["_stages"]]
        task_s = sum(st["task_ms_sum"] for st in stages) / 1e3
        longest = max(stages, key=lambda st: st["end_ms"] - st["start_ms"], default=None)
        skew = 0.0
        if longest and longest["task_ms_median"] > 0:
            skew = longest["task_ms_max"] / longest["task_ms_median"]
        return {
            "jobs": len(jobs),
            "task_s": task_s,
            "core_util": task_s / (wall_ms / 1e3 * cores) if wall_ms > 0 else 0.0,
            "task_skew": skew,
            "shuffle_mb": sum(st["shuffle_bytes"] for st in stages) / 1e6,
            "spill_mb": sum(st["spill_bytes"] for st in stages) / 1e6,
        }


def _pass_metrics(root, spans, jobs, cores):
    """Per-layer metrics of one traced pass (a root span and its subtree)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    sub, todo = [], [root]
    while todo:
        s = todo.pop()
        sub.append(s)
        todo.extend(kids.get(s["id"], []))
    own = {}
    for j in jobs.jobs:
        own.setdefault(j["group"], []).append(j)

    def group(s):
        return f"perfbench-{s['run']}-{s['id']}"

    out = {}

    def add(name, v):
        if name.startswith("_") or name in PER_LAYER_UNITS:
            out[name] = out.get(name, 0.0) + v

    for s in sub:
        name = s["name"]
        self_t = self_ms(s, kids.get(s["id"], []))
        js = own.get(group(s), [])
        st = _Jobs.stats(js, self_t, cores)
        attrs = s.get("attrs", {})
        if name in ("SeriesDerive", "GapFill_hourly", "Tiers.coarse", "MixedEffects"):
            add(f"{name}.self_s", self_t / 1e3)
            for q in ("task_s", "task_skew", "shuffle_mb", "spill_mb", "jobs"):
                add(f"{name}.{q}", st[q])
            add(f"{name}.rows_out", attrs.get("rows_out", 0.0))
            add(f"{name}.core_util", st["core_util"])
        elif name in ("TierBuilder.buildHourly", "TierBuilder.buildCoarse"):
            add(f"{name}.self_s", self_t / 1e3)
            add(f"{name}.jobs", st["jobs"])
            for k in ("partitions_built", "partitions_new"):
                if k in attrs:
                    add(f"{name}.{k}", attrs[k])
        elif name == "SnapshotStore.expire":
            add("SnapshotStore.expire_self_s", self_t / 1e3)
        elif name == "TierBuilder.read":
            for k in ("files_read", "rows_scanned", "rows_returned"):
                add(f"_read.{k}", attrs.get(k, 0.0))
            add("_read.count", 1)
        elif name == "study":
            out.update(_study_metrics(s, jobs, cores))
        if "manifest_files" in attrs:
            add("SnapshotStore.manifest_files", attrs["manifest_files"])

    built = out.get("TierBuilder.buildHourly.partitions_built", 0.0)
    if built:
        out["TierBuilder.buildHourly.useful_build_frac"] = (
            out.get("TierBuilder.buildHourly.partitions_new", 0.0) / built)
    if out.get("_read.count"):
        out["TierBuilder.read.files_read"] = out["_read.files_read"] / out["_read.count"]
        if out["_read.rows_returned"]:
            out["TierBuilder.read.rows_scanned_per_row_returned"] = (
                out["_read.rows_scanned"] / out["_read.rows_returned"])
    return {k: v for k, v in out.items() if not k.startswith("_")}


def _study_metrics(span, jobs, cores):
    """Attribute the jobs of one processAStudy call to its phases.

    Jobs labelled `ctas:<phase>` belong to that phase; a phase's wall time
    runs from one labelled job's start to the next labelled job's start
    (the last to the end of the call).  Everything before the first
    labelled job is input validation (SchemaCheck); unlabelled jobs after
    it are `ctas.unlabeled`.
    """
    s0, s1 = span["start_ms"], span["end_ms"]
    inside = [j for j in jobs.jobs if s0 <= j["start_ms"] <= s1]
    labelled = [j for j in inside if j["desc"].startswith("ctas:")]
    first = labelled[0]["start_ms"] if labelled else s1
    out = {}
    pre = [j for j in inside if j["start_ms"] < first]
    st = _Jobs.stats(pre, first - s0, cores)
    out["SchemaCheck.self_s"] = (first - s0) / 1e3
    out["SchemaCheck.task_s"] = st["task_s"]
    out["SchemaCheck.jobs"] = st["jobs"]
    wall = {}
    for a, b in zip(labelled, labelled[1:] + [None]):
        p = a["desc"][len("ctas:"):]
        end = b["start_ms"] if b else s1
        wall[p] = wall.get(p, 0) + (end - a["start_ms"])
    phases = {}
    for j in inside:
        if j["start_ms"] < first:
            continue
        p = j["desc"][len("ctas:"):] if j["desc"].startswith("ctas:") else "unlabeled"
        phases.setdefault(p, []).append(j)
    unl = phases.get("unlabeled", [])
    wall["unlabeled"] = union_ms((j["start_ms"], j.get("end_ms", j["start_ms"])) for j in unl)
    for p, js in phases.items():
        if f"ctas.{p}.wall_s" not in PER_LAYER_UNITS:
            raise ValueError(f"unknown ctas phase {p!r}: add ctas.{p}.* to BENCHMARK.json")
        st = _Jobs.stats(js, wall.get(p, 0), cores)
        out[f"ctas.{p}.wall_s"] = wall.get(p, 0) / 1e3
        for q in ("task_s", "core_util", "task_skew", "jobs"):
            out[f"ctas.{p}.{q}"] = st[q]
    tot = _Jobs.stats(inside, s1 - s0, cores)
    out["study.shuffle_mb"] = tot["shuffle_mb"]
    out["study.spill_mb"] = tot["spill_mb"]
    return out


def layer_metrics(records, cores, traced_pass_s, untraced_pass_s, steal_frac):
    """Every per-layer metric of a traced run: the median over its traced
    passes of each pass's value; layers the workload does not call read 0.

    The tracing overhead compares the summed traced and untraced pass
    times; the run orders its passes in untraced-traced-traced-untraced
    blocks, so a drift that is linear over a block cancels in the sums."""
    spans = [r for r in records if r["type"] == "span"]
    jobs = _Jobs([r for r in records if r["type"] == "job"],
                 [r for r in records if r["type"] == "stage"])
    roots = [s for s in spans if s["parent"] < 0 and s["name"].endswith(".pass")]
    per_pass = [_pass_metrics(r, spans, jobs, cores) for r in roots]
    out = {}
    for name, _, _ in PER_LAYER:
        vals = [m[name] for m in per_pass if name in m]
        out[name] = median(vals) if vals else 0.0
    if traced_pass_s and untraced_pass_s:
        out["trace.overhead_frac"] = sum(traced_pass_s) / sum(untraced_pass_s) - 1
    out["trace.box.steal_frac"] = steal_frac
    return out
