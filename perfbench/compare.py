#!/usr/bin/env python3
"""Compare two sets of benchmark results, one row per workload.

    python3 perfbench/compare.py BASE_DIR [NEW_DIR]

Each directory holds the result files run.py writes to
.bench_build/results/ (copy them aside between the two commits). For every
end-to-end metric in BENCHMARK.json, and for each workload's own figures,
it prints the median and quartiles of each side and a verdict:

  regression   NEW's median is worse than BASE's by more than the bound
  unresolved   a side's spread (IQR / median) exceeds the bound, and not
               every NEW run beats every BASE run
  better/same  otherwise

Per-layer counts from traced runs must repeat exactly and are compared as
counts. Tracing overhead is the traced runs' wall per iteration against
the untraced runs' wall_s. When the traced wall, net of the tracing's own
time, falls outside the untraced runs' range widened by wall_s's bound, it
prints DRIFT: the traced run no longer does what the untraced one does
(pipeline_catchup traces its own copy of ScheduleRunner.runDue and
Dataflow.run). The range, not the median, is the test, since a host's
speed drifts between runs taken minutes apart. With one directory it
prints that set alone, with each metric's spread against its bound.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# the workloads' own figures take the bound of the gated metric they
# refine (the session start-up and the cold first operation are parts of
# setup_s); the light operations, which no gated metric covers, take 0.25
DETAIL_BOUND = {"session_s": "setup_s",
                "pipeline_first_run_s": "setup_s", "pipeline_run_p50_s": "primary_p50_s",
                "pipeline_rows_per_s": "primary_p50_s",
                "commit_p50_s": "primary_p50_s", "mor_delete_p50_s": "primary_p50_s",
                "scan_p50_s": "primary_p50_s", "point_read_p50_s": None,
                "miss_read_p50_s": None, "create_s": "setup_s",
                "catalog_cold_pass_s": "setup_s", "catalog_heavy_s": "primary_p50_s",
                "catalog_light_s": None}


def load(d):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        if f.endswith(".spans.json"):
            continue
        with open(f) as fh:
            r = json.load(fh)
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def stats(xs):
    xs = [x for x in xs if x is not None]
    if not xs:
        return None
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    med = statistics.median(xs)
    return {"median": med, "q1": q[0], "q3": q[2], "n": len(xs),
            "spread": (q[2] - q[0]) / med if med else 0.0, "values": xs}


def values(runs, name):
    out = []
    for r in runs:
        v = r["end_to_end"].get(name, r["detail"].get(name))
        out.append(v)
    return out


def verdict(hi, bound, b, n):
    if b is None or n is None:
        return "missing"
    worse = (b["median"] - n["median"]) / b["median"] if hi else \
        (n["median"] - b["median"]) / b["median"] if b["median"] else 0.0
    all_better = (min(n["values"]) > max(b["values"])) if hi else \
        (max(n["values"]) < min(b["values"]))
    if worse > bound:
        return f"regression ({100 * worse:+.1f}%)"
    if (b["spread"] > bound or n["spread"] > bound) and not all_better:
        return "unresolved"
    return "better" if worse < 0 else "same"


def fmt(s):
    if s is None:
        return "-"
    return f"{s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}] n={s['n']}"


def main():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    # directions as BENCHMARK.json records them, plus the one detail
    # figure that is a rate
    higher = {m["name"] for m in bench["end_to_end"] + bench["per_layer"]
              if m["better"] == "higher"} | {"pipeline_rows_per_s"}
    base = load(sys.argv[1])
    new = load(sys.argv[2]) if len(sys.argv) > 2 else None
    for w in [x["name"] for x in bench["workloads"]]:
        b_runs, n_runs = base.get((w, 0), []), (new or {}).get((w, 0), [])
        if not b_runs and not n_runs:
            continue
        print(f"\n== {w}")
        names = list(bounds) + sorted({k for r in b_runs + n_runs for k in r["detail"]
                                       if k in DETAIL_BOUND})
        for name in names:
            bound = bounds.get(name, bounds.get(DETAIL_BOUND.get(name), 0.25))
            bs = stats(values(b_runs, name))
            if new is None:
                flag = "" if bs is None or name == "setup_s" or bs["spread"] <= bound \
                    else "  SPREAD > bound"
                sp = f" spread {bs['spread']:.3f}/{bound}" if bs else ""
                print(f"  {name:22s} {fmt(bs)}{sp}{flag}")
            else:
                ns = stats(values(n_runs, name))
                print(f"  {name:22s} {fmt(bs):40s} -> {fmt(ns):40s} "
                      f"{verdict(name in higher, bound, bs, ns)}")
        for side, runs in (("base", base), ("new", new)):
            if runs is None:
                continue
            traced, plain = runs.get((w, 1), []), runs.get((w, 0), [])
            if traced and plain:
                tw = statistics.median(r["per_layer"]["trace.wall_s"] for r in traced)
                share = statistics.median(r["per_layer"]["trace.overhead_share"]
                                          for r in traced)
                uws = [r["end_to_end"]["wall_s"] for r in plain]
                uw = statistics.median(uws)
                net, bound = tw * (1 - share), bounds["wall_s"]
                flag = f"  DRIFT ({100 * (net / uw - 1):+.1f}% net of tracing)" \
                    if not min(uws) * (1 - bound) <= net <= max(uws) * (1 + bound) else ""
                print(f"  tracing overhead ({side}): wall/iteration {tw:.4g} s traced "
                      f"vs {uw:.4g} s untraced ({100 * (tw / uw - 1):+.1f}%){flag}")
        if new is not None:
            bt, nt = base.get((w, 1), []), new.get((w, 1), [])
            if bt and nt:
                counts = [m["name"] for m in bench["per_layer"] if m["unit"] == "count"]
                diff = [c for c in counts
                        if {round(r["per_layer"][c], 6) for r in bt} !=
                        {round(r["per_layer"][c], 6) for r in nt}]
                print("  per-layer counts: " + ("identical" if not diff else
                      "differ in " + ", ".join(diff)))


if __name__ == "__main__":
    main()
