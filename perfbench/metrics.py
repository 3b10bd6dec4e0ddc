"""Turns what the workload JVM recorded into metrics.

End-to-end metrics have one meaning per workload (the same name means
the same role everywhere, so every workload is gated on every metric); per-layer metrics come from the spans of a traced run and are
means per loop iteration unless their name says otherwise.
"""
import glob
import os
import statistics


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, n), or (None, None, n) with fewer than 11."""
    n = len(xs)
    if n < 11:
        return None, None, n
    return sorted(xs)[n - 11], round(100.0 * (n - 10) / n, 1), n


def end_to_end(res, marks):
    s = res["samples"]
    ok = res["attempted"] - res["failed"]
    return {
        "setup_s": marks.get("setup_s"),
        "wall_s": res["timed_s"] / max(1, res["iterations"]),
        "success_rate": ok / max(1, res["attempted"]),
        "primary_p50_s": median(s.get("primary", [])),
    }


def _timing(out, name, xs):
    out[name + "_p50_s"] = median(xs)
    out[name + "_n"] = len(xs)


def _tail(out, name, xs):
    v, pct, n = tail(xs)
    out[name + "_tail_s"] = v
    out[name + "_tail_pct"] = pct


def detail(workload, res, g, marks):
    """The workload's own figures, under the names they are discussed by."""
    s = res["samples"]
    out = {"error_rate": res["failed"] / max(1, res["attempted"]),
           "iterations": res["iterations"], "timed_s": res["timed_s"],
           "session_s": marks.get("session_s")}
    if workload == "pipeline_catchup":
        runs = s.get("primary", [])
        out["pipeline_first_run_s"] = res.get("cold_s")
        _timing(out, "pipeline_run", runs)
        _tail(out, "pipeline_run", runs)
        first = 1 + res["warmup_runs"]
        days = sorted(g["expected"])[first:first + len(runs)]
        rows = sum(g["expected"][d]["rows"] for d in days)
        out["pipeline_rows_per_s"] = rows / sum(runs) if runs else None
    elif workload == "table_upsert":
        _timing(out, "commit", s.get("primary", []))
        _tail(out, "commit", s.get("primary", []))
        _timing(out, "mor_delete", s.get("mor_delete", []))
        _timing(out, "point_read", s.get("probe", []))
        _tail(out, "point_read", s.get("probe", []))
        _timing(out, "miss_read", s.get("miss_read", []))
        _timing(out, "scan", s.get("scan", []))
        out["create_s"] = res.get("cold_s")
    else:
        out["catalog_cold_pass_s"] = res.get("cold_s")
        out["catalog_light_s"] = median(s.get("probe", []))
        out["catalog_heavy_s"] = median(s.get("primary", []))
        out["catalog_passes"] = len(s.get("primary", []))
        out["per_query_p50_s"] = {k.split(".", 1)[1]: median(v) for k, v in s.items()
                                  if "." in k}
    return out


LAYER_SPANS = {"meta.load_ms": "meta.load", "meta.bind_ms": "meta.bind",
               "sources.read_ms": "sources.read", "dataflow.plan_ms": "dataflow.plan",
               "stats.write_ms": "stats.write", "sinks.write_ms": "sinks.write"}
COUNTERS = ["spark.sql_executions", "spark.jobs", "spark.stages", "spark.tasks",
            "executor.run_ms", "executor.gc_ms", "io.input_bytes", "io.shuffle_write_bytes",
            "io.shuffle_read_bytes", "io.spill_bytes", "io.output_bytes",
            "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms"]
LOGSTORE_OPS = ["exists", "isDirectory", "read", "putIfAbsent", "putReplace", "list",
                "mkdirs", "createNew", "delete", "deleteTree", "rename", "modifiedTime",
                "size"]


def _sum(spans, key):
    return sum(sp["counters"].get(key, 0) for sp in spans)


def _calls(spans):
    return sum(_sum(spans, f"logstore.calls.{op}") for op in LOGSTORE_OPS)


def per_layer(workload, res, spans, cores, g):
    timed = [sp for sp in spans if sp["op"] > 0]
    its = [sp for sp in timed if sp["name"] == "iteration"]
    n = max(1, len(its))

    def named(name):
        return [sp for sp in timed if sp["name"] == name]

    def ms(sps):
        return sum(sp["end_ns"] - sp["start_ns"] for sp in sps) / 1e6

    out = {k: ms(named(v)) / n for k, v in LAYER_SPANS.items()}
    for k in COUNTERS:
        out[k] = _sum(its, k) / n
    out["executor.cpu_ms"] = _sum(its, "executor.cpu_ns") / 1e6 / n
    wall_ms = ms(its)
    out["executor.busy_share"] = _sum(its, "executor.run_ms") / (wall_ms * cores) \
        if wall_ms else 0.0
    stats, sinks = named("stats.write"), named("sinks.write")
    out["stats.sql_executions"] = _sum(stats, "spark.sql_executions") / n
    out["sinks.output_bytes"] = _sum(sinks, "io.output_bytes") / n

    # bytes the workload's inputs hold, over the timed iterations
    if workload == "pipeline_catchup":
        src = sum(res.get("source_bytes", []))
    elif workload == "table_upsert":
        src = sum(c["upserted_bytes"] for c in res.get("commits", []))
    else:
        src = len(its) * sum(os.path.getsize(f)
                             for f in glob.glob(os.path.join(g["data"], "*.parquet")))
    out["sources.scan_amplification"] = _sum(its, "io.input_bytes") / src if src else 0.0

    merges = named("snapshot.merge")
    commits_spans = merges + named("snapshot.mor_delete")
    reads = named("snapshot.point_read")
    commits = res.get("commits", [])
    ups_bytes = sum(c["upserted_bytes"] for c in commits)
    out["snapshot.write_amplification"] = _sum(merges, "io.output_bytes") / ups_bytes \
        if ups_bytes else 0.0
    out["snapshot.partitions_rewritten"] = \
        sum(c["partitions_rewritten"] for c in commits) / len(commits) if commits else 0.0
    out["snapshot.files_written"] = \
        sum(c["files_written"] for c in commits) / len(commits) if commits else 0.0
    shares = [r["files_kept"] / r["files_total"] for r in res.get("reads", [])
              if r.get("files_total")]
    out["snapshot.point_read_files_share"] = sum(shares) / len(shares) if shares else 0.0

    for op in LOGSTORE_OPS:
        out[f"logstore.calls.{op}"] = _sum(its, f"logstore.calls.{op}") / n
    out["logstore.calls_per_commit"] = _calls(commits_spans) / len(commits_spans) \
        if commits_spans else 0.0
    out["logstore.calls_per_read"] = _calls(reads) / len(reads) if reads else 0.0
    out["logstore.ms"] = _sum(its, "logstore.ns") / 1e6 / n
    out["trace.overhead_share"] = res.get("trace_overhead_ms", 0.0) / (1000 * res["timed_s"]) \
        if res["timed_s"] else 0.0
    out["trace.wall_s"] = res["timed_s"] / n
    return out


def input_sizes(workload, work, g):
    """Bytes and rows of what the run was given."""
    def du(path):
        return sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(path) for f in fs)
    if workload == "pipeline_catchup":
        e = g["expected"]
        return {"partitions": len(e), "rows_per_partition": next(iter(e.values()))["rows"],
                "partition_bytes_mean": sum(v["bytes"] for v in e.values()) / len(e)}
    if workload == "table_upsert":
        return {"initial_bytes": os.path.getsize(os.path.join(work, "initial.parquet")),
                "step_files_bytes": du(os.path.join(work, "steps"))}
    return {"catalog_bytes": du(g["data"]),
            "tables": sorted(os.path.basename(f) for f in
                             glob.glob(os.path.join(g["data"], "*.parquet")))}
