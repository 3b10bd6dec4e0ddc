"""Correctness gates, run after the workload JVM has exited. Each returns
a list of problems; any problem makes the run incorrect."""
import glob
import hashlib
import json
import math
import os
from collections import Counter

import duckdb
import pyarrow.parquet as pq

import gen


def check(workload, work, res, gate_input):
    return {"pipeline_catchup": pipeline, "table_upsert": table,
            "catalog_mix": catalog}[workload](work, res, gate_input)


def pipeline(work, res, g):
    """Every executed run's OK and KO sinks hold exactly the generator's
    OK/KO rows, and the KO rows carry exactly its per-label counts."""
    problems = []
    dates = sorted(g["expected"])[:res.get("runs_executed", 0)]
    if not dates:
        return ["no pipeline run executed"]
    for d in dates:
        exp = g["expected"][d]
        ok_files = glob.glob(os.path.join(work, "out", "ok", f"run_date={d}", "*.parquet"))
        n_ok = sum(pq.ParquetFile(f).metadata.num_rows for f in ok_files)
        labels, n_ko = Counter(), 0
        for f in glob.glob(os.path.join(work, "out", "ko", f"run_date={d}", "*.json")):
            with open(f) as fh:
                for line in fh:
                    if line.strip():
                        n_ko += 1
                        labels.update(json.loads(line).get("validation_errors", []))
        if (n_ok, n_ko) != (exp["ok"], exp["ko"]):
            problems.append(f"{d}: OK/KO {n_ok}/{n_ko}, expected {exp['ok']}/{exp['ko']}")
        if dict(labels) != exp["labels"]:
            diff = {k: (labels.get(k, 0), exp["labels"].get(k, 0))
                    for k in set(labels) | set(exp["labels"])
                    if labels.get(k, 0) != exp["labels"].get(k, 0)}
            problems.append(f"{d}: label counts (got, expected) differ: {diff}")
    # the stats JSON is rewritten by every run: it describes the last one
    with open(os.path.join(work, "out", "stats", "policy_stats.json")) as f:
        vs = json.load(f).get("validation_stats", {})
    last = g["expected"][dates[-1]]
    if (vs.get("valid_records"), vs.get("rejected_records")) != (last["ok"], last["ko"]):
        problems.append(f"stats JSON validation_stats {vs} disagree with {last['ok']}/{last['ko']}")
    return problems


def table(work, res, g):
    """Every point read returned the latest written version, every scan
    the replayed per-region totals, and the final table equals the
    generator's replay of the executed steps; fsck finds nothing."""
    problems = [f"fsck: {x}" for x in res.get("fsck", [])]
    seed, rows, batch, del_every, scan_every = g["stream"]
    stream = gen.UpsertStream(seed, rows, batch, del_every, scan_every)
    reads = {}
    for r in res.get("reads", []):
        reads.setdefault(r["step"], []).append((r["key"], r["revs"]))
    scans = {s["step"]: s["regions"] for s in res.get("scans", [])}
    state = dict(stream.initial)
    for s, op, state in stream.steps(res.get("steps_done", 0)):
        want = list(zip(op["probes"], op["expect"]))
        if reads.get(s) != want:
            problems.append(f"step {s}: point reads gave {reads.get(s)}, expected {want}")
        if op["scan"]:
            agg = {}
            for r, _, c, _ in state.values():
                n, tot = agg.get(r, (0, 0))
                agg[r] = (n + 1, tot + c)
            if {k: list(v) for k, v in agg.items()} != scans.get(s):
                problems.append(f"step {s}: grouped scan differs from the replay")
    final = pq.read_table(os.path.join(work, "final")).to_pylist()
    got = {r["policy_id"]: (r["region"], r["holder"], r["premium_cents"], r["rev"])
           for r in final}
    if len(final) != len(got):
        problems.append("final table holds duplicate keys")
    if got != state:
        missing = len(set(state) - set(got))
        extra = len(set(got) - set(state))
        changed = sum(1 for k in set(got) & set(state) if got[k] != state[k])
        problems.append(f"final table differs from the replay: {missing} missing, "
                        f"{extra} extra, {changed} changed rows")
    return problems


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def _rows(table):
    cols = sorted(table.column_names)
    return cols, sorted(tuple(_norm(r[c]) for c in cols) for r in table.to_pylist())


def catalog(work, res, g):
    """Each entry's output from the cold pass hash-matches its DuckDB
    oracle: columns sorted by name, rows sorted, values compared exactly
    (the compare tools/check_oracle.py makes). An oracle's answer depends
    only on its SQL and the fixed catalog tables, so it is cached under
    the hash of both."""
    problems = []
    out = os.path.join(work, "outputs")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in sorted(glob.glob(os.path.join(g["data"], "*.parquet"))):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    os.makedirs(g["oracle_cache"], exist_ok=True)
    for name in sorted(oracle):
        files = sorted(glob.glob(os.path.join(out, name, "*.parquet")))
        if not files:
            problems.append(f"{name}: no output")
            continue
        key = hashlib.sha256((g["data_version"] + "\0" + oracle[name]).encode()).hexdigest()
        cached = os.path.join(g["oracle_cache"], key + ".json")
        if os.path.isfile(cached):
            with open(cached) as f:
                ocols, orows = json.load(f)
            orows = [tuple(r) for r in orows]
        else:
            try:
                ocols, orows = _rows(con.execute(oracle[name]).fetch_arrow_table())
            except duckdb.Error as e:
                problems.append(f"{name}: oracle error {e}")
                continue
            with open(cached, "w") as f:
                json.dump([ocols, orows], f)
        scols, srows = _rows(con.execute(f"SELECT * FROM read_parquet({files!r})")
                             .fetch_arrow_table())
        if ocols != scols:
            problems.append(f"{name}: columns {scols}, oracle {ocols}")
        elif orows != srows:
            problems.append(f"{name}: {len(srows)} rows differ from the oracle's {len(orows)}")
    if len(oracle) != res["catalog_entries"]:
        problems.append(f"{len(oracle)} oracles for {res['catalog_entries']} catalog entries")
    return problems
