"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: calling it twice with the
same seed yields byte-identical inputs, and the expected outcome (OK/KO
counts, per-label counts, the table's replayed state) comes from the
generator itself, never from the program under test.
"""
import datetime as dt
import json
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- pipeline

ANCHOR = dt.date(2024, 1, 1)

# (kind, share of rows, labels the validation rules must attach). Labels
# follow the rule semantics of the motor-ingestion flow below: a null age
# fails notNull and isInteger; a non-numeric premium fails isNumeric and
# min; an unparseable start date fails isDate and dateBefore.
DEFECTS = [
    ("policy_null", 0.004, ["policy_id:must_not_be_null"]),
    ("policy_bad", 0.004, ["policy_id:must_match_pattern"]),
    ("age_null", 0.006, ["driver_age:must_not_be_null", "driver_age:must_be_integer"]),
    ("age_young", 0.008, ["driver_age:must_be_between_18.0_and_99.0"]),
    ("age_frac", 0.004, ["driver_age:must_be_integer"]),
    ("plate_bad", 0.006, ["plate:must_match_pattern"]),
    ("premium_text", 0.004, ["premium:must_be_numeric", "premium:must_be_at_least_0.0"]),
    ("premium_neg", 0.004, ["premium:must_be_at_least_0.0"]),
    ("vehicle_value_neg", 0.003, ["vehicle_value:must_be_at_least_0.0"]),
    ("start_bad", 0.004, ["start_date:must_be_valid_date",
                          "start_date:must_be_before_end_date"]),
    ("start_after", 0.006, ["start_date:must_be_before_end_date"]),
]

MAKES = ["seat", "renault", "ford", "toyota", "vw", "kia", "bmw", "fiat"]
REGIONS8 = ["north", "south", "east", "west", "centre", "islands", "coast", "mountain"]
LETTERS = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))


def run_date(i):
    return (ANCHOR + dt.timedelta(days=i)).isoformat()


def motor_flow(work):
    """The reference-shaped motor-ingestion flow, scheduled daily."""
    def p(*xs):
        return os.path.join(work, *xs)
    return {
        "schedule": {"interval": "daily", "anchor": f"{ANCHOR.isoformat()}T00:00:00Z",
                     "catchup": True, "retries": 0},
        "dataflows": [{
            "name": "motor-ingestion",
            "sources": [{"name": "policies", "format": "json",
                         "path": p("input", "run_date=${run_date}")}],
            "transformations": [
                {"name": "standardization", "type": "normalize_fields", "params": {
                    "input": "policies", "output": "standardized", "fields": [
                        {"name": "driver_age", "sources": ["driver.age"]},
                        {"name": "license", "sources": ["driver.license_number"]},
                        {"name": "plate", "sources": ["vehicle.plate"]},
                        {"name": "vehicle_value", "sources": ["vehicle.value"]}]}},
                {"name": "metadata_fields", "type": "add_fields", "params": {
                    "input": "standardized", "output": "with_meta", "fields": [
                        {"name": "ingested_at", "function": "current_timestamp"},
                        {"name": "feed", "literal": "motor"}]}},
                {"name": "validation", "type": "validate_fields", "params": {
                    "input": "with_meta",
                    "validations": [
                        {"field": "policy_id", "validations": ["notNull", "pattern:^P-\\d{9}$"]},
                        {"field": "driver_age",
                         "validations": ["notNull", "isInteger", "range:18-99"]},
                        {"field": "plate", "validations": ["pattern:^[A-Z]{2}-\\d{3}$"]},
                        {"field": "premium", "validations": ["isNumeric", "min:0"]},
                        {"field": "vehicle_value", "validations": ["min:0"]},
                        {"field": "start_date", "validations": ["isDate", "dateBefore:end_date"]}],
                    "ok_output": "validation_ok", "ko_output": "validation_ko"}},
                {"name": "policy_stats", "type": "compute_stats", "params": {
                    "input": "with_meta", "fields": ["driver_age", "vehicle_value"],
                    "include_validation_stats": True,
                    "ok_input": "validation_ok", "ko_input": "validation_ko",
                    "output_path": p("out", "stats")}}],
            "sinks": [
                {"input": "validation_ok", "name": "ok", "format": "parquet",
                 "saveMode": "overwrite", "paths": [p("out", "ok", "run_date=${run_date}")]},
                {"input": "validation_ko", "name": "ko", "format": "json",
                 "saveMode": "overwrite", "paths": [p("out", "ko", "run_date=${run_date}")]}],
        }],
    }


def motor_partition(seed, day, n):
    """One day's JSON-lines policy partition and its expected outcome."""
    rng = np.random.default_rng([seed, 1, day])
    kind = np.zeros(n, dtype=np.int64)  # 0 = clean, k = DEFECTS[k - 1]
    counts = [max(1, int(round(n * share))) for _, share, _ in DEFECTS]
    pos = rng.permutation(n)[:sum(counts)]
    at = 0
    for k, c in enumerate(counts, start=1):
        kind[pos[at:at + c]] = k
        at += c
    names = [d[0] for d in DEFECTS]

    def is_(name):
        return kind == names.index(name) + 1

    age = rng.integers(18, 90, n).astype(object)
    age[is_("age_young")] = rng.integers(14, 18, int(is_("age_young").sum()))
    age[is_("age_frac")] = rng.integers(20, 80, int(is_("age_frac").sum())) + 0.5
    age[is_("age_null")] = None
    lic = rng.integers(10_000_000, 99_999_999, n)
    plate_l = LETTERS[rng.integers(0, 26, (n, 2))]
    plate_n = rng.integers(0, 1000, n)
    make = rng.integers(0, len(MAKES), n)
    year = rng.integers(1995, 2024, n)
    value = np.round(rng.uniform(1500, 60000, n), 2)
    value[is_("vehicle_value_neg")] *= -1
    premium = np.round(rng.uniform(150, 2500, n), 2).astype(object)
    start_off = rng.integers(0, 30, n)
    region = rng.integers(0, len(REGIONS8), n)
    channel = rng.integers(0, 3, n)
    day0 = ANCHOR + dt.timedelta(days=day)
    lines = []
    for i in range(n):
        k = kind[i]
        pid = f"P-{day:03d}{i:06d}"
        if k == names.index("policy_null") + 1:
            pid_j = "null"
        elif k == names.index("policy_bad") + 1:
            pid_j = f'"Q-{i}"'
        else:
            pid_j = f'"{pid}"'
        a = age[i]
        age_j = "null" if a is None else (f"{a:.1f}" if isinstance(a, float) else str(a))
        plate = (f"{plate_l[i, 0].lower()}{plate_l[i, 1]}{plate_n[i]:03d}"
                 if k == names.index("plate_bad") + 1
                 else f"{plate_l[i, 0]}{plate_l[i, 1]}-{plate_n[i]:03d}")
        if k == names.index("premium_text") + 1:
            prem = "n/a"
        elif k == names.index("premium_neg") + 1:
            prem = f"-{premium[i]:.2f}"
        else:
            prem = f"{premium[i]:.2f}"
        start = day0 + dt.timedelta(days=int(start_off[i]))
        end = start + dt.timedelta(days=365)
        start_s, end_s = start.isoformat(), end.isoformat()
        if k == names.index("start_bad") + 1:
            start_s = f"{start.year}-13-{start.day:02d}"
        elif k == names.index("start_after") + 1:
            start_s, end_s = end_s, start_s
        lines.append(
            f'{{"policy_id":{pid_j},"driver":{{"age":{age_j},"license_number":"L-{lic[i]}",'
            f'"experience_years":{max(0, (a if a is not None else 30) - 18):.0f}}},'
            f'"vehicle":{{"plate":"{plate}","make":"{MAKES[make[i]]}","year":{year[i]},'
            f'"value":{value[i]:.2f}}},"premium":"{prem}","start_date":"{start_s}",'
            f'"end_date":"{end_s}","region":"{REGIONS8[region[i]]}","channel":{channel[i]}}}')
    labels = Counter()
    for k, c in enumerate(counts, start=1):
        for lab in DEFECTS[k - 1][2]:
            labels[lab] += c
    ko = int((kind > 0).sum())
    return "\n".join(lines) + "\n", {"rows": n, "ok": n - ko, "ko": ko, "labels": dict(labels)}


def write_pipeline(work, seed, days, rows):
    """Partitions for `days` logical dates plus the flow spec; returns
    the per-date expectations."""
    expected = {}
    for d in range(days):
        text, exp = motor_partition(seed, d, rows)
        part = os.path.join(work, "input", f"run_date={run_date(d)}")
        os.makedirs(part, exist_ok=True)
        with open(os.path.join(part, "part-00000.json"), "w") as f:
            f.write(text)
        exp["bytes"] = len(text.encode())
        expected[run_date(d)] = exp
    with open(os.path.join(work, "motor.json"), "w") as f:
        json.dump(motor_flow(work), f, indent=1)
    return expected


# ------------------------------------------------------------------- table

N_REGIONS = 16
TABLE_SCHEMA = pa.schema([("policy_id", pa.int64()), ("region", pa.string()),
                          ("holder", pa.string()), ("premium_cents", pa.int64()),
                          ("rev", pa.int32())])


def region_of(pid):
    # a key's region never changes, so a renewal rewrites its own partition
    return f"r{(pid * 2654435761 >> 7) % N_REGIONS:02d}"


class UpsertStream:
    """The `policies` table's initial rows and its seeded operation
    stream. Step s (1-based) is a MoR range delete when s % del_every == 1,
    otherwise a merge of `batch` rows (half new policies, half renewals of
    live ones) plus a few deleted keys. Every step names the two keys to
    read back after it commits -- a merge's just-written key and one it
    deleted, a range delete's deleted key and an older live one -- and the
    answer each read must give."""

    def __init__(self, seed, rows, batch, del_every, scan_every):
        self.seed, self.batch = seed, batch
        self.del_every, self.scan_every = del_every, scan_every
        rng = np.random.default_rng([seed, 2])
        ids = np.arange(rows, dtype=np.int64) * 3 + 1
        self.initial = {int(p): (region_of(int(p)), f"h{int(p) % 9973}",
                                 int(c), 0)
                        for p, c in zip(ids, rng.integers(10_000, 400_000, rows))}
        self.next_id = int(ids[-1]) + 3

    def rows_table(self, rows):
        ks = sorted(rows)
        return pa.table({"policy_id": pa.array(ks, pa.int64()),
                         "region": [rows[k][0] for k in ks],
                         "holder": [rows[k][1] for k in ks],
                         "premium_cents": pa.array([rows[k][2] for k in ks], pa.int64()),
                         "rev": pa.array([rows[k][3] for k in ks], pa.int32())},
                        schema=TABLE_SCHEMA)

    def steps(self, n):
        """Yield (step, op, state-after) for steps 1..n; `op` is a dict
        the benchmark hands to the program, `state` the replayed table."""
        state = dict(self.initial)
        live = sorted(state)
        next_id = self.next_id
        for s in range(1, n + 1):
            rng = np.random.default_rng([self.seed, 3, s])
            if s % self.del_every == 1:
                lo_i = int(rng.integers(0, max(1, len(live) - 60)))
                lo, hi = live[lo_i], live[min(len(live) - 1, lo_i + 40)]
                gone = [k for k in live if lo <= k <= hi]
                for k in gone:
                    del state[k]
                op = {"step": s, "kind": "mor_delete", "lo": lo, "hi": hi,
                      "probes": [gone[len(gone) // 2]]}
            else:
                n_new = self.batch // 2
                renew_idx = rng.choice(len(live), self.batch - n_new + 4, replace=False)
                renew = [live[i] for i in renew_idx[:self.batch - n_new]]
                dels = [live[i] for i in renew_idx[self.batch - n_new:]]
                ups = {}
                for k in renew:
                    r, h, c, v = state[k]
                    ups[k] = (r, h, int(c + rng.integers(-5_000, 20_000)), v + 1)
                for j in range(n_new):
                    k = next_id + 3 * j
                    ups[k] = (region_of(k), f"h{k % 9973}",
                              int(rng.integers(10_000, 400_000)), 0)
                next_id += 3 * n_new
                for k in dels:
                    del state[k]
                state.update(ups)
                op = {"step": s, "kind": "merge", "ups": ups, "dels": dels,
                      "probes": [renew[0] if s % 2 else next_id - 3, dels[0]]}
            op["scan"] = s % self.scan_every == 1
            live = sorted(state)
            if op["kind"] == "mor_delete":
                op["probes"].append(live[int(rng.integers(0, len(live)))])
            op["expect"] = [[state[k][3]] if k in state else [] for k in op["probes"]]
            yield s, op, state


def write_table(work, seed, rows, batch, del_every, scan_every, n_steps):
    """Initial table rows plus per-step upsert/delete-key files and the
    step list the program walks."""
    st = UpsertStream(seed, rows, batch, del_every, scan_every)
    os.makedirs(os.path.join(work, "steps"), exist_ok=True)
    pq.write_table(st.rows_table(st.initial), os.path.join(work, "initial.parquet"))
    plan = []
    for s, op, _ in st.steps(n_steps):
        entry = {"step": s, "kind": op["kind"], "probes": op["probes"],
                 "present": [bool(e) for e in op["expect"]], "scan": op["scan"]}
        if op["kind"] == "merge":
            ups = os.path.join(work, "steps", f"s{s:05d}_ups.parquet")
            dels = os.path.join(work, "steps", f"s{s:05d}_dels.parquet")
            pq.write_table(st.rows_table(op["ups"]), ups)
            pq.write_table(pa.table({"policy_id": pa.array(op["dels"], pa.int64())}), dels)
            entry.update(ups=ups, dels=dels, ups_bytes=os.path.getsize(ups))
        else:
            entry.update(lo=op["lo"], hi=op["hi"])
        plan.append(entry)
    with open(os.path.join(work, "steps.json"), "w") as f:
        json.dump(plan, f)


# ----------------------------------------------------------------- catalog

WORDS = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PWORDS = ["small", "large", "red", "blue", "hot", "cold"], ["ring", "bolt", "widget", "gear"]
RNAMES = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "zh", "es", "de", "fr"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def _ts(day0, span_days, rng, n, whole_days=True):
    """Timestamps from `day0` over `span_days` days, as an arrow
    microsecond timestamp column."""
    unit = 86_400_000_000
    off = rng.integers(0, span_days, n) * unit if whole_days \
        else rng.integers(0, span_days * unit, n)
    us = np.datetime64(day0, "us") + off.astype("timedelta64[us]")
    return pa.array(us, pa.timestamp("us"))


def write_catalog_tables(out, sf, seed=42):
    """TPC-H-shaped star schema plus events, documents and embeddings in
    the layout the catalog's queries read (`<out>/<table>.parquet`)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), max(100, int(10_000 * sf))
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_users, n_ev = max(150, int(15_000 * sf)), int(1_000_000 * sf)
    n_docs, n_emb = int(50_000 * sf), int(50_000 * sf)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": RNAMES})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PWORDS[0][a]} {PWORDS[1][b]}" for a, b in
                   zip(rng.integers(0, 6, n_part), rng.integers(0, 4, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-02", 2498, rng, n_li)})
    ev_ts = _ts("2024-01-01", 30, rng, n_ev, whole_days=False).sort()
    put("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ev_ts,
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 500, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: random word sequences, with every 8th document a light
    # edit of an earlier one and every 50th an exact copy, so the
    # near-duplicate and exact-duplicate operators have work to find
    texts = []
    for i in range(n_docs):
        if i >= 8 and i % 50 == 0:
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 8 and i % 8 == 0:
            w = texts[int(rng.integers(0, i))].split(" ")
            w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS),
                                                             int(rng.integers(8, 90)))]))
    put("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()), "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 0.8, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
