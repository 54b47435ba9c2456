"""Seeded input generators for the alertaspark benchmark.

Everything a run feeds the program comes from here and depends only on
the seed: the sf0.1-shaped base tables (`events`, and `lineitem` shaped
by `part` and `orders`), the spec YAML of the `cron` and `stream`
workloads, and the alert-store history. The Spark side of set-up (the hour-partitioned
lake, the staged stream slices, the per-pass table copies) is written
by the JVM harness from these files.

Shapes follow the sf0.1 test tables: 100k events over 30 days for
1500 users and five event types, 150k orders, 600k lineitems on 20k
parts. Two things are planted so the sequence specs have steady work:
background `signup` values stay below 480, and every two hours one
anchor signup per sequence spec sits above it, half of them followed
by the matching second-slot signup of the same user.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = dt.datetime(2024, 1, 1)
DAYS = 30
N_EVENTS = 100_000
N_USERS = 1500
TYPES = ["click", "error", "purchase", "signup", "view"]
HISTORY_DOCS = 10_000
# the ops tables are this share of the sf0.1 row counts
OPS_SCALE = 0.1

# Threshold and deadman specs: (name, type, presto criteria, duckdb twin,
# aggregation key, threshold). The twins differ only in dialect
# (json_extract_scalar vs json_extract_string); both engines see the
# same predicate.
RULES = [
    ("th01", "threshold", "event_type='purchase' AND value > 100",
     "event_type='purchase' AND value > 100", "user_id", 1),
    ("th02", "threshold",
     "event_type='click' AND CAST(json_extract_scalar(props,'$.k') AS INTEGER) > 90",
     "event_type='click' AND CAST(json_extract_string(props,'$.k') AS INTEGER) > 90",
     "user_id", 1),
    ("th03", "threshold", "event_type='view'", "event_type='view'",
     "event_type", 20),
    ("th04", "threshold", "event_type='error' AND value > 80",
     "event_type='error' AND value > 80", "props", 1),
    ("th05", "threshold", "position('pur' IN event_type) = 1 AND value < 5",
     "position('pur' IN event_type) = 1 AND value < 5", "user_id", 1),
    ("th06", "threshold", "event_type IN ('click', 'view') AND value > 200",
     "event_type IN ('click', 'view') AND value > 200", "event_type", 1),
    ("th07", "threshold",
     "event_type='purchase' AND CAST(json_extract_scalar(props,'$.k') AS INTEGER) < 10",
     "event_type='purchase' AND CAST(json_extract_string(props,'$.k') AS INTEGER) < 10",
     "user_id", 1),
    ("th08", "threshold", "user_id < 100 AND event_type <> 'signup'",
     "user_id < 100 AND event_type <> 'signup'", "user_id", 2),
    ("dm01", "deadman", "event_type='heartbeat'", "event_type='heartbeat'",
     "event_type", 0),
    ("dm02", "deadman", "event_type='error' AND value > 300",
     "event_type='error' AND value > 300", "user_id", 1),
]

# Sequence specs: (name, slot-0 value range, slot-1 value range). Slot 0
# catches the planted anchors; slot 1 the same user's planted follow-up.
SEQUENCES = [("sq01", (500.0, 560.0), (0.0, 0.5)),
             ("sq02", (485.0, 500.0), (480.0, 485.0))]
# the stream workload starts one streaming query per spec; it runs this
# subset of the specs (all kinds, four of the thresholds)
STREAM_SPECS = ["th01", "th02", "th03", "th04", "dm02", "sq01", "sq02"]
ANCHOR_EVERY_H = 2
SEQ_LIFESPAN = "12 hours"
DEADMAN_LIFESPAN = "6 hours"


def _ts_us(t):
    return int((t - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def events_table(rng, n=N_EVENTS):
    start = _ts_us(T0)
    span = DAYS * 86_400_000_000
    ts = np.sort(rng.integers(start, start + span, n))
    user = rng.integers(0, N_USERS, n)
    etype = rng.integers(0, len(TYPES), n)
    value = np.round(rng.exponential(50.0, n), 2)
    k = rng.integers(0, 100, n)
    signup = etype == TYPES.index("signup")
    value[signup] = np.minimum(value[signup], 479.99)

    # planted sequence anchors and follow-ups (signups only)
    p_ts, p_user, p_val = [], [], []
    for i, (_, lo0, lo1) in enumerate(SEQUENCES):
        for h in range(i, DAYS * 24 - 1, ANCHOR_EVERY_H):
            t = start + h * 3_600_000_000 + int(rng.integers(0, 3_600_000_000))
            u = int(rng.integers(0, N_USERS))
            p_ts.append(t)
            p_user.append(u)
            p_val.append(round(float(rng.uniform(lo0[0] + 0.01, lo0[1])), 2))
            if (h // ANCHOR_EVERY_H) % 2 == 0:
                p_ts.append(t + int(rng.integers(20, 180)) * 60_000_000)
                p_user.append(u)
                p_val.append(round(float(rng.uniform(lo1[0], lo1[1] - 0.01)), 2))
    p_ts = np.array(p_ts)
    keep = p_ts < start + span
    ts = np.concatenate([ts, p_ts[keep]])
    user = np.concatenate([user, np.array(p_user)[keep]])
    etype = np.concatenate([etype, np.full(keep.sum(), TYPES.index("signup"))])
    value = np.concatenate([value, np.array(p_val)[keep]])
    k = np.concatenate([k, rng.integers(0, 100, keep.sum())])
    order = np.argsort(ts, kind="stable")
    return pa.table({
        "event_id": pa.array(np.arange(len(ts), dtype=np.int64)),
        "ts": pa.array(ts[order], type=pa.timestamp("us")),
        "user_id": pa.array(user[order].astype(np.int64)),
        "event_type": pa.array([TYPES[i] for i in etype[order]]),
        "value": pa.array(value[order]),
        "props": pa.array(['{"k": %d}' % v for v in k[order]]),
    })


def tpch_tables(rng, scale):
    n_part, n_orders, n_li, n_cust = (int(n * scale) for n in
                                      (20_000, 150_000, 600_000, 15_000))
    kinds = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    words = ["large", "hot", "ring", "bolt", "steel", "green", "nut", "blue"]
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{words[a]} {words[b]}" for a, b in
                            rng.integers(0, len(words), (n_part, 2))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([kinds[i] for i in rng.integers(0, len(kinds), n_part)]),
        # every size on the same number of parts for every seed
        "p_size": pa.array((rng.permutation(n_part) % 50 + 1).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + np.arange(n_part) % 1000 * 0.1, 2)),
    })
    d0 = _ts_us(dt.datetime(1995, 1, 1))
    day = 86_400_000_000
    odate = d0 + rng.integers(0, 2404, n_orders) * day
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_orders), 2)),
        "o_orderdate": pa.array(odate, type=pa.timestamp("us")),
        "o_orderpriority": pa.array([prios[i] for i in rng.integers(0, 5, n_orders)]),
    })
    okey = rng.integers(0, n_orders, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey.astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1000, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(odate[okey] + rng.integers(1, 122, n_li) * day,
                               type=pa.timestamp("us")),
    })
    return {"part": part, "orders": orders, "lineitem": lineitem}


def _yaml_str(s):
    return json.dumps(s)  # a JSON string literal is a valid YAML scalar


def spec_yaml(rule):
    name, kind, presto, _, key, th = rule
    lines = [f"alert_name: {name}", f"alert_type: {kind}",
             f"criteria: {_yaml_str(presto)}", f"aggregation_key: {key}",
             f"threshold: {th}", "severity: NOTICE", "category: bench",
             f"summary: {_yaml_str(name + ' {{metadata.value}} x{{metadata.count}}')}"]
    if kind == "deadman":
        lines.append(f"lifespan: {_yaml_str(DEADMAN_LIFESPAN)}")
    return "\n".join(lines) + "\n"


def sequence_yaml(seq, templated):
    name, (a0, b0), (a1, b1) = seq
    slot0 = f"event_type='signup' AND value > {a0} AND value <= {b0}"
    slot1 = f"event_type='signup' AND value >= {a1} AND value < {b1}"
    if templated:
        slot1 += " AND user_id = {{slots.0.metadata.value}}"
    return "\n".join([
        f"alert_name: {name}", "alert_type: sequence",
        "aggregation_key: user_id", f"lifespan: {_yaml_str(SEQ_LIFESPAN)}",
        f"summary: {_yaml_str(name + ' for {{slots.0.metadata.value}}')}",
        "slots:",
        "  - alert_type: threshold", f"    criteria: {_yaml_str(slot0)}",
        "    aggregation_key: user_id", "    threshold: 1",
        "  - alert_type: threshold", f"    criteria: {_yaml_str(slot1)}",
        "    aggregation_key: user_id", "    threshold: 1",
    ]) + "\n"


def history_docs(rng, events, tick0_us):
    """~10k stored alerts; one in a hundred holds events of the ticked
    hours (never signups, which only the sequence specs select)."""
    ids = events.column("event_id").to_numpy()
    ts = events.column("ts").cast(pa.int64()).to_numpy()
    other = np.array(events.column("event_type").to_pylist()) != "signup"
    near = ids[other & (ts >= tick0_us - 2 * 3_600_000_000)
               & (ts < tick0_us + 8 * 3_600_000_000)]
    far = ids[other]
    docs = []
    for i in range(HISTORY_DOCS):
        pool = near if (i % 100 == 0 and len(near)) else far
        evs = rng.choice(pool, size=int(rng.integers(1, 4)), replace=False)
        epoch = int(tick0_us // 1_000_000) - int(rng.integers(3600, 30 * 86400))
        docs.append({
            "alert_name": RULES[i % 8][0], "alert_type": "threshold",
            "severity": "NOTICE", "summary": "history",
            "utctimestamp": dt.datetime.utcfromtimestamp(epoch).isoformat() + "+00:00",
            "utcepoch": epoch, "_id": "%024x" % (i + 1),
            "events": [{"event_id": int(e)} for e in evs]})
    return docs


def generate(out, workload, seed):
    """Writes the run's inputs under `out`; returns the run description."""
    rng = np.random.default_rng(seed)
    base = os.path.join(out, "base")
    os.makedirs(base, exist_ok=True)
    desc = {"workload": workload, "seed": seed}
    if workload == "ops":
        pq.write_table(events_table(rng, int(N_EVENTS * OPS_SCALE)),
                       os.path.join(base, "events.parquet"))
        # the pass reads events and lineitem; part and orders only shape it
        pq.write_table(tpch_tables(rng, OPS_SCALE)["lineitem"],
                       os.path.join(base, "lineitem.parquet"))
        return desc
    events = events_table(rng)
    pq.write_table(events, os.path.join(base, "events.parquet"))
    specs = os.path.join(out, "specs")
    os.makedirs(specs, exist_ok=True)
    for rule in RULES:
        if workload == "stream" and rule[0] not in STREAM_SPECS:
            continue
        with open(os.path.join(specs, f"{rule[0]}.yml"), "w") as f:
            f.write(spec_yaml(rule))
    for seq in SEQUENCES:
        with open(os.path.join(specs, f"{seq[0]}.yml"), "w") as f:
            f.write(sequence_yaml(seq, templated=workload == "cron"))
    if workload == "cron":
        day = int(rng.integers(3, DAYS - 3))
        tick0 = T0 + dt.timedelta(days=day, hours=int(rng.integers(0, 24)),
                                  minutes=7)
        desc["tick0"] = tick0.isoformat() + "Z"
        with open(os.path.join(out, "history.jsonl"), "w") as f:
            for d in history_docs(rng, events, _ts_us(tick0)):
                f.write(json.dumps(d) + "\n")
    else:
        desc["day0"] = int(rng.integers(0, DAYS - 12))
    return desc
