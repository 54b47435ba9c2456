"""Output checks of a benchmark run; never timed.

cron    Threshold and deadman alerts of every tick are restated in
        DuckDB over the raw events, deduplicated against the alert
        history and earlier ticks in the engine's spec order. Alert
        counts, sequence completions and the inflight count of every
        tick must repeat exactly across runs of the same seed.
stream  Threshold windows are restated in DuckDB: 15-minute tumbling
        windows closed by the final watermark (max event time - 10
        minutes). The deadman and sequence outputs must repeat exactly
        across runs of the same seed and increment count.
ops     Every pass's result of each query equals its oracle SQL run in
        DuckDB on the same tables, and every drain query started a
        streaming query of its own (the memo guard).

An operation fails when it threw or when a check on its output fails.
Repeat checks keep what the first run of a seed saw under `expect/`.
"""
import datetime as dt
import glob
import hashlib
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd

import gen

HOUR_US = 3_600_000_000


def _iso_to_us(s):
    t = dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    return int(t.timestamp() * 1_000_000)


def _connect(sandbox, tables):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        p = os.path.join(sandbox, "base", f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _repeat(expect_dir, key, observed):
    """Compares `observed` (index -> value) with what earlier runs saw."""
    os.makedirs(expect_dir, exist_ok=True)
    path = os.path.join(expect_dir, key + ".json")
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    bad = [k for k, v in observed.items() if k in seen and seen[k] != v]
    merged = dict(seen)
    merged.update({k: v for k, v in observed.items() if k not in seen})
    with open(path, "w") as f:
        json.dump(merged, f, sort_keys=True)
    return bad


def _rule_rows(con, criteria, key, lo_us, hi_us):
    return con.execute(
        f"SELECT event_id, CAST({key} AS VARCHAR) AS k FROM events "
        f"WHERE ({criteria}) AND {key} IS NOT NULL "
        f"AND epoch_us(ts) >= {lo_us} AND epoch_us(ts) < {hi_us}").fetchall()


def check_cron(sandbox, desc, result, expect_dir):
    con = _connect(sandbox, ["events"])
    alerted = set()
    with open(os.path.join(sandbox, "history.jsonl")) as f:
        for line in f:
            alerted.update(e["event_id"] for e in json.loads(line)["events"])
    got = {}
    with open(os.path.join(sandbox, "store", "alerts.jsonl")) as f:
        for line in f:
            d = json.loads(line)
            if "metadata" not in d:
                continue  # history
            got.setdefault((d["alert_name"], _iso_to_us(d["utctimestamp"])), []).append(
                (str(d["metadata"]["value"]), int(d["metadata"]["count"])))
    # the engine loads specs sorted by file name
    rules = sorted(gen.RULES, key=lambda r: r[0])
    failed, messages, observed = set(), [], {}
    for op in result["ops"]:
        now = _iso_to_us(op["now"])
        hour = now - now % HOUR_US
        lo, hi = hour - HOUR_US, hour + HOUR_US
        if not op["ok"]:
            failed.add(op["i"])
            continue
        for name, kind, _, duck, key, th in rules:
            rows = _rule_rows(con, duck, key, lo, hi)
            if kind == "threshold":
                rows = [r for r in rows if r[0] not in alerted]
            groups = {}
            for eid, k in rows:
                groups.setdefault(k, []).append(eid)
            if kind == "threshold":
                fired = {k: ids for k, ids in groups.items() if len(ids) >= th}
            elif groups:
                fired = {k: ids for k, ids in groups.items() if len(ids) <= th}
            else:
                fired = {key: []} if th >= 0 else {}
            for ids in fired.values():
                alerted.update(ids)
            want = sorted((k, len(ids)) for k, ids in fired.items())
            have = sorted(got.get((name, now), []))
            if want != have:
                failed.add(op["i"])
                messages.append(f"{op['name']} {name}: {len(have)} alerts, "
                                f"restated {len(want)}")
        line = json.loads(op["stdout"])
        observed[str(op["i"])] = [line["alerts_saved"],
                                  line["sequences_completed"], line["inflight"]]
    for k in _repeat(expect_dir, f"cron-{desc['seed']}", observed):
        failed.add(int(k))
        messages.append(f"tick-{k}: alert/sequence/inflight counts differ "
                        f"from an earlier run of this seed")
    return failed, messages


def _read_output(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return pd.DataFrame()
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def check_stream(sandbox, desc, result, expect_dir):
    con = _connect(sandbox, ["events"])
    t0 = _iso_to_us(gen.T0.isoformat() + "+00:00")
    ops = result["ops"]
    failed = {o["i"] for o in ops if not o["ok"]}
    for op in ops:
        lo = t0 + op["day"] * 24 * HOUR_US
        op["events"] = con.execute(
            f"SELECT count(*) FROM events WHERE epoch_us(ts) >= {lo} "
            f"AND epoch_us(ts) < {lo + 24 * HOUR_US}").fetchone()[0]
    if not ops:
        return failed, ["no increments ran"]
    lo = t0 + desc["day0"] * 24 * HOUR_US
    hi = lo + len(ops) * 24 * HOUR_US
    con.execute(f"CREATE VIEW drained AS SELECT * FROM events "
                f"WHERE epoch_us(ts) >= {lo} AND epoch_us(ts) < {hi}")
    wm = con.execute("SELECT epoch_us(max(ts)) FROM drained").fetchone()[0] - 600_000_000
    out = os.path.join(sandbox, "stream", "out")
    messages, observed = [], {}
    for name, kind, _, duck, key, th in gen.RULES:
        if name not in gen.STREAM_SPECS:
            continue
        got = _read_output(os.path.join(out, name))
        if kind != "threshold":
            observed[name] = _digest(got)
            continue
        want = con.execute(
            f"SELECT CAST({key} AS VARCHAR) AS value, count(*) AS n, "
            f"epoch_us(time_bucket(INTERVAL 15 MINUTE, ts)) AS ws FROM drained "
            f"WHERE ({duck}) AND {key} IS NOT NULL GROUP BY 1, 3 "
            f"HAVING count(*) >= {th} "
            f"AND epoch_us(time_bucket(INTERVAL 15 MINUTE, ts)) + 900000000 <= {wm}"
        ).fetchall()
        have = []
        if len(got):
            ws = got["window_start"].astype("datetime64[us]").astype(np.int64)
            have = list(zip(got["value"].astype(str), got["count"].astype(int), ws))
        if sorted(want) != sorted((v, int(n), int(w)) for v, n, w in have):
            messages.append(f"{name}: {len(have)} windows, restated {len(want)}")
    for name, *_ in gen.SEQUENCES:
        observed[name] = _digest(_read_output(os.path.join(out, name)))
    for name in _repeat(expect_dir, f"stream-{desc['seed']}-{len(ops)}", observed):
        messages.append(f"{name}: output differs from an earlier run of this seed")
    if messages:
        failed.add(ops[-1]["i"])
    return failed, messages


def _digest(df):
    """Row count and an order-free digest of a Spark output."""
    if not len(df):
        return [0, ""]
    rows = sorted(json.dumps([str(v) for v in r]) for r in
                  df[sorted(df.columns)].itertuples(index=False, name=None))
    return [len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]]


def _canon(df):
    """Columns sorted by name, rows sorted, values stringified (as the
    repository's DuckDB oracle gate compares them)."""
    cols = sorted(df.columns)

    def cell(v):
        if isinstance(v, np.generic):
            v = v.item()
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        return str(v)
    rows = sorted(tuple(cell(v) for v in r)
                  for r in df[cols].itertuples(index=False, name=None))
    return cols, rows


def check_ops(sandbox, desc, result, expect_dir):
    con = _connect(sandbox, ["events", "lineitem"])
    with open(os.path.join(sandbox, "oracle_sql.json")) as f:
        oracle = json.load(f)
    want = {q: _canon(con.execute(sql).df()) for q, sql in oracle.items()}
    failed, messages = set(), []
    for op in result["ops"]:
        for q in op["queries"]:
            tag = f"pass-{op['i']}/{q['name']}"
            if not q["ok"]:
                failed.add(tag)
                messages.append(f"{tag} failed: {q['error']}")
                continue
            if not q["guard"]:
                failed.add(tag)
                messages.append(f"{tag}: no streaming query started (memoised drain)")
            if _canon(_read_output(q["result"])) != want[q["name"]]:
                failed.add(tag)
                messages.append(f"{tag}: result differs from the oracle")
    return failed, messages


def run(workload, sandbox, desc, result, expect_dir):
    fn = {"cron": check_cron, "stream": check_stream, "ops": check_ops}[workload]
    failed, messages = fn(sandbox, desc, result, expect_dir)
    if workload == "ops":
        attempted = sum(len(o["queries"]) for o in result["ops"])
    else:
        attempted = len(result["ops"])
    return {"correct": not failed, "attempted": max(attempted, 1),
            "failed": len(failed) if attempted else 1, "messages": messages}
