"""Output check for one benchmark run, done after the JVM has exited.

gene_etl / neardup_shuffle: every op's output (dumped whole by the JVM
in an untimed pass after the timed ones) must have the same row count and the same
order-insensitive content hash as the op's DuckDB oracle
(`SparkEntry.oracleSql`) run over the same generated tables; sink
outputs must read back with the op's row count.

index_serve: the JVM already compared sampled served answers with the
text-scan path and the appended artifact with a one-shot build; this
only reads its verdict.
"""
import datetime as dt
import decimal
import glob
import hashlib
import json
import os

import duckdb
import pyarrow.parquet as pq


def _norm(v):
    """Engine-neutral value: numbers compare by value, timestamps as UTC
    wall time, structs by field name, maps as sorted pairs."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return int(v) if v.is_integer() and abs(v) < 2**53 else v
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in sorted(v.items())}
    if isinstance(v, (list, tuple)):
        items = [_norm(x) for x in v]
        if items and all(isinstance(x, tuple) for x in v):  # arrow map
            return sorted(items, key=json.dumps)
        return items
    return str(v)


def digest(table):
    """(rows, columns, sha256) of an arrow table, row order ignored."""
    cols = sorted(table.column_names)
    rows = table.select(cols).to_pylist()
    lines = sorted(json.dumps([_norm(r[c]) for c in cols], default=str)
                   for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return len(lines), cols, h


def _catalog(raw, data_dir):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    ops, problems = {}, []
    for c in raw["checks"]:
        name = c["name"]
        if "error" in c:
            problems.append(f"{name}: check run failed: {c['error']}")
            continue
        got = digest(pq.read_table(c["dump"]))
        entry = {"rows": got[0], "hash": got[2][:16]}
        if c.get("oracle") is None:
            problems.append(f"{name}: no oracle SQL")
        else:
            want = digest(con.execute(c["oracle"]).fetch_arrow_table())
            entry["oracle_rows"] = want[0]
            if got[1] != want[1]:
                problems.append(f"{name}: columns {got[1]} != oracle {want[1]}")
            elif got[0] != want[0] or got[2] != want[2]:
                problems.append(f"{name}: {got[0]} rows hash {got[2][:16]} != "
                                f"oracle {want[0]} rows hash {want[2][:16]}")
        if "sink_rows" in c and c["sink_rows"] != got[0]:
            problems.append(f"{name}: sink read back {c['sink_rows']} rows, "
                            f"op returned {got[0]}")
        ops[name] = entry
    return ops, problems


def check(raw, data_dir):
    failed_ops = [o["name"] for o in raw["ops"] if not o["ok"]]
    problems = [f"{n}: operation failed" for n in sorted(set(failed_ops))]
    ops = {}
    if raw["workload"] == "index_serve":
        ic = raw["index_check"]
        if not ic["ok"]:
            problems.append(
                f"index: {len(ic['mismatches'])} of {ic['sampled']} sampled answers "
                f"differ from the text scan {ic['mismatches'][:3]}; "
                f"appended artifact equals one-shot build: {ic['artifact_equal']}")
    else:
        ops, more = _catalog(raw, data_dir)
        problems += more
    return {"ok": not problems, "problems": problems, "ops": ops}
