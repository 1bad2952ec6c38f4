#!/usr/bin/env python3
"""Regenerates perfbench/expected.json, the answers the query workload
checks against. Run it from the repository root when the query pool or
the fixtures change:

    python3 perfbench/tools/expected.py

It builds the harness, records every pool query's graft fingerprint over
perfbench/data/sf0.1 (two executions each, with the second one's warm
solo seconds), then runs each query's DuckDB oracle twin over the same
tables and fingerprints the oracle's rows by the same rules as
perfbench/src/main/scala/perfbench/RowHash.scala. Queries with a twin
take DuckDB's answer and its column types; the others take graft's
answer at this commit, or only its row count where two executions
disagree.
"""
import datetime
import decimal
import hashlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import run  # noqa: E402

CTX = decimal.Context(prec=8, rounding=decimal.ROUND_HALF_EVEN)
EPOCH = datetime.datetime(1970, 1, 1)


def number(d):
    if d == 0:
        return "0"
    sign, digits, exp = d.normalize(decimal.Context(prec=100)).as_tuple()
    while len(digits) > 1 and digits[-1] == 0:
        digits, exp = digits[:-1], exp + 1
    return ("-" if sign else "") + "".join(map(str, digits)) + f"e{exp}"


def canon(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v in (float("inf"), float("-inf")):
            return "Inf" if v > 0 else "-Inf"
        return number(CTX.plus(decimal.Decimal(v)))
    if isinstance(v, decimal.Decimal):
        return number(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return str((v - EPOCH.date()).days)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        if set(v.keys()) == {"key", "value"} and isinstance(v["key"], list):
            pairs = zip(v["key"], v["value"])
            return "<" + ",".join(sorted(canon(a) + ":" + canon(b) for a, b in pairs)) + ">"
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        s = "\u001f".join(canon(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")
    return len(rows), format(total % (1 << 64), "x")


def main():
    import duckdb
    cp = run.build(time.time() + 900)
    work = os.path.join(HERE, "work", "dump")
    readings = os.path.join(HERE, "out", "dump.json")
    try:
        run.run_jvm(cp, ["--dump", readings], work, readings, time.time() + 3600)
        with open(readings) as fh:
            graft = json.load(fh)
        out = oracle_answers(duckdb.connect(), run.FIXTURES, graft)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump({"queries": out}, fh, indent=1, sort_keys=True)
        fh.write("\n")


def oracle_answers(con, fx, graft):
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fx}/{t}.parquet'")
    out, report = {}, []
    for name in sorted(graft):
        g = graft[name]
        if "error" in g:
            report.append(f"SKIP {name}: graft error: {g['error']}")
            continue
        entry = {"solo_s": round(g["solo_s"], 4)}
        if g.get("oracle"):
            try:
                rel = con.sql(g["oracle"])
                types = {c: str(t) for c, t in zip(rel.columns, rel.types)}
                rows, h = fingerprint(list(rel.columns), rel.fetchall())
            except Exception as e:  # an oracle the fixtures cannot serve
                report.append(f"SKIP {name}: oracle error: {e}")
                continue
            entry.update(rows=rows, hash=h, source="duckdb", types=types)
            if (rows, h) != (g["rows"], g["hash"]):
                report.append(f"DIFF {name}: duckdb {rows}/{h} graft {g['rows']}/{g['hash']}"
                              f" (second run {g['rows2']}/{g['hash2']})")
        elif g["hash"] == g["hash2"]:
            entry.update(rows=g["rows"], hash=g["hash"], source="graft")
        elif g["rows"] == g["rows2"]:
            entry.update(rows=g["rows"], hash=None, source="graft-rows")
            report.append(f"ROWS {name}: answer varies between executions; rows only")
        else:
            report.append(f"SKIP {name}: row count varies between executions")
            continue
        out[name] = entry
    print("\n".join(report))
    print(f"{len(out)} queries recorded, {len(report)} notes")
    return out


if __name__ == "__main__":
    main()
