#!/usr/bin/env python3
"""Corpus-tier oracle for the three batch-fold queries
(sink_batch_bytes, sink_batch_flush, codec_open_wire_bytes).

Their registry oracles replay the batch-close rule of `Sinks.batches`
as a RECURSIVE CTE (the `o` + `fold` pair written by
`Sinks.batchesSql`). That is exact, but DuckDB evaluates each recursion
step against the full event frame, so deep streams (sf10's ~110k, the
skew tier's ~21k hot partition) grind for hours. This checker replaces
ONLY the recursion with a replay of the same rule in Python (a third
engine) and leaves the rest of the oracle (payload rendering, ordering,
aggregation, the DDL/RESOLVED legs) to DuckDB at scan speed:

  1. DuckDB computes the oracle's own `o` CTE: per event its stream
     key, commit_ts, ev_bytes and row number in the stream.
  2. Python replays the rule: within a stream, a batch admits the next
     event iff rows < maxBatch, head + bytes + b <= maxBytes and
     ts - firstTs < flushInterval.
  3. The oracle runs again with its `fold` CTE replaced by `o` joined
     to the Python batch ids, and its result is compared with the Spark
     parquet by (count, SUM(hash(row)), BIT_XOR(hash(row))).

The rule's four parameters are parsed from the oracle text, so a
registry retune cannot silently desynchronize this checker; a pattern
that matches nothing stops the run.

Usage: tools/sink_fold_check.py <sfDir> <mergeIntoJson> [query ...]
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = ("sink_batch_bytes", "sink_batch_flush", "codec_open_wire_bytes")
TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()
FOLD_START = "\n), fold AS (\n"
FOLD_END = "AND m.partition = f.partition AND m.rn = f.rn + 1\n)"


def find(pattern, text, query):
    m = re.search(pattern, text)
    if m is None:
        raise SystemExit(f"{query}: no match for {pattern!r} in its oracle")
    return m


def rule(oracle, query):
    """(maxBatch, head, maxBytes, flushInterval) of the oracle's fold."""
    max_batch = int(find(r"f\.rows_in >= (\d+)", oracle, query).group(1))
    m = find(r"(\d+) \+ f\.acc \+ m\.ev_bytes > (\d+)", oracle, query)
    flush = int(find(r"m\.commit_ts - f\.bfirst >= (\d+)", oracle,
                     query).group(1))
    return max_batch, int(m.group(1)), int(m.group(2)), flush


def replay(meta, max_batch, head, max_bytes, flush):
    """Batch id of every event, in the (stream, rn) order of `meta`."""
    ids = []
    prev = None
    batch = rows = acc = first = 0
    for key, ts, b in zip(
            zip(meta["schema_name"].values, meta["table_name"].values,
                meta["partition"].values),
            meta["commit_ts"].values, meta["ev_bytes"].values):
        ts, b = int(ts), int(b)
        if key != prev:
            prev, batch, rows, acc, first = key, 0, 1, b, ts
        elif (rows >= max_batch or head + acc + b > max_bytes
              or ts - first >= flush):
            batch, rows, acc, first = batch + 1, 1, b, ts
        else:
            rows, acc = rows + 1, acc + b
        ids.append(batch)
    return ids


def check_one(con, query, oracle, sf_dir, out_dir):
    if oracle.count(FOLD_START) != 1 or oracle.count(FOLD_END) != 1:
        raise SystemExit(f"{query}: the oracle has no single fold CTE")
    pre, rest = oracle.split(FOLD_START)
    tail = rest.split(FOLD_END, 1)[1]
    params = rule(oracle, query)
    print(f"[fold] {query}: maxBatch={params[0]} head={params[1]} "
          f"maxBytes={params[2]} flushInterval={params[3]}")
    con.execute("DROP TABLE IF EXISTS o_rows")
    con.execute(f"CREATE TEMP TABLE o_rows AS {pre}\n) SELECT * FROM o")
    meta = con.execute(
        "SELECT schema_name, table_name, partition, rn, commit_ts, ev_bytes "
        "FROM o_rows ORDER BY schema_name, table_name, partition, rn").df()
    print(f"[fold] python replay over {len(meta)} events")
    meta["batch_id"] = replay(meta, *params)
    con.register("fold_py", meta[["schema_name", "table_name", "partition",
                                  "rn", "batch_id"]])
    replayed = f"""{pre}{FOLD_START}  SELECT o.*, f.batch_id
  FROM o_rows o JOIN fold_py f
    ON f.schema_name = o.schema_name AND f.table_name = o.table_name
   AND f.partition = o.partition AND f.rn = o.rn
){tail}"""
    con.execute(f"CREATE OR REPLACE TEMP VIEW oracle_res AS {replayed}")
    con.execute(f"CREATE OR REPLACE TEMP VIEW spark_res AS "
                f"SELECT * FROM '{out_dir}/{query}/*.parquet'")
    s_cols = sorted(r[0] for r in con.execute(
        "DESCRIBE spark_res").fetchall())
    o_cols = sorted(r[0] for r in con.execute(
        "DESCRIBE oracle_res").fetchall())
    cols = ", ".join(f'"{c}"' for c in s_cols)
    agg = (f"SELECT count(*), CAST(sum(h) AS VARCHAR), "
           f"CAST(bit_xor(h) AS VARCHAR) FROM "
           f"(SELECT hash({cols}) AS h FROM %s)")
    hs = con.execute(agg % "spark_res").fetchone()
    ho = con.execute(agg % "oracle_res").fetchone()
    res = {"rows_match": hs[0] == ho[0], "schema_match": s_cols == o_cols,
           "hash_match": list(hs) == list(ho), "spark_rows": hs[0],
           "oracle_rows": ho[0], "err": None, "tier": sf_dir,
           "spark_hash": list(hs), "oracle_hash": list(ho),
           "note": ("the registry oracle's recursive fold grinds at deep "
                    "streams in DuckDB; the batch-close rule was replayed "
                    "in Python (third engine) and the rest of the "
                    "registry oracle SQL ran verbatim around it")}
    if not res["hash_match"]:
        res["err"] = f"hash triple diff: spark={hs} oracle={ho}"
    return res


def main():
    sf_dir, out_json = sys.argv[1], sys.argv[2]
    queries = sys.argv[3:] or list(QUERIES)
    unknown = set(queries) - set(QUERIES)
    if unknown:
        raise SystemExit(f"not a batch-fold query: {sorted(unknown)}")
    out_dir = tempfile.mkdtemp(prefix="verify_sink_fold_")
    env = dict(os.environ, SKIP_BUILD="1")
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    r = subprocess.run(
        ["tools/run.sh", "graft.Verify", sf_dir, out_dir] + queries,
        cwd=REPO, env=env, capture_output=True, text=True)
    if r.returncode != 0:
        raise SystemExit(f"verify failed:\n{r.stderr[-2000:]}")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    rc = 0
    for q in queries:
        res = check_one(con, q, oracles[q], sf_dir, out_dir)
        doc = (json.load(open(out_json)) if os.path.exists(out_json)
               else {"results": {}})
        doc["results"][q] = res
        doc["checked_utc"] = time.strftime(
            "%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        with open(out_json, "w") as f:
            json.dump(doc, f, indent=1)
        ok = (res["rows_match"] and res["schema_match"]
              and res["hash_match"])
        if not ok:
            rc = 1
        print(f"[{'OK  ' if ok else 'BAD '}] {q}: {res['spark_rows']} "
              f"rows, err={res['err']}")
    shutil.rmtree(out_dir, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
