#!/usr/bin/env python3
"""Compute anew every expected result the benchmark compares against.

    python3 perfbench/expected.py

The harness lists the SQL texts (the oracle SQL of the ops_pipeline and
catalog queries, and the SQL of every sql_lab pool query); DuckDB runs
each on the sf0.1 tables and the summaries are written to
perfbench/expected/expected.json, stamped with the tables' fingerprint
(graft.Tables.canonFingerprint) and a hash of each SQL text. Runs refuse
an entry whose stamp no longer matches.
"""
import json
import os
import sys
import time

import duckdb

import oracle
import run


def main():
    os.makedirs(run.WORK, exist_ok=True)
    listing = os.path.join(run.WORK, "sql_texts.json")
    run.jvm(["--mode", "dump"], listing)
    with open(listing) as fh:
        texts = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA}/{t}.parquet'")
    entries = {}
    t0 = time.time()
    for e in texts["entries"]:
        try:
            summary = oracle.duckdb_summary(con, e["sql"], positional="bucket" in e)
            entry = {"sql_sha": e["sql_sha"], "summary": summary}
            if "bucket" in e:
                entry.update(sql=e["sql"], bucket=e["bucket"], seconds=e["seconds"])
            entries[e["id"]] = entry
        except duckdb.Error as ex:
            print(f"[expected] {e['id']}: {ex}", file=sys.stderr)
    out = {"fingerprint": texts["fingerprint"], "duckdb": duckdb.__version__,
           "entries": dict(sorted(entries.items()))}
    with open(run.EXPECTED, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"[expected] {len(entries)}/{len(texts['entries'])} results in "
          f"{time.time() - t0:.0f} s", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
