#!/usr/bin/env python3
"""Derive the benchmark's registry split and expected results.

    python3 perfbench/oracle.py <survey.jsonl> <oracle_sql.json> <data_dir>

Inputs:
  survey.jsonl     output of `perfbench.Harness survey`: per registry query,
                   the tables its plan and its build-time actions read, and
                   the row count and digest of Spark's result
  oracle_sql.json  output of `perfbench.Harness oracle-sql`: the registry's
                   DuckDB twins (`SparkEntry.oracleSql`)
  data_dir         the sf0.1 tables the benchmark generates (`.work/sf01`)

Writes `split.json` (every registry query in exactly one of the two registry
workloads, by the rule: a query that reads documents or embeddings is a
corpus query), `workloads.json` (the ops a run times: every STRIDE-th query
of each side, by name) and `expected.json` (row count and digest of each of
those ops). An op with a twin gets DuckDB's result; one without, or whose
twin runs past TWIN_LIMIT_S, gets Spark's. A twin whose result differs from
Spark's is listed on stderr; its expected value stays DuckDB's, so the
benchmark counts the op as failing.
"""
import json
import os
import sys
import threading
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import digest  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CORPUS_TABLES = {"documents", "embeddings"}
TWIN_LIMIT_S = 60
# Every STRIDE-th query of a side, by name, keeps a run within its time
# limit; the whole registry takes about two minutes per pass.
STRIDE = 24


def split_of(survey):
    """The registry split: a query is a corpus query iff its analyzed plan
    or the Dataset actions it runs while built read documents or
    embeddings."""
    split = {"rule": "corpus_sf01 iff the query's analyzed plan or its "
                     "build-time actions read documents or embeddings",
             "analytics_sf01": [], "corpus_sf01": []}
    for q in sorted(survey, key=lambda q: q["name"]):
        read = set(q.get("plan_tables", [])) | set(q.get("action_tables", []))
        side = "corpus_sf01" if read & CORPUS_TABLES else "analytics_sf01"
        split[side].append(q["name"])
    return split


def main(argv):
    if len(argv) != 4:
        print(__doc__, file=sys.stderr)
        return 2
    survey = [json.loads(ln) for ln in open(argv[1]) if ln.startswith("{")]
    with open(argv[2]) as f:
        sql = json.load(f)
    data = argv[3]

    split = split_of(survey)

    timed = {side: split[side][::STRIDE]
             for side in ("analytics_sf01", "corpus_sf01")}
    ops = set(timed["analytics_sf01"]) | set(timed["corpus_sf01"])

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet/*.parquet')")
    expected = {}
    mismatches = 0
    for q in sorted(survey, key=lambda q: q["name"]):
        name = q["name"]
        if name not in ops:
            continue
        if "error" in q:
            print(f"{name}: Spark failed in the survey: {q['error']}", file=sys.stderr)
            continue
        spark = {"rows": q["rows"], "digest": q["digest"]}
        if name not in sql:
            expected[name] = dict(spark, source="spark")
            continue
        timer = threading.Timer(TWIN_LIMIT_S, con.interrupt)
        t0 = time.time()
        try:
            timer.start()
            cur = con.execute(sql[name])
            cols = [d[0] for d in cur.description]
            n, d = digest.of(cols, cur.fetchall())
        except duckdb.Error as e:
            print(f"{name}: oracle SQL failed after {time.time() - t0:.0f} s: "
                  f"{str(e).splitlines()[0][:200]}", file=sys.stderr)
            expected[name] = dict(spark, source="spark")
            continue
        finally:
            timer.cancel()
        expected[name] = {"rows": n, "digest": d, "source": "duckdb"}
        if (n, d) != (spark["rows"], spark["digest"]):
            mismatches += 1
            print(f"{name}: DuckDB rows={n} digest={d}, Spark rows="
                  f"{spark['rows']} digest={spark['digest']}", file=sys.stderr)
    with open(os.path.join(HERE, "split.json"), "w") as f:
        json.dump(split, f, indent=1)
        f.write("\n")
    with open(os.path.join(HERE, "workloads.json"), "w") as f:
        json.dump(timed, f, indent=1)
        f.write("\n")
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    twins = sum(1 for v in expected.values() if v["source"] == "duckdb")
    print(f"{len(expected)} queries, {twins} from DuckDB, {mismatches} "
          f"DuckDB/Spark mismatches; split {len(split['analytics_sf01'])} "
          f"analytics / {len(split['corpus_sf01'])} corpus", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
