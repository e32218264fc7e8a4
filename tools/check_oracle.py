#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run Verify's parquet dumps
against the DuckDB oracle SQL and compare (sort columns by name, sort rows,
compare values).

Usage: check_oracle.py <sfDir> <verifyOutDir> [--json ARTIFACT] [--timeout SEC]

--json writes a per-query artifact in the driver's CORRECTNESS shape
(rows_match/schema_match/hash_match/spark_rows/oracle_rows/err) — the
recorded form of a scale run (e.g. CORRECTNESS_sf1.json).
--timeout interrupts any single oracle query after SEC seconds (records an
err instead of hanging the gate on a pathological plan)."""
import sys, json, glob, os, threading
import duckdb
import pandas as pd

args = [a for a in sys.argv[1:] if not a.startswith("--")]
sf_dir, out_dir = args[0], args[1]
json_out = None
timeout_sec = None
argv = sys.argv[1:]
for i, a in enumerate(argv):
    if a == "--json":
        json_out = argv[i + 1]
    if a == "--timeout":
        timeout_sec = float(argv[i + 1])

con = duckdb.connect()
for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
    name = os.path.basename(p)[:-len(".parquet")]
    # driver fixtures are single files; GenScale sf1 tables are Spark
    # parquet DIRECTORIES named x.parquet — glob their part files
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")


def run_oracle(sql):
    """Run one oracle query, interrupting it past --timeout."""
    if timeout_sec is None:
        return con.execute(sql).df()
    timer = threading.Timer(timeout_sec, con.interrupt)
    timer.start()
    try:
        return con.execute(sql).df()
    finally:
        timer.cancel()


oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
artifact = {}
fails = 0
for name, sql in sorted(oracle.items()):
    rec = {"rows_match": False, "schema_match": False, "hash_match": False,
           "spark_rows": None, "oracle_rows": None, "err": None}
    artifact[name] = rec
    spark_path = os.path.join(out_dir, name)
    if not os.path.isdir(spark_path):
        print(f"FAIL {name}: no spark output dir")
        rec["err"] = "no spark output dir"
        fails += 1
        continue
    try:
        got = pd.concat([pd.read_parquet(f) for f in sorted(glob.glob(spark_path + "/*.parquet"))])
        want = run_oracle(sql)
    except Exception as e:
        print(f"FAIL {name}: {type(e).__name__}: {e}")
        rec["err"] = f"{type(e).__name__}: {e}"[:500]
        fails += 1
        continue

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
        return df

    g, w = canon(got), canon(want)
    rec["spark_rows"], rec["oracle_rows"] = len(g), len(w)
    if list(g.columns) != list(w.columns):
        print(f"FAIL {name}: columns {list(g.columns)} vs oracle {list(w.columns)}")
        rec["err"] = f"columns {list(g.columns)} vs {list(w.columns)}"[:500]
        fails += 1
        continue
    rec["schema_match"] = True
    if len(g) != len(w):
        print(f"FAIL {name}: rows {len(g)} vs oracle {len(w)}")
        fails += 1
        continue
    rec["rows_match"] = True
    # exact value compare after string canonicalization (how a hash would see it)
    gs, ws = g.astype(str), w.astype(str)
    if not gs.equals(ws):
        diff = (gs != ws).any(axis=1)
        print(f"FAIL {name}: {int(diff.sum())}/{len(g)} mismatched rows; first:")
        print(pd.concat([g[diff].head(3).add_suffix("_spark"),
                         w[diff].head(3).add_suffix("_duck")], axis=1).to_string())
        fails += 1
    else:
        rec["hash_match"] = True
        print(f"OK   {name} ({len(g)} rows)")
# merge the Verify-computed agreement scores for the rows-only `_auto`
# queries (no oracle SQL -> no artifact row above): each gets a
# driver-shaped rows-only record CARRYING its agreement metrics, and a
# floor violation counts as a gate failure (VERDICT r10 #2).
agreement_path = os.path.join(out_dir, "agreement.json")
if os.path.exists(agreement_path):
    for name, metrics in json.load(open(agreement_path)).items():
        if name not in artifact:
            spark_path = os.path.join(out_dir, name)
            rows = None
            if os.path.isdir(spark_path):
                rows = sum(len(pd.read_parquet(f))
                           for f in glob.glob(spark_path + "/*.parquet"))
            artifact[name] = {"rows_match": None, "schema_match": None,
                              "hash_match": None, "spark_rows": rows,
                              "oracle_rows": None, "err": "no_oracle"}
        artifact[name]["agreement"] = metrics
        for m, s in metrics.items():
            if s["pass"]:
                print(f"OK   {name} agreement {m}={s['value']:.3f} (floor {s['floor']})")
            else:
                print(f"FAIL {name} agreement {m}={s['value']:.3f} < floor {s['floor']}")
                fails += 1

if json_out:
    with open(json_out, "w") as f:
        json.dump(artifact, f, indent=2, sort_keys=True)
    print(f"artifact -> {json_out}")
print(f"{'ALL OK' if fails == 0 else f'{fails} FAILURES'} / {len(oracle)} queries")
# close the connection before exiting: DuckDB's threads torn down at
# interpreter exit with a live connection can abort the process
# ("terminate called without an active exception")
con.close()
sys.exit(1 if fails else 0)
