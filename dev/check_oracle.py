#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 dev/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (Spark output) and runs the
matching SQL from oracle_sql.json in DuckDB with the sfDir tables
registered as views. Compares: schema (column names), COLUMN TYPES, row
count, and values (columns sorted by name, rows sorted by all columns).
Reports per-query PASS/FAIL with a diff preview and max numeric drift.

The type comparison exists because the driver's hash is type-sensitive
while a value comparison is not: DuckDB promotes sum(BIGINT) to HUGEINT
and parses bare decimal literals as DECIMAL, and either promotion fails
the driver's gate on VALUE-equal results (r6: q_dup_stats). Types are
compared between the DuckDB-read Spark parquet and the oracle relation,
per column. The one allowed equivalence is within the plain integer
family (TINYINT/SMALLINT/INTEGER/BIGINT): the driver converts through
pandas where those all land in int64, and every r6 INTEGER-vs-BIGINT
pair (Spark row_number is INT32, DuckDB's is BIGINT) was hash-green.
HUGEINT and DECIMAL(x,y) are deliberately NOT in that family — they
surface as Decimal objects driver-side and are exactly the bugs this
check exists to catch (r6: q_dup_stats). CAST the oracle SQL rather
than widening the allowlist.
"""
import json, os, sys, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    return repr(v)

def main(sf_dir, out_dir, only=None, skip=None):
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata are single files; ScaleUp corpora (sf1/sf10)
        # are Spark-written DIRECTORIES of part files
        src = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(src):
            src = f"{src}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        # `only` entries are substrings; a '=' prefix demands an EXACT
        # match (dev/sweep_sf1.sh re-runs one heavy oracle per process —
        # a substring would drag q_dbscan_stats into q_dbscan's run)
        if only and not any(
                (o[1:] == name if o.startswith("=") else o in name)
                for o in only):
            continue
        if skip and name in skip:
            continue
        try:
            got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            got_cols = sorted(got.columns)
            got_types = dict(zip(got.columns, (str(t) for t in got.types)))
            got_rows = con.sql(
                f"SELECT {', '.join(got_cols)} FROM got ORDER BY ALL").fetchall()
            exp = con.sql(sql)
            exp_cols = sorted(exp.columns)
            exp_types = dict(zip(exp.columns, (str(t) for t in exp.types)))
            con.register("exp_rel", exp)
            exp_rows = con.sql(
                f"SELECT {', '.join(exp_cols)} FROM exp_rel ORDER BY ALL").fetchall()
        except Exception as e:
            print(f"FAIL {name}: error {e}")
            n_fail += 1
            continue
        if got_cols != exp_cols:
            print(f"FAIL {name}: schema spark={got_cols} oracle={exp_cols}")
            n_fail += 1
            continue
        INT_FAMILY = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"}
        def norm_type(t):
            return "INT" if t in INT_FAMILY else t
        type_bad = [(c, got_types[c], exp_types[c]) for c in got_cols
                    if norm_type(got_types[c]) != norm_type(exp_types[c])]
        if type_bad:
            det = ", ".join(f"{c}: spark={g} oracle={e}" for c, g, e in type_bad)
            print(f"FAIL {name}: types {det}")
            n_fail += 1
            continue
        if len(got_rows) != len(exp_rows):
            print(f"FAIL {name}: rows spark={len(got_rows)} oracle={len(exp_rows)}")
            n_fail += 1
            continue
        bad = None
        drift = 0.0
        for i, (g, e) in enumerate(zip(got_rows, exp_rows)):
            for j, (gv, ev) in enumerate(zip(g, e)):
                if isinstance(gv, float) and isinstance(ev, float) and \
                        not (math.isnan(gv) and math.isnan(ev)):
                    drift = max(drift, abs(gv - ev))
                if canon(gv) != canon(ev):
                    if bad is None:
                        bad = (i, got_cols[j], gv, ev)
        if bad:
            i, c, gv, ev = bad
            print(f"FAIL {name}: row {i} col {c}: spark={gv!r} oracle={ev!r} (drift={drift:.3g})")
            n_fail += 1
        else:
            extra = f" (max float drift {drift:.3g})" if drift > 0 else ""
            print(f"PASS {name}: {len(got_rows)} rows{extra}")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    # optional 3rd arg: comma-separated name SUBSTRINGS — check only
    # matching queries (fresh-process reruns of resource-failed oracles).
    # optional 4th arg: comma-separated EXACT names to skip — the
    # spill-prone oracle families dev/sweep_sf1.sh re-runs in their own
    # DuckDB process (exact-name so a skip can never swallow another
    # query whose name contains it; empty string = no filter).
    only = sys.argv[3].split(",") if len(sys.argv) > 3 and sys.argv[3] else None
    skip = set(sys.argv[4].split(",")) if len(sys.argv) > 4 and sys.argv[4] else None
    sys.exit(main(sys.argv[1], sys.argv[2], only, skip))
