"""Correctness checks of one run's outputs, computed in DuckDB from the
same parquet inputs the program read.

Each workload's check returns {output name: None if it holds, else a
one-line reason}. Registry outputs are compared with their DuckDB oracle
under the project's gate rules (those of dev/check_oracle.py): same
column names, same column types up to the integer family, same row count,
and equal values after sorting columns by name and rows by all columns,
floats compared at 9 decimals.
"""
import json
import math

import duckdb

INT_FAMILY = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"}
NUMERIC = INT_FAMILY | {"DOUBLE", "FLOAT"}


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    return repr(v)


def _norm_type(t):
    return "INT" if t in INT_FAMILY else t


def compare(con, got_dir, sql):
    """None if the Spark output under `got_dir` equals the oracle `sql`."""
    got = con.sql(f"SELECT * FROM '{got_dir}/*.parquet'")
    exp = con.sql(sql)
    cols = sorted(got.columns)
    if cols != sorted(exp.columns):
        return f"columns spark={cols} oracle={sorted(exp.columns)}"
    gt = dict(zip(got.columns, map(str, got.types)))
    et = dict(zip(exp.columns, map(str, exp.types)))
    bad = [c for c in cols if _norm_type(gt[c]) != _norm_type(et[c])]
    if bad:
        return "types " + ", ".join(f"{c}: spark={gt[c]} oracle={et[c]}" for c in bad)
    sel = ", ".join(f'"{c}"' for c in cols)
    con.register("got_rel", got)
    con.register("exp_rel", exp)
    g = con.sql(f"SELECT {sel} FROM got_rel ORDER BY ALL").fetchall()
    e = con.sql(f"SELECT {sel} FROM exp_rel ORDER BY ALL").fetchall()
    if len(g) != len(e):
        return f"rows spark={len(g)} oracle={len(e)}"
    for i, (gr, er) in enumerate(zip(g, e)):
        for c, gv, ev in zip(cols, gr, er):
            if _canon(gv) != _canon(ev):
                return f"row {i} col {c}: spark={gv!r} oracle={ev!r}"
    return None


def same_rows(con, got_sql, exp_sql):
    """None if two queries return the same multiset of rows."""
    g = sorted(map(_canon_row, con.sql(got_sql).fetchall()))
    e = sorted(map(_canon_row, con.sql(exp_sql).fetchall()))
    if g == e:
        return None
    diff = sorted(set(g) ^ set(e))[:2]
    return f"rows spark={len(g)} duckdb={len(e)}, first differences {diff}"


def _canon_row(r):
    return tuple(_canon(v) for v in r)


def _split_fields(body):
    """'a INTEGER, b STRUCT(c DOUBLE)' -> [('a', 'INTEGER'), ('b', 'STRUCT(c DOUBLE)')]."""
    parts, depth, cur = [], 0, ""
    for ch in body:
        if ch == "," and depth == 0:
            parts.append(cur.strip())
            cur = ""
            continue
        depth += (ch == "(") - (ch == ")")
        cur += ch
    if cur.strip():
        parts.append(cur.strip())
    return [(p.split(" ", 1)[0].strip('"'), p.split(" ", 1)[1]) for p in parts]


def _leaves(path, typ):
    """(dotted path, type) of every non-struct column, structs expanded."""
    if typ.startswith("STRUCT(") and typ.endswith(")"):
        return [leaf for name, sub in _split_fields(typ[7:-1])
                for leaf in _leaves(path + [name], sub)]
    return [(path, typ)]


def scores_in_range(con, rel):
    """None if every numeric column named like a score (nested or not)
    lies in 0..100 wherever it is set."""
    for name, typ, *_ in con.sql(f"DESCRIBE SELECT * FROM {rel}").fetchall():
        for path, t in _leaves([name], typ):
            leaf = path[-1]
            if t in NUMERIC and ("score" in leaf or leaf.startswith("avg_quality")):
                expr = ".".join(f'"{p}"' for p in path)
                n = con.sql(f"SELECT count(*) FROM {rel} "
                            f"WHERE NOT ({expr} BETWEEN 0 AND 100)").fetchone()[0]
                if n:
                    return f"{n} values of {'.'.join(path)} outside 0..100"
    return None


def _views(con, data, tables):
    for t in tables:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")


def _guard(fn):
    try:
        return fn()
    except Exception as e:  # a check that cannot run is a failed check
        return f"check error: {type(e).__name__}: {str(e)[:300]}"


def etl_batch(data, out):
    con = duckdb.connect()
    _views(con, data, ["customer", "events"])
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    res = {}
    for name in ["journey", "funnel", "dashboard"]:
        res[name] = _guard(lambda: compare(con, f"{out}/{name}", oracle[f"q_{name}"]))

    def o(name):
        return f"'{out}/{name}/*.parquet'"

    def keys(name, got_keys, exp_sql):
        """Rows, distinct keys and the DuckDB distinct-key count agree."""
        rows, nkeys = con.sql(
            f"SELECT count(*), count(DISTINCT ({got_keys})) FROM {o(name)}").fetchone()
        exp = con.sql(exp_sql).fetchone()[0]
        if not rows == nkeys == exp:
            return f"rows {rows}, distinct keys {nkeys}, duckdb distinct keys {exp}"
        return scores_in_range(con, o(name))

    res["marketo_leads"] = _guard(lambda: keys(
        "marketo_leads", "lead_id", "SELECT count(DISTINCT c_custkey) FROM customer"))
    res["frontend_analytics"] = _guard(lambda: keys(
        "frontend_analytics", "session_id, timestamp, event_type",
        "SELECT count(DISTINCT (user_id, epoch_ms(ts), event_type)) FROM events"))
    res["agent_turns"] = _guard(lambda: keys(
        "agent_turns", "session_id, turn_id",
        "SELECT count(DISTINCT (user_id, event_id)) FROM events"))
    res["session_kpis"] = _guard(lambda: same_rows(
        con,
        f"SELECT session_id, total_turns, total_tokens_in, total_tokens_out "
        f"FROM {o('session_kpis')}",
        "SELECT 'sess_' || user_id, count(*), "
        "CAST(sum(CAST(json_extract(props, '$.k') AS INT) + 1) AS BIGINT), "
        "CAST(sum(CAST(floor(value * 2) AS INT)) AS BIGINT) FROM events GROUP BY user_id")
        or scores_in_range(con, o("session_kpis")))
    res["daily_lead_metrics"] = _guard(lambda: same_rows(
        con, f"SELECT sum(total_leads) FROM {o('daily_lead_metrics')}",
        "SELECT CAST(count(*) AS BIGINT) FROM customer")
        or scores_in_range(con, o("daily_lead_metrics")))
    return res


def corpus_dedup(data, out):
    con = duckdb.connect()
    _views(con, data, ["documents", "embeddings", "lineitem"])
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    return {q: _guard(lambda: compare(con, f"{out}/{q}", sql)) for q, sql in oracle.items()}


CHECKS = {"etl_batch": etl_batch, "corpus_dedup": corpus_dedup}
