"""Output checks for perfbench, run in DuckDB after the measured window.

Oracle checks follow tools/check.py: run the operator's oracle SQL over the
same input tables, then compare with the Spark output with columns sorted
by name, rows sorted by every column, numbers equal to 1e-9 relative and
everything else equal as text. The comparison runs inside DuckDB so large
outputs need no Python round trip.
"""
import duckdb

NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "FLOAT",
           "DOUBLE", "DECIMAL", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")


def connect(data_dir, tables):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _cols(con, sql):
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE ({sql})").fetchall()}


def oracle_check(con, sql, out_dir):
    """None when the parquet output under `out_dir` equals the oracle SQL's
    result, else a one-line reason."""
    got_sql = f"SELECT * FROM read_parquet('{out_dir}/*.parquet')"
    try:
        want_cols, got_cols = _cols(con, sql), _cols(con, got_sql)
    except duckdb.Error as e:
        return f"error: {str(e).splitlines()[0]}"
    if sorted(want_cols) != sorted(got_cols):
        return f"columns oracle={sorted(want_cols)} spark={sorted(got_cols)}"
    names = sorted(want_cols)
    quoted = [f'"{c}"' for c in names]
    order = ", ".join(quoted)
    ranked = ("SELECT {c}, row_number() OVER (ORDER BY {o}) AS __rn FROM ({q})")
    conds = []
    for c, qc in zip(names, quoted):
        num = any(want_cols[c].startswith(t) for t in NUMERIC) and \
            any(got_cols[c].startswith(t) for t in NUMERIC)
        if num:
            a, b = f"CAST(w.{qc} AS DOUBLE)", f"CAST(g.{qc} AS DOUBLE)"
            conds.append(f"({a} IS NOT DISTINCT FROM {b} OR (isnan({a}) AND isnan({b}))"
                         f" OR abs({a} - {b}) <= 1e-9 * greatest(1.0, abs({a})))")
        else:
            conds.append(f"CAST(w.{qc} AS VARCHAR) IS NOT DISTINCT FROM CAST(g.{qc} AS VARCHAR)")
    # a NULL on one side only leaves a numeric condition NULL: that row differs
    cmp = (f"WITH w AS ({ranked.format(c=order, o=order, q=sql)}),"
           f" g AS ({ranked.format(c=order, o=order, q=got_sql)})"
           f" SELECT (SELECT count(*) FROM w), (SELECT count(*) FROM g),"
           f" count(*) FILTER (WHERE NOT coalesce({' AND '.join(conds)}, false))"
           f" FROM w JOIN g USING (__rn)")
    try:
        n_want, n_got, bad = con.execute(cmp).fetchone()
    except duckdb.Error as e:
        return f"error: {str(e).splitlines()[0]}"
    if n_want != n_got:
        return f"rows oracle={n_want} spark={n_got}"
    return None if bad == 0 else f"{bad} rows differ"
