"""Result comparison for the sf0.1 workloads against the DuckDB oracle.

The rules are those of tools/check_oracle.py: columns are compared by
sorted name, rows in the order the engine produced them, floats through
their shortest round-trip form, NULL equals NULL and NaN equals NaN; the
columns that check_oracle.py lets differ by summation order (ULP_TOL_COLS)
or sketch error (EST_TOL_COLS) get the same tolerance here. A query with
no oracle statement must return at least one row.
"""
import glob
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

EST_TOL_COLS = {("sketch_kmv_parts", "n_parts"): 3.0 / math.sqrt(32768)}
ULP_TOL_COLS = {
    ("check_bucketed_join", "total"),
    ("check_salted_join", "total"),
    ("cube_order_stats", "total"),
    ("histogram_totalprice", "total"),
    ("q19_disjunctive_filter", "revenue"),
    ("range_join_price_bands", "total"),
}


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.17g}"
    return str(v)


def _missing(v):
    return v is None or (isinstance(v, float) and math.isnan(v))


def _tolerated(name, col, a, b):
    if (name, col) in ULP_TOL_COLS and isinstance(a, float) and isinstance(b, float):
        m = max(abs(a), abs(b))
        return m > 0 and abs(a - b) / m <= 1e-12
    tol = EST_TOL_COLS.get((name, col))
    if tol is not None:
        try:
            a, b = float(a), float(b)
        except (TypeError, ValueError):
            return False
        return b != 0 and abs(a - b) / abs(b) <= tol
    return False


def compare_rows(name, eng_cols, eng_rows, ora_cols, ora_rows):
    """Return None when the engine rows equal the oracle rows, else why not."""
    if sorted(eng_cols) != sorted(ora_cols):
        return f"schema: engine={sorted(eng_cols)} oracle={sorted(ora_cols)}"
    if len(eng_rows) != len(ora_rows):
        return f"row count: engine={len(eng_rows)} oracle={len(ora_rows)}"
    cols = sorted(eng_cols)
    ei = [eng_cols.index(c) for c in cols]
    oi = [ora_cols.index(c) for c in cols]
    for r, (er, orow) in enumerate(zip(eng_rows, ora_rows)):
        for c, i, j in zip(cols, ei, oi):
            a, b = er[i], orow[j]
            if _missing(a) and _missing(b):
                continue
            if _norm(a) != _norm(b) and not _tolerated(name, c, a, b):
                return f"row {r} col {c}: engine={a!r} oracle={b!r}"
    return None


def check_query(con, name, result_dir, oracle_sql):
    """Compare one query's parquet output with its oracle; None when it matches."""
    if not glob.glob(os.path.join(result_dir, "*.parquet")):
        return "no engine output"
    eng = con.execute(f"SELECT * FROM '{result_dir}/*.parquet'")
    eng_cols = [d[0] for d in eng.description]
    eng_rows = eng.fetchall()
    if oracle_sql is None:
        return None if eng_rows else "rows-only check: 0 rows"
    try:
        ora = con.execute(oracle_sql)
    except Exception as e:  # noqa: BLE001 - reported as the query's failure
        return f"oracle SQL error: {e}"
    return compare_rows(name, eng_cols, eng_rows, [d[0] for d in ora.description], ora.fetchall())
