"""Output check of one benchmark run, made outside the timed passes.

Oracle-covered queries: the check pass's parquet output is compared with
DuckDB running `SparkEntry.oracleSql` on the same tables (columns and rows,
order-insensitive, floats to 9 significant digits). Oracle-dark queries: the
harness already compared row count and checksum between the cold pass and
the check pass.
"""
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        raise TypeError("array-typed output column")
    return str(v)


def _rows(con, rel):
    cols = sorted(rel.columns)
    sel = ",".join(f'"{c}"' for c in cols)
    return cols, sorted(tuple(_norm(v) for v in r) for r in con.sql(f"SELECT {sel} FROM rel").fetchall())


def _oracle(con, sql, out_dir):
    try:
        want = con.sql(sql)
        wcols, wrows = _rows(con, want)
        rel = con.sql(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')")
        gcols, grows = _rows(con, rel)
    except Exception as e:  # noqa: BLE001 - any failure is a failed check
        return f"error: {str(e)[:200]}"
    if wcols != gcols:
        return f"columns differ: oracle={wcols} spark={gcols}"
    if len(wrows) != len(grows):
        return f"rows differ: oracle={len(wrows)} spark={len(grows)}"
    if wrows != grows:
        return "values differ"
    return "ok"


def verify(sf_dir, check_dir, checks, errors):
    """Return {query: "ok" | reason} for every query the harness ran."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for q, c in checks.items():
        if q in errors:
            out[q] = errors[q]
        elif c["kind"] == "repeat":
            out[q] = "ok" if c["ok"] else f"cold/check pass differ (rows={c['rows']})"
        else:
            out[q] = _oracle(con, c["sql"], check_dir / q)
    for q, e in errors.items():
        out.setdefault(q, e)
    return out
