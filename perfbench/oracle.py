"""Output check: graft's result of each query against DuckDB running the
query's `SparkEntry.oracleSql` twin on the same input directory, compared
by the repository's own checker (`tools/check.py`: columns sorted by name,
values normalised, rows sorted, coarse arrow type classes)."""
import json
import sys

import duckdb


def check(root, input_dir, out_dir, queries, tables, tmp_dir):
    """Returns {query: (ok, detail)}."""
    sys.path.insert(0, str(root / "tools"))
    import check as repo_check

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir / t}.parquet')")
    sql = json.loads((out_dir / "oracle_sql.json").read_text())
    results = {}
    for q in queries:
        if q not in sql:
            results[q] = (False, "no oracle SQL registered")
            continue
        try:
            results[q] = repo_check.check_one(con, out_dir / "results", q, sql[q])
        except Exception as e:  # a checker error still names the query
            results[q] = (False, f"check error: {e!r}"[:500])
    con.close()
    return results
