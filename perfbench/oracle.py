"""DuckDB check of the canon workload's first pass: each query that has
an oracle SQL is run by DuckDB over the same generated parquet tables
and compared, row by row in order, with the rows Spark wrote.
Floats compare to a relative 1e-9; everything else compares exactly.
"""
import glob
import math
import os

TABLES = ("region", "nation", "supplier", "part", "lineitem", "events")


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def _rows(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    return [names[i] for i in order], [tuple(r[i] for i in order) for r in cur.fetchall()]


def check(record):
    """List of (query, ok, message) for every query with an oracle."""
    import duckdb
    con = duckdb.connect()
    data = record["data_dir"]
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')")
    out = []
    for q, sql in sorted(record["oracle_sql"].items()):
        files = glob.glob(os.path.join(record["results_dir"], q, "*.parquet"))
        if not files:
            out.append((q, False, "no result files"))
            continue
        try:
            gcols, got = _rows(con, f"SELECT * FROM read_parquet({sorted(files)!r})")
            ecols, exp = _rows(con, sql)
        except Exception as e:  # an oracle that cannot run is a failed check
            out.append((q, False, f"duckdb: {e}"))
            continue
        if gcols != ecols:
            out.append((q, False, f"columns {gcols} != {ecols}"))
        elif len(got) != len(exp):
            out.append((q, False, f"rows {len(got)} != {len(exp)}"))
        else:
            bad = [(i, g, e) for i, (g, e) in enumerate(zip(got, exp))
                   if not all(_same(x, y) for x, y in zip(g, e))]
            out.append((q, not bad, f"{len(bad)} rows differ, first {bad[:1]}" if bad
                        else f"{len(got)} rows"))
    return out
