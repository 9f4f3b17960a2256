"""DuckDB oracle compare: each query's result, as the benchmark wrote it,
must equal its oracle SQL run by DuckDB over the same generated tables,
as a multiset of rows with columns sorted by name (the compare of
`tools/verify_local.py`)."""
import glob
import math
import os

import duckdb
import pyarrow.parquet as pq


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ", ".join(f"{k}: {_norm(x)}" for k, x in
                               sorted(v.items())) + "}"
    return str(v)


def canon(columns, rows):
    """Columns sorted by name; every cell as text; rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    names = [columns[i] for i in order]
    return names, sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def connect(data_dir, tables):
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute("SET memory_limit = '2GB'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(data_dir, t + '.parquet', '*.parquet')}')")
    return con


def read_result(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None, []
    tab = pq.ParquetDataset(files).read()
    return tab.column_names, [tuple(r.values()) for r in tab.to_pylist()]


def planted_clusters(meta):
    """q_dedup_cluster from the generator's planted near-duplicate
    groups: every document labelled with the smallest id of its group
    (itself when unplanted). Its DuckDB oracle is quadratic in the pair
    stage, too slow for a benchmark run."""
    label = {d: min(g) for g in meta["near_dup_groups"] for d in g}
    n = meta["rows"]["documents"]
    return ["doc_id", "cluster"], [(d, label.get(d, d)) for d in range(n)]


GROUND_TRUTH = {"q_dedup_cluster": planted_clusters}


def compare(con, query, sql, result_path, meta):
    """None when the result matches the oracle (the planted ground truth
    where GROUND_TRUTH names the query), else a short reason."""
    cols, rows = read_result(result_path)
    if cols is None:
        return "no result files"
    if query in GROUND_TRUTH:
        ocols, orows = GROUND_TRUTH[query](meta)
    else:
        cur = con.execute(sql)
        ocols, orows = [d[0] for d in cur.description], cur.fetchall()
    a, b = canon(cols, rows), canon(ocols, orows)
    if a[0] != b[0]:
        return f"columns differ: {a[0]} vs oracle {b[0]}"
    if len(a[1]) != len(b[1]):
        return f"row count {len(a[1])} vs oracle {len(b[1])}"
    for x, y in zip(a[1], b[1]):
        if x != y:
            return f"first differing row {list(x)[:6]} vs oracle {list(y)[:6]}"
    return None
