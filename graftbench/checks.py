"""Output checks for the benchmark, run once per run outside the timed loop.

Query results are compared with their DuckDB oracle SQL by the rule of the
repo's oracle gate: columns sorted by name, equal row counts, rows sorted by
every column, floats compared exactly (NaN equals NaN) and everything else
as strings. The warehouse is checked against the generator's ground truth.
"""
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pandas as pd

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "documents"]


def compare(got, exp):
    """None when the frames agree, else a one-line reason."""
    g = got.reindex(sorted(got.columns), axis=1)
    e = exp.reindex(sorted(exp.columns), axis=1)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    try:
        g = g.sort_values(by=list(g.columns)).reset_index(drop=True)
        e = e.sort_values(by=list(e.columns)).reset_index(drop=True)
    except Exception:
        g, e = g.reset_index(drop=True), e.reset_index(drop=True)
    for c in g.columns:
        a, b = g[c], e[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            af, bf = a.astype(float).values, b.astype(float).values
            eq = (af == bf) | (np.isnan(af) & np.isnan(bf))
        else:
            af, bf = a.astype(str).values, b.astype(str).values
            eq = af == bf
        if not eq.all():
            i = int(np.argmin(eq))
            return f"{c}: row {i}: {af[i]!r} != {bf[i]!r}"
    return None


def expected(oracles, star_dir=None):
    """{query: oracle result frame, or the exception the oracle raised}.
    The queries run side by side, one DuckDB cursor each."""
    con = duckdb.connect()
    if star_dir:
        for t in STAR_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(star_dir, t + '.parquet')}')")

    def run(sql):
        try:
            return con.cursor().execute(sql).df()
        except Exception as e:  # a broken oracle fails the check
            return e

    names = sorted(oracles)
    with ThreadPoolExecutor(max_workers=os.cpu_count()) as pool:
        return dict(zip(names, pool.map(run, [oracles[n] for n in names])))


def check_queries(results_dir, want):
    """{query: reason} for every result that disagrees with its oracle."""
    bad = {}
    for name, exp in sorted(want.items()):
        try:
            if isinstance(exp, Exception):
                raise exp
            reason = compare(pd.read_parquet(os.path.join(results_dir, name)), exp)
        except Exception as e:  # a missing result fails the check
            reason = f"{type(e).__name__}: {e}"
        if reason:
            bad[name] = reason
    return bad


def check_warehouse(wh_dir, truth):
    """Reasons the written warehouse disagrees with the generator's truth."""
    con = duckdb.connect()

    def scalar(sql):
        return con.execute(sql).fetchone()[0]

    def table(t):
        return f"read_parquet('{os.path.join(wh_dir, t)}/*.parquet')"

    bad = []
    try:
        for t, n in sorted(truth["tables"].items()):
            got = scalar(f"SELECT count(*) FROM {table(t)}")
            if got != n:
                bad.append(f"{t}: {got} rows, expected {n}")
        for t, c in [("Item", "quantity"), ("Orders", "quantity_order"),
                     ("OrderM", "quantity_month")]:
            got = scalar(f"SELECT sum({c}) FROM {table(t)}")
            if got != truth["sum_quantity"]:
                bad.append(f"{t}: sum({c}) = {got}, expected {truth['sum_quantity']}")
    except Exception as e:
        bad.append(f"{type(e).__name__}: {e}")
    return bad
