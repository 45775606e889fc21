"""Output checks and summary statistics for the benchmark.

Registry ops are compared with their DuckDB twins the way the repo's
correctness gate does it: columns sorted by name, rows sorted, floats
rounded to 1e-9, then compared value by value. ``etl_ingest`` ops are
compared with the counts the generator computed.
"""
import hashlib
import os
import sys

import numpy as np
import pandas as pd

# the repo's correctness gate (tools/compare.py) canonicalizes frames this way
sys.path.append(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from compare import canon  # noqa: E402

STAR_TABLES = ("region nation customer supplier part orders lineitem "
               "events documents embeddings").split()


def percentile(values, q):
    """Linear interpolation between closest ranks (numpy's default);
    returns (value, sample count)."""
    xs = sorted(values)
    if not xs:
        return None, 0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), len(xs)


def hd_median(values):
    """Harrell-Davis estimate of the median: a weighted mean of all order
    statistics, the weights a Beta((n+1)/2, (n+1)/2) distribution's mass
    on each rank's interval. The plain sample median of a run's mixed
    ops jumps between two queries' latencies when the middle rank falls
    in a gap between them; this estimate moves smoothly."""
    xs = np.sort(np.asarray(values, dtype=float))
    n = len(xs)
    if n == 0:
        return None
    a = (n + 1) / 2.0
    t = np.linspace(0.0, 1.0, 20001)
    dens = (t * (1.0 - t)) ** (a - 1.0)
    cdf = np.concatenate([[0.0], np.cumsum((dens[1:] + dens[:-1]) / 2.0)])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, t, cdf))
    return float(np.dot(weights, xs))


def frames_equal(got, exp):
    """None when equal after canonicalization, else a one-line reason."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    if not g.equals(e):
        neq = (g != e) & ~(g.isna() & e.isna())
        return f"{int(neq.any(axis=1).sum())}/{len(g)} rows differ"
    return None


class Oracle:
    """DuckDB twins over one star-schema directory; results cached by
    (directory, SQL text) in ``cache_dir``."""

    def __init__(self, star_dir, cache_dir):
        import duckdb
        self.con = duckdb.connect()
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        for t in STAR_TABLES:
            p = os.path.join(star_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def result(self, sql):
        key = hashlib.sha1(sql.encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".parquet")
        if os.path.exists(path):
            return pd.read_parquet(path)
        df = self.con.execute(sql).fetchdf()
        df.to_parquet(path + ".tmp")
        os.replace(path + ".tmp", path)
        return df


def check_registry(result, oracle):
    """Failed op ids and one-line reasons for registry and stream ops."""
    failed, reasons = set(), []
    expected_rows = {}
    for name, d in result["first_results"].items():
        got = pd.concat([pd.read_parquet(os.path.join(d, f))
                         for f in sorted(os.listdir(d)) if f.endswith(".parquet")],
                        ignore_index=True)
        sql = result["oracle_sql"].get(name)
        if sql is None:
            expected_rows[name] = len(got) if len(got) > 0 else -1
            continue
        exp = oracle.result(sql)
        expected_rows[name] = len(exp)
        why = frames_equal(got, exp)
        if why:
            reasons.append(f"{name}: {why}")
            first = min((o for o in result["ops"] if o["name"] == name and o["rows"] is not None),
                        key=lambda o: o["start_s"], default=None)
            if first:
                failed.add(first["id"])
    for o in result["ops"]:
        if o["kind"] not in ("registry", "stream") or o["error"]:
            continue
        want = expected_rows.get(o["name"])
        if want is None or o["rows"] != want:
            failed.add(o["id"])
            reasons.append(f"{o['name']} op {o['id']}: rows {o['rows']} != {want}")
    return failed, reasons


ETL_KEYS = {"daily": ("appended",), "backfill": ("appended",),
            "trades": ("rejected", "oversold", "accepted"),
            "refresh": ("positions", "open")}


def check_etl(result, plan):
    """Failed op ids and reasons for etl_ingest ops, against the plan."""
    failed, reasons = set(), []
    for o in result["ops"]:
        if o["kind"] != "etl" or o["error"]:
            continue
        want = plan["ops"][o["observed"]["i"]]
        for k in ETL_KEYS[want["kind"]]:
            if o["observed"].get(k) != want[k]:
                failed.add(o["id"])
                reasons.append(f"{want['kind']} op {want['i']}: {k} "
                               f"{o['observed'].get(k)} != {want[k]}")
    return failed, reasons
