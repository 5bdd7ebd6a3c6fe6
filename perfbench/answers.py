"""Answer check: each lane's untimed answer write against its DuckDB oracle.

The comparison rule is the library's oracle gate, imported from the
checkout's tools/check_oracle.py: run the lane's oracle SQL in DuckDB
over views named after the lake's parquet tables, order columns by name
and rows by value, and compare values, floats to 1e-9 relative
tolerance. Kept here: the oracle cache, and the rule that a lane
without an oracle must return at least one row.
"""
import glob
import hashlib
import os
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check_oracle import sortkey, values_equal  # noqa: E402


def _rows(table, cols):
    if not table.num_rows:
        return []
    return sorted(zip(*[table.column(c).to_pylist() for c in cols]), key=sortkey)


def compare(got, expected):
    """None if the two arrow tables hold the same answer, else why not."""
    gcols, ecols = sorted(got.column_names), sorted(expected.column_names)
    if gcols != ecols:
        return f"schema {gcols} != oracle {ecols}"
    grows, erows = _rows(got, gcols), _rows(expected, ecols)
    if len(grows) != len(erows):
        return f"rows {len(grows)} != oracle {len(erows)}"
    for i, (g, e) in enumerate(zip(grows, erows)):
        for c, gv, ev in zip(gcols, g, e):
            if not values_equal(gv, ev):
                return f"row {i} col {c}: {gv!r} != oracle {ev!r}"
    return None


def _lake_identity(tables):
    return ";".join(f"{os.path.basename(p)}:{os.path.getsize(p)}:{os.path.getmtime(p)}"
                    for p in tables)


def check(lake, out_dir, answers, cache_dir):
    """answers: [{"lane", "error", "oracle"}]; returns {lane: None | reason}.

    Oracle results depend only on the SQL and the lake, so they are kept
    under cache_dir keyed by both.
    """
    con = duckdb.connect()
    con.execute("SET threads=2")
    tables = sorted(glob.glob(os.path.join(lake, "*.parquet")))
    for p in tables:
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    identity = _lake_identity(tables)
    os.makedirs(cache_dir, exist_ok=True)

    def oracle(sql):
        key = hashlib.sha256((identity + "\n" + sql).encode()).hexdigest()
        path = os.path.join(cache_dir, key + ".parquet")
        if os.path.exists(path):
            return pq.read_table(path)
        table = con.execute(sql).arrow()
        tmp = f"{path}.{os.getpid()}.tmp"
        pq.write_table(table, tmp)
        os.replace(tmp, path)
        return pq.read_table(path)

    verdict = {}
    for a in answers:
        lane = a["lane"]
        if a.get("error"):
            verdict[lane] = "threw: " + a["error"]
            continue
        files = sorted(glob.glob(os.path.join(out_dir, lane, "*.parquet")))
        if not files:
            verdict[lane] = "no parquet written"
            continue
        got = pq.read_table(files if len(files) > 1 else files[0])
        if not a.get("oracle"):
            verdict[lane] = None if got.num_rows > 0 else "no rows and no oracle"
            continue
        try:
            expected = oracle(a["oracle"])
        except duckdb.Error as e:
            verdict[lane] = f"oracle failed: {e}"
            continue
        verdict[lane] = compare(got, expected)
    con.close()
    return verdict
