#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage:
  python3 tools/check_oracle.py [sfdir] [outdir] [lane1,lane2,...]

The optional 3rd arg restricts the check to the named lanes (exact
names) — per-family sfN sweeps need per-lane progress and the ability
to resume around the known DuckDB resource ceilings. Each lane prints
its oracle wall seconds so sweep ceilings are recorded with numbers.

Assumes `sbt "runMain graft.Verify <sfdir> <outdir>"` already ran (or run
with --run to invoke it). For each <outdir>/<name> parquet dir, runs the
matching SQL from oracle_sql.json in DuckDB over views named after the
parquet tables in sfdir, sorts columns by name, sorts rows, compares
values (floats to 1e-9 rel tol).

Each oracle query runs in a child process of its own, one at a time, so
a query that exhausts memory (DuckDB's "Out of Memory" error, or the
kernel killing the process) costs only its lane: it prints
`UNAVAILABLE <lane>: ...`, counts as unavailable, never as PASS, and the
sweep goes on. GRAFT_DUCKDB_THREADS and GRAFT_DUCKDB_MEMLIMIT bound each
child; with GRAFT_DUCKDB_MEMLIMIT set, a child whose resident memory
passes twice that limit is stopped and its lane is unavailable. Exits 0
only when every checked lane passed.
"""
import json, math, sys, glob, os, re, subprocess, multiprocessing, tempfile, time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def values_equal(a, b):
    a, b = norm(a), norm(b)
    if isinstance(a, float) and isinstance(b, (int, float)):
        return math.isclose(a, float(b), rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(b, float) and isinstance(a, (int, float)):
        return math.isclose(float(a), b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def sortkey(row):
    return tuple((x is None, str(x)) for x in row)


def connect(sfdir):
    """A DuckDB connection with a view per lake table."""
    con = duckdb.connect()
    # cap the oracle's thread fan-out so a long background sweep can
    # share the box with engine measurements (unset = duckdb default)
    if os.environ.get("GRAFT_DUCKDB_THREADS"):
        con.execute(f"SET threads={int(os.environ['GRAFT_DUCKDB_THREADS'])}")
    # opt-in memory cap + disk spill for sfN sweeps: duckdb's default is
    # 80% of RAM and list-heavy pipelines can shoot past it into the OOM
    # killer; a bounded sweep trades spill IO for survival (unset =
    # duckdb default, the driver gate is unaffected)
    if os.environ.get("GRAFT_DUCKDB_MEMLIMIT"):
        con.execute(f"SET memory_limit='{os.environ['GRAFT_DUCKDB_MEMLIMIT']}'")
        con.execute("SET temp_directory='/tmp/duck_spill'")
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def memlimit_bytes():
    """GRAFT_DUCKDB_MEMLIMIT (e.g. "3GB", "512MiB") in bytes, or None."""
    m = re.fullmatch(r"\s*([\d.]+)\s*([KMGT]?)(i?)B?\s*",
                     os.environ.get("GRAFT_DUCKDB_MEMLIMIT", ""), re.IGNORECASE)
    if not m:
        return None
    power = "KMGT".find(m.group(2).upper()) + 1 if m.group(2) else 0
    return float(m.group(1)) * (1024 if m.group(3) else 1000) ** power


def rss_bytes(pid):
    """Resident set size of process `pid`, 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def oracle_child(sfdir, sql, result_path):
    """Runs one oracle query and writes its result as an Arrow IPC file,
    or its DuckDB error as `result_path + ".error"`."""
    try:
        table = connect(sfdir).execute(sql).arrow()
    except Exception as e:  # noqa: BLE001 - the parent classifies it
        kind = "oom" if isinstance(e, duckdb.OutOfMemoryException) else "error"
        with open(result_path + ".error", "w") as f:
            json.dump([kind, str(e)], f)
        return
    with pa.ipc.new_file(result_path, table.schema) as w:
        w.write_table(table)


def run_oracle(sfdir, sql, tmpdir):
    """Runs one oracle query in a child process of its own.

    Returns ("ok", table), ("unavailable", reason) when the child ran out
    of memory or died, or ("error", message) for any other DuckDB error.
    A child the kernel kills takes only its own lane with it.
    """
    result_path = os.path.join(tmpdir, "oracle.arrow")
    child = multiprocessing.get_context("spawn").Process(
        target=oracle_child, args=(sfdir, sql, result_path))
    child.start()
    # DuckDB's memory_limit bounds its buffer pool, not every allocation
    # (ts_value_fill_ar's recursive CTE grew past it for hours until the
    # kernel killed it), so a child past twice the limit is stopped here
    rss_cap = 2 * memlimit_bytes() if memlimit_bytes() else None
    try:
        while child.is_alive():
            child.join(1.0)
            if rss_cap and child.is_alive() and rss_bytes(child.pid) > rss_cap:
                child.kill()
                child.join()
                return "unavailable", (f"oracle process passed twice GRAFT_DUCKDB_MEMLIMIT "
                                       f"({rss_cap / 2**30:.1f} GiB RSS)")
        if os.path.exists(result_path + ".error"):
            with open(result_path + ".error") as f:
                kind, message = json.load(f)
            return ("unavailable" if kind == "oom" else "error"), message
        if child.exitcode != 0 or not os.path.exists(result_path):
            return "unavailable", f"oracle process died (exit code {child.exitcode})"
        with pa.OSFile(result_path) as source:
            return "ok", pa.ipc.open_file(source).read_all()
    finally:
        for p in (result_path, result_path + ".error"):
            if os.path.exists(p):
                os.remove(p)


def main():
    args = [a for a in sys.argv[1:] if a != "--run"]
    sfdir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    outdir = args[1] if len(args) > 1 else "/tmp/graft_verify"
    only = set(args[2].split(",")) if len(args) > 2 else None
    if "--run" in sys.argv:
        subprocess.run(["sbt", f'runMain graft.Verify {sfdir} {outdir}'],
                       cwd="/root/repo", check=True)

    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = n_unavailable = 0
    tmpdir = tempfile.mkdtemp(prefix="graft_oracle_")
    for name in sorted(os.listdir(outdir)):
        d = os.path.join(outdir, name)
        if not os.path.isdir(d):
            continue
        if only is not None and name not in only:
            continue
        t0 = time.time()
        files = glob.glob(f"{d}/*.parquet")
        if not files:
            print(f"FAIL {name}: no parquet written")
            n_fail += 1
            continue
        # read the whole directory: a query written without coalesce(1)
        # would otherwise be compared on a subset of its rows
        got = pq.read_table(files if len(files) > 1 else files[0])
        if name not in oracles:
            print(f"ROWS-ONLY {name}: rows={got.num_rows}")
            continue
        status, exp = run_oracle(sfdir, oracles[name], tmpdir)
        if status == "unavailable":
            print(f"UNAVAILABLE {name}: {exp}", flush=True)
            n_unavailable += 1
            continue
        if status == "error":
            print(f"FAIL {name}: duckdb error: {exp}")
            n_fail += 1
            continue
        gcols, ecols = sorted(got.column_names), sorted(exp.column_names)
        if gcols != ecols:
            print(f"FAIL {name}: schema mismatch spark={gcols} duckdb={ecols}")
            n_fail += 1
            continue
        grows = sorted(zip(*[got.column(c).to_pylist() for c in gcols]), key=sortkey) if got.num_rows else []
        erows = sorted(zip(*[exp.column(c).to_pylist() for c in ecols]), key=sortkey) if exp.num_rows else []
        if len(grows) != len(erows):
            print(f"FAIL {name}: rowcount spark={len(grows)} duckdb={len(erows)}")
            n_fail += 1
            continue
        bad = None
        for i, (g, e) in enumerate(zip(grows, erows)):
            for c, gv, ev in zip(gcols, g, e):
                if not values_equal(gv, ev):
                    bad = (i, c, gv, ev)
                    break
            if bad:
                break
        if bad:
            print(f"FAIL {name}: row {bad[0]} col {bad[1]} spark={bad[2]!r} duckdb={bad[3]!r}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(grows)} rows ({time.time() - t0:.1f}s)", flush=True)
            n_pass += 1
    os.rmdir(tmpdir)
    print(f"== {n_pass} pass, {n_fail} fail, {n_unavailable} unavailable ==")
    sys.exit(1 if n_fail or n_unavailable else 0)


if __name__ == "__main__":
    main()
