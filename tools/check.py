#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tool, not part of
the library): after graft.Verify has dumped its results for a given SF into
outDir, execute each oracle SQL in DuckDB over the same parquet tables and
compare row counts, schemas, and value hashes (rows sorted, columns sorted
by name).

DuckDB runs under a memory limit of a third of the host's MemTotal (a test
JVM started alongside takes up to half) and spills to a temp directory under
outDir, capped at half the free disk there. An oracle that needs more is
reported as a named FAIL ("oracle does not fit this host"), not killed by the
kernel and not left to fill the disk.

Usage: python3 tools/check.py [sfDir] [outDir]
"""
import json, math, shutil, sys, os

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    data = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    import hashlib
    h = hashlib.sha256()
    for row in data:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def mem_total_bytes():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def connect(tmp):
    import duckdb
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{mem_total_bytes() // 3 // 2**20}MiB'")
    con.execute(f"SET temp_directory = '{tmp}'")
    spill = shutil.disk_usage(tmp).free // 2
    con.execute(f"SET max_temp_directory_size = '{spill // 2**20}MiB'")
    return con


def main():
    import duckdb
    tmp = f"{OUT}/duckdb_tmp"
    con = connect(tmp)
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    fails = []
    for name, sql in sorted(oracle.items()):
        rdir = f"{OUT}/{name}"
        if not os.path.isdir(rdir):
            print(f"FAIL {name}: no spark output")
            fails.append(name)
            continue
        try:
            got = con.execute(f"SELECT * FROM '{rdir}/*.parquet'")
            grows, gcols = got.fetchall(), [d[0] for d in got.description]
            exp = con.execute(sql)
            erows, ecols = exp.fetchall(), [d[0] for d in exp.description]
        except duckdb.OutOfMemoryException as e:
            print(f"FAIL {name}: oracle does not fit this host: "
                  f"{str(e).splitlines()[0]}")
            fails.append(name)
            continue
        except Exception as e:
            print(f"FAIL {name}: {e}")
            fails.append(name)
            continue
        schema_ok = sorted(gcols) == sorted(ecols)
        rows_ok = len(grows) == len(erows)
        hash_ok = schema_ok and table_hash(grows, gcols) == table_hash(erows, ecols)
        if schema_ok and rows_ok and hash_ok:
            print(f"OK   {name}: {len(grows)} rows")
        else:
            fails.append(name)
            print(f"FAIL {name}: rows {len(grows)}/{len(erows)} "
                  f"schema_ok={schema_ok} hash_ok={hash_ok}")
            if not schema_ok:
                print(f"     spark cols: {sorted(gcols)}")
                print(f"     duck  cols: {sorted(ecols)}")
            elif rows_ok:
                # show first differing row for debugging
                order = sorted(range(len(gcols)), key=lambda i: gcols[i])
                gs = sorted(tuple(norm(r[i]) for i in order) for r in grows)
                es = sorted(tuple(norm(r[i]) for i in order) for r in erows)
                for a, b in zip(gs, es):
                    if a != b:
                        print(f"     spark: {a}\n     duck : {b}")
                        break
    con.close()
    shutil.rmtree(tmp, ignore_errors=True)
    print(f"\n{len(oracle) - len(fails)}/{len(oracle)} queries match")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
