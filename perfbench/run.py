"""Steady-state benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the program and
the harness from source into `$CARGO_TARGET_DIR/perfbench` (default
`.bench_build`). Each run then generates its inputs from the seed, starts one
pinned JVM that performs the workload's fixed op sequence (a warm-up, then
the timed window), checks every op's output, and removes everything it
wrote. The last stdout line is the result record; the line before it holds
the run's details (host context, per-op walls, halves, tail percentile).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True   # leave nothing behind in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import config  # noqa: E402
import gen     # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
TAIL_PERCENTILES = (99, 95, 90, 80, 75)
MIN_BEYOND = 10
STREAM_FIRST_BATCH = "streaming.first_batch_s"
PER_LAYER = [  # every per-layer metric; one a workload does not reach reads 0
    "pipeline.land_s", "pipeline.bronze_to_silver_s", "pipeline.silver_to_gold_s",
    "pipeline.dashboard_s", "io.output_bytes", "io.output_files",
    "queries.build_s", "queries.action_s",
    *[f"query.{q}_s" for q in config.CURATION_QUERIES],
    "streaming.batch_s", STREAM_FIRST_BATCH, "streaming.planning_s",
    "streaming.add_batch_s", "streaming.commit_s", "streaming.state_rows",
    "streaming.state_mem_bytes", "streaming.docs_per_s",
    "catalyst.parsing_s", "catalyst.analysis_s", "catalyst.optimization_s",
    "catalyst.planning_s", "plan.nodes",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.job_busy_s",
    "scheduler.driver_gap_s", "scheduler.drain_s",
    "lineage.cut_jobs", "plan.exchanges", "plan.reused_exchanges",
    "broadcast.jobs", "broadcast.bytes",
    "executor.cpu_s", "executor.run_s", "executor.gc_s", "shuffle.write_bytes",
    "shuffle.read_bytes", "shuffle.fetch_wait_s", "memory.spill_bytes",
    "io.input_bytes", "io.input_rows_per_output_row",
    "jvm.jit_s", "jvm.gc_s", "jvm.warmup_c1_s", "trace.hooks_s", "trace.latency_p50_s", "host.ref_s",
]


class BenchError(Exception):
    pass


# ── statistics ────────────────────────────────────────────────────────────

def tail_at(samples, p):
    """Nearest-rank p-th percentile with its sample counts. Refuses (raises)
    when fewer than MIN_BEYOND samples lie beyond it."""
    n = len(samples)
    rank = math.ceil(n * p / 100)
    beyond = n - rank
    if rank < 1 or beyond < MIN_BEYOND:
        raise ValueError(f"p{p} of {n} samples has {beyond} beyond it; need {MIN_BEYOND}")
    return {"percentile": p, "value": sorted(samples)[rank - 1], "samples": n, "beyond": beyond}


def tail(samples):
    """The highest percentile in TAIL_PERCENTILES the sample count supports,
    or None when it supports none."""
    for p in TAIL_PERCENTILES:
        try:
            return tail_at(samples, p)
        except ValueError:
            continue
    return None


def cpu_ticks():
    """The host's cumulative CPU ticks from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def steal_share(t0, t1):
    """Share of the run's CPU ticks the hypervisor gave to other guests: a
    host-wide slowdown that no change to the program causes."""
    if not t0 or not t1 or len(t0) < 8:
        return None
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(1, sum(d))


def host_ref_s():
    """Program-independent calibration: fixed hashing work, median of 3."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        block = b"x" * 65536
        for _ in range(1500):
            h.update(block)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


# ── build ─────────────────────────────────────────────────────────────────

def sources(root):
    graft = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True))
    harness = sorted(glob.glob(f"{HERE}/harness/*.scala"))
    if not graft:
        raise BenchError(f"no program sources under {root}/src/main/scala")
    if not config.SPARK_JARS:
        raise BenchError("no Spark distribution found: set SPARK_HOME")
    return graft, harness


def scalac(out, classpath, files, log):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{config.SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath, *files]
    with open(log, "a") as lf:
        if subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, timeout=800).returncode:
            raise BenchError(f"compile failed, see {log}")


def build(root, out):
    """Compile the program, then the harness against it; skipped when the
    sources match the last build's stamp."""
    graft, harness = sources(root)
    stamp = hashlib.sha256()
    for f in graft + harness:
        stamp.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            stamp.update(fh.read())
    stamp_file = f"{out}/stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp.hexdigest():
        return
    os.makedirs(out, exist_ok=True)
    log = f"{out}/build.log"
    jars = f"{config.SPARK_JARS}/*"
    scalac(f"{out}/graft", jars, graft, log)
    scalac(f"{out}/harness", f"{out}/graft:{jars}", harness, log)
    with open(stamp_file, "w") as f:
        f.write(stamp.hexdigest())


# ── one run ───────────────────────────────────────────────────────────────

def make_inputs(workload, seed, seconds, work):
    """Generate the run's inputs; returns the time it took."""
    t0 = time.perf_counter()
    gen.generate(workload, seed, seconds, f"{work}/inputs")
    return time.perf_counter() - t0


def launch(build_dir, workload, work, trace):
    tmp = f"{work}/tmp"
    os.makedirs(tmp)
    opens = [a for p in config.ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *config.JAVA_OPTS, *opens, f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           "-cp", f"{build_dir}/harness:{build_dir}/graft:{config.SPARK_JARS}/*",
           "perfbench.Main", workload, work, str(trace), str(config.CORES)]
    with open(f"{work}/jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=config.RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError(f"JVM exceeded {config.RUN_TIMEOUT_S} s")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0 or not os.path.exists(f"{work}/result.json"):
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError(f"JVM exited with {rc}")
    with open(f"{work}/result.json") as f:
        return json.load(f)


def table_hash(rows, cols):
    """Order-free hash: rows sorted, columns sorted by name, floats repr'd."""
    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        return str(v)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for row in sorted(tuple(norm(r[i]) for i in order) for r in rows):
        h.update("\x1f".join(row).encode() + b"\x1e")
    return h.hexdigest()


def oracle_mismatches(work):
    """Compare round 1 of the curation mix with SparkEntry.oracleSql in DuckDB."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{work}/inputs/tables/documents.parquet'")
    bad = []
    for sql_file in sorted(glob.glob(f"{work}/oracle/*.sql")):
        q = os.path.basename(sql_file)[:-4]
        got = con.execute(f"SELECT * FROM '{work}/oracle/{q}/*.parquet'")
        grows, gcols = got.fetchall(), [d[0] for d in got.description]
        exp = con.execute(open(sql_file).read())
        erows, ecols = exp.fetchall(), [d[0] for d in exp.description]
        if sorted(gcols) != sorted(ecols) or table_hash(grows, gcols) != table_hash(erows, ecols):
            bad.append(q)
    return bad


def unit(metric):
    if metric.endswith("bytes"):
        return "bytes"
    if metric.endswith("per_s"):
        return "docs/s"
    if metric.endswith("per_output_row"):
        return "ratio"
    return "s" if metric.endswith("_s") else "count"


def summarize(workload, raw, gen_s, trace, host):
    ops = raw["ops"]
    walls = [o["wall"] for o in ops]
    n = len(ops)
    half = n // 2
    detail = {
        "workload": workload, "timed_ops": n, **host,
        "cores": raw["cores"], "heap_max_mb": raw["heap_max_mb"],
        "setup_parts_s": {"inputs": gen_s, "session": raw["session_s"],
                          "seed": raw["seed_s"]},
        "halves_p50_s": [statistics.median(walls[:half]), statistics.median(walls[half:])]
        if half else None,
        "latency_tail_s": tail(walls), "checks": raw["checks"],
        "warmup_walls_s": [round(w, 3) for w in raw["warmup_walls"]],
        "op_walls_s": [round(w, 3) for w in walls],
        "op_jit_s": [round(o["jit"], 3) for o in ops],
        "op_gc_s": [round(o["gc"], 3) for o in ops],
    }
    if raw["pass_walls"]:
        docs = raw["checks"]["docs_per_pass"]
        detail["docs_per_s"] = statistics.median(docs / w for w in raw["pass_walls"])
    if not trace:
        metrics = {
            "setup_s": (gen_s + raw["setup_s"], "s"),
            "latency_p50_s": (statistics.median(walls), "s"),
            "cpu_s_per_op": (sum(o["cpu"] for o in ops) / n, "s"),
            "live_heap_mb": (raw["live_heap_mb"], "MB"),
        }
        return metrics, detail
    nt = max(1, n)
    layers = dict.fromkeys(PER_LAYER, 0.0)
    for k, v in raw["layers"].items():
        layers[k] = v / (max(1, raw["traced_passes"]) if k == STREAM_FIRST_BATCH else nt)
    for o in ops:
        for k, v in o["spans"].items():
            layers[k] = layers.get(k, 0.0) + v / nt
        layers["jvm.jit_s"] += o["jit"] / nt
        layers["jvm.gc_s"] += o["gc"] / nt
    in_rows, out_rows = layers.pop("io.input_rows", 0.0), layers.pop("op.output_rows", 0.0)
    layers["io.input_rows_per_output_row"] = in_rows / out_rows if out_rows else 0.0
    layers["streaming.docs_per_s"] = detail.get("docs_per_s", 0.0)
    layers["jvm.warmup_c1_s"] = sum(raw["warmup_walls"])
    layers["trace.latency_p50_s"] = statistics.median(walls)
    layers["host.ref_s"] = host["host_ref_s_before"]
    metrics = {k: (layers[k], unit(k)) for k in PER_LAYER}
    return metrics, detail


def main(argv=None):
    # a SIGTERM unwinds like an error, so the JVM and the scratch dir go too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(config.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15,
                    help="sets the timed window's fixed op count (config.timed_ops)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    target = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    build_dir = os.path.join(target, "perfbench")
    work = os.path.join(build_dir, f"run-{os.getpid()}")
    try:
        build(root, build_dir)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        host = {"nproc": os.cpu_count(), "load1_before": os.getloadavg()[0],
                "host_ref_s_before": host_ref_s()}
        ticks = cpu_ticks()
        gen_s = make_inputs(args.workload, args.seed, args.seconds, work)
        t0 = time.perf_counter()
        raw = launch(build_dir, args.workload, work, args.trace)
        host["jvm_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        bad = oracle_mismatches(work) if args.workload == "curation" else []
        host["check_s"] = time.perf_counter() - t0
        host.update(load1_after=os.getloadavg()[0], host_ref_s_after=host_ref_s(),
                    steal_share=steal_share(ticks, cpu_ticks()))
        metrics, detail = summarize(args.workload, raw, gen_s, args.trace, host)
    except (BenchError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # every op is checked, the warm-up included; curation's first round is
    # checked against the oracle, so a mismatch fails that op
    checks = raw["checks"]
    detail["oracle_mismatches"] = bad
    attempted, failed = checks["attempted"], checks["failed"] + bool(bad)
    correct = failed == 0 and checks.get("silver_ok", True)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
