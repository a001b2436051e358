"""Self-tests of the benchmark. From the root of the checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

`test_run_leaves_no_files` performs one short benchmark run (and the build,
the first time).
"""
import glob
import hashlib
import os
import shutil
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import config  # noqa: E402
import gen     # noqa: E402
import run     # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def scratch():
    base = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(prefix="selftest-", dir=base)


def tree_digest(root):
    h = hashlib.sha256()
    for path in sorted(glob.glob(f"{root}/**/*", recursive=True)):
        if os.path.isfile(path):
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def tree(root, skip):
    out = set()
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if os.path.join(d, x) not in skip]
        out.update(os.path.join(d, f) for f in files)
    return out


class SameSeedSameInputs(unittest.TestCase):
    def setUp(self):
        self.dir = scratch()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def test_inputs_and_plan_repeat(self):
        for w in config.WORKLOADS:
            a, b, c = (f"{self.dir}/{w}-{i}" for i in range(3))
            plan_a = gen.generate(w, 7, 15, a)
            plan_b = gen.generate(w, 7, 15, b)
            gen.generate(w, 8, 15, c)
            self.assertEqual(plan_a, plan_b, w)
            self.assertEqual(tree_digest(a), tree_digest(b), w)
            self.assertNotEqual(tree_digest(a), tree_digest(c), w)
            with open(f"{a}/plan.properties") as fa, open(f"{b}/plan.properties") as fb:
                self.assertEqual(fa.read(), fb.read(), w)

    def test_op_count_is_fixed_by_seconds(self):
        for w in config.WORKLOADS:
            self.assertEqual(config.timed_ops(w, 15), config.timed_ops(w, 15))
            self.assertGreaterEqual(config.timed_ops(w, 1), 1)
            self.assertGreater(config.timed_ops(w, 120), config.timed_ops(w, 15))

    def test_stream_arrival_order_is_by_mtime(self):
        out = f"{self.dir}/s"
        gen.generate("stream_dedup", 3, 15, out)
        files = sorted(os.listdir(f"{out}/arrivals"))
        mtimes = [os.path.getmtime(f"{out}/arrivals/{f}") for f in files]
        self.assertEqual(mtimes, sorted(set(mtimes)))


class Percentiles(unittest.TestCase):
    def test_reports_percentile_and_counts(self):
        t = run.tail(list(range(40)))
        self.assertEqual((t["percentile"], t["samples"], t["beyond"]), (75, 40, 10))
        t = run.tail([float(x) for x in range(100)])
        self.assertEqual((t["percentile"], t["samples"], t["beyond"], t["value"]),
                         (90, 100, 10, 89.0))

    def test_refuses_tail_with_fewer_than_ten_beyond(self):
        with self.assertRaises(ValueError):
            run.tail_at(list(range(100)), 95)   # 5 beyond
        with self.assertRaises(ValueError):
            run.tail_at(list(range(12)), 75)    # 3 beyond
        self.assertIsNone(run.tail(list(range(19))))
        self.assertIsNone(run.tail([]))


class RunLeavesNoFiles(unittest.TestCase):
    def test_run_leaves_no_files(self):
        build = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                             "perfbench")
        run.build(ROOT, build)
        before = tree(ROOT, {build, os.path.join(ROOT, ".git")})
        cwd = os.getcwd()
        os.chdir(ROOT)
        try:
            rc = run.main(["--workload", "stream_dedup", "--seed", "1",
                           "--seconds", "1", "--trace", "1"])
        finally:
            os.chdir(cwd)
        self.assertEqual(rc, 0)
        self.assertEqual(tree(ROOT, {build, os.path.join(ROOT, ".git")}), before)
        self.assertEqual(sorted(os.listdir(build)), ["build.log", "graft", "harness", "stamp"])


if __name__ == "__main__":
    unittest.main()
