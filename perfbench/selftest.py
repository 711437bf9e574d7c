#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py          # fast checks, no Spark
    python3 perfbench/selftest.py --full   # also runs every workload
                                           # briefly in both trace modes
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402

from perfbench import corpus as C  # noqa: E402
from perfbench import env, stats  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

FULL = "--full" in sys.argv
SPEC_PATH = os.path.join(env.ROOT, "BENCHMARK.json")


def _spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


class CorpusTest(unittest.TestCase):
    spec = C.CorpusSpec(n_docs=3000, n_tokens=1_500_000, length="lognormal",
                        outliers_per_1000=1, row_group_rows=500)

    def _files(self, seed: int, tag: str) -> list[bytes]:
        out = os.path.join(env.WORK, "selftest", tag)
        env.clean(out)
        paths = C.write_parquet(C.generate(self.spec, seed), self.spec, out)
        data = []
        for p in paths:
            with open(p, "rb") as f:
                data.append(f.read())
        env.clean(out)
        return data

    def test_same_seed_same_bytes(self):
        self.assertEqual(self._files(5, "a"), self._files(5, "b"))

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(self._files(5, "a"), self._files(6, "b"))

    def test_size_and_mix_fixed_across_seeds(self):
        for seed in (1, 2):
            c = C.generate(self.spec, seed)
            self.assertEqual(c.n_tokens, self.spec.n_tokens)
            self.assertEqual(c.table.num_rows, self.spec.n_docs)
            self.assertTrue((c.table["n_tok"].to_numpy() >= 1).all())

    def test_workload_specs_generate(self):
        from perfbench.workloads import WORKLOADS
        for wl in WORKLOADS.values():
            c = C.generate(wl.spec, 1)
            self.assertEqual(c.n_tokens, wl.spec.n_tokens, wl.name)

    def test_checksums_on_slices_and_mutation(self):
        c = C.generate(self.spec, 3)
        tokens = c.table["tokens"].combine_chunks()
        np.testing.assert_array_equal(C.batch_checksums(tokens.slice(10, 40)),
                                      c.checksums[10:50])
        flat = tokens.values.to_numpy().copy()
        offsets = tokens.offsets.to_numpy()
        flat[offsets[7] + 1] ^= 1                      # one bit, one doc
        changed = C.doc_checksums(offsets, flat) != c.checksums
        self.assertEqual(np.flatnonzero(changed).tolist(), [7])
        a, b = flat[offsets[9]], flat[offsets[9] + 1]
        flat = tokens.values.to_numpy().copy()
        flat[offsets[9]], flat[offsets[9] + 1] = b, a  # swapped order
        if a != b:
            self.assertNotEqual(C.doc_checksums(offsets, flat)[9],
                                c.checksums[9])

    def test_matches_all_rejects_missing_and_duplicate_rows(self):
        c = C.generate(self.spec, 4)
        ids = c.table["doc_id"]
        h = c.checksums.view(np.int64)
        self.assertTrue(C.matches_all(c, ids, h))
        self.assertFalse(C.matches_all(c, ids.slice(1), h[1:]))
        dup = pa.concat_arrays([ids.combine_chunks()[:1],
                                ids.combine_chunks()[:-1]])
        self.assertFalse(C.matches_all(c, dup, np.r_[h[:1], h[:-1]]))


class StatsTest(unittest.TestCase):
    def test_tail_percentile_rule(self):
        for n in (19, 20, 25, 40, 63, 100, 1000):
            p = stats.tail_percentile(n)
            if n < 20:
                self.assertIsNone(p)
                continue
            self.assertGreaterEqual(p, 50.0)
            # exactly ten samples lie above the p-th percentile position,
            # and any higher percentile leaves fewer than ten
            vals = list(range(n))
            cut = stats.percentile(vals, p)
            self.assertEqual(sum(v > cut for v in vals), 10)
            higher = stats.percentile(vals, p + 100.0 / n)
            self.assertLess(sum(v > higher for v in vals), 10)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)

    def test_latency_summary_uses_rule(self):
        s = stats.latency_summary(range(1, 41))
        self.assertEqual(s["tail_pct"], 75.0)
        self.assertAlmostEqual(s["tail"], float(np.percentile(range(1, 41), 75)))
        short = stats.latency_summary([3.0, 1.0, 2.0])
        self.assertEqual((short["tail_pct"], short["tail"]), (None, 2.0))

    def test_quartiles_are_statistics_quantiles(self):
        import statistics
        vals = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0]
        q1, _, q3 = statistics.quantiles(vals, n=4)
        self.assertEqual(stats.quartiles(vals), (q1, statistics.median(vals), q3))


class TraceTest(unittest.TestCase):
    def test_self_time_and_coverage(self):
        import time
        t = Tracer()
        with t.span("loop") as root:
            with t.span("plans.read"):
                with t.span("spark.action"):
                    time.sleep(0.02)
            time.sleep(0.01)
        selfs = t.self_times(root["id"])
        self.assertGreaterEqual(selfs["spark"], 0.02)
        self.assertLess(selfs["plans"], 0.01)
        self.assertLess(t.coverage(root["id"]), 0.9)


class SpecTest(unittest.TestCase):
    def test_benchmark_json_shape(self):
        spec = _spec()
        self.assertEqual(set(spec), {"command", "paths", "run_seconds",
                                     "workloads", "end_to_end", "per_layer"})
        from perfbench.workloads import WORKLOADS
        for w in spec["workloads"]:
            self.assertIn(w["name"], WORKLOADS)
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"],
                         max(m["bound"] for m in spec["end_to_end"]))
        for m in spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)

    def test_summary_line_names_every_metric(self):
        from perfbench.run import _with_units
        for key in ("end_to_end", "per_layer"):
            entries = _spec()[key]
            vals = {m["name"]: 1.5 for m in entries}
            line = stats.result_line(True, 3, 0, _with_units(vals, entries))
            parsed = json.loads(line)
            self.assertEqual(set(parsed), {"correct", "attempted", "failed",
                                           "metrics"})
            self.assertEqual(list(parsed["metrics"]),
                             [m["name"] for m in entries])
            if key == "end_to_end":
                self.assertLess(len(line), 2000)
            with self.assertRaises(KeyError):  # a missing metric is loud
                _with_units({}, entries)


def _run(wl: str, seconds: int, trace: int) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, os.path.join(env.BENCH_DIR, "run.py"),
         "--workload", wl, "--seed", "3", "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=env.ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True)


def _started_by(run_pid: int, wl: str) -> set[tuple[int, str]]:
    """(pid, start time) of the running processes a run started: the
    run's work directory is in their environment (TMPDIR), the JVM's and
    the workers' too."""
    mark = os.path.join(env.WORK, f"{wl}-{run_pid}").encode()
    out = set()
    for name in os.listdir("/proc"):
        if name.isdigit() and int(name) != run_pid:
            try:
                with open(f"/proc/{name}/environ", "rb") as f:
                    found = mark in f.read()
            except OSError:
                continue
            fields = env._stat_fields(int(name))
            if found and fields:
                out.add((int(name), fields[19]))
    return out


class _Watch:
    """Polls a run's processes until it exits; ``left()`` lists those
    that still exist afterwards, as a process or as an unreaped zombie."""

    def __init__(self, proc: subprocess.Popen, wl: str):
        import threading
        self.seen: set[tuple[int, str]] = set()
        self._thread = threading.Thread(target=self._poll,
                                        args=(proc, wl), daemon=True)
        self._thread.start()

    def _poll(self, proc, wl):
        import time
        while proc.poll() is None:
            self.seen |= _started_by(proc.pid, wl)
            time.sleep(0.2)

    def left(self) -> list[int]:
        self._thread.join()
        return sorted(pid for pid, start in self.seen
                      if (env._stat_fields(pid) or [None] * 20)[19] == start)


@unittest.skipUnless(FULL, "--full runs every workload briefly")
class RunTest(unittest.TestCase):
    def test_every_workload_prints_every_metric(self):
        spec = _spec()
        from perfbench.workloads import WORKLOADS
        for wl in WORKLOADS:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                proc = _run(wl, 2, trace)
                watch = _Watch(proc, wl)
                stdout, _ = proc.communicate(timeout=300)
                self.assertEqual(proc.returncode, 0, wl)
                self.assertTrue(watch.seen, (wl, trace))
                self.assertEqual(watch.left(), [], (wl, trace))
                res = json.loads(stdout.strip().splitlines()[-1])
                self.assertTrue(res["correct"], (wl, trace))
                self.assertEqual(res["failed"], 0)
                self.assertEqual(set(res["metrics"]),
                                 {m["name"] for m in spec[key]}, (wl, trace))

    def test_sigterm_ends_every_process(self):
        import signal
        import time
        wl = "point_lookup"
        proc = _run(wl, 60, 0)
        watch = _Watch(proc, wl)
        deadline = time.monotonic() + 120
        # into the loop: Python workers are up, Spark jobs in flight
        while (len(watch.seen) < 3 and proc.poll() is None
               and time.monotonic() < deadline):
            time.sleep(0.5)
        time.sleep(3)
        proc.send_signal(signal.SIGTERM)
        stdout, _ = proc.communicate(timeout=120)
        self.assertNotEqual(proc.returncode, 0)
        self.assertEqual(stdout.strip(), "")
        self.assertGreaterEqual(len(watch.seen), 3)
        self.assertEqual(watch.left(), [])


if __name__ == "__main__":
    unittest.main(argv=[a for a in sys.argv if a != "--full"])
