"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Seeded inputs are reproducible and seed-sensitive, the generator's
expected outputs are self-consistent, the timing Backend decorator is
the same program as the backend it wraps, and corpus_day, which the
workload set of BENCHMARK.json leaves out, still runs and passes its checks
(the last two need Java and Spark's jars; skipped without them).
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


class SeededInputs(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-test-")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def digest(self, workload, seed, name):
        out = os.path.join(self.tmp, name)
        inputs.GENERATORS[workload](seed, out)
        return inputs.tree_digest(out)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in sorted(inputs.GENERATORS):
            with self.subTest(workload=w):
                a = self.digest(w, 5, f"{w}-a")
                b = self.digest(w, 5, f"{w}-b")
                c = self.digest(w, 6, f"{w}-c")
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)

    def test_query_snapshot_is_seed_free(self):
        # the recorded goldens hold for every seed only if the tables do
        inputs.chart_queries(1, os.path.join(self.tmp, "q1"))
        inputs.chart_queries(2, os.path.join(self.tmp, "q2"))
        self.assertEqual(inputs.tree_digest(os.path.join(self.tmp, "q1", "tables")),
                         inputs.tree_digest(os.path.join(self.tmp, "q2", "tables")))
        with open(os.path.join(HERE, "goldens.json")) as f:
            self.assertEqual(sorted(json.load(f)["chart_queries"]),
                             sorted(inputs.CHART_QUERIES))

    def test_chart_day_model(self):
        out = os.path.join(self.tmp, "chart")
        m = inputs.chart_day(3, out)
        self.assertEqual(len(m["days"]), inputs.ETL_DAYS)
        # 13 months of history: the first ETL day's retention horizon
        # already holds rows, so every day takes the rewrite path
        self.assertGreater(m["history_days"], 366)
        new_songs = 0
        for d in m["days"]:
            ret = d["returning"]
            self.assertEqual(ret["ranking"], inputs.TOP_N)
            self.assertGreaterEqual(ret["artist_song_map"], ret["song"])
            new_songs += ret["song"]
            with open(os.path.join(out, "days", d["date"] + ".md")) as f:
                readme = f.read()
            spotify = readme.split("## Spotify")[1].split("## Apple Music")[0]
            # header, separator, then one row per rank
            self.assertEqual(spotify.count("\n| "), inputs.TOP_N + 2)
            with open(os.path.join(out, "days", d["date"] + ".html")) as f:
                self.assertEqual(f.read().count('name="music:song"'), inputs.TOP_N)
        self.assertGreater(new_songs, 0)  # churn brings new entries

    def test_markdown_escaping_and_dates(self):
        self.assertEqual(inputs.escape_markdown("A$AP (x) - y.z!"), "A\\$AP \\(x\\) \\- y\\.z\\!")
        self.assertEqual(inputs.format_date(inputs.FIRST_ETL_DAY), "Sunday, June 1, 2025")
        self.assertEqual(str(inputs.add_months(inputs.FIRST_ETL_DAY.replace(month=3, day=31), -1)),
                         "2025-02-28")

    def test_corpus_day_model(self):
        m = inputs.corpus_day(4, os.path.join(self.tmp, "corpus"))
        self.assertTrue(all(b["n_in"] == inputs.CORPUS_BATCH for b in m["batches"]))
        self.assertGreater(sum(b["n_exact_dup"] for b in m["batches"]), 0)


class WithJvm(unittest.TestCase):
    def setUp(self):
        try:
            build.spark_jars()
        except SystemExit as e:
            self.skipTest(str(e))
        self.classpath = build.ensure()

    def test_decorator_forwards_every_table_format_method(self):
        work = tempfile.mkdtemp(prefix="perfbench-selftest-")
        try:
            r = subprocess.run(run.java_cmd(self.classpath, work, ["--selftest", "1", "--work", work]),
                               capture_output=True, text=True, timeout=300)
            self.assertEqual(r.returncode, 0, r.stdout[-2000:] + r.stderr[-2000:])
            self.assertIn("selftest ok", r.stdout)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    def test_corpus_day_runs_and_passes_its_checks(self):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            "corpus_day", "--seed", "3", "--seconds", "1", "--trace", "0"],
                           capture_output=True, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual((result["correct"], result["failed"]), (True, 0), r.stderr[-2000:])
        self.assertEqual(set(result["metrics"]),
                         {"setup_s", "op_p50_s", "ops_per_s", "peak_rss_mb"})


if __name__ == "__main__":
    unittest.main()
