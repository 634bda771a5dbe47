"""Self-tests for perfbench's statistics, archive model and generator.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import checks  # noqa: E402
import gen  # noqa: E402

DAY = checks.DAY_MS


class TailRule(unittest.TestCase):
    def test_few_samples_fall_back_to_the_median(self):
        self.assertEqual(checks.tail(list(range(1, 11))), (5.5, 50, 10))
        self.assertEqual(checks.tail([]), (0.0, 50, 0))

    def test_at_least_ten_samples_beyond_the_percentile(self):
        for n in (20, 37, 100, 250, 1000, 5000):
            xs = list(range(n))
            v, p, _ = checks.tail(xs)
            beyond = sum(1 for x in xs if x > v)
            self.assertGreaterEqual(beyond, 10, n)
            # and it is the highest such whole percentile (or 99)
            if p < 99:
                rank = -(-(p + 1) * n // 100)
                self.assertLess(n - rank, 10, n)

    def test_large_samples_cap_at_p99(self):
        self.assertEqual(checks.tail(list(range(10000)))[1], 99)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(checks.tail(xs), checks.tail(sorted(xs)))


def rec(i, what="weblog", where="ohio", start=0, end=None, work_id=None, ct=0):
    return {"id": i, "what": what, "where": where, "start": start, "end": end,
            "work_id": work_id}, ct


class ArchiveModelEdges(unittest.TestCase):
    def model(self, *recs, now=100 * DAY):
        m = checks.ArchiveModel(now)
        for f, ct in recs:
            m.add(f, ct)
        return m

    def test_bounds_are_inclusive(self):
        m = self.model(rec("a", start=10, end=20))
        self.assertEqual(m.time_ids("weblog", None, 20, 30), {"a"})
        self.assertEqual(m.time_ids("weblog", None, 0, 10), {"a"})
        self.assertEqual(m.time_ids("weblog", None, 21, 30), set())

    def test_null_end_is_a_point(self):
        m = self.model(rec("a", start=10))
        self.assertEqual(m.time_ids("weblog", None, 10, 10), {"a"})
        self.assertEqual(m.time_ids("weblog", None, 11, 50), set())
        self.assertEqual(m.time_ids("weblog", None, 0, 9), set())

    def test_cross_bucket_file_counts_once(self):
        m = self.model(rec("a", start=DAY - 5, end=3 * DAY))
        self.assertEqual(m.time_ids("weblog", None, 2 * DAY, 2 * DAY + 1), {"a"})
        obs = [{"k": "time", "req": 1, "what": "weblog", "where": None,
                "start": 0, "end": 4 * DAY, "status": [200, 200],
                "pages": [["a"], ["a"]]}]
        spec = {"now": 100 * DAY, "cycles": [],
                "base": [dict(rec("a", start=DAY - 5, end=3 * DAY)[0],
                              create_time=0)]}
        self.assertEqual(checks.check_archive(spec, obs)[0], 0)
        obs[0]["pages"] = [["a", "a"]]
        obs[0]["status"] = [200]
        self.assertEqual(checks.check_archive(spec, obs)[0], 1)

    def test_cursor_bucket_before_window_must_be_rejected(self):
        spec = {"now": 100 * DAY, "cycles": [], "base": []}
        ok = {"k": "invalid", "req": 1, "status": [400],
              "code": "InvalidCursor", "expect": "InvalidCursor"}
        self.assertEqual(checks.check_archive(spec, [ok])[0], 0)
        silent = dict(ok, status=[200], code="")
        self.assertEqual(checks.check_archive(spec, [silent])[0], 1)

    def test_latest_tie_breaks_on_create_time_then_id(self):
        now = 100 * DAY
        m = self.model(rec("a", start=now - 5, ct=1), rec("b", start=now - 5, ct=2),
                       now=now)
        self.assertEqual(m.latest("weblog", "ohio"), "b")
        m = self.model(rec("a", start=now - 5, ct=2), rec("b", start=now - 5, ct=2),
                       now=now)
        self.assertEqual(m.latest("weblog", "ohio"), "b")

    def test_future_dated_winner_forces_the_walk_back(self):
        now = 100 * DAY
        m = self.model(rec("old", start=now - 3 * DAY),
                       rec("future", start=now + 3 * DAY), now=now)
        self.assertEqual(m.latest("weblog", "ohio"), "old")
        # the walk-back prefers the newest bucket a file reaches
        m = self.model(rec("long", start=now - 3 * DAY, end=now - DAY),
                       rec("late", start=now - 2 * DAY),
                       rec("future", start=now + 3 * DAY), now=now)
        self.assertEqual(m.latest("weblog", "ohio"), "long")
        # beyond the lookback nothing is found
        m = self.model(rec("ancient", start=now - 20 * DAY),
                       rec("future", start=now + 3 * DAY), now=now)
        self.assertIsNone(m.latest("weblog", "ohio"))


class SetUpAppends(unittest.TestCase):
    def test_appended_files_are_in_the_model(self):
        f = dict(rec("late", start=5 * DAY)[0], create_time=0)
        spec = {"now": 10 * DAY, "cycles": [], "base": [],
                "appends": [{"files": [f]}]}
        obs = [{"k": "time", "req": 1, "what": "weblog", "where": None,
                "start": 5 * DAY, "end": 6 * DAY, "status": [200],
                "pages": [["late"]]}]
        self.assertEqual(checks.check_archive(spec, obs)[0], 0)


class ReadMix(unittest.TestCase):
    def test_every_block_of_reads_has_the_exact_mix(self):
        tmp = tempfile.mkdtemp()
        try:
            spec = gen.gen_archive(3, tmp, base_files=10, appends=0, cycles=6,
                                   files_per_cycle=1, reads_per_cycle=10, days=3)
        finally:
            shutil.rmtree(tmp)
        kinds = [r["kind"] for c in spec["cycles"] for r in c["reads"]]
        for b in range(0, len(kinds), gen.READ_BLOCK):
            block = kinds[b:b + gen.READ_BLOCK]
            for kind, share in gen.READ_MIX.items():
                n = sum(k.startswith(kind) for k in block)
                self.assertEqual(n, round(share * gen.READ_BLOCK), kind)


class GeneratorDeterminism(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.sizes = dict(gen.SIZES)
        gen.SIZES.update(archive=dict(base_files=50, appends=2, cycles=3,
                                      files_per_cycle=4, reads_per_cycle=5,
                                      days=5),
                         curate=dict(batches=3, per_batch=20),
                         battery=dict(scale=0.02, stride=4))

    def tearDown(self):
        gen.SIZES.clear()
        gen.SIZES.update(self.sizes)
        shutil.rmtree(self.tmp)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in ("archive", "curate", "battery"):
            a, b, c = (os.path.join(self.tmp, f"{w}{k}") for k in "abc")
            gen.generate(w, 7, a)
            gen.generate(w, 7, b)
            gen.generate(w, 8, c)
            self.assertEqual(gen.digest(a), gen.digest(b), w)
            self.assertNotEqual(gen.digest(a), gen.digest(c), w)


if __name__ == "__main__":
    unittest.main()
