"""Generator tests: determinism, seed sensitivity and tally algebra.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import random
import re
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import loggen  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(HERE)), ".bench_build", "tests")
SPEC = dict(users=50, services=12)


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class LogGenTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def build(self, cache, kind, seed, **params):
        return loggen.cached(os.path.join(SCRATCH, cache), kind, seed, SPEC, **params)

    def test_same_seed_same_bytes_and_tallies(self):
        for kind, params in (("fleet", dict(hosts=2, days=2, sessions_per_file=60)),
                             ("archive", dict(files=2, sessions_per_file=80)),
                             ("stream", dict(refreshes=3, hosts=2, sessions_per_file=10))):
            d1, m1 = self.build("a", kind, 7, **params)
            d2, m2 = self.build("b", kind, 7, **params)
            self.assertEqual(tree_digest(d1), tree_digest(d2), kind)
            self.assertEqual(m1, m2, kind)

    def test_other_seed_other_bytes(self):
        d1, _ = self.build("a", "fleet", 1, hosts=1, days=1, sessions_per_file=40)
        d2, _ = self.build("a", "fleet", 2, hosts=1, days=1, sessions_per_file=40)
        self.assertNotEqual(tree_digest(d1), tree_digest(d2))

    def test_cache_reuses_a_built_input(self):
        d1, _ = self.build("a", "fleet", 3, hosts=1, days=1, sessions_per_file=20)
        marker = os.path.join(os.path.dirname(d1), "marker")
        open(marker, "w").close()
        d2, _ = self.build("a", "fleet", 3, hosts=1, days=1, sessions_per_file=20)
        self.assertEqual(d1, d2)
        self.assertTrue(os.path.exists(marker))

    def test_every_session_kind_and_error_class_occurs(self):
        spec = loggen.Spec(**SPEC)
        _, recs = loggen.gen_log(5, "all", spec, "2015-11-22", 3000, truncate=True)
        classes = {r.error_class for r in recs if r.valid and not r.success}
        self.assertEqual(classes, {"NO_ERROR", "BAD_PASSWORD", "BAD_NAME",
                                   "UNUSABLE_NAME", "BAD_AUTHENTICATION",
                                   "BAD_PARAMETERS", "UNKNOWN"})
        self.assertTrue(any(not r.valid for r in recs))
        self.assertTrue(any(r.referral for r in recs))
        self.assertTrue(any(r.crealm == loggen.FOREIGN for r in recs))

    def test_truncated_tail_is_not_a_session(self):
        spec = loggen.Spec(**SPEC)
        text, recs = loggen.gen_log(5, "t", spec, "2015-11-22", 30, truncate=True)
        self.assertFalse(text.endswith("\n"))
        self.assertEqual(text.count(" sending "), len(recs))

    def test_merged_tallies_equal_the_tally_of_all_records(self):
        spec = loggen.Spec(**SPEC)
        parts, every = [], []
        for i in range(4):
            _, recs = loggen.gen_log(9, "p%d" % i, spec, "2015-11-%02d" % (i + 1), 200, False)
            parts.append(loggen.tally_of(recs))
            every += recs
        merged = loggen.Tally()
        for p in parts:
            merged.merge(loggen.Tally.from_json(p.to_json()))
        self.assertEqual(merged.reports(), loggen.tally_of(every).reports())
        self.assertEqual(merged.user_days_report(), loggen.tally_of(every).user_days_report())

    def test_enctype_key_matches_the_logged_line(self):
        # the key as the service-enctype report derives it from the line
        for seed in range(20):
            line, key = loggen._enctypes_line(random.Random(seed))
            m = re.search(r"Client supported enctypes: (.*) using (\S+)", line)
            ets = [x for x in re.split(r",\s*", m.group(1)) if x != ""]
            self.assertEqual(key, "%s/%s/%s" % (ets[0], ets[-1], m.group(2)))


if __name__ == "__main__":
    unittest.main()
