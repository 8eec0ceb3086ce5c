"""Self-tests of the benchmark's generator, oracle and statistics.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import stats  # noqa: E402


def body_of(store, ids):
    return "[" + ",".join(store.by_id[i].payload for i in ids) + "]"


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_gives_byte_identical_shard_files(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.Store(5, 2, 20).write(a)
            gen.Store(5, 2, 20).write(b)
            names = sorted(os.listdir(a))
            self.assertEqual(names, ["shard-00000.kpl", "shard-00001.kpl"])
            for n in names:
                with open(os.path.join(a, n), "rb") as fa, open(os.path.join(b, n), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read())

    def test_other_seed_gives_other_files(self):
        self.assertNotEqual(gen.Store(5, 1, 20).files, gen.Store(6, 1, 20).files)

    def test_requests_and_corpus_are_seeded(self):
        s = gen.Store(5, 2, 20)
        self.assertEqual(gen.requests(9, s, 40), gen.requests(9, s, 40))
        self.assertNotEqual(gen.requests(9, s, 40), gen.requests(10, s, 40))
        a, b = gen.Corpus(3, 20, 10, 3), gen.Corpus(3, 20, 10, 3)
        self.assertEqual((a.base, a.batches, a.exact), (b.base, b.batches, b.exact))

    def test_store_holds_the_planted_anomalies(self):
        s = gen.Store(1, 4, 100)
        kinds = {r.kind for r in s.records}
        self.assertIn("x", kinds)  # invalid JSON payloads
        data = b"".join(s.files.values())
        self.assertGreater(len(s.records), 0)
        # corrupt aggregates and bare records leave fewer than 50 records per frame
        self.assertLess(len(s.records), s.frames * gen.PER_FRAME)
        self.assertIn(gen.MAGIC, data)


class OracleRejectsWrongAnswers(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.store = gen.Store(2, 2, 40)
        for p in gen.requests(2, cls.store, 200):
            status, want = gen.expected(cls.store, p)
            if status == 200 and len(want) >= 2:
                cls.params, cls.ids = p, want
                break

    def test_accepts_the_right_rows_in_any_order(self):
        self.assertIsNone(gen.check_response(self.store, self.params, 200, body_of(self.store, self.ids)))
        self.assertIsNone(gen.check_response(
            self.store, self.params, 200, body_of(self.store, list(reversed(self.ids)))))

    def test_rejects_a_missing_record(self):
        self.assertIsNotNone(gen.check_response(
            self.store, self.params, 200, body_of(self.store, self.ids[1:])))

    def test_rejects_an_extra_record(self):
        extra = next(r.eid for r in self.store.records if r.eid not in self.ids)
        self.assertIsNotNone(gen.check_response(
            self.store, self.params, 200, body_of(self.store, self.ids + [extra])))

    def test_rejects_a_changed_byte(self):
        body = body_of(self.store, self.ids)
        i = body.index('"tenantId":{')
        wrong = body[:i] + body[i:].replace("long", "lonG", 1)
        self.assertIsNotNone(gen.check_response(self.store, self.params, 200, wrong))

    def test_rejects_a_wrong_status_and_a_wrong_400_body(self):
        self.assertIsNotNone(gen.check_response(self.store, self.params, 400, "[]"))
        bad = {"streamname": "bench", "agentId": "12x"}
        want = '{"badRequest":true,"missingRequiredParams":[],"invalidParams":["agentId"]}'
        self.assertIsNone(gen.check_response(self.store, bad, 400, want))
        self.assertIsNotNone(gen.check_response(self.store, bad, 400, want.replace("agentId", "x")))

    def test_drain_checksum_changes_when_a_record_changes(self):
        store = gen.Store(2, 2, 40)
        params = gen.drain_params(store)
        want = gen.drain_expected(store, params)
        rows = store.select({"tenantId": int(params["tenantId"])}, int(params["duration"]))
        rows[0].payload = rows[0].payload.replace("long", "lonG", 1)
        self.assertNotEqual(gen.drain_expected(store, params), want)

    def test_gate_invariants(self):
        c = gen.Corpus(4, 30, 10, 2)
        sent = [d[0] for b in c.batches for d in b]
        ok = [(i, i not in c.exact and i not in c.near) for i in sent]
        growth = sum(1 for _, v in ok if v)
        self.assertIsNone(gen.check_gate(sent, c.exact, ok, growth))
        self.assertIsNotNone(gen.check_gate(sent, c.exact, ok[1:], growth))
        self.assertIsNotNone(gen.check_gate(sent, c.exact, ok, growth + 1))
        planted = next(i for i in sent if i in c.exact)
        flipped = [(i, True if i == planted else v) for i, v in ok]
        self.assertIsNotNone(gen.check_gate(sent, c.exact, flipped, growth + 1))


class TailRank(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        xs = list(range(100, 0, -1))
        value, pct = stats.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_smallest_sample_count_that_supports_a_tail(self):
        self.assertEqual(stats.tail(list(range(11))), (0, 100.0 / 11))
        with self.assertRaises(ValueError):
            stats.tail(list(range(10)))


if __name__ == "__main__":
    unittest.main()
