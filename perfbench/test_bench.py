"""Tests of the benchmark's own checker and statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import unittest

import numpy as np

import gen
import oracle
import stats


def tiny_corpus():
    rng = np.random.default_rng(7)
    vecs, _ = gen.clustered_vectors(rng, 40, 8)
    texts = [f"spark data row {i}" for i in range(40)]
    types = [gen.LANGS[i % 5] for i in range(40)]
    return gen.Corpus(np.arange(40), [f"src{i % 3}" for i in range(40)], types, texts, vecs)


class CheckerTest(unittest.TestCase):
    def setUp(self):
        self.ranker = oracle.Ranker(tiny_corpus())
        self.body = {"request_string": "spark data", "type_filter": ["EN", "", "Fr"],
                     "skip": 2, "limit": 5}
        page, _ = self.ranker.expected(self.body)
        self.rows = [self.ranker.row(i) for i in page]

    def test_right_page_passes(self):
        self.assertEqual(len(self.rows), 5)
        self.assertIsNone(self.ranker.check_page(self.body, self.rows))

    def test_type_probes_are_lowered_and_empty_dropped(self):
        self.assertTrue(all(r["type"] in ("en", "fr") for r in self.rows))

    def test_point_filter_is_interval_arithmetic(self):
        body = {"request_string": "spark", "input_point": {"longitude": 0.5, "latitude": 0.5},
                "limit": 10}
        keep = self.ranker.candidates(body)
        c = self.ranker.corpus
        for k in range(len(c)):
            inside = abs(0.5 - c.cx[k]) <= 45 and abs(0.5 - c.cy[k]) <= 45
            self.assertEqual(bool(keep[k]), inside)

    def test_wrong_row_is_rejected(self):
        outsider = next(i for i in self.ranker.corpus.ids
                        if i not in {r["id"] for r in self.rows})
        wrong = self.rows[:-1] + [self.ranker.row(outsider)]
        self.assertIsNotNone(self.ranker.check_page(self.body, wrong))

    def test_wrong_offset_is_rejected(self):
        page, _ = self.ranker.expected(dict(self.body, skip=3))
        shifted = [self.ranker.row(i) for i in page]
        self.assertIsNotNone(self.ranker.check_page(self.body, shifted))

    def test_short_page_is_rejected(self):
        self.assertIsNotNone(self.ranker.check_page(self.body, self.rows[:-1]))

    def test_changed_field_is_rejected(self):
        bad = [dict(r) for r in self.rows]
        bad[0]["description"] += " extra"
        self.assertIsNotNone(self.ranker.check_page(self.body, bad))

    def test_mcp_reply_text_must_match_structured_content(self):
        env = {"layers": self.rows, "error": None}
        good = {"jsonrpc": "2.0", "id": 1, "result": {
            "content": [{"type": "text", "text": json.dumps(env)}],
            "structuredContent": env, "isError": False}}
        self.assertIsNone(oracle.check_reply(self.ranker, "mcp", self.body, 200, good))
        good["result"]["content"][0]["text"] = json.dumps({"layers": [], "error": None})
        self.assertIsNotNone(oracle.check_reply(self.ranker, "mcp", self.body, 200, good))

    def test_engine_error_envelope_is_a_failure(self):
        reply = {"layers": None, "error": "boom"}
        self.assertIsNotNone(oracle.check_reply(self.ranker, "search", self.body, 200, reply))


class PercentileTest(unittest.TestCase):
    def test_refuses_fewer_than_ten_beyond(self):
        with self.assertRaises(ValueError):
            stats.percentile(list(range(100)), 95)  # 5 beyond
        with self.assertRaises(ValueError):
            stats.percentile(list(range(99)), 90)   # 9 beyond

    def test_reports_with_ten_beyond(self):
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)
        self.assertEqual(stats.percentile(list(range(1, 51)), 80), 40)

    def test_highest_allowed_percentile(self):
        self.assertEqual(stats.highest_percentile(list(range(200)))[0], 95)
        self.assertEqual(stats.highest_percentile(list(range(60)))[0], 80)
        with self.assertRaises(ValueError):
            stats.highest_percentile(list(range(30)))


class InputsTest(unittest.TestCase):
    def test_seed_shuffles_rows_of_one_table(self):
        docs = gen.documents(n_docs=50)
        a, b = gen.shuffled(docs, 1), gen.shuffled(docs, 2)
        self.assertTrue(a.equals(gen.shuffled(docs, 1)))
        self.assertFalse(a.equals(b))
        self.assertEqual(sorted(a.column("doc_id").to_pylist()), list(range(50)))

    def test_requests_follow_the_seed(self):
        texts = gen.documents(n_docs=50).column("text").to_pylist()
        self.assertEqual(gen.requests(3, texts, 20), gen.requests(3, texts, 20))
        self.assertNotEqual(gen.requests(3, texts, 20), gen.requests(4, texts, 20))


class KeepersTest(unittest.TestCase):
    def test_components_keep_their_smallest_id(self):
        got = oracle.keepers([(5, 9), (9, 2), (7, 8)])
        self.assertEqual(got, [(2, 2), (5, 2), (7, 7), (8, 7), (9, 2)])


if __name__ == "__main__":
    unittest.main()
