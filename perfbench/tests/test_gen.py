"""Tests of the seeded input generators.

    python3 -m unittest discover -s perfbench/tests      # from the repository root
"""

import filecmp
import json
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402


def files_of(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def same_tree(a, b):
    fa, fb = files_of(a), files_of(b)
    return fa == fb and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
                            for f in fa)


def feed(seed, d):
    return gen.gen_feed(seed, d, 3000)


GENERATORS = {
    "solana_etl": gen.gen_etl,
    "dashboard": gen.gen_dashboard,
    "feed_ingest": feed,
    "corpus_curate": gen.gen_corpus,
}


def shingles(text):
    w = text.split(" ")
    return {w[i] + " " + w[i + 1] for i in range(len(w) - 1)}


class SeedTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for name, g in GENERATORS.items():
            with self.subTest(name), tempfile.TemporaryDirectory() as t:
                a, b, c = (os.path.join(t, x) for x in "abc")
                g(7, a)
                g(7, b)
                g(8, c)
                self.assertTrue(same_tree(a, b), f"{name}: seed 7 twice differs")
                self.assertFalse(same_tree(a, c), f"{name}: seeds 7 and 8 agree")


class EtlTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.facts = gen.gen_etl(3, cls.tmp.name)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def txs(self):
        root = self.tmp.name
        for f in sorted(os.listdir(os.path.join(root, "helius2"))):
            with open(os.path.join(root, "helius2", f)) as fh:
                yield from (json.loads(line) for line in fh)
        for f in sorted(os.listdir(os.path.join(root, "helius1"))):
            with open(os.path.join(root, "helius1", f)) as fh:
                for line in fh:
                    yield from json.loads(line)["transactions"]

    def test_canonical_rows_are_sum_of_max_one_transfers(self):
        rows = sum(max(1, len(tx.get("tokenTransfers") or [])) for tx in self.txs())
        rows += len(os.listdir(os.path.join(self.tmp.name, "events")))
        self.assertEqual(rows, self.facts["canonical_rows"])

    def test_empty_or_missing_transfer_share(self):
        txs = list(self.txs())
        missing = sum(1 for tx in txs if "tokenTransfers" not in tx)
        empty = sum(1 for tx in txs if tx.get("tokenTransfers") == [])
        self.assertAlmostEqual((missing + empty) / len(txs), gen.ETL_EMPTY_SHARE, delta=0.03)
        self.assertGreater(missing, 0)
        self.assertGreater(empty, 0)

    def test_mints_are_zipf_skewed(self):
        hits = sorted(self.facts["mint_hits"], reverse=True)
        total = sum(hits)
        # under uniform draws the top 1% of mints would hold about 1%
        self.assertGreater(sum(hits[: len(hits) // 100]) / total, 0.25)
        self.assertGreater(hits[0] / hits[99], 50)

    def test_many_small_files(self):
        self.assertEqual(len(files_of(self.tmp.name)), self.facts["files"])
        self.assertGreater(self.facts["files"], 300)


class DashboardTest(unittest.TestCase):
    def test_events_schema_and_zipf_users(self):
        with tempfile.TemporaryDirectory() as t:
            facts = gen.gen_dashboard(4, t)
            ev = pq.read_table(os.path.join(t, "events.parquet"))
            self.assertEqual(ev.column_names, ["event_id", "ts", "user_id", "event_type", "value", "props"])
            self.assertEqual(ev.num_rows, gen.DASH_EVENTS)
            hits = sorted(facts["user_hits"], reverse=True)
            self.assertGreater(sum(hits[:80]) / gen.DASH_EVENTS, 0.25)
            cust = pq.read_table(os.path.join(t, "customer.parquet"))
            self.assertEqual(cust.num_rows, gen.DASH_MINTS)


class FeedTest(unittest.TestCase):
    def test_planted_reposts_and_malformed_share(self):
        with tempfile.TemporaryDirectory() as t:
            facts = gen.gen_feed(5, t, 5000)
            with open(os.path.join(t, "messages.jsonl")) as f:
                msgs = [json.loads(line) for line in f]
            self.assertEqual(msgs, facts["messages"])
            kinds, orig = facts["kinds"], facts["original"]
            n = len(msgs)
            self.assertAlmostEqual(kinds.count("repost") / n, gen.FEED_REPOST_SHARE, delta=0.015)
            self.assertAlmostEqual(kinds.count("malformed") / n, gen.FEED_MALFORMED_SHARE, delta=0.01)
            for i, k in enumerate(kinds):
                if k == "repost":
                    self.assertLess(orig[i], i)
                    self.assertEqual(kinds[orig[i]], "valid")
                    self.assertEqual(msgs[i], msgs[orig[i]])
                elif k == "malformed":
                    with self.assertRaises(ValueError):
                        json.loads(msgs[i])
                else:
                    self.assertEqual(orig[i], i)
                    self.assertNotIn(" ", msgs[i])
                    json.loads(msgs[i])
            valid = [m for m, k in zip(msgs, kinds) if k == "valid"]
            self.assertEqual(len(set(valid)), len(valid))


class CorpusTest(unittest.TestCase):
    def test_planted_families_and_paraphrases(self):
        with tempfile.TemporaryDirectory() as t:
            facts = gen.gen_corpus(6, t)
            docs = pq.read_table(os.path.join(t, "documents.parquet")).to_pydict()
            text = dict(zip(docs["doc_id"], docs["text"]))
            self.assertEqual(sorted(text), list(range(facts["docs"])))
            self.assertEqual(len(set(docs["lang"])), len(gen.LANGS))
            fams = facts["families"]
            self.assertEqual(facts["docs"], gen.CORPUS_DOCS)
            self.assertAlmostEqual(len(fams) / facts["base_docs"], gen.CORPUS_FAMILY_SHARE, delta=0.06)
            self.assertTrue(all(2 <= len(f) <= 5 for f in fams))
            for f in fams:
                base = shingles(text[f[0]])
                for d in f[1:]:
                    other = shingles(text[d])
                    self.assertGreater(len(base & other) / len(base | other), 0.85)
            emb = pq.read_table(os.path.join(t, "embeddings.parquet")).to_pydict()
            vec = dict(zip(emb["vec_id"], emb["embedding"]))
            for a, b in facts["paraphrases"]:
                cos = sum(x * y for x, y in zip(vec[a], vec[b]))
                self.assertGreater(cos, 0.95)
                self.assertLess(len(shingles(text[a]) & shingles(text[b])) /
                                len(shingles(text[a]) | shingles(text[b])), 0.2)


if __name__ == "__main__":
    unittest.main()
