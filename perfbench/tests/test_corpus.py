import collections
import re
import tempfile
import unittest
from pathlib import Path

import checks
import corpus


def files_bytes(d):
    return {p.name: p.read_bytes() for p in sorted(Path(d).iterdir())}


class WordCountCorpusTest(unittest.TestCase):
    def write(self, d, seed, n_files=2, tokens=30_000):
        paths = [Path(d) / f"in_{i}.txt" for i in range(n_files)]
        return paths, corpus.write_wordcount_corpus(paths, seed, tokens, vocab=2000)

    def test_same_seed_same_bytes_and_counts(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            _, ca = self.write(a, 7)
            _, cb = self.write(b, 7)
            self.assertEqual(files_bytes(a), files_bytes(b))
            self.assertEqual(ca, cb)
            _, cc = self.write(b, 8)
            self.assertNotEqual(ca, cc)

    def test_counts_match_an_independent_tokenization(self):
        # The task splits on runs of " ,.\"'" (WordCount.DelimRegex) and
        # drops empty tokens; lines end at "\n".
        delim = "[" + re.escape(corpus.WORD_DELIMS) + "]+"
        with tempfile.TemporaryDirectory() as d:
            paths, counts = self.write(d, 3)
            seen = collections.Counter()
            for p in paths:
                for line in p.read_text().split("\n"):
                    seen.update(t for t in re.split(delim, line) if t)
            self.assertEqual(dict(seen), counts)
            self.assertEqual(sum(counts.values()), 30_000)

    def test_zipf_head(self):
        with tempfile.TemporaryDirectory() as d:
            _, counts = self.write(d, 5, tokens=60_000)
            top = sorted(counts.values(), reverse=True)
            # Zipf(1.1): the top word is about 2^1.1 times the second.
            self.assertGreater(top[0] / top[1], 1.5)
            self.assertLess(top[0] / top[1], 3.0)


class GateCorpusTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            corpus.write_gate_corpus(a, 11)
            corpus.write_gate_corpus(b, 11)
            fa, fb = files_bytes(a), files_bytes(b)
            self.assertEqual(sorted(fa), sorted(f"{t}.parquet" for t in (
                "region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings")))
            self.assertEqual(fa, fb)
            corpus.write_gate_corpus(b, 12)
            self.assertNotEqual(fa["lineitem.parquet"], files_bytes(b)["lineitem.parquet"])


class WordCountCheckTest(unittest.TestCase):
    def output(self, d, files):
        for r, lines in enumerate(files):
            Path(d, f"u_result_{r}").write_text("".join(f"{k} {c}\n" for k, c in lines))

    def test_accepts_a_correct_output(self):
        with tempfile.TemporaryDirectory() as d:
            self.output(d, [[("a", 2), ("c", 1)], [("b", 5)]])
            Path(d, "_SUCCESS").touch()
            self.assertEqual(checks.check_wordcount(d, "u", 2, {"a": 2, "b": 5, "c": 1}), [])

    def test_rejects_each_defect(self):
        cases = {
            "unsorted": [[("c", 1), ("a", 2)], [("b", 5)]],
            "key in two files": [[("a", 1), ("c", 1)], [("a", 1), ("b", 5)]],
            "wrong count": [[("a", 3), ("c", 1)], [("b", 5)]],
            "missing file": [[("a", 2), ("b", 5), ("c", 1)]],
        }
        for name, files in cases.items():
            with tempfile.TemporaryDirectory() as d:
                self.output(d, files)
                self.assertNotEqual(
                    checks.check_wordcount(d, "u", 2, {"a": 2, "b": 5, "c": 1}), [], name)


if __name__ == "__main__":
    unittest.main()
