"""Tests for the benchmark's seeded input generators.

    python3 -m unittest discover -s perfbench/tests
"""

import ast
import gzip
import io
import os
import random
import sys
import unittest
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from gen import chess, pgn, questions, warc  # noqa: E402

SMALL_PGN = dict(games=30, min_plies=20, max_plies=40, players=20)


class Determinism(unittest.TestCase):
    def test_pgn_same_seed_same_bytes(self):
        a, _, sa = pgn.generate(7, **SMALL_PGN)
        b, _, sb = pgn.generate(7, **SMALL_PGN)
        self.assertEqual(a, b)
        self.assertEqual(sa, sb)

    def test_pgn_other_seed_other_bytes(self):
        a, _, _ = pgn.generate(7, **SMALL_PGN)
        b, _, _ = pgn.generate(8, **SMALL_PGN)
        self.assertNotEqual(a, b)

    def test_questions_same_seed_same_mix(self):
        _, meta, _ = pgn.generate(7, **SMALL_PGN)
        self.assertEqual(questions.generate(3, meta, 200), questions.generate(3, meta, 200))
        self.assertNotEqual(questions.generate(3, meta, 200)[0],
                            questions.generate(4, meta, 200)[0])

    def test_warc_same_seed_same_bytes(self):
        a, ta = warc.generate(5, 60, files=2)
        b, tb = warc.generate(5, 60, files=2)
        self.assertEqual(a, b)
        self.assertEqual(ta, tb)
        c, _ = warc.generate(6, 60, files=2)
        self.assertNotEqual(a, c)


class Independence(unittest.TestCase):
    def test_generators_import_only_the_standard_library(self):
        gen_dir = os.path.join(os.path.dirname(HERE), "gen")
        allowed = {"gzip", "io", "os", "random"}
        for name in os.listdir(gen_dir):
            if not name.endswith(".py"):
                continue
            with open(os.path.join(gen_dir, name), encoding="utf-8") as f:
                tree = ast.parse(f.read())
            for node in ast.walk(tree):
                if isinstance(node, ast.Import):
                    mods = [a.name for a in node.names]
                elif isinstance(node, ast.ImportFrom):
                    if node.level:  # relative: another generator module
                        continue
                    mods = [node.module]
                else:
                    continue
                for m in mods:
                    self.assertIn(m.split(".")[0], allowed, "%s imports %s" % (name, m))


class ChessModel(unittest.TestCase):
    def test_fen_after_e4(self):
        s, pos = chess.play_san(chess.Position(), "e4")
        self.assertEqual(s, "e4")
        self.assertEqual(pos.fen(), "rnbqkbnr/pppppppp/8/8/4P3/8/PPPP1PPP/RNBQKBNR b KQkq e3 0 1")

    def test_castling_and_check_suffixes(self):
        pos = chess.Position()
        for tok in "e4 e5 Nf3 Nc6 Bc4 Nf6 O-O".split():
            s, pos = chess.play_san(pos, tok)
        self.assertEqual(s, "O-O")
        self.assertTrue(pos.fen().startswith("r1bqkb1r/pppp1ppp/2n2n2/4p3/2B1P3/5N2/PPPP1PPP/RNBQ1RK1 b kq"))
        pos = chess.Position()
        for tok in "f3 e5 g4".split():
            _, pos = chess.play_san(pos, tok)
        s, pos = chess.play_san(pos, "Qh4")
        self.assertEqual(s, "Qh4#")
        self.assertIsNone(chess.random_move(pos, random.Random(1)))

    def test_random_games_replay(self):
        rng = random.Random(11)
        for _ in range(5):
            pos, sans = chess.Position(), []
            for _ in range(80):
                mv = chess.random_move(pos, rng)
                if mv is None:
                    break
                s, pos = mv
                sans.append(s)
            replay = chess.Position()
            for s in sans:
                _, replay = chess.play_san(replay, s)
            self.assertEqual(replay.fen(), pos.fen())


class PgnCorpus(unittest.TestCase):
    def test_counts_match_metadata(self):
        files, meta, stats = pgn.generate(3, games=120, min_plies=20, max_plies=30,
                                          players=30, malformed_share=0.05)
        self.assertEqual(stats["games"], len(meta))
        self.assertEqual(stats["games"] + stats["issues"], 120)
        self.assertEqual(stats["positions"], sum(g["plies"] for g in meta))
        self.assertGreater(stats["issues"], 0)
        text = "\n".join(files.values())
        self.assertEqual(text.count("[Event "), 120)
        self.assertLess(stats["distinct_fen_ratio"], 1.0)


class QuestionMix(unittest.TestCase):
    def test_expected_totals_follow_the_filters(self):
        meta = [{"white_elo": 2500, "black_elo": 2400, "result": "1-0", "eco": "B33", "plies": 30},
                {"white_elo": None, "black_elo": 2000, "result": "0-1", "eco": "C10", "plies": 30},
                {"white_elo": 2100, "black_elo": 2090, "result": "1/2-1/2", "eco": None, "plies": 30}]
        qs, stats = questions.generate(1, meta, 400)
        for q in qs:
            text, total = q["question"], q["expected_total"]
            if text == "white wins":
                self.assertEqual(total, 1)
            if text == "sicilian games":
                self.assertEqual(total, 1)
            if text.startswith("white rated at least"):
                v = int(text.split()[-1])
                self.assertEqual(total, sum(1 for g in meta if g["white_elo"] and g["white_elo"] >= v))
            self.assertTrue(1 <= q["limit"] <= 50)
            if q["deep"]:
                self.assertGreater(q["offset"], 5500)
        self.assertGreater(stats["deep_page_share"], 0.0)

    def test_every_window_holds_the_same_mix(self):
        _, meta, _ = pgn.generate(7, **SMALL_PGN)
        qs, _ = questions.generate(5, meta, 400)
        mixes = set()
        for start in range(0, 400 - 120, 7):
            window = qs[start:start + 120]
            mixes.add((tuple(sorted((k, sum(q["kind"] == k for q in window))
                                    for k in set(questions.BLOCK_KINDS))),
                       sum(q["deep"] for q in window)))
        self.assertEqual(len(mixes), 1)


class WarcSegment(unittest.TestCase):
    def test_every_member_is_one_valid_record(self):
        files, truth = warc.generate(2, 80, files=2)
        responses = 0
        for data in files.values():
            stream = io.BytesIO(data)
            while stream.tell() < len(data):
                d = zlib.decompressobj(16 + zlib.MAX_WBITS)
                rec = d.decompress(stream.read())
                stream.seek(stream.tell() - len(d.unused_data))
                head, _, rest = rec.partition(b"\r\n\r\n")
                self.assertTrue(head.startswith(b"WARC/1.0\r\n"))
                fields = dict(l.split(": ", 1) for l in head.decode().split("\r\n")[1:])
                payload = rest[:-4]
                self.assertEqual(int(fields["Content-Length"]), len(payload))
                self.assertTrue(rest.endswith(b"\r\n\r\n"))
                responses += fields["WARC-Type"] == "response"
        self.assertEqual(responses, truth["html_200"] + truth["non200"])
        self.assertEqual(gzip.decompress(next(iter(files.values())))[:8], b"WARC/1.0")

    def test_planted_sets_are_disjoint(self):
        _, truth = warc.generate(4, 300, files=2)
        mirrors = {u for g in truth["mirror_groups"] for u in g}
        near = {u for g in truth["near_groups"] for u in g}
        low = set(truth["low_quality"])
        self.assertFalse(mirrors & near or mirrors & low or near & low)
        self.assertTrue(mirrors and near and low and truth["cp1251"])


if __name__ == "__main__":
    unittest.main()
