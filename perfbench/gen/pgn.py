"""Seeded multi-game PGN corpora for the chess workloads.

Games branch from a fixed set of opening lines into random legal
continuations, so opening positions are shared across games and
middlegames are mostly distinct. About one game in a hundred is planted
malformed (an unclosed header or an impossible move), so the engine's
`issues` path has work to do. The generator keeps its own metadata for
every game; the benchmark checks engine outputs and computes expected
query totals from it.
"""

import os
import random

from . import chess, zipf

# (question phrase or None, ECO range, opening line). The ranges follow the
# public ECO classification; the phrases are what a user would type.
OPENINGS = (
    ("sicilian", ("B20", "B99"), "e4 c5 Nf3 d6 d4 cxd4 Nxd4 Nf6 Nc3 a6"),
    ("french defense", ("C00", "C19"), "e4 e6 d4 d5 Nc3 Nf6 Bg5 Be7"),
    ("caro kann", ("B10", "B19"), "e4 c6 d4 d5 Nc3 dxe4 Nxe4 Bf5"),
    (None, ("C20", "C99"), "e4 e5 Nf3 Nc6 Bb5 a6 Ba4 Nf6 O-O Be7"),
    (None, ("D00", "D69"), "d4 d5 c4 e6 Nc3 Nf6 Bg5 Be7"),
    ("kings indian", ("E60", "E99"), "d4 Nf6 c4 g6 Nc3 Bg7 e4 d6 Nf3 O-O"),
    ("grunfeld", ("D70", "D99"), "d4 Nf6 c4 g6 Nc3 d5 cxd5 Nxd5"),
    ("dutch", ("A80", "A99"), "d4 f5 g3 Nf6 Bg2 e6 Nf3 Be7"),
    (None, ("A00", "A39"), "c4 e5 Nc3 Nf6 g3 d5 cxd5 Nxd5"),
    (None, ("E00", "E59"), "d4 Nf6 c4 e6 Nc3 Bb4 e3 O-O"),
)
OPENING_WEIGHTS = (18, 10, 8, 16, 10, 9, 6, 5, 10, 8)

RESULTS = (("1-0", 38), ("0-1", 30), ("1/2-1/2", 30), ("*", 2))

_FIRST = ("Anna", "Boris", "Carla", "Dmitri", "Elena", "Farid", "Greta", "Hugo",
          "Irina", "Jonas", "Kira", "Lev", "Maya", "Nils", "Olga", "Pavel",
          "Rosa", "Sven", "Tara", "Viktor", "Wei", "Yara", "Zoltan", "Ines")
_SYL = ("ka", "ro", "vin", "mel", "tor", "ash", "ber", "lin", "dov", "sen",
        "gar", "pel", "ri", "mon", "zak", "hel", "ost", "nur", "bel", "kov")


def _eco_codes(lo, hi):
    letter = lo[0]
    return ["%s%02d" % (letter, n) for n in range(int(lo[1:]), int(hi[1:]) + 1)]


def _players(rng, n):
    out = []
    names = set()
    while len(out) < n:
        last = "".join(rng.choice(_SYL) for _ in range(rng.randint(2, 3))).capitalize()
        name = "%s, %s" % (last, rng.choice(_FIRST))
        if name in names:
            continue
        names.add(name)
        rating = max(1200, min(2850, int(rng.gauss(2150, 280))))
        fide = str(rng.randint(1000000, 99999999)) if rng.random() < 0.6 else None
        out.append({"name": name, "rating": rating, "fide": fide})
    return out


def _movetext(sans, result):
    parts = []
    for i, s in enumerate(sans):
        parts.append(("%d. %s" % (i // 2 + 1, s)) if i % 2 == 0 else s)
    parts.append(result)
    lines, line = [], ""
    for p in parts:
        if line and len(line) + 1 + len(p) > 79:
            lines.append(line)
            line = p
        else:
            line = (line + " " + p) if line else p
    lines.append(line)
    return "\n".join(lines)


def generate(seed, games, min_plies, max_plies, players=400, player_skew=1.1,
             files=8, malformed_share=0.01):
    """Generate a corpus in memory.

    Returns (files, meta, stats): `files` maps a file name to its PGN text,
    `meta` lists one dict per well-formed game, `stats` holds the counts and
    input properties the benchmark records.
    """
    rng = random.Random("pgn:%d" % seed)
    pool = _players(rng, players)
    cdf = zipf.cdf(players, player_skew)
    open_cdf = []
    acc = 0
    for w in OPENING_WEIGHTS:
        acc += w
        open_cdf.append(acc / sum(OPENING_WEIGHTS))
    result_total = sum(w for _, w in RESULTS)

    texts = [[] for _ in range(files)]
    meta, fens = [], set()
    positions = issues = 0
    for g in range(games):
        oi = zipf.draw(rng, open_cdf)
        phrase, (lo, hi), line = OPENINGS[oi]
        pos = chess.Position()
        sans, game_fens = [], []
        for tok in line.split():
            s, pos = chess.play_san(pos, tok)
            sans.append(s)
            game_fens.append(pos.fen())
        target = rng.randint(min_plies, max_plies)
        mated = None
        while len(sans) < target:
            mv = chess.random_move(pos, rng)
            if mv is None:
                mated = pos.white if chess.in_check(pos) else None
                break
            s, pos = mv
            sans.append(s)
            game_fens.append(pos.fen())
        u = rng.random() * result_total
        for result, w in RESULTS:
            u -= w
            if u < 0:
                break
        if mated is not None:
            result = "0-1" if mated else "1-0"
        white = pool[zipf.draw(rng, cdf)]
        black = pool[zipf.draw(rng, cdf)]
        while black is white:
            black = pool[zipf.draw(rng, cdf)]
        w_elo = white["rating"] + rng.randint(-40, 40) if rng.random() < 0.93 else None
        b_elo = black["rating"] + rng.randint(-40, 40) if rng.random() < 0.93 else None
        eco = rng.choice(_eco_codes(lo, hi)) if rng.random() < 0.95 else None
        if rng.random() < 0.03:
            date = "????.??.??"
        else:
            date = "%04d.%02d.%02d" % (rng.randint(1990, 2024), rng.randint(1, 12),
                                        rng.randint(1, 28))
        headers = [("Event", "Bench Open %d" % rng.randint(1, 40)),
                   ("Site", rng.choice(("Berlin", "Oslo", "Madrid", "Riga", "Online"))),
                   ("Date", date), ("Round", str(rng.randint(1, 11))),
                   ("White", white["name"]), ("Black", black["name"]),
                   ("Result", result)]
        if w_elo is not None:
            headers.append(("WhiteElo", str(w_elo)))
        if b_elo is not None:
            headers.append(("BlackElo", str(b_elo)))
        if white["fide"]:
            headers.append(("WhiteFideId", white["fide"]))
        if black["fide"]:
            headers.append(("BlackFideId", black["fide"]))
        if eco:
            headers.append(("ECO", eco))
        head = "\n".join('[%s "%s"]' % kv for kv in headers)
        body = _movetext(sans, result)
        malformed = rng.random() < malformed_share
        if malformed:
            issues += 1
            if rng.random() < 0.5:
                head += '\n[Annotator "unclosed'
            else:
                cut = len(sans) // 2
                sans = sans[:cut] + ["Qz9"] + sans[cut:]
                body = _movetext(sans, result)
        texts[g % files].append(head + "\n\n" + body + "\n")
        if malformed:
            continue
        positions += len(game_fens)
        fens.update(game_fens)
        meta.append({"white_elo": w_elo, "black_elo": b_elo, "result": result,
                     "eco": eco, "plies": len(game_fens)})
    out = {"games_%02d.pgn" % i: "\n".join(t) for i, t in enumerate(texts) if t}
    stats = {
        "games_in": games, "games": len(meta), "issues": issues,
        "positions": positions, "distinct_fens": len(fens),
        "distinct_fen_ratio": len(fens) / positions if positions else 0.0,
        "plies_range": [min_plies, max_plies], "players": players,
        "player_skew": player_skew,
        "input_mb": sum(len(t.encode("utf-8")) for t in out.values()) / 1e6,
    }
    return out, meta, stats


def write(dirpath, files):
    os.makedirs(dirpath, exist_ok=True)
    for name, text in files.items():
        with open(os.path.join(dirpath, name), "w", encoding="utf-8") as f:
            f.write(text)
