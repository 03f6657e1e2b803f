"""Seeded question mix for the serving workload.

Every question comes from a template whose game-side filter the generator
knows, so the expected `total` of each request is computed here from the
PGN generator's own game metadata and never from engine code.
"""

import random

from .pgn import OPENINGS

DEEP_OFFSETS = (5501, 9000)


def _opening_pred(lo, hi):
    return lambda g: g["eco"] is not None and lo <= g["eco"] <= hi


def _result_pred(value):
    return lambda g: g["result"] == value


def _min_pred(side, v):
    key = side + "_elo"
    return lambda g: g[key] is not None and g[key] >= v


def _delta_pred(d):
    return lambda g: (g["white_elo"] is not None and g["black_elo"] is not None
                      and abs(g["white_elo"] - g["black_elo"]) <= d)


def _all(*preds):
    return lambda g: all(p(g) for p in preds)


RESULT_PHRASES = (("white wins", "1-0"), ("black wins", "0-1"),
                  ("drawn games", "1/2-1/2"))
NAMED = [(phrase, rng_) for phrase, rng_, _ in OPENINGS if phrase]
VECTOR_TEXT = ("endgame technique with rook and pawn", "middlegame knight outpost",
               "queen sacrifice", "tactical middlegame", "king attack with pawn storm",
               "bishop pair endgame", "sacrifices on the kingside",
               "tactics with knight forks", "passed pawn promotion race")


# Kinds per block of BLOCK questions, in one fixed order that spreads each
# kind evenly, and the block position of its one deep page. Every window of
# the stream thus holds nearly the same mix and the same number of deep
# pages; seeds change the questions but not the proportions. Latency depends
# on the kind, and a deep page costs as much as several other requests, so
# a shuffled order moved the serve figures from seed to seed.
BLOCK = 40
_KIND_COUNTS = (("filter_result", 6), ("filter_opening", 6), ("filter_opening_result", 4),
                ("filter_rating_min", 4), ("filter_rating_both", 2),
                ("filter_rating_delta", 4), ("vector", 10), ("vector_opening", 4))
BLOCK_KINDS = [kind for _, _, kind in sorted(
    ((j + 0.5) / count, i, kind) for i, (kind, count) in enumerate(_KIND_COUNTS)
    for j in range(count))]
DEEP_AT = 0


def _template(rng, kind):
    """One (text, predicate) draw of the given kind."""
    if kind == "filter_result":  # low selectivity: a third of the games
        text, v = rng.choice(RESULT_PHRASES)
        return text, _result_pred(v)
    if kind == "filter_opening":  # high selectivity: one opening family
        phrase, (lo, hi) = rng.choice(NAMED)
        return "%s games" % phrase, _opening_pred(lo, hi)
    if kind == "filter_opening_result":
        phrase, (lo, hi) = rng.choice(NAMED)
        text, v = rng.choice(RESULT_PHRASES)
        return "%s %s" % (phrase, text), _all(_opening_pred(lo, hi), _result_pred(v))
    if kind == "filter_rating_min":
        side = rng.choice(("white", "black"))
        v = rng.randrange(1800, 2701, 10)
        return "%s rated at least %d" % (side, v), _min_pred(side, v)
    if kind == "filter_rating_both":
        w, b = rng.randrange(2000, 2601, 10), rng.randrange(2000, 2601, 10)
        return ("white at least %d and black at least %d" % (w, b),
                _all(_min_pred("white", w), _min_pred("black", b)))
    if kind == "filter_rating_delta":
        d = rng.randrange(10, 301, 5)
        return "ratings within %d points lower" % d, _delta_pred(d)
    text = rng.choice(VECTOR_TEXT)
    if kind == "vector_opening":
        phrase, (lo, hi) = rng.choice(NAMED)
        return "%s %s" % (phrase, text), _opening_pred(lo, hi)
    return text, lambda g: True


def generate(seed, meta, n):
    """`n` requests as dicts: question, limit, offset, kind, expected_total."""
    rng = random.Random("questions:%d" % seed)
    out, seen, repeats = [], set(), 0
    cache = {}
    for i in range(n):
        kind, deep = BLOCK_KINDS[i % BLOCK], i % BLOCK == DEEP_AT
        text, pred = _template(rng, kind)
        limit = rng.randint(1, 50)
        if deep:
            offset = rng.randint(*DEEP_OFFSETS)
        elif rng.random() < 0.5:
            offset = 0
        else:
            offset = rng.randint(1, 200)
        if text not in cache:
            cache[text] = sum(1 for g in meta if pred(g))
        key = (text, limit, offset)
        repeats += key in seen
        seen.add(key)
        out.append({"question": text, "limit": limit, "offset": offset,
                    "kind": kind, "deep": deep, "expected_total": cache[text]})
    stats = {"questions": n,
             "repeat_share": repeats / n if n else 0.0,
             "deep_page_share": sum(q["deep"] for q in out) / n if n else 0.0,
             "filter_only_share": sum(q["kind"].startswith("filter") for q in out) / n
             if n else 0.0}
    return out, stats
