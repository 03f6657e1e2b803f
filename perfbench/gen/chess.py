"""A small legal-move chess model for generating benchmark games.

It plays seeded random continuations and renders each move as SAN and each
position as FEN. It is the benchmark's own code: it shares nothing with the
engine, so an engine change cannot change a generated game.

Squares are 0..63 with a1 = 0, h1 = 7, a8 = 56. Pieces are the FEN letters
(upper case white); an empty square is ''.
"""

FILES = "abcdefgh"
KNIGHT_STEPS = ((1, 2), (2, 1), (2, -1), (1, -2), (-1, -2), (-2, -1), (-2, 1), (-1, 2))
KING_STEPS = ((1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1), (1, -1))
ROOK_DIRS = ((1, 0), (-1, 0), (0, 1), (0, -1))
BISHOP_DIRS = ((1, 1), (1, -1), (-1, 1), (-1, -1))


def _steps(sq, deltas):
    f, r = sq % 8, sq // 8
    return tuple((r + dr) * 8 + f + df for df, dr in deltas
                 if 0 <= f + df < 8 and 0 <= r + dr < 8)


def _rays(sq, dirs):
    f, r = sq % 8, sq // 8
    out = []
    for df, dr in dirs:
        ray, nf, nr = [], f + df, r + dr
        while 0 <= nf < 8 and 0 <= nr < 8:
            ray.append(nr * 8 + nf)
            nf, nr = nf + df, nr + dr
        if ray:
            out.append(tuple(ray))
    return tuple(out)


KNIGHT = [_steps(s, KNIGHT_STEPS) for s in range(64)]
KING = [_steps(s, KING_STEPS) for s in range(64)]
ROOK_RAYS = [_rays(s, ROOK_DIRS) for s in range(64)]
BISHOP_RAYS = [_rays(s, BISHOP_DIRS) for s in range(64)]


def square_name(sq):
    return FILES[sq % 8] + str(sq // 8 + 1)


class Position:
    __slots__ = ("board", "white", "castling", "ep", "halfmove", "fullmove")

    def __init__(self):
        back = "RNBQKBNR"
        self.board = [""] * 64
        for f in range(8):
            self.board[f] = back[f]
            self.board[8 + f] = "P"
            self.board[48 + f] = "p"
            self.board[56 + f] = back[f].lower()
        self.white = True
        self.castling = "KQkq"
        self.ep = -1
        self.halfmove = 0
        self.fullmove = 1

    def copy(self):
        p = Position.__new__(Position)
        p.board = self.board[:]
        p.white, p.castling, p.ep = self.white, self.castling, self.ep
        p.halfmove, p.fullmove = self.halfmove, self.fullmove
        return p

    def fen(self):
        rows = []
        for r in range(7, -1, -1):
            row, empty = "", 0
            for f in range(8):
                p = self.board[r * 8 + f]
                if p:
                    if empty:
                        row += str(empty)
                        empty = 0
                    row += p
                else:
                    empty += 1
            rows.append(row + (str(empty) if empty else ""))
        ep = square_name(self.ep) if self.ep >= 0 else "-"
        return "%s %s %s %s %d %d" % ("/".join(rows), "w" if self.white else "b",
                                      self.castling or "-", ep, self.halfmove,
                                      self.fullmove)


def attacked(board, sq, by_white):
    """True when a piece of colour `by_white` attacks `sq`."""
    n, b, r, q, k, pawn = ("N", "B", "R", "Q", "K", "P") if by_white else \
        ("n", "b", "r", "q", "k", "p")
    for s in KNIGHT[sq]:
        if board[s] == n:
            return True
    for s in KING[sq]:
        if board[s] == k:
            return True
    f = sq % 8
    src = sq - 8 if by_white else sq + 8
    if 0 <= src < 64:
        if f > 0 and board[src - 1] == pawn:
            return True
        if f < 7 and board[src + 1] == pawn:
            return True
    for ray in ROOK_RAYS[sq]:
        for s in ray:
            p = board[s]
            if p:
                if p == r or p == q:
                    return True
                break
    for ray in BISHOP_RAYS[sq]:
        for s in ray:
            p = board[s]
            if p:
                if p == b or p == q:
                    return True
                break
    return False


def king_square(board, white):
    return board.index("K" if white else "k")


def in_check(pos):
    return attacked(pos.board, king_square(pos.board, pos.white), not pos.white)


def pseudo_moves(pos):
    """Geometric moves (pins ignored) as (from, to, promotion) tuples."""
    board, white = pos.board, pos.white
    own = str.isupper if white else str.islower
    out = []
    for sq in range(64):
        p = board[sq]
        if not p or not own(p):
            continue
        kind = p.upper()
        if kind == "P":
            step = 8 if white else -8
            start_rank, last_rank = (1, 7) if white else (6, 0)
            to = sq + step
            promos = ("Q", "R", "B", "N") if to // 8 == last_rank else (None,)
            if 0 <= to < 64 and not board[to]:
                for pr in promos:
                    out.append((sq, to, pr))
                if sq // 8 == start_rank and not board[to + step]:
                    out.append((sq, to + step, None))
            f = sq % 8
            for df in (-1, 1):
                if not 0 <= f + df < 8:
                    continue
                t = to + df
                target = board[t]
                if (target and not own(target)) or t == pos.ep:
                    for pr in promos:
                        out.append((sq, t, pr))
        elif kind == "N" or kind == "K":
            for t in (KNIGHT[sq] if kind == "N" else KING[sq]):
                target = board[t]
                if not target or not own(target):
                    out.append((sq, t, None))
        else:
            rays = ()
            if kind in "RQ":
                rays += ROOK_RAYS[sq]
            if kind in "BQ":
                rays += BISHOP_RAYS[sq]
            for ray in rays:
                for t in ray:
                    target = board[t]
                    if not target:
                        out.append((sq, t, None))
                    else:
                        if not own(target):
                            out.append((sq, t, None))
                        break
    # castling: rights, empty path, and no attacked square on the king's way
    home = 4 if white else 60
    if board[home] == ("K" if white else "k"):
        them = not white
        rights = pos.castling
        k_flag, q_flag = ("K", "Q") if white else ("k", "q")
        if k_flag in rights and not board[home + 1] and not board[home + 2] \
                and not any(attacked(board, s, them) for s in (home, home + 1, home + 2)):
            out.append((home, home + 2, None))
        if q_flag in rights and not board[home - 1] and not board[home - 2] \
                and not board[home - 3] \
                and not any(attacked(board, s, them) for s in (home, home - 1, home - 2)):
            out.append((home, home - 2, None))
    return out


def make(pos, move):
    """The position after `move` (the input is not changed)."""
    frm, to, promo = move
    nxt = pos.copy()
    b = nxt.board
    p = b[frm]
    kind = p.upper()
    capture = bool(b[to])
    if kind == "P" and to == pos.ep and not b[to]:
        b[to - 8 if pos.white else to + 8] = ""
        capture = True
    b[to] = (promo if pos.white else promo.lower()) if promo else p
    b[frm] = ""
    if kind == "K" and abs(to - frm) == 2:
        if to > frm:
            b[frm + 1], b[frm + 3] = b[frm + 3], ""
        else:
            b[frm - 1], b[frm - 4] = b[frm - 4], ""
    rights = nxt.castling
    for sq, flag in ((0, "Q"), (7, "K"), (56, "q"), (63, "k"), (4, "KQ"), (60, "kq")):
        if frm == sq or to == sq:
            for c in flag:
                rights = rights.replace(c, "")
    nxt.castling = rights
    nxt.ep = (frm + to) // 2 if kind == "P" and abs(to - frm) == 16 else -1
    nxt.halfmove = 0 if kind == "P" or capture else pos.halfmove + 1
    if not pos.white:
        nxt.fullmove += 1
    nxt.white = not pos.white
    return nxt


def is_legal_after(pos, nxt):
    """True when the side that moved in `pos` did not leave its king attacked."""
    return not attacked(nxt.board, king_square(nxt.board, pos.white), nxt.white)


def has_legal_move(pos):
    for m in pseudo_moves(pos):
        if is_legal_after(pos, make(pos, m)):
            return True
    return False


def san(pos, move, pseudo, nxt):
    """SAN of `move` in `pos`; `pseudo` is pos's geometric move list.

    Disambiguation counts every piece that reaches the square geometrically,
    pinned or not, so a replayer that ignores pins still resolves the move.
    """
    frm, to, promo = move
    p = pos.board[frm]
    kind = p.upper()
    capture = bool(pos.board[to]) or (kind == "P" and to == pos.ep)
    if kind == "K" and abs(to - frm) == 2:
        text = "O-O" if to > frm else "O-O-O"
    elif kind == "P":
        text = (FILES[frm % 8] + "x" if capture else "") + square_name(to)
        if promo:
            text += "=" + promo
    else:
        rivals = [m[0] for m in pseudo
                  if m[1] == to and m[0] != frm and pos.board[m[0]] == p]
        dis = ""
        if rivals:
            if all(r % 8 != frm % 8 for r in rivals):
                dis = FILES[frm % 8]
            elif all(r // 8 != frm // 8 for r in rivals):
                dis = str(frm // 8 + 1)
            else:
                dis = square_name(frm)
        text = kind + dis + ("x" if capture else "") + square_name(to)
    if in_check(nxt):
        text += "+" if has_legal_move(nxt) else "#"
    return text


def play_san(pos, token):
    """Apply a SAN token (used for the fixed opening lines)."""
    pseudo = pseudo_moves(pos)
    for m in pseudo:
        nxt = make(pos, m)
        if is_legal_after(pos, nxt) and san(pos, m, pseudo, nxt).rstrip("+#") == token.rstrip("+#"):
            return san(pos, m, pseudo, nxt), nxt
    raise ValueError("illegal opening move %s in %s" % (token, pos.fen()))


def random_move(pos, rng):
    """A uniformly drawn legal move as (san, next position), or None at mate/stalemate."""
    pseudo = pseudo_moves(pos)
    order = list(range(len(pseudo)))
    rng.shuffle(order)
    for i in order:
        nxt = make(pos, pseudo[i])
        if is_legal_after(pos, nxt):
            return san(pos, pseudo[i], pseudo, nxt), nxt
    return None
