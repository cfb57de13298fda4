"""Spark-free naive order-book reference for the fold differentials.

Each side is a plain ``price -> qty`` dict; after every event the top-N is
recomputed with ``sorted``. No emit skipping, no forward fill, no blocks, no
batches: it shares nothing with ``_fold_arrays`` but the event semantics
(ref: update.rs:101-162, book_side.rs:91-112) and the error messages'
leading words.
"""

import random

import numpy as np

from polars_order_book_spark import OrderBookError


def _delete(side: dict, price: int, qty: int) -> None:
    cur = side.get(price)
    if cur is None:
        raise OrderBookError(f"Level not found: price={price}")
    if qty > cur:
        raise OrderBookError(f"Qty exceeds available: delete {qty} from {cur}")
    if qty == cur:
        del side[price]
    else:
        side[price] = cur - qty  # a negative qty adds (qty-only modify)


def _add(side: dict, price: int, qty: int) -> None:
    side[price] = side.get(price, 0) + qty


def _apply(side: dict, variant: str, seq, p, q, pp, pq) -> None:
    if variant == "updates":
        if q == 0:
            side.pop(p, None)
        else:
            side[p] = q
        return
    if variant == "modify" and (pp is not None or pq is not None):
        if pq is None:
            raise OrderBookError(f"prev_price without prev_qty at seq={seq}")
        if q < 0:
            raise OrderBookError(f"negative qty with non-null prev at seq={seq}")
        if pp is not None:
            _delete(side, pp, pq)
            if q:
                _add(side, p, q)
        else:
            _delete(side, p, pq - q)
        return
    if q > 0:
        _add(side, p, q)
    elif q < 0:
        _delete(side, p, -q)


def _top(side: dict, n: int, best_high: bool) -> list:
    levels = sorted(side.items(), reverse=best_high)[:n]
    levels += [(None, None)] * (n - len(levels))
    return levels


def top_n(rows, variant: str, n: int) -> dict:
    """Fold one book. ``rows`` are ``(seq, is_bid, price, qty)`` tuples, plus
    ``(prev_price, prev_qty)`` for ``modify``, in any order; they fold in seq
    order. Returns ``{seq: snapshot}``, each snapshot the 4n values in
    ``snapshot_columns(n)`` order with None for a missing level."""
    bids: dict = {}
    asks: dict = {}
    out = {}
    for row in sorted(rows, key=lambda r: r[0]):
        seq, b, p, q = row[:4]
        pp, pq = row[4:6] if variant == "modify" else (None, None)
        if b is None or p is None or q is None:
            raise OrderBookError(f"null is_bid/price/qty at seq={seq}")
        _apply(bids if b else asks, variant, seq, p, q, pp, pq)
        snap = []
        for (bp, bq), (ap, aq) in zip(_top(bids, n, True), _top(asks, n, False)):
            snap += [bp, bq, ap, aq]
        out[seq] = tuple(snap)
    return out


def top_n_arrays(rows, variant: str, n: int):
    """``top_n`` in the kernel's shape: (values, mask) arrays of shape
    (4n, len(rows)), one column per row in ``rows`` order, mask True (and
    value 0) at a missing level."""
    snaps = top_n(rows, variant, n)
    cols = np.array([snaps[r[0]] for r in rows], dtype=object).T
    mask = np.equal(cols, None)
    return np.where(mask, 0, cols).astype(np.int64), mask


def top_n_keyed(rows, variant: str, n: int) -> dict:
    """Fold each book of ``(book, seq, is_bid, price, qty[, prev_price,
    prev_qty])`` rows on its own (a None book key is a book too). Returns
    ``{(book, seq): snapshot}``."""
    books: dict = {}
    for row in rows:
        books.setdefault(row[0], []).append(row[1:])
    return {
        (book, seq): snap
        for book, book_rows in books.items()
        for seq, snap in top_n(book_rows, variant, n).items()
    }


def valid_stream(variant: str, seed: int, m: int = 240) -> list[tuple]:
    """Seeded valid stream over prices 1..40 per side (deep enough that
    n=20 books fill and overflow). ``updates`` rows are (seq, is_bid,
    price, qty), qty 0 deleting; ``mutations`` rows are (seq, is_bid,
    price, signed qty); ``modify`` rows add prev_price/prev_qty and cover
    plain adds, full moves, modify-to-zero and qty-only shrinks."""
    rng = random.Random(seed)
    book: dict = {}
    rows = []
    for s in range(m):
        b = rng.random() < 0.5
        live = sorted(p for (bb, p), q in book.items() if bb == b and q > 0)
        op = rng.randrange(4) if live and rng.random() < 0.4 else 0
        if variant == "updates":
            rows.append((s, b, rng.randint(1, 40), rng.randint(0, 6)))
        elif variant == "mutations":
            if op:
                p = rng.choice(live)
                q = -rng.randint(1, book[(b, p)])
            else:
                p, q = rng.randint(1, 40), rng.randint(0, 6)  # 0 = no-op
            book[(b, p)] = book.get((b, p), 0) + q
            rows.append((s, b, p, q))
        elif op == 0:  # plain add
            p, q = rng.randint(1, 40), rng.randint(1, 6)
            book[(b, p)] = book.get((b, p), 0) + q
            rows.append((s, b, p, q, None, None))
        elif op == 1:  # full modify: move dq from pp to p
            pp = rng.choice(live)
            dq = rng.randint(1, book[(b, pp)])
            p = rng.randint(1, 40)
            book[(b, pp)] -= dq
            book[(b, p)] = book.get((b, p), 0) + dq
            rows.append((s, b, p, dq, pp, dq))
        elif op == 2:  # modify-to-zero: delete pq at pp
            pp = rng.choice(live)
            pq = rng.randint(1, book[(b, pp)])
            book[(b, pp)] -= pq
            rows.append((s, b, pp, 0, pp, pq))
        else:  # qty-only shrink: level pq -> q at p
            p = rng.choice(live)
            pq = book[(b, p)]
            q = rng.randint(1, pq)
            book[(b, p)] = q
            rows.append((s, b, p, q, None, pq))
    return rows
