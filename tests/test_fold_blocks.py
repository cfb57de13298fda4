"""``_fold_arrays`` runs in blocks of ``_FOLD_BLOCK_BYTES // (32 * n)`` rows,
each resuming from the live (bids, asks) state with its column 0 as the
forward-fill baseline. At the real budget the first boundary sits at 4,096
rows (n=20), past every small test stream, so these tests shrink the budget
to 3-row blocks and require the blocked fold to equal the single-block fold,
a fold resumed from (bids, asks) at a random cut, and the naive reference
(``naive_book``), which recomputes the top-N on every row. Spark-free: the
kernel is called directly.
"""

import random

import numpy as np
import pytest

from naive_book import top_n
from polars_order_book_spark.operators import order_book
from polars_order_book_spark.operators.order_book import _fold_arrays


def _stream(variant: str, seed: int, m: int = 240) -> list[tuple]:
    """Seeded valid stream over prices 1..40 per side (deep enough that
    n=20 books fill and overflow). ``mutations`` rows are (seq, is_bid,
    price, signed qty); ``modify`` rows add prev_price/prev_qty and cover
    plain adds, full moves, modify-to-zero and qty-only shrinks."""
    rng = random.Random(seed)
    book: dict = {}
    rows = []
    for s in range(m):
        b = rng.random() < 0.5
        live = sorted(p for (bb, p), q in book.items() if bb == b and q > 0)
        op = rng.randrange(4) if live and rng.random() < 0.4 else 0
        if variant == "mutations":
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


def _fold(variant, n, rows, bids=None, asks=None):
    cols = list(zip(*rows))
    return _fold_arrays(
        variant, n, np.array(cols[0], dtype=np.int64),
        list(cols[1]), list(cols[2]), list(cols[3]),
        list(cols[4]) if variant == "modify" else None,
        list(cols[5]) if variant == "modify" else None,
        bids=bids, asks=asks,
    )


def _naive(variant, n, rows):
    """The naive reference's snapshots as the kernel's (values, mask)."""
    snaps = top_n(rows, variant, n)
    cols = np.array([snaps[r[0]] for r in rows], dtype=object).T
    mask = np.equal(cols, None)
    return np.where(mask, 0, cols).astype(np.int64), mask


def _assert_same(got, want):
    (out_g, mask_g), (out_w, mask_w) = got, want
    np.testing.assert_array_equal(mask_g, mask_w)
    np.testing.assert_array_equal(out_g[~mask_g], out_w[~mask_w])


@pytest.mark.parametrize("variant", ["mutations", "modify"])
@pytest.mark.parametrize("n", [1, 3, 20])
def test_blocked_fold_equals_single_block_and_resumed(monkeypatch, variant, n):
    seed = 7919 * n + len(variant)
    rows = _stream(variant, seed)
    out, mask, _, _ = _fold(variant, n, rows)  # one block at the real budget
    _assert_same((out, mask), _naive(variant, n, rows))

    monkeypatch.setattr(order_book, "_FOLD_BLOCK_BYTES", 32 * n * 3)
    b_out, b_mask, _, _ = _fold(variant, n, rows)
    _assert_same((b_out, b_mask), (out, mask))

    cut = random.Random(seed).randrange(1, len(rows))
    a_out, a_mask, bids, asks = _fold(variant, n, rows[:cut])
    r_out, r_mask, _, _ = _fold(variant, n, rows[cut:], bids=bids, asks=asks)
    _assert_same(
        (np.concatenate([a_out, r_out], axis=1),
         np.concatenate([a_mask, r_mask], axis=1)),
        (out, mask),
    )
