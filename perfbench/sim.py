"""Seeded limit-order-book simulation, rendered in the three event formats.

One simulation per seed drives every workload. Each instrument keeps an
order-level book (orders grouped into price levels) with a random-walk mid:

* adds rest at a geometric distance from the mid on their own side;
* cancels remove a whole resting order;
* modifies move a resting order to a new price and size;
* trades fill the oldest order at the best price, partly or fully.

Every action is taken against the simulated book, so the rendered streams are
valid by construction: no delete of a missing level, no delete of more than
rests at a level, and every modify names the order that actually rests.

Renderings (one row per level change; a move touches two levels):

* ``updates``   -- (is_bid, price, qty): the level's new aggregate, 0 deletes.
* ``mutations`` -- (is_bid, price, qty): signed delta, a move is -old then +new.
* ``modify``    -- (is_bid, price, qty, prev_price, prev_qty): the reference's
  modify table, one row per action.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass

ADD, CANCEL, MOVE, TRADE = "add", "cancel", "move", "trade"
FORMATS = ("updates", "mutations", "modify")
PRICE_BASE = 100_000


@dataclass(frozen=True)
class BookParams:
    books: int  # instruments
    steps: int  # simulated actions, all books together
    target_orders: int  # resting orders each book hovers around
    mean_distance: float  # mean tick distance of a new order from the mid
    zipf: float = 0.0  # book-choice skew: weight of book k is 1/(k+1)**zipf


class _Book:
    """Order-level truth for one instrument."""

    def __init__(self, rng: random.Random, params: BookParams) -> None:
        self.rng = rng
        self.params = params
        self.mid = PRICE_BASE
        self.orders: dict[int, list] = {}  # oid -> [is_bid, price, qty]
        self.oids: list[int] = []  # for O(1) uniform choice
        self.pos: dict[int, int] = {}
        self.queues: dict[tuple[bool, int], list[int]] = {}  # FIFO per level
        self.next_oid = 0
        self._log_keep = math.log(1.0 - 1.0 / params.mean_distance)

    def _distance(self) -> int:
        # Geometric on 1, 2, ... with the requested mean (inverse CDF).
        u = 1.0 - self.rng.random()  # in (0, 1]
        return 1 + int(math.log(u) / self._log_keep)

    def _price(self, is_bid: bool) -> int:
        d = self._distance()
        return self.mid - d if is_bid else self.mid + d

    def _rest(self, is_bid: bool, price: int, qty: int) -> None:
        oid = self.next_oid
        self.next_oid += 1
        self.orders[oid] = [is_bid, price, qty]
        self.pos[oid] = len(self.oids)
        self.oids.append(oid)
        self.queues.setdefault((is_bid, price), []).append(oid)

    def _unrest(self, oid: int) -> None:
        is_bid, price, _ = self.orders.pop(oid)
        i = self.pos.pop(oid)
        last = self.oids.pop()
        if last != oid:
            self.oids[i] = last
            self.pos[last] = i
        q = self.queues[(is_bid, price)]
        q.remove(oid)
        if not q:
            del self.queues[(is_bid, price)]

    def best(self, is_bid: bool) -> "int | None":
        prices = [p for (b, p) in self.queues if b == is_bid]
        if not prices:
            return None
        return max(prices) if is_bid else min(prices)

    def step(self) -> tuple:
        rng = self.rng
        if rng.random() < 0.1:
            self.mid += 1 if rng.random() < 0.5 else -1
        n = len(self.oids)
        target = self.params.target_orders
        p_add = min(0.9, max(0.2, 0.55 + 0.3 * (target - n) / target))
        r = rng.random()
        if n < 2 or r < p_add:
            is_bid = rng.random() < 0.5
            price = self._price(is_bid)
            qty = rng.randint(1, 100)
            self._rest(is_bid, price, qty)
            return (ADD, is_bid, price, qty)
        r = (r - p_add) / (1.0 - p_add)
        if r < 0.45:
            oid = self.oids[rng.randrange(n)]
            is_bid, price, qty = self.orders[oid]
            self._unrest(oid)
            return (CANCEL, is_bid, price, qty)
        if r < 0.75:
            oid = self.oids[rng.randrange(n)]
            is_bid, old_price, old_qty = self.orders[oid]
            new_price = self._price(is_bid)
            while new_price == old_price:
                new_price = self._price(is_bid)
            new_qty = rng.randint(1, 100)
            self._unrest(oid)
            self._rest(is_bid, new_price, new_qty)
            return (MOVE, is_bid, old_price, old_qty, new_price, new_qty)
        is_bid = rng.random() < 0.5
        price = self.best(is_bid)
        if price is None:
            is_bid = not is_bid
            price = self.best(is_bid)
        oid = self.queues[(is_bid, price)][0]
        qty = self.orders[oid][2]
        fill = rng.randint(1, qty)
        if fill == qty:
            self._unrest(oid)
        else:
            self.orders[oid][2] = qty - fill
        return (TRADE, is_bid, price, qty, fill)


def simulate(seed: int, params: BookParams) -> list[tuple[int, tuple]]:
    """``(book, action)`` pairs in global event order, reproducible from
    ``seed``. Books are chosen per step with Zipf weights."""
    rng = random.Random(seed)
    books = [_Book(random.Random(rng.getrandbits(64)), params)
             for _ in range(params.books)]
    weights = [1.0 / (k + 1) ** params.zipf for k in range(params.books)]
    picks = rng.choices(range(params.books), weights=weights, k=params.steps)
    return [(b, books[b].step()) for b in picks]


def render(actions: list[tuple[int, tuple]], fmt: str) -> dict[str, list]:
    """Columns ``product_id, seq, is_bid, price, qty`` (+ ``prev_price,
    prev_qty`` for ``modify``); ``seq`` numbers rows 0.. in stream order."""
    if fmt not in FORMATS:
        raise ValueError(f"unknown format {fmt!r}")
    cols: dict[str, list] = {k: [] for k in ("product_id", "is_bid", "price", "qty")}
    if fmt == "modify":
        cols["prev_price"], cols["prev_qty"] = [], []
    levels: dict[tuple[int, bool, int], int] = {}  # aggregate qty, for updates

    def row(book, is_bid, price, qty, prev_price=None, prev_qty=None):
        cols["product_id"].append(book)
        cols["is_bid"].append(is_bid)
        cols["price"].append(price)
        cols["qty"].append(qty)
        if fmt == "modify":
            cols["prev_price"].append(prev_price)
            cols["prev_qty"].append(prev_qty)

    def level_change(book, is_bid, price, delta):
        key = (book, is_bid, price)
        total = levels.get(key, 0) + delta
        if total:
            levels[key] = total
        else:
            levels.pop(key, None)
        if fmt == "updates":
            row(book, is_bid, price, total)
        else:
            row(book, is_bid, price, delta)

    for book, act in actions:
        kind, is_bid = act[0], act[1]
        if kind == ADD:
            level_change(book, is_bid, act[2], act[3])
        elif kind == CANCEL:
            if fmt == "modify" and act[3] % 2:
                # The table's "prev, qty 0" row: removes prev_qty at prev_price.
                row(book, is_bid, act[2], 0, act[2], act[3])
            else:
                level_change(book, is_bid, act[2], -act[3])
        elif kind == MOVE:
            _, _, old_price, old_qty, new_price, new_qty = act
            if fmt == "modify":
                row(book, is_bid, new_price, new_qty, old_price, old_qty)
            else:
                level_change(book, is_bid, old_price, -old_qty)
                level_change(book, is_bid, new_price, new_qty)
        else:  # TRADE
            _, _, price, qty, fill = act
            if fmt == "modify":
                # Qty-only modify: the order shrinks from qty to qty - fill.
                row(book, is_bid, price, qty - fill, None, qty)
            else:
                level_change(book, is_bid, price, -fill)
    cols["seq"] = list(range(len(cols["price"])))
    return cols
