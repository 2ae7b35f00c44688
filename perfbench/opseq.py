"""Seeded operation sequences for the workloads.

Everything here is a pure function of its arguments: the same seed gives
the same operations, parameters and (for ``commit_churn``) the same
expected answers, computed from the generator's own model of the table.
The engine only ever sees the generated inputs.
"""

from __future__ import annotations

import datetime as dt
import random

# --------------------------------------------------------------- scan_sql

# operations of each class in one block; the block order is shuffled per
# seed.  The mix is synthetic, not taken from measured traffic: the counts
# place the median and the tail (the 11th slowest read) inside one class's
# cluster of latencies, not on a boundary between two.
SCAN_BLOCK = {"point_lookup": 4, "pruned_range": 2, "meta_count": 1,
              "star_join": 1, "plan_only": 1, "full_agg": 3}


def month_starts(first: dt.date, last: dt.date) -> list:
    """First day of every month from ``first``'s month to ``last``'s."""
    out = []
    y, m = first.year, first.month
    while (y, m) <= (last.year, last.month):
        out.append(dt.date(y, m, 1))
        y, m = (y + 1, 1) if m == 12 else (y, m + 1)
    return out


def _window(rng: random.Random, months: list) -> tuple:
    """A month-aligned [start, end) window of 1-3 months."""
    width = rng.randint(1, 3)
    i = rng.randrange(0, len(months) - width)
    return months[i].isoformat(), months[i + width].isoformat()


def scan_params(rng: random.Random, cls: str, domain: dict):
    if cls == "point_lookup":
        return rng.randrange(domain["orders"])
    if cls == "star_join":
        return rng.randrange(domain["customers"])
    if cls in ("pruned_range", "meta_count", "plan_only"):
        return _window(rng, domain["months"])
    return None


def scan_sql_ops(seed: int, blocks: int, domain: dict) -> list:
    """``blocks`` shuffled blocks of :data:`SCAN_BLOCK`, each operation as
    ``(class, params)``.  ``domain`` holds ``orders`` and ``customers``
    (key counts) and ``months`` (month starts spanning the order dates)."""
    rng = random.Random(f"scan_sql:{seed}")
    ops = []
    for _ in range(blocks):
        block = [c for c, n in SCAN_BLOCK.items() for _ in range(n)]
        rng.shuffle(block)
        ops.extend((c, scan_params(rng, c, domain)) for c in block)
    return ops


# ----------------------------------------------------------- commit_churn

CHURN_EPOCH = dt.datetime(2025, 1, 1)
CHURN_CATS = ["a", "b", "c", "d"]
APPEND_ROWS = 200
APPEND_HOURS = 12        # one batch spans half a day of event time
UPSERT_UPDATES = 60
UPSERT_INSERTS = 40
UPSERT_WINDOW = 1000     # updates hit the newest keys: the last few days
DELETE_KEYS = 120
INITIAL_ROWS = 4000
INITIAL_HOURS = 240
# commit classes of one cycle, in order; every commit is followed by a
# read-after-write, and maintenance runs every MAINTAIN_EVERY commits.  The
# order is the same for every seed: a read's cost grows with the delete and
# data files committed since the last maintenance, so a seeded order would
# make the read latencies depend on where the seed put the deletes and
# upserts.  The mix and the batch sizes above are
# synthetic, not taken from measured traffic.  Appends are two thirds of
# the commits, so the commit median and tail fall inside the append
# cluster whichever side of it the deletes and upserts land, never on a
# boundary between classes.
CHURN_CYCLE = ["append", "append", "delete", "append", "append", "upsert"]
MAINTAIN_EVERY = 16


class ChurnModel:
    """The generator's model of the churn table: key -> (ts, cat, v)."""

    def __init__(self, seed: int):
        self.rng = random.Random(f"commit_churn:{seed}")
        self.rows: dict = {}
        self.next_key = 0
        self.clock = CHURN_EPOCH

    def _batch(self, n: int, hours: int) -> list:
        span = hours * 3600 * 1_000_000
        offs = sorted(self.rng.randrange(span) for _ in range(n))
        rows = []
        for off in offs:
            k = self.next_key
            self.next_key += 1
            rows.append((k, self.clock + dt.timedelta(microseconds=off),
                         self.rng.choice(CHURN_CATS),
                         self.rng.randrange(1000)))
        self.clock += dt.timedelta(hours=hours)
        return rows

    def _apply(self, rows: list) -> None:
        for k, ts, cat, v in rows:
            self.rows[k] = (ts, cat, v)

    def initial(self) -> list:
        rows = self._batch(INITIAL_ROWS, INITIAL_HOURS)
        self._apply(rows)
        return rows

    def append(self) -> list:
        rows = self._batch(APPEND_ROWS, APPEND_HOURS)
        self._apply(rows)
        return rows

    def delete(self) -> tuple:
        """Retention: the key range of the DELETE_KEYS oldest live keys, so
        every delete does the same work whatever the seed."""
        gone = sorted(self.rows)[:DELETE_KEYS]
        for k in gone:
            del self.rows[k]
        return gone[0], gone[-1] + 1

    def upsert(self) -> list:
        """Late corrections: new values for UPSERT_UPDATES keys among the
        UPSERT_WINDOW most recent live keys, plus UPSERT_INSERTS new rows."""
        recent = sorted(self.rows)[-UPSERT_WINDOW:]
        upd = [(k, self.rows[k][0], self.rows[k][1], self.rng.randrange(1000))
               for k in self.rng.sample(recent,
                                        min(UPSERT_UPDATES, len(recent)))]
        rows = sorted(upd) + self._batch(UPSERT_INSERTS, APPEND_HOURS)
        self._apply(rows)
        return rows

    def read(self) -> tuple:
        """The (count, sum of v) the whole table must return."""
        return len(self.rows), sum(r[2] for r in self.rows.values())


def churn_ops(model: ChurnModel, cycles: int) -> list:
    """``cycles`` cycles of :data:`CHURN_CYCLE` as ``(class,
    params)``: each commit is followed by a ``read`` carrying its expected
    answer, and ``maintain`` runs every :data:`MAINTAIN_EVERY` commits."""
    ops = []
    commits = 0
    for _ in range(cycles):
        for cls in CHURN_CYCLE:
            ops.append((cls, getattr(model, cls)()))
            ops.append(("read", model.read()))
            commits += 1
            if commits % MAINTAIN_EVERY == 0:
                ops.append(("maintain", None))
    return ops
