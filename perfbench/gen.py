"""Seeded input generator of the etl_load workload.

``EtlFeed`` writes the delivered files of one ETL process run in the
``Test/test.pl`` shape (tab-separated, two junk header lines, German
numbers and dates, WAHR/FALSCH flags) and keeps the table state that a
last-write-wins keyed upsert of those files must produce. The same seed
gives byte-identical files.
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
ETL_HEADER = ["ID1", "ID2", "Name", "Number", "Date", "Flag"]
ETL_TARGET = ["id1", "id2", "name", "amount", "asof", "flag"]
ETL_KEYS = ["id1", "id2"]
UPDATE_FRAC = 0.3  # share of a delta's rows that re-deliver earlier keys


def german_number(x: float) -> str:
    """1234567.5 -> '1.234.567,50' (the reference's German locale)."""
    neg = x < 0
    whole, frac = f"{abs(x):.2f}".split(".")
    groups = []
    while len(whole) > 3:
        groups.insert(0, whole[-3:])
        whole = whole[:-3]
    groups.insert(0, whole)
    return ("-" if neg else "") + ".".join(groups) + "," + frac


class EtlFeed:
    """Delivered files of one ETL process run, written on demand.

    Each file holds at most one row per key, so a keyed upsert of it has
    one defined result. The first file delivers only new keys (the
    snapshot); later files re-deliver earlier keys for ``UPDATE_FRAC`` of
    their rows. ``state`` is what a last-write-wins upsert of every file
    delivered so far must hold: {(id1, id2): (name, amount, asof, flag)}."""

    def __init__(self, out_dir: str, rng: np.random.Generator):
        self.out_dir, self.rng = out_dir, rng
        os.makedirs(out_dir, exist_ok=True)
        self.state: dict[tuple[int, int], tuple] = {}
        self._keys: list[tuple[int, int]] = []
        self.files = 0

    def deliver(self, n: int) -> tuple[str, int, int]:
        """Write the next file with ``n`` rows; return (path, rows, bytes)."""
        rng = self.rng
        n_upd = min(len(self._keys), int(round(n * UPDATE_FRAC))) if self.files else 0
        upd = [self._keys[i] for i in rng.choice(len(self._keys), n_upd, replace=False)] if n_upd else []
        base = len(self._keys)
        new = [((base + i) // 7, (base + i) % 7) for i in range(n - n_upd)]
        self._keys.extend(new)
        keys = upd + new
        order = rng.permutation(len(keys))
        amounts = np.round(rng.uniform(-5_000.0, 2_000_000.0, len(keys)), 2)
        days = rng.integers(0, 700, len(keys))
        flags = rng.integers(0, 2, len(keys))
        names = rng.integers(0, len(WORDS), (len(keys), 2))
        day0 = _dt.date(2023, 1, 2)
        lines = [f"Lieferung {self.files:03d}",
                 f"erstellt am {(day0 + _dt.timedelta(days=self.files)).strftime('%d.%m.%Y')}"]
        for j in order:
            name = f"{WORDS[names[j, 0]]} {WORDS[names[j, 1]]}"
            amt = float(amounts[j])
            asof = day0 + _dt.timedelta(days=int(days[j]))
            flag = bool(flags[j])
            self.state[keys[j]] = (name, amt, asof, flag)
            lines.append("\t".join((
                str(keys[j][0]), str(keys[j][1]), f" {name} ", german_number(amt),
                asof.strftime("%d.%m.%Y"), "WAHR" if flag else "FALSCH",
            )))
        path = os.path.join(self.out_dir, f"delivery_{self.files:04d}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        self.files += 1
        return path, n, os.path.getsize(path)
