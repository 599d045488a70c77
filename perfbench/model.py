"""Reference models and engine-free readers for the correctness checks.

The mirror is read with pyarrow, never through Spark, and compared with
what the generator's rows say it must hold.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq

from gen import normalized_day


def data_files(mirror: str) -> dict[str, int]:
    """``{relative path: bytes}`` of the parquet data files under ``mirror``."""
    out = {}
    if not os.path.isdir(mirror):
        return out
    for day_dir in os.listdir(mirror):
        full = os.path.join(mirror, day_dir)
        if not (day_dir.startswith("day=") and os.path.isdir(full)):
            continue
        for name in os.listdir(full):
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                out[f"{day_dir}/{name}"] = os.path.getsize(os.path.join(full, name))
    return out


def read_mirror(mirror: str, columns: list[str]) -> dict[str, list[tuple]]:
    """``{day: rows}`` with each row a tuple in ``columns`` order."""
    by_day: dict[str, list[tuple]] = {}
    for rel in sorted(data_files(mirror)):
        day = rel.split("/")[0][len("day="):]
        table = pq.read_table(os.path.join(mirror, rel), columns=columns)
        rows = by_day.setdefault(day, [])
        rows.extend(zip(*(table.column(c).to_pylist() for c in columns)))
    return by_day


def rows_hash(rows) -> str:
    """Order-insensitive hash of a row collection."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def day_hashes(by_day: dict[str, list[tuple]]) -> dict[str, str]:
    return {day: rows_hash(rows) for day, rows in by_day.items() if rows}


class NightlyModel:
    """What the mirror must hold after ``sync``: every generated source row,
    normalized, in its day."""

    COLUMNS = ["id", "date_time", "value", "ts"]

    def __init__(self):
        self.by_day: dict[str, list[tuple]] = {}

    def add(self, rows: list[tuple]) -> int:
        for rid, dtm, val, ts in rows:
            norm, day = normalized_day(dtm)
            self.by_day.setdefault(day, []).append((rid, norm, val, ts))
        return len(rows)

    def n_rows(self) -> int:
        return sum(len(r) for r in self.by_day.values())


class ReplayModel:
    """Sequential per-event replay keyed by ``(day, pk)`` under
    consolidate.cpp's rules: delete drops the key, update applies only to
    a live key, insert upserts."""

    COLUMNS = ["pk", "date_time", "value", "ts_epoch"]

    def __init__(self):
        self.state: dict[tuple[str, int], tuple] = {}

    def apply(self, events: list[tuple]) -> int:
        """Apply one segment; returns how many keys changed state."""
        before: dict[tuple[str, int], tuple | None] = {}
        for op, pk, dtm, val, ep in events:
            key = (dtm[:10], pk)
            before.setdefault(key, self.state.get(key))
            if op == "D":
                self.state.pop(key, None)
            elif op == "I" or key in self.state:
                self.state[key] = (dtm, val, ep)
        return sum(1 for k, old in before.items() if self.state.get(k) != old)

    def by_day(self) -> dict[str, list[tuple]]:
        out: dict[str, list[tuple]] = {}
        for (day, pk), (dtm, val, ep) in self.state.items():
            out.setdefault(day, []).append((pk, dtm, val, ep))
        return out
