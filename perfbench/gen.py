"""Seeded inputs: outbox change rows and open-loop arrival schedules.
Everything is drawn from one ``numpy`` generator
seeded by ``--seed``; the program only ever sees what is written here."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa

from trignis_spark.sources.parquet_outbox import append_outbox_files

_SCHEMA = pa.schema(
    [
        ("version", pa.int64()),
        ("xact_id", pa.int64()),
        ("operation", pa.string()),
        ("user_key", pa.int64()),
        ("changed", pa.list_(pa.string())),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
_OPS = np.array(["I", "U", "D"])
_BASE_TS_US = 1_700_000_000_000_000


def change_rows(rng: np.random.Generator, start: int, n: int) -> pa.Table:
    """``n`` outbox rows with contiguous versions ``start..start+n-1``."""
    v = np.arange(start, start + n, dtype=np.int64)
    ops = _OPS[rng.choice(3, size=n, p=[0.3, 0.6, 0.1])]
    return pa.table(
        {
            "version": v,
            "xact_id": v,
            "operation": ops,
            "user_key": rng.integers(0, 100_000, size=n),
            "changed": [["value"] if op == "U" else None for op in ops],
            "ts": pa.array(_BASE_TS_US + v * 1000, pa.timestamp("us", tz="UTC")),
            "value": rng.normal(100.0, 25.0, size=n).round(4),
            "props": [f'{{"sku":{k},"qty":{q}}}' for k, q in
                      zip(rng.integers(0, 10**6, size=n), rng.integers(1, 9, size=n))],
        },
        schema=_SCHEMA,
    )


class Outbox:
    """One parquet outbox directory per tracking object, appended only
    through ``append_outbox_files``. Versions are contiguous per object,
    and ``created[obj][v - 1]`` is row ``v``'s creation time
    (``nan`` for rows that existed before the measured phase)."""

    def __init__(self, root: str, objects, rng: np.random.Generator):
        self.root = root
        self.rng = rng
        self.created = {o: [] for o in objects}

    def path(self, obj: str) -> str:
        return os.path.join(self.root, obj)

    def max_version(self, obj: str) -> int:
        return len(self.created[obj])

    def append(self, obj: str, created, files: int = 1) -> None:
        created = list(created)
        table = change_rows(self.rng, self.max_version(obj) + 1, len(created))
        step = -(-len(created) // files)
        for off in range(0, len(created), step):
            append_outbox_files(table.slice(off, step), self.path(obj))
        self.created[obj].extend(created)

    def purge(self, obj: str) -> None:
        """Outbox retention: delete every committed file of ``obj``."""
        for f in os.listdir(self.path(obj)):
            os.unlink(os.path.join(self.path(obj), f))

    def file_count(self) -> int:
        return sum(
            sum(1 for f in os.listdir(self.path(o)) if f.endswith(".parquet"))
            for o in self.created
            if os.path.isdir(self.path(o))
        )


class Arrivals:
    """Open-loop arrivals: row ``k`` is due at ``k / rate`` seconds after
    the start, on an object drawn with ``shares``. Rows are written to
    the outbox between cycles, so the schedule never slows when the
    relay does; each row keeps its due time as its creation time."""

    def __init__(self, rng, objects, rate: float, shares, horizon_s: float):
        n = int(rate * horizon_s) + 1
        self.objects = objects
        self.due = np.arange(n) / rate
        self.obj = rng.choice(len(objects), size=n, p=shares)
        self.next = 0
        self.t0 = None

    def start(self, t0: float) -> None:
        self.t0 = t0

    def released(self) -> int:
        return self.next

    def release(self, outbox: Outbox, upto: float) -> None:
        """Write every row due by ``upto`` (one file per object)."""
        end = int(np.searchsorted(self.due, upto - self.t0, side="right"))
        if end >= len(self.due):
            raise RuntimeError("arrival schedule exhausted")
        due, obj = self.due[self.next:end], self.obj[self.next:end]
        for i, name in enumerate(self.objects):
            mine = due[obj == i]
            if len(mine):
                outbox.append(name, self.t0 + mine)
        self.next = end
