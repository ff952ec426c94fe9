"""Correctness checks over what the sinks received, plus the negative
self-check that proves the checker catches a dropped envelope. Runs
after the timed region."""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass

import numpy as np


@dataclass
class Delivery:
    t: float
    key: str
    obj: str
    sync_version: int
    versions: np.ndarray  # int32, in envelope order
    nbytes: int = 0


def parse_envelope(payload: str) -> tuple[int, np.ndarray]:
    doc = json.loads(payload)
    versions = np.fromiter((r["version"] for r in doc["Data"]), np.int32, len(doc["Data"]))
    return doc["Metadata"]["Sync"]["Version"], versions


def parse_file_sink(root: str) -> list[Delivery]:
    """Every envelope a ``FileSink`` wrote under ``root/<env>/<object>/``."""
    out = []
    for path in sorted(glob.glob(os.path.join(root, "*", "*", "*.json"))):
        with open(path, encoding="utf-8") as f:
            sync, versions = parse_envelope(f.read())
        obj = os.path.basename(os.path.dirname(path))
        out.append(Delivery(0.0, "", obj, sync, versions, os.path.getsize(path)))
    return out


def missing_rows(deliveries: list[Delivery], max_version: dict[str, int]) -> int:
    """Rows ``1..max_version[obj]`` that no delivery carried."""
    seen = {o: np.zeros(top + 1, bool) for o, top in max_version.items()}
    for d in deliveries:
        row = seen.get(d.obj)
        if row is not None:
            row[d.versions[(d.versions > 0) & (d.versions < len(row))]] = True
    return sum(int(len(row) - 1 - row[1:].sum()) for row in seen.values())


def order_problems(deliveries: list[Delivery], poll_key) -> list[str]:
    """Per object, the poll path's envelopes must arrive in version order
    with ``Sync.Version`` equal to the chunk's maximum version.
    ``poll_key(obj)`` is the export key the poller uses (replays use
    another key and may legitimately arrive out of order)."""
    problems, last = [], {}
    for d in deliveries:
        if d.key != poll_key(d.obj):
            continue
        if not len(d.versions):
            problems.append(f"{d.obj}: empty envelope at version {d.sync_version}")
            continue
        top = int(d.versions.max())
        if np.any(np.diff(d.versions) < 0):
            problems.append(f"{d.obj}: envelope {d.sync_version} not version-sorted")
        if d.sync_version != top:
            problems.append(f"{d.obj}: Sync.Version {d.sync_version} != chunk max {top}")
        if d.versions[0] <= last.get(d.obj, 0):
            problems.append(
                f"{d.obj}: envelope starting at {d.versions[0]} after version {last[d.obj]}"
            )
        last[d.obj] = max(last.get(d.obj, 0), top)
    return problems


def first_receipt(deliveries: list[Delivery], max_version: dict[str, int]):
    """Per object, the first time each version was received (``nan`` if never)."""
    first = {o: np.full(top + 1, np.nan) for o, top in max_version.items()}
    for d in deliveries:
        row = first[d.obj]
        versions = d.versions[d.versions < len(row)]
        row[versions[np.isnan(row[versions])]] = d.t
    return first


def self_check(poll_deliveries: list[Delivery], max_version: dict[str, int]) -> list[str]:
    """The coverage check must flag one dropped envelope, taken out of
    the poll path's deliveries (which carry each row once)."""
    if not poll_deliveries:
        return []
    drop = len(poll_deliveries) // 2
    cut = poll_deliveries[:drop] + poll_deliveries[drop + 1:]
    if missing_rows(cut, max_version) == 0:
        return ["self-check: a dropped envelope went unnoticed"]
    return []
