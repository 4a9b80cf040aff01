"""The benchmark's inputs.

- ``TABLES``: the ten test tables (TESTDATA.md) at sf0.001, a
  byte-identical copy of the fixtures the repository's DuckDB oracles
  are checked against. They do not depend on the seed.
- ``write_drip``: a seeded ``botgen_workload`` clickstream cut into
  event-time-ordered JSON-lines files, one file per micro-batch under
  ``maxFilesPerTrigger=1``.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

from in_stream_processing_course_spark.sources import generator as gen

TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.001")


@dataclass(frozen=True)
class DripSize:
    n_users: int
    n_bots: int
    user_freq: int  # user actions per second, over the whole population
    duration_sec: int
    n_files: int


@dataclass(frozen=True)
class Drip:
    path: str
    files: list[list[gen.Action]]  # the actions of each file, in trigger order

    @property
    def events(self) -> int:
        return sum(len(f) for f in self.files)

    @property
    def keys(self) -> int:
        return len({a.ip for f in self.files for a in f})


def write_drip(path: str, seed: int, size: DripSize) -> Drip:
    """Cut a seeded ``botgen_workload`` into ``n_files`` equal
    event-time slices. File modification times increase with the slice
    index, so the file source (which orders by modification time)
    replays the slices in event-time order."""
    actions = gen.botgen_workload(
        n_bots=size.n_bots,
        n_users=size.n_users,
        user_freq=size.user_freq,
        duration_sec=size.duration_sec,
        seed=seed,
    )
    slice_sec = max(1, size.duration_sec // size.n_files)
    files: list[list[gen.Action]] = [[] for _ in range(size.n_files)]
    for a in actions:
        files[min(a.time // slice_sec, size.n_files - 1)].append(a)
    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    for i, batch in enumerate(files):
        name = gen.write_json_lines(batch, os.path.join(path, f"part-{i:04d}.json"))
        os.utime(name, (base + i, base + i))
    return Drip(path, files)
