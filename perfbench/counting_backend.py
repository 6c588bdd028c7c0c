"""A ``FakeVendorBackend`` that records every call it serves.

The ingest chain resolves its backend from a ``module:Class?k=v`` spec
inside Python workers, so counts cannot live in memory: each call
appends one ``kind<TAB>key<TAB>ns`` line to ``<log>/<pid>.tsv`` through
an ``O_APPEND`` descriptor (one ``write`` per line, nothing buffered, so
nothing is lost when Spark kills an idle worker). With ``log`` empty the
class behaves exactly like its parent.
"""

from __future__ import annotations

import os
import time
from collections import Counter

from food_panda_etl_spark.sources.fake_backend import FakeVendorBackend

_FDS: dict[tuple[str, int], int] = {}


def _fd(log: str) -> int:
    key = (log, os.getpid())
    fd = _FDS.get(key)
    if fd is None:
        path = os.path.join(log, f"{key[1]}.tsv")
        fd = _FDS[key] = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    return fd


class CountingBackend(FakeVendorBackend):
    def __init__(self, log: str = ""):
        self.log = log

    def _timed(self, kind: str, key: str, fn, *args):
        t0 = time.perf_counter_ns()
        out = fn(*args)
        if self.log:
            line = f"{kind}\t{key}\t{time.perf_counter_ns() - t0}\n"
            os.write(_fd(self.log), line.encode())
        return out

    def list_page(self, city_id: str, offset: int, limit: int) -> dict:
        return self._timed(
            "list", f"{city_id}:{offset}", super().list_page, city_id, offset, limit
        )

    def details(self, code: str) -> str | None:
        return self._timed("details", code, super().details, code)

    def reviews(self, code: str) -> list[tuple[str, int]]:
        return self._timed("reviews", code, super().reviews, code)

    def ratings(self, code: str) -> str | None:
        return self._timed("ratings", code, super().ratings, code)


def read_counts(log: str) -> dict:
    """Aggregate every worker's log under ``log`` so far."""
    calls: Counter = Counter()
    keys: dict[str, set] = {}
    ns = 0
    for name in sorted(os.listdir(log)):
        path = os.path.join(log, name)
        with open(path) as fh:
            for line in fh:
                kind, key, dt = line.rstrip("\n").split("\t")
                calls[kind] += 1
                keys.setdefault(kind, set()).add(key)
                ns += int(dt)
    return {
        "calls": dict(calls),
        "distinct": {k: len(v) for k, v in keys.items()},
        "backend_s": ns / 1e9,
    }
