"""In-memory spans, written out once at the end of a traced run.

A span has a name, a start and an end (seconds since the epoch), the
id of the span that caused it, and the id of the query execution it
belongs to (``None`` for session set-up).
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from collections.abc import Iterator

from stats import self_times


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    def add(
        self,
        name: str,
        start: float,
        end: float,
        parent: int | None = None,
        exec_id: int | None = None,
    ) -> int:
        span_id = next(self._ids)
        self.spans.append(
            {
                "id": span_id,
                "name": name,
                "start": start,
                "end": end,
                "parent": parent,
                "exec_id": exec_id,
            }
        )
        return span_id

    @contextlib.contextmanager
    def span(
        self, name: str, parent: int | None = None, exec_id: int | None = None
    ) -> Iterator[dict]:
        """Time the body; yields the span record, whose ``id`` children use."""
        self.add(name, time.time(), float("nan"), parent, exec_id)
        record = self.spans[-1]
        try:
            yield record
        finally:
            record["end"] = time.time()

    def self_time_by_name(self, exec_ids: set[int]) -> dict[str, float]:
        """Summed self time per span name, over the given executions."""
        st = self_times(self.spans)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["exec_id"] in exec_ids:
                out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
        return out

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as fh:
            json.dump([dict(s, self_s=st[s["id"]]) for s in self.spans], fh)
