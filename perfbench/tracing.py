"""Spans and Spark job groups recorded from outside the program.

The benchmark never edits the engine: it times calls into its public
functions, and labels the Spark jobs each call submits with a job group so
the event log attributes executor time to the call.  Spans are kept in
memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from warcit_spark.plans.state import CrawlState

_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; ``enabled=False`` records nothing and sets no group."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        """Time a block; with ``group``, its Spark jobs run in that job group
        (restored on exit, so pooled threads do not carry it over)."""
        if not self.enabled:
            yield attrs
            return
        parent = getattr(self._local, "current", None)
        self._local.current = name
        prev_group = self.sc.getLocalProperty(_GROUP_KEY)
        if group is not None:
            self.sc.setJobGroup(group, name)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            if group is not None:
                if prev_group is None:
                    self.sc.setLocalProperty(_GROUP_KEY, None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(prev_group, prev_group)
            self._local.current = parent
            with self._lock:
                self.spans.append(Span(name, start, end, parent, attrs))

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, **s.attrs,
                }) + "\n")


class TracedCrawlState(CrawlState):
    """CrawlState whose reads, writes, seen refresh and commit are spans.

    ``crawl_round`` calls ``write_delta`` from its own thread pool; the
    override sets the job group inside that pool thread, so each table's
    write jobs fold into ``write-<table>``.
    """

    tracer: Tracer | None = None

    def write_delta(self, df, table, round_id, refresh=True):
        with self.tracer.span(f"state.write.{table}", group=f"write-{table}"):
            return super().write_delta(df, table, round_id, refresh=refresh)

    def read_round_delta(self, spark, table, round_id):
        with self.tracer.span("state.read", group="read"):
            return super().read_round_delta(spark, table, round_id)

    def read_table(self, spark, table, upto_round=None):
        with self.tracer.span("state.read", group="read"):
            return super().read_table(spark, table, upto_round)

    def refresh_seen(self, spark):
        with self.tracer.span("state.refresh_seen", group="refresh"):
            return super().refresh_seen(spark)

    def commit_round(self, round_id, summary):
        with self.tracer.span("state.commit"):
            return super().commit_round(round_id, summary)
