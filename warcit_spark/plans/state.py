"""Crawl-state catalog: parquet snapshot tables with atomic round commits.

The design target is Iceberg (`frontier`/`seen`/`fetched` as Iceberg
tables, one transaction per crawl round, resume = read the latest
snapshot — SURVEY.md §7.0).  The sandbox has no Iceberg runtime jar, so this
module implements the same contract on plain parquet + an atomic commit
marker, preserving every semantic the engine relies on:

- **round atomicity**: each round writes its table deltas under
  ``<root>/<table>/round=<k>/`` (idempotent ``overwrite``), then publishes a
  commit marker via ``os.replace`` (atomic on POSIX).  The marker is written
  *last*, mirroring the reference's write-results-after-every-file
  checkpoint discipline (/root/reference/warcit/converter.py:129-130) and
  solving the cross-table-atomicity hard part (SURVEY.md §7.3 #4): a round
  without a marker is invisible and is simply re-run on resume.
- **partition pruning**: ``round`` is a physical partition column, so
  ``read_table(upto_round=k)`` prunes files without touching newer data.
- **seen layout**: the seen table is Hive-bucketed by url (the no-Iceberg
  analog of ``bucket(N, url)``) and partitioned by ``round_seen``, so the
  per-round anti-join scans it co-partitioned (zero seen-side exchange)
  and crash debris is one partition directory, dropped like any other.
- **lineage**: the commit marker is the round's audit record.  It holds the
  round summary and the per-partition lineage counters (the analog of
  Iceberg snapshot summary metadata), so they publish with the round or not
  at all.

On a real cluster, swap ``write_delta``/``read_table`` for
``df.writeTo(...).append()`` / ``spark.read.table(...)`` — call sites do not
change.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = ("frontier", "seen", "fetched")

SEEN_COLS = ("url", "host", "reason", "round_seen")

# State deltas are engine-internal and re-read within the same crawl, so
# they favor write+read CPU over ratio (published parquet keeps zstd).
STATE_CODEC = "snappy"


@dataclass
class CrawlState:
    root: str
    # url-hash buckets of the seen table: the per-round anti-join scans
    # seen co-partitioned, so only the O(round-delta) candidate side
    # shuffles, never the full seen set (the 10^10-URL layout)
    seen_buckets: int = 64

    def __post_init__(self) -> None:
        if self.seen_buckets <= 0:
            raise ValueError(f"seen_buckets must be > 0, got {self.seen_buckets}")
        os.makedirs(self.root, exist_ok=True)

    # ---------------------------------------------------------------- commits
    def _marker_path(self, round_id: int) -> str:
        return os.path.join(self.root, f"_committed_round_{round_id:06d}.json")

    def committed_round(self) -> int:
        """Highest committed round id, or -1."""
        rounds = [
            int(name[len("_committed_round_") : -len(".json")])
            for name in os.listdir(self.root)
            if name.startswith("_committed_round_") and name.endswith(".json")
        ]
        return max(rounds, default=-1)

    def commit_round(self, round_id: int, summary: dict) -> None:
        """Atomically publish a round (write marker last, via os.replace)."""
        payload = dict(summary)
        payload["round"] = round_id
        payload["committed_at_unix"] = time.time()
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".tmp")
        with os.fdopen(fd, "w") as fh:
            json.dump(payload, fh, sort_keys=True)
        os.replace(tmp, self._marker_path(round_id))

    # ----------------------------------------------------------------- tables
    def delta_path(self, table: str, round_id: int) -> str:
        return os.path.join(self.root, table, f"round={round_id}")

    # ---------------------------------------------------- bucketed seen table
    def _seen_table_name(self) -> str:
        return "seen_b_" + hashlib.md5(self.root.encode()).hexdigest()[:12]

    def _seen_location(self) -> str:
        return os.path.join(self.root, "seen_bucketed")

    def _ensure_seen_table(self, spark: SparkSession) -> str:
        """Register the bucketed seen table in this session's catalog
        (idempotent; re-registers over existing files after a restart —
        the catalog tracks partitions, so they are recovered from disk).

        A registration whose files are gone (an earlier state at this root,
        deleted) is dropped: the first append re-creates the table with
        this state's bucket count."""
        name = self._seen_table_name()
        registered = spark.catalog.tableExists(name)
        located = os.path.isdir(self._seen_location())
        if registered and not located:
            spark.sql(f"DROP TABLE {name}")
        elif not registered and located:
            spark.sql(
                f"CREATE TABLE {name} "
                "(url STRING, host STRING, reason STRING, round_seen INT) "
                "USING PARQUET PARTITIONED BY (round_seen) "
                "CLUSTERED BY (url) SORTED BY (url) "
                f"INTO {self.seen_buckets} BUCKETS "
                f"LOCATION '{self._seen_location()}'"
            )
            spark.catalog.recoverPartitions(name)
        return name

    def _write_seen_bucketed(self, df: DataFrame) -> None:
        """Append one round's seen delta, bucketed by url, into its
        ``round_seen=<k>`` partition, then refresh the catalog table.

        Reads filter ``round_seen <= committed`` and :meth:`drop_uncommitted`
        deletes partitions newer than the marker, so a crashed append is
        invisible before the replay and gone after it.  The refresh
        invalidates every cached plan that scans the table; the crawl
        round's frames are checkpoints rooted at their own blocks, so it
        drops none of them.
        """
        spark = df.sparkSession
        name = self._ensure_seen_table(spark)
        # repartitioning by the bucket key first aligns tasks to buckets
        # (same murmur3 both places): one file per bucket and round
        (
            df.select(*SEEN_COLS)
            .repartition(self.seen_buckets, "url")
            .write.format("parquet")
            .partitionBy("round_seen")
            .option("compression", STATE_CODEC)
            .bucketBy(self.seen_buckets, "url")
            .sortBy("url")
            .option("path", self._seen_location())
            .mode("append")
            .saveAsTable(name)
        )
        spark.catalog.refreshTable(name)

    def write_delta(
        self, df: DataFrame, table: str, round_id: int, refresh: bool = True
    ) -> None:
        """Write one round's delta for a table.  ``overwrite`` keeps replay
        idempotent: a crashed, uncommitted round is silently rewritten.

        A delta's round is its partition directory name (``round=<k>``),
        inferred again at read time; the frames carry no ``round`` column.
        Seen rows carry their own ``round_seen``, and the seen append
        always refreshes the catalog (see :meth:`_write_seen_bucketed`).
        ``refresh`` is kept only because existing callers pass
        ``refresh=True``, so False is rejected.
        """
        if not refresh:
            raise ValueError("refresh=False is not supported")
        if table == "seen":
            self._write_seen_bucketed(df)
            return
        df.write.mode("overwrite").option("compression", STATE_CODEC).parquet(
            self.delta_path(table, round_id)
        )

    def read_round_delta(
        self, spark: SparkSession, table: str, round_id: int
    ) -> DataFrame | None:
        """Read exactly one round's delta (no union over history, no
        filter): the plan stays O(1) in crawl length instead of growing a
        unioned scan per round — per-round Catalyst analysis time is a
        serial cost that does not shrink with executors."""
        path = self.delta_path(table, round_id)
        if not os.path.isdir(path):
            return None
        return spark.read.parquet(path)

    def read_table(
        self, spark: SparkSession, table: str, upto_round: int | None = None
    ) -> DataFrame | None:
        """Union of committed deltas (round <= upto_round), partition-pruned.

        Returns None when the table has no committed data yet (callers
        supply their own empty frame with the right schema).
        """
        if upto_round is None:
            upto_round = self.committed_round()
        if upto_round < 0:
            return None
        if table == "seen":
            if not os.path.isdir(self._seen_location()):
                return None
            name = self._ensure_seen_table(spark)
            return spark.table(name).where(F.col("round_seen") <= upto_round)
        base = os.path.join(self.root, table)
        if not os.path.isdir(base):
            return None
        existing = [
            r
            for r in range(upto_round + 1)
            if os.path.isdir(self.delta_path(table, r))
        ]
        if not existing:
            return None
        df = spark.read.option("basePath", base).parquet(
            *[self.delta_path(table, r) for r in existing]
        )
        return df

    def drop_uncommitted(self) -> None:
        """Remove delta dirs newer than the last committed round (crash
        debris); called on resume before re-running the next round."""
        committed = self.committed_round()
        for table in TABLES:
            # round r legitimately *produces* the frontier delta for r+1,
            # so the frontier table keeps one delta beyond the marker
            keep_upto = committed + 1 if table == "frontier" else committed
            if table == "seen":
                base, key = self._seen_location(), "round_seen="
            else:
                base, key = os.path.join(self.root, table), "round="
            if not os.path.isdir(base):
                continue
            for name in os.listdir(base):
                if not name.startswith(key):
                    continue
                r = int(name.split("=", 1)[1])
                if r > keep_upto:
                    shutil.rmtree(os.path.join(base, name), ignore_errors=True)

    def drop(self, spark: SparkSession) -> None:
        """Delete the state: its seen table's catalog entry and the root."""
        spark.sql(f"DROP TABLE IF EXISTS {self._seen_table_name()}")
        shutil.rmtree(self.root, ignore_errors=True)
