"""stream_trickle: ``CDCApplier.run_available`` over many small changelog
files, one file per trigger, with compaction and bucket splitting on.

Keys are uniform (``hot_key_pct=0``). Set-up loads a base slice of the
log into a fresh table with one bulk merge; the timed round then streams
two changelog directories: the first in the original event schema, the
second with one added payload column, so ``reconcile.evolve`` changes the
table schema halfway through. Per-batch fixed costs, the streaming
bookkeeping and the copy-on-write rewrite of touched buckets dominate.
One whole untimed round warms the run, because a round keeps getting
faster until every code path in it (stream start, schema evolution,
compaction, split) has run once.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from bear_spark.events import change_events
from bear_spark.lake import LakeTable
from bear_spark.schema import CHANGE_EVENT_SCHEMA, KEY_COLS, TRANSCRIPT_SCHEMA
from bear_spark.sources import changelog
from bear_spark.streaming.apply import CDCApplier
from perfbench.workloads.common import (
    add_counters,
    check_against_oracle,
    same_counters,
    table_stats,
)

BASE_EVENTS = 30_000
FILE_EVENTS = 5_000
FILES_PER_PHASE = 2
BUCKETS = 4
SPLIT_ROWS_PER_BUCKET = 4_000
COMPACT_EVERY = 2
ADDED_COLUMN = "text_len"
EVOLVED_SCHEMA = T.StructType(
    CHANGE_EVENT_SCHEMA.fields + [T.StructField(ADDED_COLUMN, T.IntegerType(), True)]
)


class _TimedApplier(CDCApplier):
    """Times each micro-batch (merge plus the maintenance it triggers) as
    one operation of the harness."""

    def __init__(self, h, *args, **kw):
        super().__init__(*args, **kw)
        self._h = h

    def _apply_batch(self, batch, epoch_id):
        self._h.op("batch", super()._apply_batch, batch, epoch_id)


class StreamTrickle:
    NAME = "stream_trickle"
    WORK_UNIT = "events"
    OP_KINDS = ("batch",)
    REPORT_LATENCIES = {"batch_s": ("batch",)}
    WARM_ROUND = True
    MIN_ROUNDS = 3

    def __init__(self, h):
        self.h = h
        self.dirs = {k: os.path.join(h.workdir, k) for k in ("base", "log_a", "log_b")}
        self.table = None
        self.per_round: list[dict] = []
        self.check_summary: dict = {}
        self._setups = 0
        self.retries: dict[int, int] = {}  # merge retries per round index

    def _events(self):
        n = BASE_EVENTS + 2 * FILES_PER_PHASE * FILE_EVENTS
        return change_events(self.h.spark, n, n_source_partitions=4, seed=self.h.seed,
                             hot_key_pct=0)

    def stage(self) -> None:
        ev = self._events().persist()
        ev.count()  # generate once; the writes below read the cached events
        lsn = F.col("lsn")
        split = BASE_EVENTS + FILES_PER_PHASE * FILE_EVENTS
        ev.filter(lsn < BASE_EVENTS).write.mode("overwrite").parquet(self.dirs["base"])
        t = time.perf_counter()
        files = changelog.write_changelog(
            ev.filter((lsn >= BASE_EVENTS) & (lsn < split)),
            self.dirs["log_a"], FILES_PER_PHASE)
        files += changelog.write_changelog(
            ev.filter(lsn >= split).withColumn(ADDED_COLUMN, F.length("text")),
            self.dirs["log_b"], FILES_PER_PHASE)
        self.h.extra["changelog_write_s"] = time.perf_counter() - t
        ev.unpersist()
        # the file source takes files in modification-time order; files
        # written by one job can tie, so give them log order explicitly
        # (the counters then repeat exactly from run to run)
        for i, f in enumerate(files):
            os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

    def setup(self) -> None:
        self._setups += 1
        self.root = os.path.join(self.h.workdir, "tbl")
        self.table = LakeTable.create(
            self.h.spark, self.root, TRANSCRIPT_SCHEMA, key_cols=KEY_COLS,
            num_buckets=BUCKETS, overwrite=True,
        )
        self.table.merge(self.h.spark.read.parquet(self.dirs["base"]))

    def _applier(self, phase: str, **kw) -> _TimedApplier:
        ck = os.path.join(self.h.workdir, f"ck-{self._setups}-{phase}")
        return _TimedApplier(
            self.h, self.h.spark, self.table, self.dirs[f"log_{phase}"], ck,
            metrics_dir=os.path.join(self.h.workdir, f"metrics-{self._setups}"),
            max_files_per_trigger=1, compact_every=COMPACT_EVERY,
            split_rows_per_bucket=SPLIT_ROWS_PER_BUCKET, split_step_buckets=2, **kw,
        )

    def round(self) -> float:
        counters: dict = {}
        retries = 0
        for app in (self._applier("a"), self._applier("b", event_schema=EVOLVED_SCHEMA)):
            for m in app.run_available():
                if m.get("merge_retries"):
                    retries += m["merge_retries"]
                    self.h.count_failure(f"batch {m['epoch_id']} needed "
                                         f"{m['merge_retries']} merge retries")
                if m.get("skipped"):
                    self.h.count_failure(f"batch {m['epoch_id']} was skipped")
                add_counters(counters, m)
        self.per_round.append(counters)
        self.retries[self.h.current_round] = retries
        return counters["rows_in"]

    def layer_extras(self) -> dict:
        out = table_stats(self.table)
        out["sources.changelog.write_s"] = self.h.extra["changelog_write_s"]
        traced = [self.retries[r.index] for r in self.h.measured(traced=True)]
        out["streaming.apply.merge_retries"] = sum(traced) / len(traced)
        return out

    def verify(self) -> list[str]:
        problems = []
        p = same_counters(self.per_round, self.NAME, self.h.seed)
        if p:
            problems.append(p)
        if ADDED_COLUMN not in self.table.payload_schema().fieldNames():
            problems.append(f"schema did not evolve to include {ADDED_COLUMN}")
        spark = self.h.spark
        log = (spark.read.parquet(self.dirs["base"])
               .withColumn(ADDED_COLUMN, F.lit(None).cast("int"))
               .unionByName(spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(self.dirs["log_a"])
                            .withColumn(ADDED_COLUMN, F.lit(None).cast("int")))
               .unionByName(spark.read.schema(EVOLVED_SCHEMA).parquet(self.dirs["log_b"])))
        p = check_against_oracle(self.table, log)
        if p:
            problems.append(p)
        self.check_summary = {"counters": self.per_round[0] if self.per_round else None,
                              "rounds_compared": len(self.per_round)}
        return problems
