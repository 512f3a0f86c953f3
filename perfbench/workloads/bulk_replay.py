"""bulk_replay: a few large changelog batches merged into a fresh table.

Generator defaults (20% of events on 4 hot conv_ids, 8% deletes, ±2 h
disorder), staged once to parquet, one directory per batch. Each round
creates a fresh table, merges a small warm slice (part of set-up), then
merges the large batches (timed). The Arrow merge kernel and the bucket
shuffle do most of the work.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bear_spark.events import change_events
from bear_spark.lake import LakeTable
from bear_spark.schema import KEY_COLS, TRANSCRIPT_SCHEMA
from perfbench.workloads.common import (
    add_counters,
    check_against_oracle,
    same_counters,
    table_stats,
)

WARM_EVENTS = 20_000
BATCH_EVENTS = 100_000
BATCHES = 4
BUCKETS = 16


class BulkReplay:
    NAME = "bulk_replay"
    WORK_UNIT = "events"
    OP_KINDS = ("merge",)
    REPORT_LATENCIES = {"batch_s": ("merge",)}

    def __init__(self, h):
        self.h = h
        self.log_dir = os.path.join(h.workdir, "changelog")
        self.table = None
        self.per_round: list[dict] = []
        self.check_summary: dict = {}

    def _batch(self, mb: int):
        return self.h.spark.read.parquet(os.path.join(self.log_dir, f"_mb={mb}"))

    def stage(self) -> None:
        spark = self.h.spark
        total = WARM_EVENTS + BATCHES * BATCH_EVENTS
        ev = change_events(spark, total, n_source_partitions=8, seed=self.h.seed)
        mb = F.when(F.col("lsn") < WARM_EVENTS, 0).otherwise(
            1 + ((F.col("lsn") - WARM_EVENTS) / BATCH_EVENTS).cast("int"))
        (ev.withColumn("_mb", mb).repartition(2 * self.h.cores)
         .write.partitionBy("_mb").mode("overwrite").parquet(self.log_dir))

    def setup(self) -> None:
        self.table = LakeTable.create(
            self.h.spark, os.path.join(self.h.workdir, "tbl"), TRANSCRIPT_SCHEMA,
            key_cols=KEY_COLS, num_buckets=BUCKETS, overwrite=True,
        )
        self.table.merge(self._batch(0))

    def round(self) -> float:
        counters: dict = {}
        for mb in range(1, BATCHES + 1):
            m = self.h.op("merge", lambda mb=mb: self.table.merge(self._batch(mb)))
            if m.get("skipped"):
                self.h.count_failure(f"merge of batch {mb} was skipped")
            add_counters(counters, m)
        self.per_round.append(counters)
        return counters["rows_in"]

    def layer_extras(self) -> dict:
        return table_stats(self.table)

    def verify(self) -> list[str]:
        problems = []
        p = same_counters(self.per_round, self.NAME, self.h.seed)
        if p:
            problems.append(p)
        log = self.h.spark.read.parquet(self.log_dir).drop("_mb")
        p = check_against_oracle(self.table, log)
        if p:
            problems.append(p)
        self.check_summary = {"counters": self.per_round[0] if self.per_round else None,
                              "rounds_compared": len(self.per_round)}
        return problems
