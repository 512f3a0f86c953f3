"""The vector half of ``serve_mix``: one client alternating small writes
with reads on a table that carries an ``array<double>`` embedding column
and an IVF index.

Set-up embeds the base slice of the log with
``operators.embedding.embed_text_expr`` (written once, so the step can be
timed on its own), creates the table, merges the embedded slice and
builds the index. Each timed cycle then runs, in order: a small merge of
a freshly embedded batch plus an incremental index ``refresh()``, a
``lookup`` of a key the merge touched, the ``changes`` feed of that
merge, an index ``probe``, an exact ``search_resource`` and a
``search_author`` rerank over the same query vector. The table's read
side runs beside its writes, and the nested payload takes the Catalyst
merge path.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T

from bear_spark.events import change_events
from bear_spark.lake import LakeTable
from bear_spark.oracle import replay
from bear_spark.operators.embedding import embed_text_expr
from bear_spark.schema import KEY_COLS, TRANSCRIPT_FIELDS
from bear_spark.search import SearchEngine
from perfbench.workloads.common import add_counters, same_counters, table_stats

BASE_EVENTS = 4_000
MERGE_EVENTS = 1_000
CYCLES = 1
DIM = 8
N_LISTS = 8
KMEANS_ITER = 3
BUCKETS = 4
TOP_K = 10
SCHEMA = T.StructType(
    TRANSCRIPT_FIELDS + [T.StructField("embedding", T.ArrayType(T.DoubleType()), True)]
)
OP_KINDS = ("merge_refresh", "lookup", "changes", "probe", "search_resource",
            "search_author")


def embedded(df):
    """``df`` with an ``embedding`` column from ``operators.embedding``."""
    cols = [f"e{i}" for i in range(DIM)]
    return embed_text_expr(df, dim=DIM).withColumn("embedding", F.array(*cols)).drop(*cols)


def query_vector(seed: int, k: int) -> list[float]:
    """A query embedding made the way ``operators.embedding`` embeds text."""
    text = f"query seed={seed} k={k}"
    return [round(int(hashlib.md5(f"{text}#{i}".encode()).hexdigest()[:4], 16) / 65535.0, 6)
            for i in range(DIM)]


def _hashable(pdf):
    pdf = pdf.copy()
    pdf["embedding"] = [tuple(float(x) for x in v) if v is not None else None
                        for v in pdf["embedding"]]
    return pdf


class VectorMixed:
    OP_KINDS = OP_KINDS

    def __init__(self, h):
        self.h = h
        self.log_dir = os.path.join(h.workdir, "changelog")
        self.base_dir = os.path.join(h.workdir, "base-embedded")
        self.table = None
        self.index = None
        self.per_round: list[dict] = []
        self.lookups: list[tuple[int, str, object]] = []
        self.recalls: list[float] = []
        self.check_summary: dict = {}

    def _batch(self, mb: int):
        return self.h.spark.read.parquet(os.path.join(self.log_dir, f"_mb={mb}"))

    def stage(self) -> None:
        total = BASE_EVENTS + CYCLES * MERGE_EVENTS
        ev = change_events(self.h.spark, total, n_source_partitions=4, seed=self.h.seed)
        mb = F.when(F.col("lsn") < BASE_EVENTS, 0).otherwise(
            1 + ((F.col("lsn") - BASE_EVENTS) / MERGE_EVENTS).cast("int"))
        ev.withColumn("_mb", mb).write.partitionBy("_mb").mode("overwrite").parquet(self.log_dir)
        # the key each cycle looks up: the first conv_id its merge touches
        first = (self.h.spark.read.parquet(self.log_dir).filter(F.col("_mb") > 0)
                 .select("_mb", "lsn", "conv_id").toPandas()
                 .sort_values("lsn").groupby("_mb")["conv_id"].first())
        self.keys = {int(m): key for m, key in first.items()}

    def setup(self) -> None:
        h = self.h
        h.part("embed", lambda: embedded(self._batch(0)).write.mode("overwrite")
               .parquet(self.base_dir))
        self.table = LakeTable.create(
            h.spark, os.path.join(h.workdir, "tbl"), SCHEMA, key_cols=KEY_COLS,
            num_buckets=BUCKETS, overwrite=True,
        )
        self.table.merge(h.spark.read.parquet(self.base_dir))
        self.index = h.part("build", self.table.build_vector_index, "ivf", kind="ivf",
                            n_lists=N_LISTS, seed=7, max_iter=KMEANS_ITER)

    def warm(self) -> None:
        """Run each read once on the set-up state, so the first timed
        cycle does not pay for first-use planning and code generation."""
        q = query_vector(self.h.seed, 0)
        self.table.lookup(self.keys[1]).toPandas()
        self.table.changes(0).collect()
        self.index.probe(q, k=TOP_K).collect()
        self._engine().search_resource(q, top_k=TOP_K).collect()
        self._engine(grouped=True).search_author(q, "groups", top_k=100).collect()

    def _engine(self, grouped: bool = False) -> SearchEngine:
        corpus = self.table.read()
        if grouped:
            corpus = corpus.withColumn("groups", F.array("role"))
        return SearchEngine(corpus, id_col="conv_id")

    def _merge_refresh(self, mb: int) -> dict:
        m = self.table.merge(embedded(self._batch(mb)))
        self.index = self.index.refresh()
        return m

    def round(self) -> None:
        h, counters = self.h, {}
        for mb in range(1, CYCLES + 1):
            before = self.table.snapshot["version"]
            m = h.op("merge_refresh", self._merge_refresh, mb)
            add_counters(counters, m)
            if m.get("skipped"):
                h.count_failure(f"merge of batch {mb} was skipped")
            if (self.index.last_refresh or {}).get("mode") != "incremental":
                h.count_failure(f"index refresh after batch {mb} fell back to a rebuild")
            key = self.keys[mb]
            rows = h.op("lookup", lambda: self.table.lookup(key).toPandas(), fatal=False)
            if rows is not None:
                self.lookups.append((mb, key, rows))
            h.op("changes", lambda: self.table.changes(before).collect(), fatal=False)
            q = query_vector(h.seed, mb)
            approx = h.op("probe", lambda: self.index.probe(q, k=TOP_K).collect(),
                          fatal=False)
            exact = h.op("search_resource",
                         lambda: self._engine().search_resource(q, top_k=TOP_K).collect(),
                         fatal=False)
            h.op("search_author",
                 lambda: self._engine(grouped=True).search_author(
                     q, "groups", top_k=100).collect(),
                 fatal=False)
            if approx is not None and exact is not None:
                want = [(r["conv_id"], r["distance"]) for r in exact]
                got = [(r["conv_id"], r["cos_sim"]) for r in approx]
                self.recalls.append(sum(1 for x in got if x in want) / max(1, len(want)))
        self.per_round.append(counters)

    def layer_extras(self) -> dict:
        out = table_stats(self.table)
        out["lake.vector_index.recall_at_10"] = (
            sum(self.recalls) / len(self.recalls) if self.recalls else 0.0)
        out["lake.vector_index.recall_queries"] = float(len(self.recalls))
        return out

    def verify(self) -> list[str]:
        """Merge counters repeat across rounds and runs of the seed, and
        each lookup returned what the replay oracle gives for its key over
        the log up to that cycle's batch."""
        problems = []
        p = same_counters(self.per_round, "serve_mix.vector", self.h.seed)
        if p:
            problems.append(p)
        keys = sorted({key for _, key, _ in self.lookups})
        log = (embedded(self.h.spark.read.parquet(self.log_dir))
               .filter(F.col("conv_id").isin(keys)).toPandas()) if keys else None
        checked = 0
        for mb, key, rows in self.lookups:
            applied = log[(log["_mb"] <= mb) & (log["conv_id"] == key)].drop(columns=["_mb"])
            want = _hashable(replay(applied))
            got = _hashable(rows)
            cols = [c for c in want.columns if c in got.columns]
            a = got[cols].sort_values(KEY_COLS).reset_index(drop=True)
            b = want[cols].sort_values(KEY_COLS).reset_index(drop=True)
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False)
            except AssertionError:
                problems.append(f"lookup({key}) after batch {mb} differs from the oracle "
                                f"({len(a)} vs {len(b)} rows)")
            checked += 1
        if not checked:
            problems.append("no lookup completed")
        self.check_summary = {"counters": self.per_round[0] if self.per_round else None,
                              "lookups_checked": checked,
                              "recall_at_10": self.recalls and min(self.recalls)}
        return problems
