"""The query half of ``serve_mix``: the 12 headline registry queries over
a generated corpus.

The corpus (``perfbench.querydata``) is generated from the seed and
written as parquet while staging. A round runs the suite once, each
query fetching its result to the Spark driver as a pandas frame, as a
caller would. There is no untimed pass first: an analytical query is
typically run once, so each timed run is the query's first in a JVM
that set-up and the vector half have already warmed. After the timed
region the last results are compared with their DuckDB oracles by
``tools/check_correctness.py``'s comparison.
"""

from __future__ import annotations

import importlib.util
import os

import pyarrow.parquet as pq

from bear_spark.queries import REGISTRY, resolve_oracles
from perfbench import querydata
from perfbench.metrics import HEADLINE_QUERIES

SF = 0.01


def _check_correctness():
    """Import ``tools/check_correctness.py`` (a script, not a package)."""
    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    path = os.path.join(repo, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QuerySuite:
    OP_KINDS = tuple(HEADLINE_QUERIES)

    def __init__(self, h):
        self.h = h
        self.corpus = os.path.join(h.workdir, "corpus")
        self.check_summary: dict = {}
        self.results: dict = {}  # the last round's result of each query

    def stage(self) -> None:
        self.tables = querydata.tables(self.h.seed, SF)
        os.makedirs(self.corpus, exist_ok=True)
        for name, tbl in self.tables.items():
            pq.write_table(tbl, os.path.join(self.corpus, f"{name}.parquet"))

    def setup(self) -> None:
        pass  # the queries only read the staged corpus

    def round(self) -> None:
        spark = self.h.spark
        for name in HEADLINE_QUERIES:
            self.results[name] = self.h.op(
                name, lambda name=name: REGISTRY[name](spark, self.corpus).toPandas())

    def layer_extras(self) -> dict:
        return {}

    def verify(self) -> list[str]:
        import duckdb

        cc = _check_correctness()
        os.environ["BEAR_SPARK_ORACLE_SF"] = self.corpus
        oracles = resolve_oracles()
        con = duckdb.connect()
        for name in self.tables:
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"'{os.path.join(self.corpus, name)}.parquet'")
        problems, rows = [], {}
        for name in HEADLINE_QUERIES:
            spark_pdf = self.results[name]
            duck_pdf = con.sql(oracles[name]).df()
            rows[name] = len(spark_pdf)
            for p in cc.compare(name, spark_pdf, duck_pdf):
                problems.append(f"{name}: {p}")
            if len(duck_pdf) == 0:
                problems.append(f"{name}: oracle returned no rows")
        con.close()
        self.check_summary = {"rows": rows}
        return problems
