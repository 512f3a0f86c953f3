"""serve_mix: one client serving a vector-indexed CDC table and the
headline analytical queries from one session.

A round runs the vector cycles of ``vector_mixed`` (small merge plus index
refresh, lookup, changes, probe, exact search, author search; once),
then one pass over the 12 headline registry queries of ``query_suite``.
Set-up is the vector table's: embed the base slice, create, merge, build
the IVF index. The two halves share the session's start-up and warm-up,
which is most of what either would cost alone.
"""

from __future__ import annotations

from perfbench.workloads.query_suite import QuerySuite
from perfbench.workloads.vector_mixed import VectorMixed


class ServeMix:
    NAME = "serve_mix"
    WORK_UNIT = "operations"
    OP_KINDS = VectorMixed.OP_KINDS + QuerySuite.OP_KINDS
    REPORT_LATENCIES = {
        "batch_s": ("merge_refresh",),
        "lookup_s": ("lookup",),
        "search_s": ("probe", "search_resource", "search_author"),
        "changes_s": ("changes",),
        "query_s": QuerySuite.OP_KINDS,
    }

    def __init__(self, h):
        self.h = h
        self.parts = (VectorMixed(h), QuerySuite(h))
        self.check_summary: dict = {}

    def stage(self) -> None:
        for p in self.parts:
            p.stage()

    def setup(self) -> None:
        for p in self.parts:
            p.setup()

    def warm(self) -> None:
        self.parts[0].warm()  # the queries run cold, see query_suite

    def round(self) -> float:
        """Runs both halves; the work is the number of operations done."""
        n0 = len(self.h.samples)
        for p in self.parts:
            p.round()
        return float(len(self.h.samples) - n0)

    def layer_extras(self) -> dict:
        out: dict = {}
        for p in self.parts:
            out.update(p.layer_extras())
        return out

    def verify(self) -> list[str]:
        problems = [q for p in self.parts for q in p.verify()]
        self.check_summary = {"vector": self.parts[0].check_summary,
                              "queries": self.parts[1].check_summary}
        return problems
