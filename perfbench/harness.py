"""Round loop, timing, failure accounting and metric assembly.

A workload provides ``stage`` (untimed input generation), ``setup``
(fresh state for one round; each call is a set-up sample, and the
layer calls inside it can be timed with ``part``), an optional
``warm`` (untimed first use of the operations a round times), ``round``
(the timed operations) and ``verify`` (oracle checks, untimed). The
harness sets up three times before the first round (the first one
warms the JVM and the Python workers; the median discards it), warms,
then sets up and runs rounds until ``seconds`` of round time have
passed. A workload with ``WARM_ROUND = True`` is warmed by one whole
untimed round instead: its first rounds keep getting faster (JIT, first
use of every code path of a round), so only rounds after a full one are
timed. It sets up once (cold) before the warm round and again before
every timed round. ``MIN_ROUNDS`` sets how many timed rounds a workload
runs at least, so a median over rounds has rounds to choose from on a
slow host too. A traced run runs at least two rounds, alternating
rounds with span wrappers installed (even) and without (odd), so the
tracing overhead is measured inside one process, on the same data,
after the same warm-up. The traced round comes first and is the less
warm of a pair, so the overhead it shows is an upper bound.
"""

from __future__ import annotations

import sys
import time
import uuid
from dataclasses import dataclass, field

import bench
from perfbench import metrics, proc
from perfbench.stats import median
from perfbench.trace import NullTracer, Tracer, install

PRE_SETUPS = 3


@dataclass
class Sample:
    kind: str
    seconds: float
    round: int


@dataclass
class Round:
    index: int
    traced: bool
    wall: float = 0.0
    work: float = 0.0
    cpu: dict = field(default_factory=dict)  # CPU seconds by process role
    cpu_total_s: float = 0.0
    executor_cpu_s: float = 0.0


class OpFailed(RuntimeError):
    pass


class Harness:
    def __init__(self, spark, workdir: str, seed: int, seconds: float, trace: bool,
                 cores: int, heap: str):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = cores
        self.heap = heap
        self.run_id = uuid.uuid4().hex[:12]
        self.tracer: Tracer | None = Tracer(self.run_id) if trace else None
        self.active = NullTracer()  # the tracer of the current round
        self.samples: list[Sample] = []
        self.rounds: list[Round] = []
        self.setup_times: list[float] = []
        self.parts: dict[str, list[float]] = {}  # set-up steps, per call
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.extra: dict = {}  # workload-specific values for the metric assembly
        self.current_round = -1

    # ------------------------------------------------------------ ops
    def op(self, kind: str, fn, *args, fatal: bool = True, **kw):
        """Time one operation. A raised exception counts as a failed
        operation; ``fatal`` ones abort the run, others are recorded and
        the workload goes on."""
        self.attempted += 1
        p0 = time.perf_counter()
        try:
            with self.active.span(kind):
                out = fn(*args, **kw)
        except Exception as ex:
            self.failed += 1
            self.failures.append(f"{kind}: {type(ex).__name__}: {ex}"[:500])
            if fatal:
                raise OpFailed(kind) from ex
            return None
        self.samples.append(Sample(kind, time.perf_counter() - p0, self.current_round))
        return out

    def part(self, name: str, fn, *args, **kw):
        """Run one step of a set-up and record its duration under
        ``name`` (set-up is outside the rounds, so their span wrappers
        do not see it)."""
        p0 = time.perf_counter()
        out = fn(*args, **kw)
        self.parts.setdefault(name, []).append(time.perf_counter() - p0)
        return out

    def count_failure(self, what: str) -> None:
        """An operation that returned but did not do its job (for
        example a merge that needed a retry)."""
        self.failed += 1
        self.failures.append(what)

    # ----------------------------------------------------------- loop
    def _phase(self, name: str, t0: float) -> float:
        now = time.perf_counter()
        print(f"perfbench: {name} {now - t0:.2f}s", file=sys.stderr, flush=True)
        return now

    def run(self, workload_cls) -> dict:
        wl = workload_cls(self)
        t = time.perf_counter()
        wl.stage()
        t = self._phase("stage", t)
        warm_round = getattr(wl, "WARM_ROUND", False)
        for _ in range(1 if warm_round else PRE_SETUPS):
            self._setup(wl)
        t = self._phase("setup", t)
        if warm_round:
            wl.round()  # its samples carry round -1, which no metric reads
            t = self._phase("warm round", t)
        elif hasattr(wl, "warm"):
            wl.warm()
            t = self._phase("warm", t)
        min_rounds = max(getattr(wl, "MIN_ROUNDS", 1), 2 if self.trace else 1)
        region = 0.0
        with proc.RssSampler() as rss:
            while region < self.seconds or len(self.rounds) < min_rounds:
                if self.rounds or warm_round:
                    self._setup(wl)
                r = self._run_round(wl, traced=self.trace and len(self.rounds) % 2 == 0)
                region += r.wall
        self.extra["peak_rss_bytes"] = rss.peak
        t = self._phase(f"rounds ({len(self.rounds)}: "
                        + " ".join(f"{r.wall:.2f}s" for r in self.rounds) + ")", t)
        problems = wl.verify()
        t = self._phase("verify", t)
        out = metrics.assemble(self, wl, problems)
        self._phase("assemble", t)
        return out

    def _setup(self, wl) -> None:
        t = time.perf_counter()
        wl.setup()
        self.setup_times.append(time.perf_counter() - t)

    def _run_round(self, wl, traced: bool) -> Round:
        r = Round(len(self.rounds), traced)
        self.current_round = r.index
        patch = None
        if traced:
            self.active = self.tracer
            patch = install(self.tracer)
        # None when the status UI is off (untraced runs)
        ex0 = bench.executor_totals(self.spark) or {"cpu_sec": 0.0}
        tree0 = bench.tree_cpu_stats()
        cpu0 = proc.cpu_split(proc.scan_tree())
        p0 = time.perf_counter()
        try:
            with self.active.span("round", index=r.index):
                r.work = wl.round()
        finally:
            r.wall = time.perf_counter() - p0
            if patch is not None:
                patch.restore()
            self.active = NullTracer()
        r.cpu = proc.delta(proc.cpu_split(proc.scan_tree()), cpu0)
        tree1 = bench.tree_cpu_stats()
        r.cpu_total_s = (tree1["user_sec"] + tree1["sys_sec"]
                         - tree0["user_sec"] - tree0["sys_sec"])
        ex1 = bench.executor_totals(self.spark) or {"cpu_sec": 0.0}
        r.executor_cpu_s = ex1["cpu_sec"] - ex0["cpu_sec"]
        self.rounds.append(r)
        return r

    # -------------------------------------------------------- helpers
    def kinds(self, *kinds: str, traced: bool | None = None) -> list[float]:
        """Durations of ops of the given kinds, from traced or untraced
        rounds (or all rounds when ``traced`` is None)."""
        want = {r.index for r in self.measured(traced)}
        return [s.seconds for s in self.samples if s.kind in kinds and s.round in want]

    def measured(self, traced: bool | None = None) -> list[Round]:
        return [r for r in self.rounds
                if traced is None or r.traced == traced]

    def setup_s(self) -> float:
        return median(self.setup_times)
