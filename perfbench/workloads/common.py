"""Pieces shared by the CDC workloads: key-hash subsets for the replay
oracle and the integrity counters that must repeat exactly."""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import functions as F

from bear_spark.oracle import assert_states_equal, replay

#: counters that must be identical across rounds of one seed
INTEGRITY = ("rows_in", "dedup_drops", "rows_written", "late_events")

#: one key in SUBSET_MOD is checked against the oracle
SUBSET_MOD = 8


def subset(df, key: str = "conv_id"):
    """A deterministic key-hash subset. LWW is decided per key, so the
    table restricted to these keys must equal the replay of the log
    restricted to them."""
    return df.filter(F.crc32(F.col(key)) % SUBSET_MOD == 0)


def check_against_oracle(table, log_df) -> str | None:
    """Final state of ``table`` vs ``oracle.replay`` of ``log_df`` on the
    key subset. Returns a problem description, or None."""
    expected = replay(subset(log_df).toPandas())
    actual = subset(table.read()).toPandas()
    if len(expected) == 0:
        return "oracle subset is empty"
    try:
        assert_states_equal(actual, expected)
    except AssertionError as ex:
        return f"final state differs from replay oracle: {str(ex)[:300]}"
    return None


#: integrity counters of earlier runs, per workload, seed and code
#: version, relative to the working directory
COUNTERS_DIR = ".perfbench_counters"

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def code_version() -> str:
    """A hash of the Python sources of ``bear_spark/`` and ``perfbench/``.
    Counters such as ``rows_written`` may legitimately change when either
    changes, so only runs of the same code are compared."""
    h = hashlib.sha256()
    for pkg in ("bear_spark", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(_REPO, pkg)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(d, name)
                    h.update(os.path.relpath(path, _REPO).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def same_counters(per_round: list[dict], workload: str, seed: int) -> str | None:
    """Integrity counters of every round must equal the first round's,
    and those of any earlier run of the same workload, seed and code
    version from this working directory (the first such run records
    them)."""
    if not per_round:
        return "no completed round"
    first = per_round[0]
    for i, c in enumerate(per_round[1:], 1):
        if c != first:
            return f"integrity counters differ between rounds 0 and {i}: {first} vs {c}"
    path = os.path.join(COUNTERS_DIR, f"{workload}-{seed}-{code_version()}.json")
    if os.path.exists(path):
        with open(path) as f:
            earlier = json.load(f)
        if earlier != first:
            return f"integrity counters differ from an earlier run: {earlier} vs {first}"
    else:
        os.makedirs(COUNTERS_DIR, exist_ok=True)
        with open(path, "w") as f:
            json.dump(first, f, sort_keys=True)
    return None


def add_counters(acc: dict, m: dict) -> None:
    for k in INTEGRITY:
        acc[k] = acc.get(k, 0) + int(m.get(k, 0))


def table_stats(table) -> dict[str, float]:
    """Live data files of the current snapshot and their bytes per live
    row (driver-side metadata; no scan)."""
    files = [fi for fs in table.snapshot["files"].values() for fi in fs]
    size = sum(os.path.getsize(os.path.join(table.root, fi["path"])) for fi in files)
    live = sum(fi["rows"] for fi in files if not fi.get("deleted"))
    return {
        "lake.table.files": float(len(files)),
        "lake.table.bytes_per_live_row": size / live if live else 0.0,
    }
