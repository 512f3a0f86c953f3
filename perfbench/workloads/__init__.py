"""The benchmark's workloads, by name."""

from perfbench.workloads.bulk_replay import BulkReplay
from perfbench.workloads.serve_mix import ServeMix
from perfbench.workloads.stream_trickle import StreamTrickle

WORKLOADS = {w.NAME: w for w in (BulkReplay, StreamTrickle, ServeMix)}
