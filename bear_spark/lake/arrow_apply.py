"""Arrow-native per-bucket COW apply — the one merge path.

Data files are bucket-partitioned on shared storage, so only the BATCH
needs to move: ``groupBy(_bucket).applyInPandas`` routes each bucket's
change events to one task, and the task reads that bucket's existing
files directly (pyarrow, C++), applies last-writer-wins and writes the
replacement files itself — the file-granularity copy-on-write an
Iceberg/Delta COW writer performs, with the engine's two-phase snapshot
commit on top. The table rows never cross the shuffle.

Last-writer-wins is ONE stable sort by ``(key…, ts, lsn)`` with nulls
first (a null event time always loses), a ``take``, and a filter that
keeps the last row of each key run (two null keys count as the same
run). ``sort_indices``/``take``/``filter`` accept every Arrow type, so
array, map, struct and decimal payloads take the same kernel as flat
ones; the payload schema comes from PySpark's own Spark→Arrow type
mapping. A sort beats a hash group-by here because the output has to
be key-sorted anyway (the lake file sort order).

Everything is Arrow-batch vectorized — no per-row Python. Task retries
are idempotent: each bucket writes to a deterministic file name via
tmp + ``os.replace``.

Reference analog: the store-side PK upsert the reference delegates to
Milvus (reference: bear/db.py:72-83) — here the "store" is the lake and
the upsert kernel is ours.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable


def arrow_schema(spark_schema):
    """Spark StructType -> pyarrow schema through PySpark's own type
    mapping (every Spark type; timestamps UTC). Top-level fields stay
    nullable, like the Parquet files Spark itself writes."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.schema([f.with_nullable(True) for f in to_arrow_schema(spark_schema)])


def _opt_int(v):
    """Source partition or offset bound of a stats group; None when it
    is null (such rows apply unfenced and advance no commit-log range)."""
    return None if v is None or v != v else int(v)


def local_frame(spark, spark_schema, rows=()):
    """Small driver-side rows as a Spark DataFrame backed by an Arrow
    table. Spark plans it as a ``LocalTableScan``, which no Python worker
    ever reads; a list-of-tuples ``createDataFrame`` instead goes
    through ``sc.parallelize`` and costs a Python-worker stage wherever
    it is scanned or broadcast."""
    import pyarrow as pa

    names = spark_schema.names
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=arrow_schema(spark_schema)
    )
    return spark.createDataFrame(table, spark_schema)


def make_apply_kernel(
    manifests_by_bucket: dict[int, str],
    target_schema,
    stage_dir: str,
    key_cols: list[str],
    seq_col: str,
    wm_iso: str | None = None,
    drop_late: bool = False,
    table_root: str = "",
    compression: str = "snappy",
    target_file_rows: int = 2_000_000,
) -> Callable:
    """Build the applyInPandas kernel for one merge.

    ``manifests_by_bucket`` maps each bucket to the rel path of its
    immutable manifest document; the TASK reads its own manifest from
    shared storage (same access path as the data files), so the closure
    carries O(num_buckets) strings instead of the whole file inventory.
    The entries cover all schema versions — alignment to the target
    schema happens here, which is exactly the registry-reconciler's
    "rewrite Arrow batches" step. Files whose first-key [min, max] range
    contains NO batch key are CARRIED OVER untouched (their rel paths
    come back in the ``kept`` column and the driver re-references them
    in the new snapshot) — task memory is bounded by the files a batch
    actually touches, not the bucket. A missing range (None) means
    "assume it intersects".

    Besides applying LWW, each group returns its slice of the BATCH
    stats — per (source_partition, segment) contiguous offset range,
    row count, late-event count vs the ``wm_iso`` watermark, and max
    event time — as a JSON column the driver folds into the commit.
    This makes merge a single job: no separate stats pass, no cache.
    """
    # built on the driver; the pickled closure carries the Arrow schema
    target = arrow_schema(target_schema)

    def kernel(pdf):
        import json as _json

        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        # one Arrow thread per task: parallelism belongs to Spark (one
        # python worker per core); Arrow's default pool (all machine
        # cores) would oversubscribe — and silently use cores the
        # cluster manager never granted this executor
        if pa.cpu_count() != 1:
            pa.set_cpu_count(1)
            pa.set_io_thread_count(1)
        # retain freed arena pages across merge batches (workers are
        # long-lived under spark.python.worker.reuse): jemalloc's
        # default ~1s dirty-page decay hands pages back to the OS
        # between batches, so every batch re-faults its working set
        # — a steady page-fault tax per batch, and a cliff on hosts
        # with slow fault paths. Independent of the thread-pool
        # normalization above (a worker whose pool already defaults to
        # one thread still wants retention). BEAR_JEMALLOC_RETAIN=0
        # opts out (memory-tight executors); no-op on non-jemalloc
        # builds.
        if os.environ.get("BEAR_JEMALLOC_RETAIN", "1") != "0":
            try:
                pa.jemalloc_set_decay_ms(-1)
            except (NotImplementedError, AttributeError):
                pass

        bucket = int(pdf["_bucket"].iloc[0])
        precombined = "_cnt" in pdf.columns

        def _naive_utc(s):
            """Normalize event time to naive UTC (the snapshot watermark
            format) regardless of how Arrow delivered it."""
            if getattr(s.dtype, "tz", None) is not None:
                return s.dt.tz_convert("UTC").dt.tz_localize(None)
            return s

        # --- batch stats for this bucket's slice ----------------------
        stats = []
        if precombined:
            # the driver pre-combined the batch per (key, sp, segment):
            # each row carries its subset's count/late-count/offset
            # range/max event time — fold them per (sp, segment)
            mts_series = _naive_utc(pdf["_mts"])
            grouped = pdf.groupby(["_sp", "_segment"], sort=False, dropna=False)
            for (sp, segf), idx in grouped.indices.items():
                mts = mts_series.iloc[idx].max()
                stats.append(
                    {
                        "sp": _opt_int(sp),
                        "f": str(segf),
                        "lo": _opt_int(pdf["_lo"].iloc[idx].min()),
                        "hi": _opt_int(pdf["_hi"].iloc[idx].max()),
                        "c": int(pdf["_cnt"].iloc[idx].sum()),
                        "late": int(pdf["_late_cnt"].iloc[idx].sum()),
                        "mts": None if pd.isna(mts) else mts.isoformat(),
                    }
                )
            # dropna=False: a null-key flood contends in the kernel like
            # any hot key (it LWW-collapses below) and must count toward
            # the adaptive pre-combine skew signal
            key_counts = pdf.groupby(key_cols[0], sort=False, dropna=False)["_cnt"].sum()
            max_key_rows = int(key_counts.max()) if len(key_counts) else 0
            pdf = pdf.drop(
                columns=["_sp", "_segment", "_cnt", "_late_cnt", "_lo", "_hi", "_mts"]
            )
        else:
            ts_series = _naive_utc(pdf[seq_col])
            late_mask = (
                (ts_series < pd.Timestamp(wm_iso))
                if wm_iso
                else pd.Series(False, index=pdf.index)
            )
            grouped = pdf.groupby(["_sp", "_segment"], sort=False, dropna=False)
            for (sp, segf), idx in grouped.indices.items():
                sub_off = pdf["_off"].iloc[idx]
                mts = ts_series.iloc[idx].max()
                stats.append(
                    {
                        "sp": _opt_int(sp),
                        "f": str(segf),
                        "lo": _opt_int(sub_off.min()),
                        "hi": _opt_int(sub_off.max()),
                        "c": int(len(idx)),
                        "late": int(late_mask.iloc[idx].sum()),
                        "mts": None if pd.isna(mts) else mts.isoformat(),
                    }
                )
            # hottest-key share of the BATCH slice (pre-LWW, pre-filter):
            # the driver records max over buckets in lineage and
            # auto-enables map-side pre-combine on the NEXT batch when a
            # hot key persists
            vc = pdf[key_cols[0]].value_counts(dropna=False)
            max_key_rows = int(vc.iloc[0]) if len(vc) else 0
            pdf = pdf.drop(columns=["_sp", "_off", "_segment"])
            if drop_late and wm_iso:
                # drop-late policy: late events are counted (stats above,
                # offsets committed) but never applied — the watermark is
                # a hard admission boundary, which is what makes tombstone
                # expiry safe. NaT event times are kept (they lose LWW).
                # (Pre-combine is disabled on drop-late tables: the
                # subset winner could be late while a runner-up is not.)
                pdf = pdf.loc[~late_mask]
        payload_names = [f.name for f in target]
        # event shape: payload + _bucket/_op/_elsn
        evt_schema = pa.schema(
            list(target)
            + [
                pa.field("_bucket", pa.int32()),
                pa.field("_op", pa.string()),
                pa.field("_elsn", pa.int64()),
            ]
        )

        # output shape: payload + _bucket/_lsn/_deleted (data-file schema)
        out_schema = pa.schema(
            list(target)
            + [
                pa.field("_bucket", pa.int32()),
                pa.field("_lsn", pa.int64()),
                pa.field("_deleted", pa.bool_()),
            ]
        )

        def align_to_events(tbl: pa.Table) -> pa.Table:
            """Existing-file rows -> evt_schema: a tombstone becomes a
            'D' event, a live row a 'U' event, at its stored lsn."""
            cols = []
            n = tbl.num_rows
            deleted = pc.fill_null(tbl.column("_deleted").cast(pa.bool_()), False)
            for f in evt_schema:
                if f.name == "_op":
                    cols.append(pc.if_else(deleted, pa.scalar("D"), pa.scalar("U")))
                elif f.name == "_elsn":
                    cols.append(tbl.column("_lsn").cast(pa.int64()))
                elif f.name == "_bucket":
                    cols.append(pa.array([bucket] * n, pa.int32()))
                elif f.name in tbl.column_names:
                    cols.append(tbl.column(f.name).cast(f.type))
                else:
                    cols.append(pa.nulls(n, f.type))
            return pa.table(cols, schema=evt_schema)

        def align_to_out(tbl: pa.Table) -> pa.Table:
            """Existing-file rows -> out_schema (schema-evolution fill +
            cast), bypassing the event shape entirely."""
            cols = []
            n = tbl.num_rows
            for f in out_schema:
                if f.name == "_bucket":
                    cols.append(pa.array([bucket] * n, pa.int32()))
                elif f.name == "_deleted":
                    cols.append(
                        pc.fill_null(tbl.column("_deleted").cast(pa.bool_()), False)
                    )
                elif f.name in tbl.column_names:
                    cols.append(tbl.column(f.name).cast(f.type))
                else:
                    cols.append(pa.nulls(n, f.type))
            return pa.table(cols, schema=out_schema)

        def run_ends(tbl: pa.Table) -> pa.Array:
            """True on the last row of each run of equal keys in a
            key-sorted table. ``not_equal`` on a null is null, so the
            coalesce makes two null keys one run and a null beside a
            value a run boundary."""
            ends = None
            for k in key_cols:
                col = tbl.column(k).combine_chunks()
                a, b = col[:-1], col[1:]
                d = pc.coalesce(
                    pc.not_equal(a, b), pc.xor(pc.is_null(a), pc.is_null(b))
                )
                ends = d if ends is None else pc.or_(ends, d)
            return pa.concat_arrays([ends, pa.array([True])])

        # --- batch side (already target-aligned by the JVM projection) ---
        # (the schema picks and orders the columns and types nested
        # cells, which inference from pandas objects would get wrong —
        # e.g. a map's dict reads as a struct)
        batch = pa.Table.from_pandas(pdf, schema=evt_schema, preserve_index=False)

        # --- existing files: read only those the batch can touch ------
        # file ranges come from parquet footers (files are key-sorted);
        # a file whose [kmin, kmax] contains no batch key is carried
        # over byte-identical — at 10^10 rows this is the difference
        # between O(touched files) and O(whole bucket) per task
        batch_keys = pdf[key_cols[0]]
        # a null key lies outside every footer range, yet the file
        # holding the current null-key row must still be read: it
        # contends with the batch's null-key events
        null_key = bool(batch_keys.isna().any())
        bucket_files = []
        mrel = manifests_by_bucket.get(bucket)
        if mrel is not None:
            with open(os.path.join(table_root, mrel)) as mf:
                bucket_files = [
                    (fi["path"], fi.get("kmin"), fi.get("kmax"))
                    for fi in _json.load(mf)["files"]
                ]
        kept_paths = []
        to_read = []
        for rel, kmin, kmax in bucket_files:
            intersects = True
            if kmin is not None and kmax is not None and not null_key:
                try:
                    intersects = bool(
                        ((batch_keys >= kmin) & (batch_keys <= kmax)).any()
                    )
                except TypeError:  # incomparable types → safe default
                    intersects = True
            if intersects:
                to_read.append(rel)
            else:
                kept_paths.append(rel)

        # contended-row split: the table invariant is one row per key
        # across a bucket's files (merge emits LWW winners; the range
        # pull rule keeps a key in exactly one file), so an existing row
        # whose key is NOT in the batch is already its own winner — it
        # skips the LWW sort entirely and goes straight to the
        # key-sorted rewrite. Sort traffic is O(batch + contended), not
        # O(touched files) — the difference
        # between a point update and a full-file re-merge at 10^10 rows.
        kset = pc.unique(batch.column(key_cols[0]))
        ktype = target.field(key_cols[0]).type
        parts = [batch]
        passthrough = []
        for rel in to_read:
            t = pq.read_table(os.path.join(table_root, rel))
            kmask = pc.is_in(t.column(key_cols[0]).cast(ktype), value_set=kset)
            # null keys always contend (LWW collapses them; rare by design)
            kmask = pc.fill_null(kmask, True)
            cont = t.filter(kmask)
            untouched = t.filter(pc.invert(kmask))
            if untouched.num_rows:
                passthrough.append(align_to_out(untouched))
            if cont.num_rows:
                parts.append(align_to_events(cont))
        events = pa.concat_tables(parts)

        # --- LWW, pure Arrow: one stable sort by (key…, seq, lsn) with
        # nulls first (a null event time always loses), then keep the
        # last row of each key run — all C++; the row data never
        # materializes as Python objects, and sort/take/filter have
        # kernels for every payload type (list, map, struct, decimal)
        idx = pc.sort_indices(
            events,
            sort_keys=[(k, "ascending") for k in key_cols]
            + [(seq_col, "ascending"), ("_elsn", "ascending")],
            null_placement="at_start",
        )
        events = events.take(idx)
        win = events.filter(run_ends(events)) if events.num_rows else events

        # --- write replacement files (file-granularity COW) --------------
        del_mask = pc.fill_null(pc.equal(win.column("_op"), pa.scalar("D")), False)
        full = pa.table(
            [
                *[win.column(c) for c in payload_names],
                win.column("_bucket"),
                win.column("_elsn"),
                del_mask,
            ],
            schema=out_schema,
        )
        # fold the untouched passthrough rows back in before the key
        # sort: they never entered the event shape, so this is their
        # only materialization in the task
        if passthrough:
            full = pa.concat_tables([full, *passthrough])
        # sort data files by key: conv_id runs prefix-compress, parquet
        # min/max stats get tight ranges, per-conversation reads are
        # sequential (the lake sort-order spec). The winners table is
        # one row per key, so this sort is much smaller than the LWW
        # sort above. Masks come from the sorted table itself.
        full = full.sort_by([(k, "ascending") for k in key_cols])
        sorted_del = full.column("_deleted")
        counts = {False: 0, True: 0}
        tfr = max(1, int(target_file_rows))
        for deleted, mask in ((False, pc.invert(sorted_del)), (True, sorted_del)):
            sub = full.filter(mask)
            if sub.num_rows == 0:
                continue
            d = os.path.join(
                stage_dir, f"_bucket_dir={bucket}", f"_del={str(deleted).lower()}"
            )
            os.makedirs(d, exist_ok=True)
            # split at target_file_rows: a batch that touches a bucket's
            # whole key range must not produce one unbounded file — the
            # slices are key-sorted, so each chunk keeps a tight,
            # non-overlapping [kmin, kmax] for later range pruning.
            # Chunk names are deterministic → idempotent under retry.
            n_chunks = (sub.num_rows + tfr - 1) // tfr
            for i in range(n_chunks):
                chunk = sub.slice(i * tfr, tfr)
                final_path = os.path.join(d, f"part-{bucket:05d}-c{i:04d}.parquet")
                tmp_path = final_path + f".tmp-{uuid.uuid4().hex}"
                pq.write_table(chunk, tmp_path, compression=compression)
                os.replace(tmp_path, final_path)  # idempotent under task retry
            counts[deleted] = sub.num_rows

        return pd.DataFrame(
            [
                {
                    "_bucket": bucket,
                    "rows_written": counts[False] + counts[True],
                    "tombstones": counts[True],
                    "max_key_rows": max_key_rows,
                    # work-reduction evidence for the contended-row
                    # split, wall-clock-independent: rows that entered
                    # the LWW sort vs rows that bypassed it
                    "lww_rows": int(events.num_rows),
                    "passthrough_rows": int(
                        sum(t.num_rows for t in passthrough)
                    ),
                    "stats": _json.dumps(stats),
                    "kept": _json.dumps(kept_paths),
                }
            ]
        )

    return kernel


APPLY_RESULT_SCHEMA = (
    "_bucket int, rows_written long, tombstones long, max_key_rows long, "
    "lww_rows long, passthrough_rows long, stats string, kept string"
)
