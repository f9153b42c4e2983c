"""MERGE INTO — bucket-pruned copy-on-write upsert with ts-based LWW.

Semantics (the Iceberg-SQL statement this module implements natively):

    MERGE INTO target t USING batch s
    ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
    WHEN MATCHED AND (s.ts, s.op_seq) >= (t.ts, t.op_seq) AND s.op = 'D'
         THEN "DELETE"   -- realized as a tombstone, not a physical delete
    WHEN MATCHED AND (s.ts, s.op_seq) >= (t.ts, t.op_seq)
         THEN UPDATE SET *
    WHEN NOT MATCHED THEN INSERT *   -- D inserts a tombstone

The incoming batch is LWW-deduped here to one row per key (Iceberg MERGE
likewise rejects multi-match sources). Tombstones guarantee that under
replay a delete beats an earlier-ts insert but loses to a later-ts
re-insert (LWW over the full event history).

Reference semantics carried over: the dedup/join key contract of the
synthetic UUIDs (/root/reference/parser/parser.go:150-176), downstream
key-based dedup (/root/reference/schema/README.md:6-10), atomic commit at
Close (/root/reference/storage/rowwriter.go:83-171), failfast error budget
before commit (/root/reference/etl/etl.go:116-117).

Scale design:

**Merge-on-read (streaming default): exactly ONE distributed pass.**
The batch is scanned once: validate (Observation counters ride the scan) →
bucket-clustered LWW dedup (one exchange, keyed on the table bucket) →
bucket-partitioned delta append, with a second Observation counting row
dispositions during the write. No membership probe happens at all — the
append plan is identical whether a key exists or not, so scanning the batch
a second time to ask the Bloom filter is pure waste at 10^10 events/day
(measured: the membership pass was ~25% of per-batch wall at 4 executors).
Touched buckets fall out of the written file layout; the stored Bloom
seen-set is DROPPED by the commit (explicitly stale — the next
copy-on-write merge rebuilds it once, compaction keeps tables read-fast).
Consequence: reads carry the LWW reduction (``needs_reduce``) until
``resolve_deltas``/compaction — the standard Iceberg MOR contract.

**Copy-on-write: exactly TWO distributed passes.**
  1. **Fused scan** (map-only, no shuffle): one mapInPandas pass computes
     the Bloom membership answer, this batch's key-bloom, AND the touched
     bucket set, while a ``Observation`` on the same scan yields the
     validation counters (events_in / failed / late / max event-ts). JVM
     xxhash64 hashing — no per-row Python.
  2. **Merge + write**: LWW dedup (map-side partial agg) → join with only
     the touched target buckets → bucket-partitioned write, with a second
     Observation counting row dispositions DURING the write (no
     re-scan of written files). Per-bucket row counts come from parquet
     footers on the driver (no job).
  * Batches the Bloom proves pure-insert skip the join and append (fast
    path — zero write amplification, no reduction debt).
  * AQE skew-join splits hot conversations; the batch side is already
    skew-collapsed by the partial-agg dedup (one row per key survives).
  * All row-path logic is DataFrame expressions — whole-stage codegen.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from datetime import datetime
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from etl_spark.schema import KEY_COLS, evolve_schema
from etl_spark.lake.table import CommitConflictError, LakeTable

ENGINE_VERSION = "etl_spark-0.1.0"

_DISPOSITIONS = ["inserted", "updated", "deleted", "stale_skipped", "carried"]


class BatchFailedError(RuntimeError):
    """Raised when a batch exceeds the failed-row budget; nothing committed."""


@dataclass
class MergeStats:
    batch_id: str
    events_in: int = 0
    dup_dropped: int = 0
    inserted: int = 0
    updated: int = 0
    deleted: int = 0
    stale_skipped: int = 0
    carried: int = 0
    failed: int = 0
    late_dropped: int = 0  # dropped by the optional event-time watermark
    wall_sec: float = 0.0
    touched_buckets: list[int] = field(default_factory=list)
    bucket_rows: dict[str, int] = field(default_factory=dict)
    skipped_idempotent: bool = False
    fast_path_append: bool = False  # Bloom proved pure-insert → no join
    # warn-policy constraint violations observed this batch (name -> n);
    # informational only — the rows still applied (see LakeTable.add_constraint)
    constraint_warns: dict[str, int] = field(default_factory=dict)
    # wall seconds per phase: scan (pass 1), write (pass 2), commit (driver)
    phase_sec: dict[str, float] = field(default_factory=dict)

    def applied(self) -> int:
        return self.inserted + self.updated + self.deleted + self.stale_skipped


def _align_to(df: DataFrame, colnames: list[str], schema) -> DataFrame:
    have = set(df.columns)
    return df.select(
        *[
            (F.col(n).cast(schema[n].dataType) if n in have
             else F.lit(None).cast(schema[n].dataType)).alias(n)
            for n in colnames
        ]
    )


def _ts_to_us(dt) -> int:
    """datetime (naive = wall-clock, or aware) → µs since epoch."""
    if dt.tzinfo is not None:
        return int(dt.timestamp() * 1_000_000)
    return int((dt - datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def _disp_aggs() -> list[F.Column]:
    return [
        F.coalesce(
            F.sum(F.when(F.col("__disp") == d, F.lit(1)).otherwise(F.lit(0))),
            F.lit(0),
        ).alias(d)
        for d in _DISPOSITIONS
    ]


def _finalize_stats_record(
    table: "LakeTable", files: dict, stats: "MergeStats", mode: str,
    source_files: list[str] | None, t0: float,
) -> dict[str, Any]:
    """Shared commit bookkeeping for both merge modes: fill per-bucket row
    lineage from the manifest entries (write_bucket_files records footer
    counts; the file_row_count call is a safety net for entries lacking
    them), derive dup_dropped from the counting invariant, and build the
    commit record."""
    bucket_rows: dict[str, int] = {}
    for b, entries in files.items():
        n = 0
        for e in entries:
            if e.get("rows") is None:
                e["rows"] = table.file_row_count(e["path"])
            n += e["rows"]
        if n:
            bucket_rows[str(b)] = n
    stats.bucket_rows = bucket_rows
    stats.dup_dropped = max(
        0, stats.events_in - stats.failed - stats.late_dropped - stats.applied()
    )
    stats.wall_sec = time.time() - t0
    return {
        "events_in": stats.events_in,
        "dup_dropped": stats.dup_dropped,
        "inserted": stats.inserted,
        "updated": stats.updated,
        "deleted": stats.deleted,
        "stale_skipped": stats.stale_skipped,
        "carried": stats.carried,
        "failed": stats.failed,
        "late_dropped": stats.late_dropped,
        "wall_sec": stats.wall_sec,
        "fast_path_append": stats.fast_path_append,
        "mode": mode,
        "bucket_rows": stats.bucket_rows,
        "source_files": source_files or [],
        "engine_version": ENGINE_VERSION,
    }


def _fused_scan_gate(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    batch_id: str,
    stats: MergeStats,
    counters,
    fail_threshold: float,
    segments,
    input_files,
    base_version: int,
    t0: float,
    rebuild_missing: bool = True,
) -> dict[str, Any] | None:
    """Pass 1 shared by the copy-on-write and patch merges: load (or
    rebuild once) the Bloom seen-set, run the fused membership/bucket scan
    (which also materializes the validation counters riding the batch
    plan), enforce the failfast budget, and short-circuit empty/all-late
    batches with a counters-only commit. Returns None when the batch was
    fully handled, else the scan products.

    ``rebuild_missing``: when the seen-set is absent and the table has
    data, rebuild it from the stored keys (amortizes to once for pipelines
    whose commits PERSIST the bloom — cow). Pass False for pipelines whose
    commits drop it (merge-on-read appends): there the rebuild would recur
    every time, so the gate instead reports ``bloom_known=False`` and the
    caller must not take a membership-proven fast path nor persist a
    batch-only bloom (it would have false negatives for older keys)."""
    from etl_spark.cdc.bloom import BloomFilter, build_bloom, scan_batch_buckets

    bloom = table.load_bloom()
    bloom_known = bloom is not None
    bloom_rebuilt = False
    light = False
    if bloom is None:
        if table.has_files():
            if rebuild_missing:
                # Seen-set missing or written under a stale hash algo:
                # rebuild ONCE from the table's stored keys instead of
                # paying a distinct+collect per batch forever; persisted
                # with this commit's sidecar via new_bloom.
                bloom = build_bloom(
                    table.read_storage(spark, reduced=False), KEY_COLS
                )
                bloom_known = bloom_rebuilt = True
            else:
                # membership is UNKNOWABLE this batch and the caller's
                # commit drops the sidecar anyway (merge-on-read) — the
                # fused bloom scan would be pure waste. Light pass: the
                # touched-bucket set via a JVM-only distinct (≤ n_buckets
                # rows through a partial-agged exchange), which is also
                # the action that fills the validation counters.
                bloom = BloomFilter()
                light = True
        else:
            bloom = BloomFilter()
            bloom_known = True  # empty table: the empty set IS the seen-set
    if light:
        any_seen, batch_bloom = True, None
        touched = sorted(
            r["__bucket"] for r in batch.select("__bucket").distinct().collect()
        )
    else:
        any_seen, batch_bloom, touched = scan_batch_buckets(
            batch, bloom, KEY_COLS, bucket_col="__bucket"
        )
    stats.touched_buckets = touched
    stats.phase_sec["scan"] = round(time.time() - t0, 3)

    c = counters.get  # filled by the pass-1 action (blocks only on bugs)
    events_in, failed, late_dropped = int(c["n"]), int(c["bad"]), int(c["late"])
    stats.events_in, stats.failed, stats.late_dropped = events_in, failed, late_dropped
    max_ts = c["max_ts"]
    watermark_us = _ts_to_us(max_ts) if max_ts is not None else None

    # failfast BEFORE any write (reference: whole task errors at >10% failed)
    if events_in > 0 and failed / events_in > fail_threshold:
        raise BatchFailedError(
            f"batch {batch_id}: {failed}/{events_in} failed rows exceeds "
            f"{fail_threshold:.0%} budget — aborting before commit"
        )
    if events_in == 0 or events_in == failed + late_dropped:
        # nothing to merge; still commit (advances watermark + segments).
        # A just-rebuilt seen-set is persisted even on this path —
        # discarding it would re-pay the full-table rebuild scan on every
        # subsequent empty/all-late batch. Only the TABLE's keys (not this
        # unapplied batch's) go in; when no rebuild happened the existing
        # sidecar is carried unchanged (no rewrite per empty batch).
        table.commit_version(
            {}, [], batch_id,
            {"events_in": events_in, "failed": failed, "late_dropped": late_dropped},
            segments=segments, new_watermark_us=watermark_us,
            input_files=input_files, expected_version=base_version,
            on_conflict="rebase",
            new_bloom=bloom if bloom_rebuilt else None,
        )
        return None
    return {
        "new_bloom": bloom.union(batch_bloom) if bloom_known else None,
        "any_seen": any_seen,
        "touched": touched,
        "watermark_us": watermark_us,
        "bloom_known": bloom_known,
    }


def merge_into(
    spark: SparkSession,
    table: LakeTable,
    valid: DataFrame,
    batch_id: str,
    counters: Observation,
    fail_threshold: float = 0.10,
    source_files: list[str] | None = None,
    segments: list[str] | None = None,
    input_files: list[str] | None = None,
    mode: str = "cow",
    allow_patches: bool = False,
    conflict_retries: int = 2,
    patch_probe: DataFrame | None = None,
) -> MergeStats:
    """Apply one validated CDC batch, surviving concurrent writers.

    Optimistic-concurrency outer loop (Iceberg commit-retry, operation
    level): the commit itself REBASES cheaply when the conflicting writer
    touched disjoint state (``LakeTable.commit_version(on_conflict=
    "rebase")``); when the conflict invalidates this merge's reads (a
    concurrent rewrite of the same buckets, a rebucket, a schema era),
    the whole merge is RECOMPUTED against the fresh snapshot — every scan
    inside ``_merge_into_once`` re-reads the current manifest, and the
    first attempt's written-but-uncommitted files stay invisible orphans
    (removed by expire_snapshots). A batch the concurrent writer already
    applied short-circuits idempotent. Validation counters are safe to
    re-read across attempts: the Observation filled on attempt 1 keeps
    its values, and both attempts observe the same input batch.
    """
    last: CommitConflictError | None = None
    for _ in range(max(0, conflict_retries) + 1):
        if table.is_committed(batch_id):
            stats = MergeStats(batch_id=batch_id)
            stats.skipped_idempotent = True
            return stats
        try:
            return _merge_into_once(
                spark, table, valid, batch_id, counters,
                fail_threshold=fail_threshold, source_files=source_files,
                segments=segments, input_files=input_files, mode=mode,
                allow_patches=allow_patches, patch_probe=patch_probe,
            )
        except CommitConflictError as e:
            last = e
    raise last


def _merge_into_once(
    spark: SparkSession,
    table: LakeTable,
    valid: DataFrame,
    batch_id: str,
    counters: Observation,
    fail_threshold: float = 0.10,
    source_files: list[str] | None = None,
    segments: list[str] | None = None,
    input_files: list[str] | None = None,
    mode: str = "cow",
    allow_patches: bool = False,
    patch_probe: DataFrame | None = None,
) -> MergeStats:
    """Apply one validated (but not yet deduped) CDC batch to ``table``.

    ``valid`` must be the filtered side of a plan carrying ``counters`` —
    an Observation with metrics (n, bad, late, max_ts) over the PRE-filter
    batch; the fused scan job materializes them. The commit (data files +
    commit record + metrics) is one atomic manifest swap. Idempotent: an
    already-committed batch_id is a no-op.

    ``mode``:
      * ``"cow"`` (copy-on-write) — join against touched target buckets and
        rewrite them; reads stay one-row-per-key. Best for read-heavy
        tables and modest change rates.
      * ``"mor"`` (merge-on-read) — append the deduped batch as DELTA files
        (with delete tombstones) and defer LWW resolution to read time /
        compaction. Per-batch cost is proportional to BATCH size, not
        table size — the Iceberg-recommended strategy for streaming CDC
        upserts at high change rates. In MOR the ``inserted``/``deleted``
        dispositions mean "upsert row appended" / "delete tombstone
        appended" (insert-vs-update cannot be known without the join).

    ``allow_patches``: the batch may contain op='P' partial-update events
    (sparse payload: NULL = unchanged — cdc/patch.py). Routed through the
    per-column-LWW resolution merge, which reads the touched buckets in
    BOTH modes (a patch is a read-modify-write by nature); 'mor' still
    appends only changed keys instead of rewriting buckets.
    """
    t0 = time.time()
    stats = MergeStats(batch_id=batch_id)
    if table.is_committed(batch_id):
        stats.skipped_idempotent = True
        return stats
    # optimistic concurrency: every read below (schema, bloom, bucket
    # scans) is based on THIS snapshot; the commit validates against it
    base_version = table.current_version()

    # ---- schema evolution (additive columns / widenings in the batch) ----
    cur_user = table.user_schema()
    batch_payload_fields = [
        f for f in valid.schema.fields if f.name not in ("op", "op_seq", "source_file")
    ]
    from pyspark.sql import types as T

    evolved = evolve_schema(cur_user, T.StructType(batch_payload_fields))
    # a batch field named like a rename-map SOURCE is almost always an
    # old producer still emitting the pre-rename name — silently minting
    # a new column under that name would both fork the lineage and make
    # old-era reads ambiguous (the scan resolves historic names through
    # the map). Refuse loudly; the producer must emit the renamed name.
    ren_sources = set(table.column_renames())
    cur_names = {f.name for f in cur_user.fields}
    bad = [
        f.name for f in evolved.fields
        if f.name not in cur_names and f.name in ren_sources
    ]
    if bad:
        raise BatchFailedError(
            f"batch {batch_id}: fields {bad} use historic (renamed-away) "
            f"column names — update the producer to the current schema "
            f"({sorted(cur_names)})"
        )
    user_cols = [f.name for f in evolved.fields]
    payload_cols = [c for c in user_cols if c not in KEY_COLS and c != "ts"]
    storage_schema = table.storage_schema(evolved)
    storage_cols = [f.name for f in storage_schema.fields]
    new_sid = table.next_schema_id(evolved)

    batch = valid.withColumn("__bucket", table.bucket_expr())

    def _append_select(deduped: DataFrame) -> DataFrame:
        """Delta-row projection for the append paths (storage columns +
        disposition; a delete becomes a tombstone row)."""
        is_del_f = F.col("op") == F.lit("D")
        # keys cast to the EVOLVED schema types: after an int->long
        # widening, a narrower-typed batch must not register int32 parquet
        # files under the widened era (the era-pinned read schema would
        # contradict the files' physical type)
        fast_cols = [
            F.col(k).cast(evolved[k].dataType).alias(k) for k in KEY_COLS
        ]
        for c_ in payload_cols:
            src = F.col(c_) if c_ in deduped.columns else F.lit(None)
            fast_cols.append(
                F.when(is_del_f, F.lit(None).cast(evolved[c_].dataType))
                .otherwise(src)
                .cast(evolved[c_].dataType)
                .alias(c_)
            )
        fast_cols += [
            F.col("ts"),
            F.col("op_seq"),
            is_del_f.alias("deleted"),
            F.lit(batch_id).alias("batch_id"),
            (F.col("source_file") if "source_file" in deduped.columns
             else F.lit(None).cast("string")).alias("source_file"),
            F.current_timestamp().alias("ingest_ts"),
            F.when(is_del_f, F.lit("deleted")).otherwise(F.lit("inserted")).alias("__disp"),
        ]
        return deduped.select(*fast_cols)

    if allow_patches:
        return _merge_patch(
            spark, table, batch, batch_id, stats, counters,
            fail_threshold=fail_threshold, source_files=source_files,
            segments=segments, input_files=input_files, evolved=evolved,
            new_sid=new_sid, payload_cols=payload_cols,
            storage_schema=storage_schema, storage_cols=storage_cols,
            t0=t0, base_version=base_version, mode=mode,
            patch_probe=patch_probe,
        )

    if mode == "mor":
        return _merge_mor_fused(
            table, batch, batch_id, stats, counters, _append_select,
            fail_threshold=fail_threshold, source_files=source_files,
            segments=segments, input_files=input_files, evolved=evolved,
            new_sid=new_sid, t0=t0, base_version=base_version,
        )

    # ---- pass 1 (cow): fused scan — bloom membership + batch bloom +
    #      touched buckets, with the validation counters observed on the
    #      same job ----
    gate = _fused_scan_gate(
        spark, table, batch, batch_id, stats, counters, fail_threshold,
        segments, input_files, base_version, t0,
    )
    if gate is None:
        return stats
    new_bloom, any_seen, touched = gate["new_bloom"], gate["any_seen"], gate["touched"]
    watermark_us = gate["watermark_us"]

    # ---- pass 2: LWW dedup + merge plan + bucket-partitioned write ----
    from etl_spark.cdc.dedup import lww_dedup, lww_dedup_clustered

    fast_append = not table.has_files(touched) or not any_seen
    if fast_append:
        # Pure insert PROVEN by the Bloom seen-set (no batch key can exist
        # in the table — zero write amplification, no reduction debt): dedup
        # grouped by the TABLE BUCKET — one exchange total for the whole
        # pass (dedup output is already clustered for the bucket-partitioned
        # write). A Bloom false positive just falls through to the full
        # merge below — never wrong.
        stats.fast_path_append = True
        merged = _append_select(lww_dedup_clustered(batch, "__bucket"))
    else:
        deduped = lww_dedup(batch)
        target = table.read_storage(spark, touched)
        target = _align_to(target, storage_cols, storage_schema)

        s = deduped.alias("s")
        t = target.alias("t")
        cond = (F.col(f"s.{KEY_COLS[0]}") == F.col(f"t.{KEY_COLS[0]}")) & (
            F.col(f"s.{KEY_COLS[1]}") == F.col(f"t.{KEY_COLS[1]}")
        )
        j = s.join(t, cond, "full_outer")

        s_present = F.col("s.op_seq").isNotNull()
        t_present = F.col("t.op_seq").isNotNull()
        s_wins = s_present & (
            ~t_present
            | (F.struct(F.col("s.ts"), F.col("s.op_seq"))
               >= F.struct(F.col("t.ts"), F.col("t.op_seq")))
        )
        is_del = F.col("s.op") == F.lit("D")

        disposition = (
            F.when(~s_present, F.lit("carried"))
            .when(~t_present & is_del, F.lit("deleted"))       # tombstone insert
            .when(~t_present, F.lit("inserted"))
            .when(~s_wins, F.lit("stale_skipped"))
            .when(is_del, F.lit("deleted"))
            .otherwise(F.lit("updated"))
        )

        out_cols = [
            F.coalesce(F.col(f"s.{KEY_COLS[0]}"), F.col(f"t.{KEY_COLS[0]}")).alias(KEY_COLS[0]),
            F.coalesce(F.col(f"s.{KEY_COLS[1]}"), F.col(f"t.{KEY_COLS[1]}")).alias(KEY_COLS[1]),
        ]
        for c_ in payload_cols:
            src = (
                F.when(is_del, F.lit(None).cast(evolved[c_].dataType))
                .otherwise(F.col(f"s.{c_}") if c_ in deduped.columns
                           else F.lit(None).cast(evolved[c_].dataType))
            )
            out_cols.append(
                F.when(s_wins, src).otherwise(F.col(f"t.{c_}")).cast(evolved[c_].dataType).alias(c_)
            )
        out_cols += [
            F.when(s_wins, F.col("s.ts")).otherwise(F.col("t.ts")).alias("ts"),
            F.when(s_wins, F.col("s.op_seq")).otherwise(F.col("t.op_seq")).alias("op_seq"),
            F.when(s_wins, is_del).otherwise(F.col("t.deleted")).alias("deleted"),
            F.when(s_wins, F.lit(batch_id)).otherwise(F.col("t.batch_id")).alias("batch_id"),
            F.when(s_wins, F.col("s.source_file") if "source_file" in deduped.columns
                   else F.lit(None).cast("string"))
            .otherwise(F.col("t.source_file")).alias("source_file"),
            F.when(s_wins, F.current_timestamp()).otherwise(F.col("t.ingest_ts")).alias("ingest_ts"),
            disposition.alias("__disp"),
        ]
        merged = j.select(*out_cols)

    # disposition counts observed DURING the write — __disp never hits disk
    disp_obs = Observation()
    to_write = merged.observe(disp_obs, *_disp_aggs()).drop("__disp")

    t1 = time.time()
    files = table.write_bucket_files(
        to_write,
        version_tag=f"merge-v{batch_id[:12]}",
        schema_id=new_sid,
        pre_clustered=fast_append,
    )
    stats.phase_sec["write"] = round(time.time() - t1, 3)
    t2 = time.time()
    d = disp_obs.get
    stats.inserted = int(d["inserted"])
    stats.updated = int(d["updated"])
    stats.deleted = int(d["deleted"])
    stats.stale_skipped = int(d["stale_skipped"])
    stats.carried = int(d["carried"])

    record = _finalize_stats_record(table, files, stats, mode, source_files, t0)
    table.commit_version(
        files,
        stats.touched_buckets,
        batch_id,
        record,
        new_user_schema=evolved,
        segments=segments,
        input_files=input_files,
        new_bloom=new_bloom,
        append_files=fast_append,
        new_watermark_us=watermark_us,
        needs_reduce=None,
        expected_version=base_version,
        on_conflict="rebase",
    )
    stats.phase_sec["commit"] = round(time.time() - t2, 3)
    return stats


def _merge_mor_fused(
    table: LakeTable,
    batch: DataFrame,
    batch_id: str,
    stats: MergeStats,
    counters: Observation,
    append_select,
    fail_threshold: float,
    source_files: list[str] | None,
    segments: list[str] | None,
    input_files: list[str] | None,
    evolved,
    new_sid: str,
    t0: float,
    base_version: int,
) -> MergeStats:
    """Merge-on-read in ONE distributed pass (see module docstring).

    validate → bucket-clustered LWW dedup (one exchange) → delta append,
    with BOTH Observations (validation counters + row dispositions)
    filled by the single write job. Touched buckets come from the written
    file layout; nothing probes the target table. The failfast budget is
    still enforced BEFORE the commit — on breach the written files stay
    invisible (orphans; removed by expire/compaction), the manifest is
    untouched. needs_reduce is set unless the table was empty (an
    in-batch-deduped append onto an empty table IS one-row-per-key), and
    the stored Bloom seen-set is dropped as stale (next cow merge
    rebuilds it once).
    """
    from etl_spark.cdc.dedup import lww_dedup_clustered

    empty_before = not table.has_files()
    merged = append_select(lww_dedup_clustered(batch, "__bucket"))
    disp_obs = Observation()
    to_write = merged.observe(disp_obs, *_disp_aggs()).drop("__disp")

    t1 = time.time()
    files = table.write_bucket_files(
        to_write,
        version_tag=f"merge-v{batch_id[:12]}",
        schema_id=new_sid,
        pre_clustered=True,
    )
    stats.phase_sec["write"] = round(time.time() - t1, 3)
    t2 = time.time()

    c = counters.get  # filled by the same write job
    events_in, failed, late_dropped = int(c["n"]), int(c["bad"]), int(c["late"])
    stats.events_in, stats.failed, stats.late_dropped = events_in, failed, late_dropped
    max_ts = c["max_ts"]
    watermark_us = _ts_to_us(max_ts) if max_ts is not None else None

    if events_in > 0 and failed / events_in > fail_threshold:
        raise BatchFailedError(
            f"batch {batch_id}: {failed}/{events_in} failed rows exceeds "
            f"{fail_threshold:.0%} budget — aborting before commit"
        )
    if events_in == 0 or events_in == failed + late_dropped:
        table.commit_version(
            {}, [], batch_id,
            {"events_in": events_in, "failed": failed, "late_dropped": late_dropped},
            segments=segments, new_watermark_us=watermark_us,
            input_files=input_files, expected_version=base_version,
            on_conflict="rebase",
        )
        return stats

    d = disp_obs.get
    stats.inserted = int(d["inserted"])
    stats.deleted = int(d["deleted"])
    stats.fast_path_append = empty_before
    stats.touched_buckets = sorted(files.keys())

    record = _finalize_stats_record(table, files, stats, "mor", source_files, t0)
    table.commit_version(
        files,
        stats.touched_buckets,
        batch_id,
        record,
        new_user_schema=evolved,
        segments=segments,
        input_files=input_files,
        append_files=True,
        new_watermark_us=watermark_us,
        needs_reduce=None if empty_before else True,
        drop_bloom=True,
        expected_version=base_version,
        on_conflict="rebase",
    )
    stats.phase_sec["commit"] = round(time.time() - t2, 3)
    return stats


def _merge_patch(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    batch_id: str,
    stats: MergeStats,
    counters,
    fail_threshold: float,
    source_files: list[str] | None,
    segments: list[str] | None,
    input_files: list[str] | None,
    evolved,
    new_sid: str,
    payload_cols: list[str],
    storage_schema,
    storage_cols: list[str],
    t0: float,
    base_version: int,
    mode: str,
    patch_probe: DataFrame | None = None,
) -> MergeStats:
    """Patch-aware merge: per-column LWW over (batch events ∪ committed
    rows of the touched buckets as VIRTUAL events) in one aggregation
    (cdc/patch.resolve_events). The resolution output per key IS the final
    row, so no join follows — copy-on-write rewrites the touched buckets
    with it; merge-on-read appends only the keys the batch actually
    changed (carried/stale keys are filtered out, so the append volume is
    O(changed keys), and the LWW read-reduce picks the resolved row because
    it carries the winning (ts, op_seq)).

    The Bloom fast path survives on cow: when the seen-set proves every
    batch key new, the virtual side is skipped entirely and the resolution
    collapses to the in-batch patch combine (a patch on an absent key
    upserts its sparse fields) — an append with zero table reads.

    ``patch_probe``: the RAW (pre-Observation) op='P' rows of the batch,
    threaded down from apply_batch. Merge-on-read uses it for a NARROW
    probe job — distinct patch buckets + patched-column flags with the
    scan pruned to (conv_id, payload-null bits) — instead of the full
    pass-1 gate scan, whose CollectMetrics node forces every validated
    column through the reader. The validation counters then ride the
    write job exactly like the non-patch MOR path (_merge_mor_fused), so
    a patch micro-batch pays ONE wide pass over the feed, not two.
    """
    from etl_spark.cdc.patch import PATCH_OP, resolve_events

    if mode == "mor":
        # ---- lean MOR gate: one narrow probe, no pass-1 scan ----
        t_probe = time.time()
        if patch_probe is None:
            # direct merge_into callers: fall back to probing the observed
            # batch (correct, but the metrics node widens the scan).
            # `batch` here is already the VALIDATED row set, so the probe
            # matches the apply_batch path, which pre-filters its raw
            # probe with the same (ok & ~late) predicate.
            patch_probe = batch.filter(F.col("op") == PATCH_OP)
        probe_aggs: list = [F.collect_set(table.bucket_expr()).alias("bks")]
        flag_cols = [c for c in payload_cols if c in patch_probe.columns]
        probe_aggs += [
            F.max(F.col(c).isNotNull()).alias(f"p_{c}") for c in flag_cols
        ]
        prow = patch_probe.agg(*probe_aggs).first()
        pbuckets = sorted(prow["bks"] or [])
        patched_cols = {c for c in flag_cols if bool(prow[f"p_{c}"])}
        stats.phase_sec["scan"] = round(time.time() - t_probe, 3)
        t_plan0 = time.time()
        new_bloom = None
        empty_before = not table.has_files()
        # virtual rows only matter for keys a PATCH touches; when no patch
        # bucket has committed files, resolution collapses to the in-batch
        # combine and the append needs zero table reads
        fast_append = not pbuckets or not table.has_files(pbuckets)
        touched = pbuckets
        any_seen, bloom_known, watermark_us = True, False, None
    else:
        # Which payload columns does this batch actually PATCH? Observed on
        # the same pass-1 scan the gate already runs (no extra job); the set
        # prunes the per-column LWW aggregation buffers below — a batch that
        # patches 2 of 50 columns carries 3 payload buffers, not 50.
        p_aggs = [
            F.max(
                F.when((F.col("op") == PATCH_OP) & F.col(c).isNotNull(), 1).otherwise(0)
            ).alias(f"p_{c}")
            for c in payload_cols
            if c in batch.columns
        ]
        patch_obs = Observation()
        if p_aggs:
            batch = batch.observe(patch_obs, *p_aggs)

        gate = _fused_scan_gate(
            spark, table, batch, batch_id, stats, counters, fail_threshold,
            segments, input_files, base_version, t0,
        )
        if gate is None:
            return stats
        new_bloom, any_seen, touched = gate["new_bloom"], gate["any_seen"], gate["touched"]
        watermark_us, bloom_known = gate["watermark_us"], gate["bloom_known"]
        t_plan0 = time.time()
        pc = patch_obs.get if p_aggs else {}
        patched_cols = {c for c in payload_cols if int(pc.get(f"p_{c}") or 0) == 1}
        stats.phase_sec["patch_obs"] = round(time.time() - t_plan0, 3)
        empty_before = not table.has_files()

    null_s = F.lit(None).cast("string")
    batch_ev = batch.select(
        *[F.col(k).cast(evolved[k].dataType).alias(k) for k in KEY_COLS],
        F.col("op"),
        F.col("ts"),
        F.col("op_seq"),
        *[
            (F.col(c_) if c_ in batch.columns else F.lit(None))
            .cast(evolved[c_].dataType)
            .alias(c_)
            for c_ in payload_cols
        ],
        F.lit(batch_id).alias("batch_id"),
        (F.col("source_file") if "source_file" in batch.columns else null_s)
        .alias("source_file"),
        F.current_timestamp().alias("ingest_ts"),
        F.lit(False).alias("__virtual"),
    )
    if mode != "mor":
        fast_append = not table.has_files(touched) or (
            bloom_known and not any_seen
        )
    if fast_append:
        stats.fast_path_append = True
        events = batch_ev
    else:
        # the committed state joins the aggregation as virtual full-image
        # (or delete) events. RAW storage rows go in — merge-on-read
        # deltas are NOT pre-reduced, because the resolution's per-column
        # max over multiple full-image virtuals at distinct ords equals
        # the reduced row exactly (full images set every column; delete
        # dominance and __t_ord = max virtual ord are likewise invariant).
        # Skipping the pre-reduce removes one whole exchange + sort-agg
        # per micro-batch from the patch path.
        tgt = _align_to(
            table.read_storage(spark, touched, reduced=False),
            storage_cols, storage_schema,
        )
        if mode == "mor":
            # append path: committed state only matters for keys that a
            # PATCH event touches (a patch is read-modify-write by
            # nature); keys carrying only full-image/delete events
            # resolve from the batch alone and append as plain MOR
            # deltas — the read-time LWW reduce settles them against the
            # committed rows exactly as the non-patch MOR path does. So
            # the virtual side is semi-joined down to the batch's PATCH
            # keys: with a 15%-patch feed the read-modify-write input is
            # ~6× smaller than joining on all batch keys, and at 10^10
            # stored rows it stays O(patch keys), never O(table).
            # Disposition note: full-image-only keys therefore report
            # MOR append vocabulary (inserted/deleted — no stale/carried
            # detection, same as the non-patch MOR path); patch keys keep
            # exact read-modify-write dispositions.
            # PLAN PIN: `patch_keys` and `batch_ev` both reference the
            # observed `batch` subtree, so the fast_append=False write job
            # carries the validation CollectMetrics node TWICE. Spark
            # merges same-named observations across duplicated subtrees
            # and reports one complete result per action (the counters
            # are sums over all instances' partitions of the SAME scan,
            # deduplicated by Spark's AggregatingAccumulator per metric
            # id) — pinned by
            # tests/test_patch.py::test_patch_counters_survive_duplicated_subtree.
            patch_keys = batch.filter(F.col("op") == PATCH_OP).select(
                *[F.col(k).cast(evolved[k].dataType).alias(k) for k in KEY_COLS]
            ).dropDuplicates(list(KEY_COLS))
            tgt = tgt.join(patch_keys, list(KEY_COLS), "left_semi")
        virt = tgt.select(
            *KEY_COLS,
            F.when(F.col("deleted"), F.lit("D")).otherwise(F.lit("U")).alias("op"),
            F.col("ts"),
            F.col("op_seq"),
            *payload_cols,
            F.col("batch_id"),
            F.col("source_file"),
            F.col("ingest_ts"),
            F.lit(True).alias("__virtual"),
        )
        events = batch_ev.unionByName(virt)

    # ONE exchange for resolve + write (the lww_dedup_clustered shape):
    # cluster events on the bucket's balanced shuffle slot, group by
    # (slot, key) — satisfied distribution, no agg exchange — and hand
    # the still-bucket-clustered output to a pre_clustered write. The
    # naive plan pays two full exchanges (key-hash for the aggregation,
    # bucket-hash for the write) of every resolved row per micro-batch.
    from etl_spark.cdc.dedup import _slot_magic

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    magic = _slot_magic(spark, n_part)
    slot = F.element_at(
        F.array(*[F.lit(m_) for m_ in magic]),
        (F.pmod(table.bucket_expr(), F.lit(n_part)) + 1).cast("int"),
    )
    events = events.withColumn("__slot", slot).repartition(n_part, F.col("__slot"))
    resolved = resolve_events(
        events, payload_cols, virtual_col="__virtual",
        carry_cols=["batch_id", "source_file", "ingest_ts"],
        patched_cols=patched_cols, cluster_col="__slot",
    )
    append_mode = fast_append or mode == "mor"
    is_del_f = F.col("op") == F.lit("D")
    merged = resolved.select(
        *[F.col(k).cast(evolved[k].dataType).alias(k) for k in KEY_COLS],
        *[F.col(c_).cast(evolved[c_].dataType).alias(c_) for c_ in payload_cols],
        F.col("ts"),
        F.col("op_seq"),
        is_del_f.alias("deleted"),
        F.col("batch_id"),
        F.col("source_file"),
        F.col("ingest_ts"),
        F.col("__disp"),
    )

    # dispositions observed on EVERY resolved key (the MOR changed-keys
    # filter sits downstream of the CollectMetrics node, so stale/carried
    # counts stay mode-independent — the filter only prunes the WRITE)
    disp_obs = Observation()
    observed = merged.observe(disp_obs, *_disp_aggs())
    if mode == "mor" and not fast_append:
        # append volume = changed keys only; unchanged/carried rows stay in
        # their current files and the read-time reduce keeps working
        observed = observed.filter(
            ~F.col("__disp").isin("carried", "stale_skipped")
        )
    to_write = observed.drop("__disp")
    t1 = time.time()
    stats.phase_sec["plan"] = round(t1 - t_plan0, 3)
    files = table.write_bucket_files(
        to_write, version_tag=f"merge-v{batch_id[:12]}", schema_id=new_sid,
        pre_clustered=True,  # slot exchange above IS the bucket clustering
    )
    stats.phase_sec["write"] = round(time.time() - t1, 3)
    t2 = time.time()
    if mode == "mor":
        # validation counters rode the write job (no pass-1 existed):
        # enforce the failfast budget BEFORE the commit — on breach the
        # written files stay invisible orphans, the manifest is untouched
        c = counters.get
        events_in, failed, late_dropped = int(c["n"]), int(c["bad"]), int(c["late"])
        stats.events_in, stats.failed, stats.late_dropped = (
            events_in, failed, late_dropped,
        )
        max_ts = c["max_ts"]
        watermark_us = _ts_to_us(max_ts) if max_ts is not None else None
        if events_in > 0 and failed / events_in > fail_threshold:
            raise BatchFailedError(
                f"batch {batch_id}: {failed}/{events_in} failed rows exceeds "
                f"{fail_threshold:.0%} budget — aborting before commit"
            )
        if events_in == 0 or events_in == failed + late_dropped:
            # nothing to merge; still commit (advances watermark + segments)
            table.commit_version(
                {}, [], batch_id,
                {
                    "events_in": events_in,
                    "failed": failed,
                    "late_dropped": late_dropped,
                },
                segments=segments, new_watermark_us=watermark_us,
                input_files=input_files, expected_version=base_version,
                on_conflict="rebase",
            )
            stats.phase_sec["commit"] = round(time.time() - t2, 3)
            return stats
    try:
        d = disp_obs.get
    except Exception:
        # an all-stale/all-carried MOR batch filters EVERY row before the
        # write; AQE's empty-relation propagation can then drop the
        # CollectMetrics node from the executed plan (same pathology as
        # apply._ResilientCounters) — recompute the dispositions with one
        # direct aggregation over the resolution output
        d = merged.agg(*_disp_aggs()).first().asDict()
    stats.inserted = int(d["inserted"])
    stats.updated = int(d["updated"])
    stats.deleted = int(d["deleted"])
    stats.stale_skipped = int(d["stale_skipped"])
    stats.carried = int(d["carried"])
    if append_mode:
        stats.touched_buckets = sorted(files.keys())

    record = _finalize_stats_record(table, files, stats, mode, source_files, t0)
    table.commit_version(
        files,
        stats.touched_buckets,
        batch_id,
        record,
        new_user_schema=evolved,
        segments=segments,
        input_files=input_files,
        new_bloom=new_bloom,
        append_files=append_mode,
        new_watermark_us=watermark_us,
        # a MOR append onto a non-empty table can shadow existing keys →
        # deltas exist (the patch-bucket fast path only proves the PATCH
        # buckets file-less; full-image keys in other buckets still
        # shadow); COW rewrites and appends onto an empty table leave the
        # reduce state resolved
        needs_reduce=(
            True if (mode == "mor" and not empty_before and files) else None
        ),
        # appended deltas invalidate a stored seen-set the same way the
        # plain MOR append does; cow carries/rebuilds it via new_bloom
        drop_bloom=(mode == "mor"),
        expected_version=base_version,
        on_conflict="rebase",
    )
    stats.phase_sec["commit"] = round(time.time() - t2, 3)
    return stats
