"""Point-lookup planning on the driver.

bucket_of() evaluates the write path's bucket_expr (pmod of Spark's
xxhash64, seed 42) in-process, so plan_point_lookup() reads manifest
metadata only and submits no Spark job. These tests tie the driver hash to
Spark's expression and pin the no-job property."""

import datetime as dt
import time
import uuid

import pytest

from etl_spark.cdc.apply import apply_batch
from etl_spark.lake.table import LakeTable
from etl_spark.schema import CHANGE_SCHEMA, TRANSCRIPT_SCHEMA

N_BUCKETS = [1, 2, 13, 16]


def _ascii(n):
    return "".join(chr(97 + i % 26) for i in range(n))


# every XXH64 branch: empty, 1-3 byte tail, 4-7 (one 4-byte word), 8-31
# (8-byte words only), exactly one 32-byte stripe, several stripes plus every
# tail shape; multi-byte UTF-8 crossing word boundaries; the benchmark's ids
KEYS = (
    [_ascii(n) for n in range(0, 71)]
    + [_ascii(100), _ascii(257)]
    + ["é" * k for k in range(1, 20)]
    + ["日本語" * k for k in range(1, 12)]
    + ["🙂" * k for k in range(1, 12)]
    + ["conv-é日🙂-" + _ascii(k) for k in range(0, 40, 3)]
    + [f"conv-{i:08d}" for i in range(200)]
    + [f"conv-{i:08d}" for i in (10**6, 12345678, 99999999)]
)


def _table(tmpdir_path, n_buckets):
    return LakeTable.create(tmpdir_path + "/t", TRANSCRIPT_SCHEMA, n_buckets=n_buckets)


def test_bucket_of_matches_bucket_expr(spark, tmpdir_path):
    """The driver hash must agree with Spark's bucket_expr on every key and
    bucket count, or point lookups would scan the wrong bucket."""
    t = _table(tmpdir_path, 16)
    df = spark.createDataFrame([(k,) for k in KEYS], "conv_id string")
    rows = df.select(
        "conv_id", *[t.bucket_expr(n_buckets=n).alias(f"b{n}") for n in N_BUCKETS]
    ).collect()
    assert len(rows) == len(KEYS)
    mismatches = []
    for r in rows:
        for n in N_BUCKETS:
            got = t.bucket_of(spark, r["conv_id"], n_buckets=n)
            if got != r[f"b{n}"]:
                mismatches.append((r["conv_id"], n, r[f"b{n}"], got))
    assert mismatches == []
    # default n_buckets is the table's own
    assert all(t.bucket_of(spark, r["conv_id"]) == r["b16"] for r in rows)


def _clear_job_group(sc):
    for key in ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


def test_plan_point_lookup_submits_no_job(spark, tmpdir_path):
    t = _table(tmpdir_path, 4)
    ts = dt.datetime.fromisoformat("2024-01-01T00:00:01")
    rows = [("I", ts, i, f"conv-{i:04d}", 0, "user", f"t{i}", None, "f")
            for i in range(16)]
    apply_batch(spark, t, spark.createDataFrame(rows, CHANGE_SCHEMA), "b1")
    sc = spark.sparkContext
    probe, control = f"plan-{uuid.uuid4().hex}", f"control-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(probe, "plan_point_lookup")
        plan = t.plan_point_lookup(spark, "conv-0003")
        sc.setJobGroup(control, "control job")
        spark.range(1).count()
    finally:
        _clear_job_group(sc)
    tracker = sc.statusTracker()
    # the status store is fed asynchronously but in order: once the control
    # job shows up, any job the probe submitted would have shown up too
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(control) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(control)
    assert tracker.getJobIdsForGroup(probe) == []
    assert plan["files"] and plan["bucket"] == t.bucket_of(spark, "conv-0003")


@pytest.mark.parametrize("bad", [None, 7, b"conv-0001"])
def test_non_str_key_raises_type_error(spark, tmpdir_path, bad):
    """A null or non-string key has no bucket (the write path rejects null
    keys), so planning refuses it instead of silently scanning a bucket."""
    t = _table(tmpdir_path, 4)
    with pytest.raises(TypeError, match="conv_id must be str"):
        t.bucket_of(spark, bad)
    with pytest.raises(TypeError, match="conv_id must be str"):
        t.point_read(spark, bad)
