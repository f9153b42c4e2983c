"""Manifest file statistics + stats-pruned point lookups.

The write path records per-data-file column metrics (rows, conv_id min/max,
ts min/max µs) in the manifest entry — the Iceberg data-file-metrics analog.
point_read() must (a) prune to the key's hash bucket, (b) skip files inside
the bucket whose conv_id range excludes the key, and (c) still return
exactly the rows a full-scan read returns (pruning is never allowed to
change results — only the scan set)."""

import datetime as dt

from etl_spark.cdc.apply import apply_batch
from etl_spark.lake.table import LakeTable
from etl_spark.schema import CHANGE_SCHEMA, TRANSCRIPT_SCHEMA


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _mk(spark, rows):
    return spark.createDataFrame(rows, CHANGE_SCHEMA)


def _insert(cid, turn, seq, text):
    return ("I", _ts("2024-01-01T00:00:01"), seq, cid, turn, "user", text, None, "f")


def test_file_stats_recorded(spark, tmpdir_path):
    t = LakeTable.create(tmpdir_path + "/t", TRANSCRIPT_SCHEMA, n_buckets=1)
    apply_batch(spark, t, _mk(spark, [
        _insert("aaa", 0, 1, "x"), _insert("zzz", 0, 2, "y")]), "b1")
    fl = t.manifest().files["0"]
    assert len(fl) == 1
    fe = fl[0]
    assert fe["rows"] == 2
    st = fe["stats"]
    assert st["conv_min"] == "aaa" and st["conv_max"] == "zzz"
    assert st["ts_min_us"] <= st["ts_max_us"]


def test_point_lookup_skips_disjoint_files(spark, tmpdir_path):
    """Three MOR append commits into ONE bucket, each covering a disjoint
    conv_id range — the lookup plan must keep exactly the file(s) whose
    range can hold the key."""
    t = LakeTable.create(tmpdir_path + "/t", TRANSCRIPT_SCHEMA, n_buckets=1)
    for i, prefix in enumerate(["a", "b", "c"]):
        rows = [_insert(f"{prefix}{j:03d}", 0, i * 10 + j, f"t-{prefix}{j}")
                for j in range(3)]
        apply_batch(spark, t, _mk(spark, rows), f"b{i}", mode="mor")
    plan = t.plan_point_lookup(spark, "b001")
    assert plan["files_in_bucket"] == 3
    assert len(plan["files"]) == 1
    assert plan["files"][0]["stats"]["conv_min"] <= "b001" <= plan["files"][0]["stats"]["conv_max"]
    got = t.point_read(spark, "b001").collect()
    assert len(got) == 1 and got[0]["text"] == "t-b1"
    # an absent key between the ranges prunes every file of its bucket:
    # the empty scan still has read()'s schema
    plan = t.plan_point_lookup(spark, "b999")
    assert plan["files_in_bucket"] == 3 and plan["files"] == []
    empty = t.point_read(spark, "b999")
    assert empty.collect() == []
    assert empty.schema == t.read(spark).schema


def test_point_read_equals_filtered_full_read(spark, tmpdir_path):
    """Pruned read ≡ full read + filter, including under MOR deltas
    (update arriving in a later file) and tombstones."""
    t = LakeTable.create(tmpdir_path + "/t", TRANSCRIPT_SCHEMA, n_buckets=4)
    apply_batch(spark, t, _mk(spark, [
        _insert("c1", 0, 1, "v1"), _insert("c2", 0, 2, "other")]), "b1", mode="mor")
    apply_batch(spark, t, _mk(spark, [
        ("U", _ts("2024-01-01T00:00:05"), 3, "c1", 0, "user", "v2", None, "f"),
        ("D", _ts("2024-01-01T00:00:05"), 4, "c2", 0, None, None, None, "f"),
    ]), "b2", mode="mor")
    for cid in ["c1", "c2", "c-missing"]:
        pruned = sorted(map(tuple, t.point_read(spark, cid).collect()))
        full = sorted(map(tuple, t.read(spark).filter(f"conv_id = '{cid}'").collect()))
        assert pruned == full
    assert t.point_read(spark, "c1").collect()[0]["text"] == "v2"
    assert t.point_read(spark, "c2").count() == 0


def test_point_lookup_prunes_to_one_bucket(spark, tmpdir_path):
    """With many buckets, the plan's candidate set is one bucket's files."""
    t = LakeTable.create(tmpdir_path + "/t", TRANSCRIPT_SCHEMA, n_buckets=8)
    rows = [_insert(f"conv-{i:04d}", 0, i, f"txt-{i}") for i in range(64)]
    apply_batch(spark, t, _mk(spark, rows), "b1")
    plan = t.plan_point_lookup(spark, "conv-0031")
    assert plan["files_total"] > plan["files_in_bucket"]
    assert len(plan["files"]) <= plan["files_in_bucket"]
    assert t.point_read(spark, "conv-0031").collect()[0]["text"] == "txt-31"


def test_cluster_sorted_compaction_keeps_stats_and_state(spark, tmpdir_path):
    """compact_small_files rewrites with cluster_sort — stats stay present
    and reads are unchanged."""
    t = LakeTable.create(tmpdir_path + "/t", TRANSCRIPT_SCHEMA, n_buckets=2)
    for i in range(6):
        rows = [_insert(f"conv-{j:04d}", i, 100 * i + j, f"v{i}-{j}") for j in range(8)]
        apply_batch(spark, t, _mk(spark, rows), f"b{i}", mode="mor")
    before = sorted(map(tuple, t.read(spark).collect()))
    assert t.compact_small_files(spark, max_files_per_bucket=2) > 0
    after = sorted(map(tuple, t.read(spark).collect()))
    assert before == after
    for fl in t.manifest().files.values():
        for fe in fl:
            assert "conv_min" in fe["stats"] and "ts_min_us" in fe["stats"]


def test_read_between_skips_and_matches_full_filter(spark, tmpdir_path):
    """Time-window read over a delta-free table: file skipping by ts stats,
    result identical to full read + ts filter."""
    t = LakeTable.create(tmpdir_path + "/t", TRANSCRIPT_SCHEMA, n_buckets=1)
    for i, day in enumerate(["01", "10", "20"]):
        rows = [("I", _ts(f"2024-01-{day}T12:00:00"), 10 * i + j,
                 f"c{i}{j}", 0, "user", f"d{day}-{j}", None, "f") for j in range(3)]
        apply_batch(spark, t, _mk(spark, rows), f"b{i}", mode="mor")
    t.resolve_deltas(spark)
    lo, hi = "2024-01-05T00:00:00", "2024-01-15T00:00:00"
    got = sorted(map(tuple, t.read_between(spark, lo, hi).collect()))
    want = sorted(map(tuple, t.read(spark).filter(
        f"ts >= timestamp'{lo}' AND ts < timestamp'{hi}'").collect()))
    assert got == want and len(got) == 3
    assert all(r[3].startswith("d10") for r in got)  # text col


def test_read_between_mor_lww_correct_across_window_edge(spark, tmpdir_path):
    """A newer out-of-window update must suppress an in-window older
    version even when the newer version's file does not overlap the
    window (the reason MOR prunes at bucket granularity)."""
    t = LakeTable.create(tmpdir_path + "/t", TRANSCRIPT_SCHEMA, n_buckets=1)
    apply_batch(spark, t, _mk(spark, [
        ("I", _ts("2024-01-10T00:00:00"), 1, "c1", 0, "user", "in-window", None, "f"),
        ("I", _ts("2024-01-10T00:00:00"), 2, "c2", 0, "user", "stays", None, "f"),
    ]), "b1", mode="mor")
    apply_batch(spark, t, _mk(spark, [
        ("U", _ts("2024-02-01T00:00:00"), 3, "c1", 0, "user", "moved out", None, "f"),
    ]), "b2", mode="mor")
    got = t.read_between(spark, "2024-01-05T00:00:00", "2024-01-15T00:00:00").collect()
    assert len(got) == 1 and got[0]["conv_id"] == "c2"


def test_expire_tombstones_stats_planning(spark, tmpdir_path):
    """Stats-first planning: no candidate bucket -> 0 without any scan;
    old tombstones still expire correctly when present."""
    t = LakeTable.create(tmpdir_path + "/t", TRANSCRIPT_SCHEMA, n_buckets=2)
    apply_batch(spark, t, _mk(spark, [
        ("I", _ts("2024-06-01T00:00:00"), 1, "c1", 0, "user", "young", None, "f"),
    ]), "b1", mode="mor")
    # every file is younger than the cutoff: manifest planning answers 0
    assert t.expire_tombstones(spark, "2024-01-01T00:00:00") == 0
    # add an old delete; it must be found and expired
    apply_batch(spark, t, _mk(spark, [
        ("D", _ts("2023-12-01T00:00:00"), 0, "c0", 0, None, None, None, "f"),
    ]), "b2", mode="mor")
    assert t.expire_tombstones(spark, "2024-01-01T00:00:00") == 1
    live = t.read(spark).collect()
    assert len(live) == 1 and live[0]["conv_id"] == "c1"


def test_point_read_pinned_version_after_rebucket(spark, tmpdir_path):
    """A time-travel point read must resolve the key's bucket under the
    PINNED snapshot's layout, not the current one (regression: rebucket
    after the snapshot changed the modulus)."""
    t = LakeTable.create(tmpdir_path + "/t", TRANSCRIPT_SCHEMA, n_buckets=4)
    rows = [_insert(f"conv-{i:03d}", 0, i, f"t{i}") for i in range(20)]
    apply_batch(spark, t, _mk(spark, rows), "b1")
    v_pre = t.current_version()
    t.rebucket(spark, 13)
    for cid in ["conv-003", "conv-011"]:
        old = t.point_read(spark, cid, version=v_pre).collect()
        new = t.point_read(spark, cid).collect()
        assert len(old) == 1 and len(new) == 1
        assert old[0]["text"] == new[0]["text"]


def test_read_between_offset_aware_inputs(spark, tmpdir_path):
    """Offset-aware ISO inputs: the stats-pruning bound and the row filter
    must interpret the window identically (regression: the prune side
    stripped the offset, silently skipping files)."""
    t = LakeTable.create(tmpdir_path + "/t", TRANSCRIPT_SCHEMA, n_buckets=1)
    apply_batch(spark, t, _mk(spark, [
        _insert("c1", 0, 1, "x")]), "b1")  # ts = 2024-01-01T00:00:01 UTC
    # [-05:00 window] covering the row only when the offset is honored:
    # 2023-12-31T19:00:00-05:00 == 2024-01-01T00:00:00 UTC
    got = t.read_between(
        spark, "2023-12-31T19:00:00-05:00", "2023-12-31T20:00:00-05:00"
    ).collect()
    assert len(got) == 1
    # and a window that excludes it under correct interpretation
    assert t.read_between(
        spark, "2024-01-01T00:00:00-05:00", "2024-01-01T01:00:00-05:00"
    ).count() == 0


def test_stats_df_summarizes_layout(spark, tmpdir_path):
    t = LakeTable.create(tmpdir_path + "/t", TRANSCRIPT_SCHEMA, n_buckets=2)
    rows = [_insert(f"c{i:02d}", 0, i, f"t{i}") for i in range(10)]
    apply_batch(spark, t, _mk(spark, rows), "b1", mode="mor")
    st = {r["bucket"]: r for r in t.stats_df(spark).collect()}
    data_buckets = [b for b, fl in t.manifest().files.items() if fl]
    assert sum(r["n_rows"] or 0 for r in st.values()) == 10
    for b in data_buckets:
        r = st[int(b)]
        assert r["n_files"] == 1 and r["conv_min"] <= r["conv_max"]
        assert r["ts_min_us"] <= r["ts_max_us"]


def test_time_slice_rewrite_prunes_window_reads(spark, tmpdir_path):
    """cluster_time_slices re-layouts buckets into contiguous-ts files:
    a window read then skips most files of every bucket (file-granular,
    not just row-group), and results equal the unclustered read."""
    t = LakeTable.create(tmpdir_path + "/t", TRANSCRIPT_SCHEMA, n_buckets=2)
    rows = [
        ("I", _ts(f"2024-01-{d:02d}T12:00:00"), d * 100 + j,
         f"conv-{j:03d}", d, "user", f"t-{d}-{j}", None, "f")
        for d in range(1, 17) for j in range(6)
    ]
    for b in range(4):  # 4 MOR batches, each covering the whole ts span
        batch = [r for r in rows if r[2] % 4 == b]
        apply_batch(spark, t, _mk(spark, batch), f"b{b}", mode="mor")
    lo, hi = "2024-01-04T00:00:00", "2024-01-06T00:00:00"
    want = sorted(map(tuple, t.read_between(spark, lo, hi).collect()))

    assert t.cluster_time_slices(spark, slices=8) == 2
    m = t.manifest()
    assert not m.needs_reduce
    import datetime as _dt

    lo_us = int(_dt.datetime.fromisoformat(lo + "+00:00").timestamp() * 1e6)
    hi_us = int(_dt.datetime.fromisoformat(hi + "+00:00").timestamp() * 1e6)
    total = eligible = 0
    for fl in m.files.values():
        for fe in fl:
            total += 1
            st = fe["stats"]
            if st["ts_min_us"] < hi_us and st["ts_max_us"] >= lo_us:
                eligible += 1
    assert total >= 8  # really sliced into multiple files per bucket
    assert eligible < total / 2  # the window touches a minority of files
    got = sorted(map(tuple, t.read_between(spark, lo, hi).collect()))
    assert got == want and len(got) == 12  # days 4,5 x 6 convs


def test_zorder_rewrite_prunes_both_dimensions(spark, tmpdir_path):
    """cluster_zorder lays each bucket along a Morton curve over
    (conv_id, ts): point lookups AND time-window reads must BOTH skip
    files of the same layout (the two single-dimension rewrites each
    serve only one), and results stay identical to the pre-rewrite
    read."""
    t = LakeTable.create(tmpdir_path + "/t", TRANSCRIPT_SCHEMA, n_buckets=1)
    # 64 convs x 16 days: both dimensions spread wide within the bucket
    rows = [
        ("I", _ts(f"2024-01-{d:02d}T12:00:00"), d * 1000 + j,
         f"conv-{j:03d}", d, "user", f"t-{d}-{j}", None, "f")
        for d in range(1, 17) for j in range(64)
    ]
    for b in range(4):  # 4 MOR batches so the table starts many-filed
        batch = [r for r in rows if r[2] % 4 == b]
        apply_batch(spark, t, _mk(spark, batch), f"b{b}", mode="mor")
    lo, hi = "2024-01-04T00:00:00", "2024-01-06T00:00:00"
    want_window = sorted(map(tuple, t.read_between(spark, lo, hi).collect()))
    want_point = sorted(
        map(tuple, t.point_read(spark, "conv-007").collect())
    )
    want_all = sorted(map(tuple, t.read(spark).collect()))

    assert t.cluster_zorder(spark, files_per_bucket=8) == 1
    m = t.manifest()
    assert not m.needs_reduce
    files = m.files["0"]
    assert len(files) >= 6  # really split into several z-range files

    # point-lookup pruning: the key's conv range excludes most files
    plan = t.plan_point_lookup(spark, "conv-007")
    assert 0 < len(plan["files"]) < len(files)

    # window pruning: the ts rectangle excludes most files
    lo_us = int(dt.datetime.fromisoformat(lo + "+00:00").timestamp() * 1e6)
    hi_us = int(dt.datetime.fromisoformat(hi + "+00:00").timestamp() * 1e6)
    eligible = [
        fe for fe in files
        if fe["stats"]["ts_min_us"] < hi_us and fe["stats"]["ts_max_us"] >= lo_us
    ]
    assert 0 < len(eligible) < len(files)

    # pruning never changes results
    assert sorted(map(tuple, t.read(spark).collect())) == want_all
    assert sorted(map(tuple, t.read_between(spark, lo, hi).collect())) == want_window
    assert sorted(
        map(tuple, t.point_read(spark, "conv-007").collect())
    ) == want_point


def test_zorder_empty_and_validation(spark, tmpdir_path):
    t = LakeTable.create(tmpdir_path + "/t", TRANSCRIPT_SCHEMA, n_buckets=2)
    assert t.cluster_zorder(spark) == 0  # no files yet: no-op
    import pytest

    with pytest.raises(ValueError, match="bits"):
        apply_batch(spark, t, _mk(spark, [_insert("a", 0, 1, "x")]), "b1")
        t.cluster_zorder(spark, bits=0)
