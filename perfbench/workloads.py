"""The workloads. Each returns (end_to_end, per_layer, printed) dicts and
fills ``b.attempted`` / ``b.failed``.

upsert_cow    the tail of a feed replayed copy-on-write into a copy of a
              table preloaded with its head: most events update an existing
              key (Bloom probe, scan gate, merge join, touched-bucket rewrite).
stream_live   an open-loop generator lands segments on a fixed schedule into
              a running merge-on-read stream that keeps the MV and a replica;
              one closed-loop client does point lookups meanwhile. Freshness,
              the stream driver, MV and replica maintenance, reads beside
              writes; and, being merge-on-read, the control that bypasses the
              Bloom probe and the merge join.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import shutil
import threading
import time

import checks
import spans
from harness import (
    N_BUCKETS, Bench, bytes_written, dir_bytes, files_per_bucket_max,
    first_commit_times, p50, snapshot_bytes, steal_sample, tail,
)

# upsert_cow: the first BASE_SEGMENTS are preloaded copy-on-write in set-up;
# each rep replays the rest. Reps start while they are expected to end within
# half of --seconds (scans and lookups take the other half), at least MIN_REPS.
UPSERT = dict(events=48_000, segments=4, files=2)
BASE_SEGMENTS = 2
MIN_REPS = 3
SCANS = 5
LOOKUPS = 10
# stream: SEG_PER_S segments of SEG_EVENTS events each second (10k events/s)
# land for --seconds
SEG_PER_S = 2
SEG_EVENTS = 5_000
GRACE_S = 10.0       # backlog is counted this long after the last due time
CATCH_UP_S = 90.0    # give up waiting for commit/MV/replica after this
POLL_S = 0.02


def _replay(b: Bench, table, feed_dir: str, mode: str):
    from etl_spark.cdc import apply

    return apply.replay_feed(b.spark, table, feed_dir, mode=mode)


# ------------------------------------------------------------- upsert_cow
def upsert_cow(b: Bench):
    from etl_spark.lake.table import LakeTable

    session_s = b.start_session()
    dirs = b.pinned_feed("upsert_cow", "feed", **UPSERT)
    # one feed split in two: op_seq and ts derive from the row id, so the
    # halves of one feed never collide the way two seeds' feeds would
    for part in ("base", "rest"):
        os.makedirs(b.path(part))
    moved = [b.path("base" if k < BASE_SEGMENTS else "rest", os.path.basename(d))
             for k, d in enumerate(dirs)]
    for src, dst in zip(dirs, moved):
        os.rename(src, dst)
    rest_dirs = moved[BASE_SEGMENTS:]
    # set-up: the preload is the warm-up too (its first batch takes the
    # pure-insert fast path, the second the merge join), then one untimed
    # lookup compiles the lookup plan
    t = time.perf_counter()
    base = b.new_table("basetable")
    _replay(b, base, b.path("base"), "cow")
    b.lookup(base, b.lookup_ids(1)[0])
    preload_s = time.perf_counter() - t
    v0 = base.current_version()

    b.start_measuring()
    steal0 = steal_sample()
    feed_rows = int(checks.feed_digest(rest_dirs).split(":")[0])
    walls, rates, fresh, all_stats = [], [], [], []
    traced_walls, untraced_walls, traced_stats = [], [], []
    t_end = time.perf_counter() + b.seconds / 2
    while len(walls) < MIN_REPS or time.perf_counter() + walls[-1] <= t_end:
        table = LakeTable(b.path(f"lake{len(walls)}"))
        shutil.copytree(base.path, table.path)
        # traced runs alternate traced and untraced reps: the ratio of their
        # medians is the tracing overhead
        traced = not b.traced or len(walls) % 2 == 0
        with contextlib.nullcontext() if traced else b.rec.suppress():
            with b.rec.span("bench.rep", "bench"):
                t_due = time.time()
                t = time.perf_counter()
                stats = _replay(b, table, b.path("rest"), "cow")
                wall = time.perf_counter() - t
        events = sum(s.events_in for s in stats)
        b.attempted += len(stats)
        if events != feed_rows:
            b.failed += 1
            b.notes[f"rep{len(walls)}_events_in"] = f"{events} != feed rows {feed_rows}"
        walls.append(wall)
        rates.append(events / wall)
        (traced_walls if traced else untraced_walls).append(wall)
        # a batch job's freshness: every segment lands when the replay
        # starts, and the rep's input is visible once its last one commits
        fresh.append(max(c for c, _v in first_commit_times(table, v0).values()) - t_due)
        all_stats += stats
        if traced:
            traced_stats = stats
    scans = [b.scan(table) for _ in range(SCANS)]
    live_rows = scans[0][1]
    b.notes["scan_samples_s"] = [round(x, 3) for x, _ in scans]
    expected = checks.oracle_rows(moved)
    by_conv: dict[str, set] = {}
    for r in expected:
        by_conv.setdefault(r[0], set()).add(r)
    lat = []
    for k, cid in enumerate(b.lookup_ids(LOOKUPS)):
        with b.rec.suppress() if b.traced and k % 2 else contextlib.nullcontext():
            dt, rows = b.lookup(table, cid)
        lat.append(dt)
        b.attempted += 1
        b.failed += rows != by_conv.get(cid, set())
    peak = b.rss.stop()
    steal1 = steal_sample()

    # correctness gate
    mism = len(expected ^ checks.table_rows(table.read(b.spark)))
    inv = checks.invariant_violations([checks.merge_stats_row(s) for s in all_stats])
    b.attempted += 2
    b.failed += (mism > 0) + (inv > 0)
    b.notes.update(state_mismatched_rows=mism, invariant_violations=inv,
                   rep_walls_s=[round(w, 3) for w in walls], live_rows=live_rows)

    e2e = {
        "setup_s": session_s + preload_s,
        "apply_events_per_s": p50(rates),
        "scan_s": p50([s for s, _ in scans]),
        "point_lookup_p50_ms": p50(lat) * 1000,
        "freshness_commit_p50_s": p50(fresh),
        "table_bytes_per_row": snapshot_bytes(table) / live_rows,
    }
    human = {
        "peak_rss_mb": peak,
        "preload_s": preload_s,
        **_lookup_tail(lat),
        "steal_frac": _steal(steal0, steal1),
        "ops_failed_frac": b.failed / b.attempted,
    }
    layer = {}
    if b.traced:
        b.per = len(traced_walls)
        layer = _layer_common(b, session_s, preload_s)
        layer.update(_merge_layer([s for s in traced_stats if not s.skipped_idempotent]))
        written = bytes_written(table, v0)
        layer.update({
            "lake.table.bytes_written": float(written),
            "lake.table.write_amp": written / dir_bytes(rest_dirs),
            "lake.table.files_per_bucket_max": float(files_per_bucket_max(table)),
            "trace.overhead_frac": p50(traced_walls) / p50(untraced_walls) - 1.0,
        })
    return e2e, layer, human


# ----------------------------------------------------------------- stream
def stream_live(b: Bench):
    from etl_spark.cdc import stream
    from etl_spark.lake import replicate
    from etl_spark.lake.mv import ConvSummaryMV, conv_summary
    from etl_spark.lake.table import LakeTable

    session_s = b.start_session()
    n_seg = stream_segments(b.seconds)
    dirs = b.pinned_feed(f"stream_live.{n_seg}", "pre", **stream_feed(n_seg))
    land = b.path("land")
    os.makedirs(land)
    # segment 0 lands before the stream starts; its trigger is the warm-up
    landed = [_land(dirs[0], land)]

    t = time.perf_counter()
    table = b.new_table("lake")
    mv = ConvSummaryMV(b.path("mv"))
    rep = LakeTable(b.path("replica"))
    q = stream.run_stream(
        b.spark, table, land, b.path("ckpt"), available_now=False, mode="mor",
        mv_path=mv.path, replica_path=rep.path,
    )

    def synced():
        return replicate.synced_version(rep, table) if rep.exists() else None

    def current(v):
        return mv.table_version == v and synced() == v

    # set-up ends when the first trigger's commit, MV refresh and replica
    # bootstrap are all visible
    _wait(q, lambda: table.current_version() >= 1 and current(table.current_version()),
          CATCH_UP_S)
    b.lookup(table, b.lookup_ids(1)[0])  # the first lookup compiles its plan
    warm_s = time.perf_counter() - t
    v_warm = table.current_version()
    prog_warm = len(_progress(b))

    b.start_measuring()
    steal0 = steal_sample()
    mv_seen: dict[int, float] = {}
    rep_seen: dict[int, float] = {}
    due: dict[str, float] = {}
    late: list[float] = []
    stop = threading.Event()
    landing_done = threading.Event()
    t0 = time.time() + 0.05

    gen_error: list[BaseException] = []

    def generator():
        # open loop: segment k is due at t0 + k/SEG_PER_S whatever the
        # stream does; between landings, note when the MV and the replica
        # first show each table version
        k = 1
        try:
            while not stop.is_set():
                now = time.time()
                if k <= n_seg and now >= t0 + (k - 1) / SEG_PER_S:
                    d = t0 + (k - 1) / SEG_PER_S
                    landed.append(_land(dirs[k], land))
                    due[os.path.basename(dirs[k])] = d
                    late.append(time.time() - d)
                    k += 1
                    if k > n_seg:
                        landing_done.set()
                    continue
                for seen, v in ((mv_seen, mv.table_version), (rep_seen, synced())):
                    if v is not None and v not in seen:
                        seen[v] = time.time()
                time.sleep(POLL_S)
        except Exception as e:  # reported by the main thread
            gen_error.append(e)
            landing_done.set()

    gen = threading.Thread(target=generator, name="perfbench-generator")
    gen.start()
    lat, untraced_lat = [], []

    def caught_up():
        return (landing_done.is_set()
                and set(due) <= set(first_commit_times(table, v_warm))
                and current(table.current_version()))

    try:
        # the lookup client runs until every landed segment is committed and
        # shown by the MV and the replica
        ids = b.lookup_ids(10_000)
        deadline = time.perf_counter() + b.seconds + CATCH_UP_S
        while not caught_up():
            if q.exception() is not None or time.perf_counter() > deadline:
                raise RuntimeError(f"stream did not catch up: {q.exception()}")
            k = len(lat) + len(untraced_lat)
            cid = ids[k % len(ids)]
            off = b.traced and k % 2 == 1
            with b.rec.suppress() if off else contextlib.nullcontext():
                dt, rows = b.lookup(table, cid)
            (untraced_lat if off else lat).append(dt)
            if any(r[0] != cid for r in rows):
                b.failed += 1
        if gen_error:
            raise RuntimeError("segment generator failed") from gen_error[0]
        q.processAllAvailable()
    finally:
        stop.set()
        gen.join(timeout=30)
        q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    b.attempted += len(lat) + len(untraced_lat)
    peak = b.rss.stop()
    steal1 = steal_sample()

    commits = first_commit_times(table, v_warm)
    prog = _progress(b)
    window = prog[prog_warm:]
    b.attempted += len(window)
    fc = [commits[s][0] - due[s] for s in due]
    fmv = [_first_seen(mv_seen, commits[s][1]) - due[s] for s in due]
    frep = [_first_seen(rep_seen, commits[s][1]) - due[s] for s in due]
    last_due = max(due.values())
    backlog = sum(1 for s in due if commits[s][0] > last_due + GRACE_S)
    events = sum(r["events_in"] for r in window)
    apply_s = sum(r["wall_sec"] for r in window)

    # correctness gate
    mism = checks.state_mismatches(b.spark, table, landed)
    mv_mism = checks.frame_mismatches(mv.read(b.spark), conv_summary(table.read(b.spark)))
    rep_mism = checks.frame_mismatches(rep.read(b.spark), table.read(b.spark))
    inv = checks.invariant_violations([r for r in prog if not r["no_new_files"]])
    all_rows = int(checks.feed_digest(landed).split(":")[0])
    ev_all = sum(r["events_in"] for r in prog)
    b.attempted += 4
    b.failed += (mism > 0) + (mv_mism > 0) + (rep_mism > 0) + (inv > 0 or ev_all != all_rows)
    scans = [b.scan(table) for _ in range(SCANS)]
    live_rows = scans[0][1]
    b.notes.update(state_mismatched_rows=mism, mv_mismatched_rows=mv_mism,
                   replica_mismatched_rows=rep_mism, invariant_violations=inv,
                   events_in_total=ev_all, landed_rows=all_rows, segments=n_seg)

    ft, ft_pct = tail(fc)
    e2e = {
        "setup_s": session_s + warm_s,
        "apply_events_per_s": events / apply_s,
        "scan_s": p50([s for s, _ in scans]),
        "point_lookup_p50_ms": p50(lat) * 1000,
        "freshness_commit_p50_s": p50(fc),
        "table_bytes_per_row": snapshot_bytes(table) / live_rows,
    }
    mvt, _ = tail(fmv)
    rpt, _ = tail(frep)
    human = {
        "peak_rss_mb": peak,
        "freshness_mv_p50_s": p50(fmv), "freshness_mv_tail_s": mvt,
        "freshness_replica_p50_s": p50(frep), "freshness_replica_tail_s": rpt,
        "backlog_end_segments": backlog,
        "generator_late_ms_max": max(late) * 1000,
        **_lookup_tail(lat),
        "freshness_commit_tail_s": ft,
        "freshness_commit_tail": f"p{ft_pct:.1f} of {len(fc)}",
        "steal_frac": _steal(steal0, steal1),
        "ops_failed_frac": b.failed / b.attempted,
    }
    layer = {}
    if b.traced:
        measured = b.measured_spans()
        window_triggers = [s for s in measured if s.name == spans.TRIGGER]
        main_stats = [
            sp.result["stats"] for sp in measured
            if sp.name == "cdc.apply.apply_batch" and sp.result
            and sp.result["table"] == table.path
            and not sp.result["stats"].skipped_idempotent
        ]
        started = {r["batch_id"]: _ts(r["started_at"]) for r in window if r["batch_id"]}
        ver_started = {
            rec["version"]: started[bid]
            for bid, rec in table.full_commits().items() if bid in started
        }
        qwait = [ver_started[commits[s][1]] - due[s] for s in due
                 if commits[s][1] in ver_started]
        per_version: dict[int, int] = {}
        for _c, v in commits.values():
            per_version[v] = per_version.get(v, 0) + 1
        mv_spans = [s for s in measured if s.name == "lake.mv.refresh"]
        rep_spans = [s for s in measured if s.name == "lake.replicate.sync_replica"]
        arith = sum(r.get("mv_arith") or 0 for r in window)
        reagg = sum(r.get("mv_reagg") or 0 for r in window)
        layer = _layer_common(b, session_s, warm_s)
        layer.update(_merge_layer(main_stats))
        layer.update({
            "lake.table.bytes_written": float(bytes_written(table, v_warm)),
            "lake.table.write_amp": bytes_written(table, v_warm) / dir_bytes(landed[1:]),
            "lake.table.files_per_bucket_max": float(files_per_bucket_max(table)),
            "cdc.stream.triggers": float(len(window_triggers)),
            "cdc.stream.segments_per_trigger": len(commits) / max(1, len(per_version)),
            "cdc.stream.trigger_apply_s_p50": p50([r["wall_sec"] for r in window if r["events_in"]] or [0.0]),
            "cdc.stream.trigger_cycle_s_p50": p50([s.end - s.start for s in window_triggers] or [0.0]),
            "cdc.stream.queue_wait_s_p50": p50(qwait or [0.0]),
            "cdc.stream.freshness_commit_tail_s": ft,
            "cdc.stream.backlog_end_segments": float(backlog),
            "cdc.stream.generator_late_ms_max": max(late) * 1000,
            "lake.mv.refresh_s_p50": p50([s.end - s.start for s in mv_spans] or [0.0]),
            "lake.mv.refreshes": float(len(mv_spans)),
            "lake.mv.reagg_share": reagg / max(1, arith + reagg),
            "lake.mv.freshness_p50_s": p50(fmv),
            "lake.mv.freshness_tail_s": mvt,
            "lake.replicate.sync_s_p50": p50([s.end - s.start for s in rep_spans] or [0.0]),
            "lake.replicate.rows": float(sum(
                s.result["stats"].events_in for s in rep_spans if s.result)),
            "lake.replicate.freshness_p50_s": p50(frep),
            "lake.replicate.freshness_tail_s": rpt,
            "trace.overhead_frac": p50(lat) / p50(untraced_lat) - 1.0,
        })
    return e2e, layer, human


def stream_segments(seconds: float) -> int:
    """Segments landed in the measured window (at least 11 for a tail)."""
    return max(11, int(round(seconds * SEG_PER_S)))


def stream_feed(n_seg: int) -> dict:
    return dict(events=(n_seg + 1) * SEG_EVENTS, segments=n_seg + 1, files=1)


def _land(src: str, land: str) -> str:
    """Make one pre-generated segment arrive: stamp its files with the
    arrival time and rename the directory into the landing dir."""
    now = time.time()
    for f in os.listdir(src):
        os.utime(os.path.join(src, f), (now, now))
    dst = os.path.join(land, os.path.basename(src))
    os.rename(src, dst)
    return dst


def _wait(q, cond, timeout: float) -> None:
    deadline = time.perf_counter() + timeout
    while not cond():
        if q.exception() is not None or not q.isActive:
            raise RuntimeError(f"stream stopped: {q.exception()}")
        if time.perf_counter() > deadline:
            raise RuntimeError("stream did not catch up in time")
        time.sleep(POLL_S)


def _first_seen(seen: dict[int, float], version: int) -> float:
    return min(t for v, t in seen.items() if v >= version)


def _progress(b: Bench) -> list[dict]:
    p = b.path("ckpt", "_progress", "progress.jsonl")
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return [json.loads(line) for line in f]


def _ts(s: str) -> float:
    return datetime.datetime.fromisoformat(s).timestamp()


def _lookup_tail(lat: list[float]) -> dict:
    """The lookup tail where the run has enough samples for one; the
    sample count is always reported."""
    out = {"point_lookups": len(lat)}
    if len(lat) >= 21:
        v, pct = tail([x * 1000 for x in lat])
        out["point_lookup_tail_ms"] = v
        out["point_lookup_tail"] = f"p{pct:.1f} of {len(lat)}"
    return out


def _steal(s0, s1) -> float:
    return (s1[0] - s0[0]) / max(1, s1[1] - s0[1])


# ------------------------------------------------------------ layer metrics
def _layer_common(b: Bench, session_s: float, warm_s: float) -> dict:
    """Span-derived layer metrics of the measured phase, time totals per
    traced rep."""
    per = b.per
    measured = b.measured_spans()
    selfs = spans.self_times(measured)
    by_name = {}
    for s in measured:
        by_name.setdefault(s.name, []).append(s)

    def total(*names):
        return sum(s.end - s.start for n in names for s in by_name.get(n, [])) / per

    apply_self = sum(selfs[s.sid] for s in measured if s.layer == "cdc.apply") / per
    roots = [s for s in measured if s.parent is None and s.layer == "bench"]
    bench_self = sum(selfs[s.sid] for s in measured if s.layer == "bench")
    out = {
        "session.start_s": session_s,
        "session.warmup_s": warm_s,
        "cdc.apply.driver_s": apply_self,
        "cdc.bloom.probe_s": total("cdc.bloom.scan_batch_buckets",
                                   "cdc.bloom.any_possibly_seen", "cdc.bloom.build_bloom"),
        "cdc.bloom.probe_calls": float(sum(len(by_name.get(n, [])) for n in (
            "cdc.bloom.scan_batch_buckets", "cdc.bloom.any_possibly_seen",
            "cdc.bloom.build_bloom"))) / per,
        "lake.table.write_files_s": total("lake.table.write_bucket_files"),
        "lake.table.commit_s": total("lake.table.commit_version"),
        "lake.table.compact_s": total("lake.table.compact_small_files"),
        "lake.table.compactions": float(sum(
            1 for s in by_name.get("lake.table.compact_small_files", [])
            if s.result and s.result["buckets"])) / per,
        "lake.table.point_files_scanned_p50": p50([
            s.result["files"] for s in by_name.get("lake.table.plan_point_lookup", [])
            if s.result] or [0.0]),
        "trace.unattributed_frac": bench_self / max(1e-9, sum(s.end - s.start for s in roots)),
    }
    return out


def _merge_layer(stats) -> dict:
    rows = [checks.merge_stats_row(s) for s in stats]
    ph = lambda k: sum(s.phase_sec.get(k, 0.0) for s in stats)  # noqa: E731
    n = max(1, len(stats))
    return {
        "cdc.apply.events_in": float(sum(r["events_in"] for r in rows)),
        "cdc.apply.failed": float(sum(r["failed"] for r in rows)),
        "cdc.apply.late_dropped": float(sum(r["late_dropped"] for r in rows)),
        "cdc.apply.dup_dropped": float(sum(r["dup_dropped"] for r in rows)),
        "cdc.apply.applied": float(sum(r["applied"] for r in rows)),
        "cdc.apply.batches": float(len(stats)),
        "lake.merge.scan_s": ph("scan"),
        "lake.merge.write_s": ph("write"),
        "lake.merge.commit_s": ph("commit"),
        "lake.merge.fast_path_frac": sum(s.fast_path_append for s in stats) / n,
        "lake.merge.buckets_touched_frac": sum(
            len(s.touched_buckets) for s in stats) / (n * N_BUCKETS),
    }


WORKLOADS = {"upsert_cow": upsert_cow, "stream_live": stream_live}
