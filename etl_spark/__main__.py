"""Operational CLI — the ``spark-submit --py-files`` entry point.

    python -m etl_spark <cmd> [...]      # local dev
    spark-submit --py-files etl_spark.zip -m ... cli.py  # cluster

Commands mirror the reference's operational surface:
  * ``init``    — create the lake table (update-schema deploy analog,
                  /root/reference/cmd/update-schema/update.go:216-258)
  * ``replay``  — batch replay of a feed directory (resumable)
  * ``stream``  — Structured Streaming tail with checkpoint
  * ``apply``   — single-segment debug path (the reference's HTTP
                  ?filename=… dev entry, etl_worker.go:118-158)
  * ``gen``     — deterministic seeded feed generator
  * ``compact`` / ``expire`` — table maintenance
  * ``metrics`` / ``lineage`` / ``show`` — observability
"""

from __future__ import annotations

import argparse
import json
import sys

from etl_spark.schema import TRANSCRIPT_SCHEMA
from etl_spark.session import get_spark


def _stats_json(stats) -> str:
    return json.dumps(
        [
            {
                "batch_id": s.batch_id,
                "events_in": s.events_in,
                "inserted": s.inserted,
                "updated": s.updated,
                "deleted": s.deleted,
                "dup_dropped": s.dup_dropped,
                "stale_skipped": s.stale_skipped,
                "failed": s.failed,
                "late_dropped": s.late_dropped,
                "wall_sec": round(s.wall_sec, 2),
                "skipped_idempotent": s.skipped_idempotent,
                "fast_path_append": s.fast_path_append,
            }
            for s in stats
        ]
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="etl_spark")
    ap.add_argument("--cores", type=int, default=None, help="local[N] cores")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("init", help="create the lake table")
    p.add_argument("--table", required=True)
    p.add_argument("--buckets", type=int, default=64)

    p = sub.add_parser("replay", help="batch-replay a feed directory")
    p.add_argument("--table", required=True)
    p.add_argument("--feed", required=True)
    p.add_argument("--late-watermark-sec", type=float, default=None)
    p.add_argument("--mode", choices=["cow", "mor"], default="cow")
    p.add_argument("--allow-patches", action="store_true",
                   help="accept op='P' sparse partial-update events")
    p.add_argument("--quarantine", default=None,
                   help="dead-letter invalid rows under DIR/<batch_id>/")
    p.add_argument("--auto-compact-files", type=int, default=None,
                   help="bin-pack buckets exceeding this many files after each batch")

    p = sub.add_parser("stream", help="streaming tail with checkpoint")
    p.add_argument("--table", required=True)
    p.add_argument("--feed", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument("--late-watermark-sec", type=float, default=None)
    p.add_argument("--mode", choices=["cow", "mor"], default="cow")
    p.add_argument("--allow-patches", action="store_true",
                   help="accept op='P' sparse partial-update events")
    p.add_argument("--mv", default=None,
                   help="keep this summary-MV directory in sync per trigger")
    p.add_argument("--auto-compact-files", type=int, default=None,
                   help="bin-pack buckets exceeding this many files after each trigger")
    p.add_argument("--replica", default=None,
                   help="keep this replica table in changelog sync per trigger")

    p = sub.add_parser("apply", help="apply ONE segment directory (debug)")
    p.add_argument("--table", required=True)
    p.add_argument("--segment-dir", required=True)

    p = sub.add_parser("gen", help="generate a deterministic change feed")
    p.add_argument("--out", required=True)
    p.add_argument("--events", type=int, default=100_000)
    p.add_argument("--convs", type=int, default=1000)
    p.add_argument("--segments", type=int, default=4)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--skew", type=float, default=2.0)
    p.add_argument("--patch-ratio", type=float, default=0.0,
                   help="fraction of events emitted as op='P' sparse patches")

    p = sub.add_parser("compact", help="bin-pack small files")
    p.add_argument("--table", required=True)
    p.add_argument("--max-files-per-bucket", type=int, default=4)

    p = sub.add_parser("resolve", help="major compaction: collapse MOR deltas")
    p.add_argument("--table", required=True)

    p = sub.add_parser(
        "delete",
        help="row-level DELETE FROM ... WHERE (tombstone+redact; --purge "
             "drops rows physically)",
    )
    p.add_argument("--table", required=True)
    p.add_argument("--where", required=True, help="SQL predicate over live rows")
    p.add_argument("--purge", action="store_true")

    p = sub.add_parser("update", help="row-level UPDATE ... SET ... WHERE")
    p.add_argument("--table", required=True)
    p.add_argument("--where", required=True, help="SQL predicate over live rows")
    p.add_argument(
        "--set", required=True, action="append", metavar="COL=EXPR",
        help="payload column assignment, repeatable (EXPR is SQL)",
    )

    p = sub.add_parser(
        "timeslice",
        help="re-layout buckets into contiguous-ts files (days(ts)-style "
             "secondary clustering for window reads)",
    )
    p.add_argument("--table", required=True)
    p.add_argument("--slices", type=int, default=8)

    p = sub.add_parser(
        "zorder",
        help="re-layout buckets along a Morton curve over (conv_id, ts) "
             "so point lookups AND window reads both skip files",
    )
    p.add_argument("--table", required=True)
    p.add_argument("--files-per-bucket", type=int, default=8)
    p.add_argument("--bits", type=int, default=4)

    p = sub.add_parser(
        "rename",
        help="rename a payload column without rewriting data files",
    )
    p.add_argument("--table", required=True)
    p.add_argument("--old", required=True)
    p.add_argument("--new", required=True)

    p = sub.add_parser(
        "add-column", help="ADD COLUMN (nullable, O(1) metadata commit)"
    )
    p.add_argument("--table", required=True)
    p.add_argument("--name", required=True)
    p.add_argument("--type", required=True, dest="dtype")
    p.add_argument("--comment", default=None)

    p = sub.add_parser(
        "drop-column", help="logical DROP COLUMN (no data rewrite)"
    )
    p.add_argument("--table", required=True)
    p.add_argument("--name", required=True)

    p = sub.add_parser("rebucket", help="bucket-count evolution: rewrite into bucket(N, conv_id)")
    p.add_argument("--table", required=True)
    p.add_argument("--buckets", type=int, required=True)

    p = sub.add_parser("changelog", help="changelog read: diff two retained snapshots")
    p.add_argument("--table", required=True)
    p.add_argument("--from", dest="v_from", type=int, required=True)
    p.add_argument("--to", dest="v_to", type=int, default=None)

    p = sub.add_parser(
        "rollback", help="roll the table back to a retained snapshot"
    )
    p.add_argument("--table", required=True)
    p.add_argument("--to-version", type=int, required=True)

    p = sub.add_parser("expire", help="expire old snapshots")
    p.add_argument("--table", required=True)
    p.add_argument("--keep-last", type=int, default=2)

    p = sub.add_parser("metrics", help="per-batch metrics table")
    p.add_argument("--table", required=True)

    p = sub.add_parser("stats", help="per-bucket layout stats from the manifest")
    p.add_argument("--table", required=True)

    p = sub.add_parser("lineage", help="per-(batch,bucket) lineage table")
    p.add_argument("--table", required=True)

    p = sub.add_parser(
        "inspect", help="metadata tables: files|snapshots|history|partitions|refs"
    )
    p.add_argument("--table", required=True)
    p.add_argument(
        "name",
        choices=["files", "snapshots", "history", "partitions", "refs", "constraints"],
    )
    p.add_argument("--version", type=int, default=None)

    p = sub.add_parser("show", help="final transcript state")
    p.add_argument("--table", required=True)
    p.add_argument("--conv", default=None)
    p.add_argument("--limit", type=int, default=20)

    p = sub.add_parser(
        "lookup", help="stats-pruned point read of ONE conversation"
    )
    p.add_argument("--table", required=True)
    p.add_argument("--conv", required=True)

    p = sub.add_parser(
        "between", help="time-window read [--from, --to) via ts file-skipping"
    )
    p.add_argument("--table", required=True)
    p.add_argument("--from", dest="ts_from", required=True, help="ISO ts")
    p.add_argument("--to", dest="ts_to", required=True, help="ISO ts")
    p.add_argument("--limit", type=int, default=20)

    p = sub.add_parser(
        "where-equal",
        help="bloom-pruned equality lookup on a non-key column "
             "(declare columns first with skip-blooms)",
    )
    p.add_argument("--table", required=True)
    p.add_argument("--col", required=True)
    p.add_argument("--value", required=True)
    p.add_argument("--limit", type=int, default=20)

    p = sub.add_parser(
        "skip-blooms",
        help="declare columns to summarize into per-file bloom sidecars "
             "for where-equal pruning (applies to files written after)",
    )
    p.add_argument("--table", required=True)
    p.add_argument("cols", nargs="+")

    p = sub.add_parser(
        "wap-replay",
        help="write-audit-publish replay: stage on a branch, audit, publish",
    )
    p.add_argument("--table", required=True)
    p.add_argument("--feed", required=True)
    p.add_argument("--branch", default=None, help="branch name (resume a crashed WAP)")
    p.add_argument("--mode", choices=["cow", "mor"], default="cow")

    p = sub.add_parser("branch", help="branch ops: list | drop --name | publish --name")
    p.add_argument("--table", required=True)
    p.add_argument("action", choices=["list", "drop", "publish"])
    p.add_argument("--name", default=None)

    p = sub.add_parser("tag", help="tag ops: list | create --name [--version] | drop --name")
    p.add_argument("--table", required=True)
    p.add_argument("action", choices=["list", "create", "drop"])
    p.add_argument("--name", default=None)
    p.add_argument("--version", type=int, default=None)

    p = sub.add_parser(
        "catalog",
        help="catalog ops: list [--ns] | pins | snapshot | recover "
             "(heal crash-interrupted multi-table transactions)",
    )
    p.add_argument("--root", required=True, help="catalog root directory")
    p.add_argument("action", choices=["list", "pins", "snapshot", "recover"])
    p.add_argument("--ns", default=None)

    p = sub.add_parser(
        "route-replay",
        help="replay a MULTI-TABLE feed (events carry a 'tbl' column) into "
             "catalog tables — per-table exactly-once; --transactional "
             "publishes each segment across tables atomically",
    )
    p.add_argument("--catalog", required=True, help="catalog root directory")
    p.add_argument("--feed", required=True)
    p.add_argument("--table-col", default="tbl")
    p.add_argument("--mode", choices=["cow", "mor"], default="mor")
    p.add_argument("--transactional", action="store_true")
    p.add_argument("--on-unknown", choices=["fail", "skip"], default="fail")
    p.add_argument(
        "--include", action="append", default=None,
        help="owned-table include-list (repeatable); rows routed elsewhere "
             "follow --on-unknown instead of being applied",
    )

    p = sub.add_parser(
        "export-changelog",
        help="encode changes_between(from, to) as Debezium wire JSON lines "
             "(the CDC-out feed another engine ingests with from_debezium)",
    )
    p.add_argument("--table", required=True)
    p.add_argument("--from", dest="v_from", type=int, required=True)
    p.add_argument("--to", dest="v_to", type=int, default=None)
    p.add_argument("--out", required=True, help="output directory (JSONL)")

    p = sub.add_parser(
        "requeue",
        help="re-apply dead-lettered rows from a quarantine dir "
             "(after the cause is fixed)",
    )
    p.add_argument("--table", required=True)
    p.add_argument("--quarantine", required=True)
    p.add_argument("--batch-id", action="append", default=None)
    p.add_argument("--reason", action="append", default=None)
    p.add_argument("--mode", choices=["cow", "mor"], default="cow")
    p.add_argument("--fail-threshold", type=float, default=0.10)

    p = sub.add_parser(
        "constraint",
        help="row expectations: list | add --name --expr [--policy] | drop --name",
    )
    p.add_argument("--table", required=True)
    p.add_argument("action", choices=["list", "add", "drop"])
    p.add_argument("--name", default=None)
    p.add_argument("--expr", default=None)
    p.add_argument("--policy", choices=["fail", "drop", "warn"], default="fail")
    p.add_argument("--no-validate", action="store_true",
                   help="skip validating existing rows on add")

    p = sub.add_parser(
        "replicate",
        help="sync a replica table from this table's changelog (CDC-out); "
        "bootstraps the replica (created if missing) then applies diffs",
    )
    p.add_argument("--table", required=True, help="source table path")
    p.add_argument("--replica", required=True, help="replica table path")
    p.add_argument("--mode", choices=["cow", "mor"], default="mor")

    p = sub.add_parser(
        "mv-refresh",
        help="create/refresh the per-conversation summary MV from the changelog",
    )
    p.add_argument("--table", required=True)
    p.add_argument("--mv", required=True, help="MV directory")

    p = sub.add_parser(
        "query",
        help="run a registry query by name over a testdata SF dir "
        "(list names with --list)",
    )
    p.add_argument("name", nargs="?", help="registry query name")
    p.add_argument("--sf", default="/root/testdata/sf0.01", help="SF directory")
    p.add_argument("--limit", type=int, default=20, help="rows to show")
    p.add_argument("--list", action="store_true", help="list query names")
    p.add_argument("--explain", action="store_true", help="print the plan instead")

    args = ap.parse_args(argv)

    from etl_spark.lake.table import LakeTable

    if args.cmd == "init":
        LakeTable.create_if_not_exists(args.table, TRANSCRIPT_SCHEMA, args.buckets)
        print(json.dumps({"table": args.table, "created": True}))
        return 0

    if args.cmd == "catalog":
        from etl_spark.lake.catalog import LakeCatalog

        cat = LakeCatalog(args.root)
        if args.action == "list":
            print(json.dumps(cat.list_tables(args.ns)))
        elif args.action == "pins":
            print(json.dumps(cat.pins()))
        elif args.action == "snapshot":
            print(json.dumps(cat.committed_snapshot(args.ns)))
        else:
            print(json.dumps(cat.recover_txns()))
        return 0

    if args.cmd == "query":
        from etl_spark.queries import REGISTRY

        if args.list or not args.name:
            for name in sorted(REGISTRY):
                print(name)
            return 0
        if args.name not in REGISTRY:
            print(f"error: unknown query {args.name!r} (see --list)", file=sys.stderr)
            return 2

    spark = get_spark(cores=args.cores, app_name=f"etl_spark_{args.cmd}")

    if args.cmd == "route-replay":
        from etl_spark.cdc.route import replay_feed_routed
        from etl_spark.lake.catalog import LakeCatalog

        out = replay_feed_routed(
            spark, LakeCatalog(args.catalog), args.feed,
            table_col=args.table_col, transactional=args.transactional,
            on_unknown=args.on_unknown, mode=args.mode,
            include=args.include,
        )
        print(
            json.dumps(
                {
                    seg: {
                        ident: {
                            "events_in": s.events_in,
                            "applied": s.applied(),
                            "failed": s.failed,
                            "skipped_idempotent": s.skipped_idempotent,
                        }
                        for ident, s in per.items()
                    }
                    for seg, per in out.items()
                }
            )
        )
        return 0

    if args.cmd == "query":
        from etl_spark.queries import REGISTRY

        df = REGISTRY[args.name][0](spark, args.sf)
        if args.explain:
            df.explain("formatted")
        else:
            df.show(args.limit, truncate=40)
            print(json.dumps({"query": args.name, "rows": df.count(), "sf": args.sf}))
        return 0

    if args.cmd == "gen":
        from etl_spark.cdc.gen import change_feed_df, write_feed

        feed = change_feed_df(
            spark, n_events=args.events, n_convs=args.convs, max_turns=32,
            seed=args.seed, skew=args.skew, n_batches=args.segments,
            patch_ratio=args.patch_ratio,
        )
        write_feed(feed, args.out, n_batches=args.segments)
        print(json.dumps({"out": args.out, "events": args.events}))
        return 0

    table = LakeTable(args.table)
    if not table.exists():
        print(f"error: no lake table at {args.table} (run init)", file=sys.stderr)
        return 2

    if args.cmd == "replay":
        from etl_spark.cdc.apply import replay_feed

        stats = replay_feed(
            spark, table, args.feed,
            late_watermark_sec=args.late_watermark_sec, mode=args.mode,
            auto_compact_files=args.auto_compact_files,
            allow_patches=args.allow_patches,
            quarantine_dir=args.quarantine,
        )
        print(_stats_json(stats))
    elif args.cmd == "stream":
        from etl_spark.cdc.stream import run_stream

        run_stream(
            spark, table, args.feed, args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
            available_now=True,
            late_watermark_sec=args.late_watermark_sec,
            mode=args.mode,
            mv_path=args.mv,
            auto_compact_files=args.auto_compact_files,
            replica_path=args.replica,
            allow_patches=args.allow_patches,
        )
        print(json.dumps({"table": args.table, "final_rows": table.read(spark).count()}))
    elif args.cmd == "apply":
        import os

        from etl_spark.cdc.apply import apply_batch, batch_fingerprint

        d = args.segment_dir.rstrip("/")
        files = sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        )
        seg = os.path.basename(d)
        df = spark.read.parquet(d)
        s = apply_batch(
            spark, table, df, batch_fingerprint(files),
            source_files=[seg], segments=[seg],
        )
        print(_stats_json([s]))
    elif args.cmd == "compact":
        n = table.compact_small_files(spark, args.max_files_per_bucket)
        print(json.dumps({"buckets_rewritten": n}))
    elif args.cmd == "resolve":
        n = table.resolve_deltas(spark)
        print(json.dumps({"buckets_rewritten": n}))
    elif args.cmd == "delete":
        n = table.delete_where(spark, args.where, purge=args.purge)
        print(json.dumps({"rows_deleted": n, "purged": bool(args.purge)}))
    elif args.cmd == "update":
        assignments = {}
        for a in args.set:
            col, _, expr = a.partition("=")
            if not _:
                raise SystemExit(f"--set expects COL=EXPR, got {a!r}")
            assignments[col.strip()] = expr
        n = table.update_where(spark, args.where, assignments)
        print(json.dumps({"rows_updated": n}))
    elif args.cmd == "timeslice":
        n = table.cluster_time_slices(spark, args.slices)
        print(json.dumps({"buckets_rewritten": n}))
    elif args.cmd == "zorder":
        n = table.cluster_zorder(
            spark, files_per_bucket=args.files_per_bucket, bits=args.bits
        )
        print(json.dumps({"buckets_rewritten": n}))
    elif args.cmd == "rename":
        m = table.rename_column(spark, args.old, args.new)
        print(json.dumps({"renamed": {args.old: args.new}, "version": m.version}))
    elif args.cmd == "add-column":
        m = table.add_column(args.name, args.dtype, comment=args.comment)
        print(json.dumps({"added": args.name, "version": m.version}))
    elif args.cmd == "drop-column":
        m = table.drop_column(args.name)
        print(json.dumps({"dropped": args.name, "version": m.version}))
    elif args.cmd == "rebucket":
        n = table.rebucket(spark, args.buckets)
        print(json.dumps({"data_buckets": n, "n_buckets": table.n_buckets}))
    elif args.cmd == "changelog":
        table.changes_between(spark, args.v_from, args.v_to).orderBy(
            "conv_id", "turn_idx"
        ).show(100, truncate=False)
    elif args.cmd == "rollback":
        m = table.rollback(args.to_version)
        print(
            json.dumps(
                {"rolled_back_to": args.to_version, "new_version": m.version}
            )
        )
    elif args.cmd == "expire":
        n = table.expire_snapshots(keep_last=args.keep_last)
        print(json.dumps({"files_deleted": n, "versions": table.versions()}))
    elif args.cmd == "metrics":
        table.metrics_df(spark).orderBy("version").show(100, truncate=False)
    elif args.cmd == "stats":
        table.stats_df(spark).orderBy("bucket").show(200, truncate=False)
    elif args.cmd == "lineage":
        table.lineage_df(spark).orderBy("batch_id", "bucket").show(100, truncate=False)
    elif args.cmd == "inspect":
        from etl_spark.lake.meta import metadata_df

        metadata_df(table, spark, args.name, version=args.version).show(
            200, truncate=False
        )
    elif args.cmd == "show":
        if args.conv:
            # pruned serving path: one bucket's stats-selected files
            df = table.point_read(spark, args.conv)
        else:
            df = table.read(spark)
        df.orderBy("conv_id", "turn_idx").show(args.limit, truncate=60)
    elif args.cmd == "lookup":
        # one snapshot for the plan AND the rows
        m = table.manifest()
        plan = table.plan_point_lookup(spark, args.conv, m=m)
        rows = (
            table.point_read(spark, args.conv, version=m.version)
            .orderBy("turn_idx")
            .collect()
        )
        print(json.dumps({
            "conv_id": args.conv,
            "bucket": plan["bucket"],
            "files_scanned": len(plan["files"]),
            "files_total": plan["files_total"],
            "turns": [
                {"turn_idx": r["turn_idx"], "role": r["role"], "text": r["text"]}
                for r in rows
            ],
        }))
    elif args.cmd == "between":
        table.read_between(spark, args.ts_from, args.ts_to).orderBy(
            "ts", "conv_id", "turn_idx"
        ).show(args.limit, truncate=60)
    elif args.cmd == "where-equal":
        plan = table.plan_value_lookup(args.col, args.value)
        df = table.read_where_equal(spark, args.col, args.value)
        rows = df.orderBy("conv_id", "turn_idx").limit(args.limit).collect()
        print(json.dumps({
            "col": args.col,
            "value": args.value,
            "files_scanned": len(plan["files"]),
            "files_pruned": plan["files_pruned"],
            "files_total": plan["files_total"],
            "rows": [r.asDict(recursive=True) for r in rows],
        }, default=str))
    elif args.cmd == "skip-blooms":
        m = table.set_skip_blooms(args.cols)
        print(json.dumps({"skip_blooms": m.skip_blooms, "version": m.version}))
    elif args.cmd == "wap-replay":
        from etl_spark.cdc.apply import AuditFailedError, wap_replay

        try:
            stats = wap_replay(
                spark, table, args.feed, branch_name=args.branch, mode=args.mode
            )
        except AuditFailedError as e:
            print(json.dumps({"published": False, "error": str(e)}))
            return 1
        print(json.dumps({
            "published": True,
            "version": table.current_version(),
            "batches": json.loads(_stats_json(stats)),
        }))
    elif args.cmd == "branch":
        if args.action == "list":
            print(json.dumps(table.list_branches()))
        elif args.action == "drop":
            table.drop_branch(args.name)
            print(json.dumps({"dropped": args.name}))
        else:
            m = table.publish_branch(args.name)
            print(json.dumps({"published": args.name, "version": m.version}))
    elif args.cmd == "tag":
        if args.action == "list":
            print(json.dumps(table.list_tags()))
        elif args.action == "create":
            v = table.create_tag(args.name, args.version)
            print(json.dumps({"tag": args.name, "version": v}))
        else:
            table.drop_tag(args.name)
            print(json.dumps({"dropped": args.name}))
    elif args.cmd == "export-changelog":
        from etl_spark.cdc.envelope import to_debezium

        wires = to_debezium(
            table.changes_between(
                spark, args.v_from, args.v_to, emit_meta=True, emit_pre=True
            )
        )
        wires.write.mode("overwrite").text(args.out)
        print(
            json.dumps(
                {
                    "out": args.out,
                    "v_from": args.v_from,
                    "v_to": args.v_to if args.v_to is not None
                    else table.current_version(),
                }
            )
        )
    elif args.cmd == "requeue":
        from etl_spark.cdc.apply import requeue_quarantine

        s = requeue_quarantine(
            spark, table, args.quarantine, batch_ids=args.batch_id,
            reasons=args.reason, mode=args.mode,
            fail_threshold=args.fail_threshold,
        )
        print(_stats_json([s]))
    elif args.cmd == "constraint":
        if args.action == "list":
            print(json.dumps(table.constraints()))
        elif args.action == "add":
            m = table.add_constraint(
                spark, args.name, args.expr, policy=args.policy,
                validate=not args.no_validate,
            )
            print(json.dumps({"added": args.name, "version": m.version}))
        else:
            m = table.drop_constraint(args.name)
            print(json.dumps({"dropped": args.name, "version": m.version}))
    elif args.cmd == "replicate":
        from etl_spark.lake.replicate import sync_replica, synced_version

        dst = LakeTable(args.replica)
        if not dst.exists():
            dst = LakeTable.create(
                args.replica, table.user_schema(), n_buckets=table.n_buckets
            )
        s = sync_replica(spark, table, dst, mode=args.mode)
        print(json.dumps({
            "synced_to": synced_version(dst, table),
            "replica_version": dst.current_version(),
            "batch": json.loads(_stats_json([s]))[0],
        }))
    elif args.cmd == "mv-refresh":
        from etl_spark.lake.mv import ConvSummaryMV

        mv = ConvSummaryMV(args.mv)
        n = mv.refresh(spark, table)
        print(json.dumps({
            "mv": args.mv,
            "affected_convs": n,
            "table_version": mv.table_version,
            "mv_rows": mv.read(spark).count(),
        }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
