"""Operational CLI — the spark-submit entry point.

Mirrors the reference's command surface (README.md:71-120 —
``python . db create_omop_schema`` / ``python . etl <tables>`` /
``python . stats``) reshaped for the CDC engine:

    python -m pasar_spark bootstrap --table /lake/transcripts
    python -m pasar_spark gen       --wal /wal --events 1000000
    python -m pasar_spark ingest    --table /lake/transcripts --wal /wal
    python -m pasar_spark stream    --table ... --wal ... --checkpoint ...
    python -m pasar_spark compact   --table ... [--min-files 8]
    python -m pasar_spark vacuum    --table ... --horizon-lsn N
    python -m pasar_spark stats     --table ...

On a cluster: ``spark-submit --py-files pasar_spark.zip -m pasar_spark ...``
(the session factory honors PASAR_SPARK_MASTER).
"""

from __future__ import annotations

import argparse
import json
import sys

from pasar_spark.session import get_spark


def _spark(args):
    return get_spark(
        "pasar-cli",
        master=args.master,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def _load_table(spark, path: str):
    from pasar_spark.lake.table import LakeTable

    if not LakeTable.exists(path):
        print(f"error: no lake table at {path!r} (run bootstrap/ingest first)", file=sys.stderr)
        raise SystemExit(2)
    return LakeTable.load(spark, path)


def cmd_bootstrap(args) -> int:
    from pasar_spark.cdc.runner import ReplayRunner

    spark = _spark(args)
    t = ReplayRunner(spark, args.table, n_buckets=args.buckets).bootstrap()
    print(json.dumps({"table": args.table, "version": t.version, "schema": t.schema.to_json()}))
    return 0


def cmd_gen(args) -> int:
    from pasar_spark.datagen import change_events, write_change_log

    spark = _spark(args)
    df = change_events(
        spark,
        args.events,
        n_convs=args.convs,
        seed=args.seed,
        evolution_lsn=args.evolution_lsn,
    )
    if args.format == "debezium-json":
        from pasar_spark.cdc.debezium import to_debezium

        to_debezium(df, wrapped=True).repartition(args.files).write.text(
            args.wal
        )
    else:
        write_change_log(df, args.wal, n_files=args.files)
    print(json.dumps({"wal": args.wal, "events": args.events, "format": args.format}))
    return 0


def _load_evolution_plan(path: str | None):
    """JSON file: {"1": [["add", "sentiment", "string"]], "2": [...]} —
    feed schema_ver -> ordered DDL ops (see cdc/schema_evolution.py)."""
    from pasar_spark.cdc.schema_evolution import EvolutionPlan

    if not path:
        return None
    with open(path) as fh:
        raw = json.load(fh)
    return EvolutionPlan(
        steps={int(v): [tuple(op) for op in ops] for v, ops in raw.items()}
    )


def cmd_ingest(args) -> int:
    from pasar_spark.cdc.runner import ReplayRunner

    if args.conflict == "patch" and args.evolution_plan:
        print("error: ingest --conflict patch takes no --evolution-plan", file=sys.stderr)
        return 2
    spark = _spark(args)
    if bool(args.wal) == bool(args.jdbc_url):
        print("error: ingest needs exactly one of --wal or --jdbc-url", file=sys.stderr)
        return 2
    if args.jdbc_url:
        from pasar_spark.cdc.sources import JdbcSource

        source = JdbcSource(
            spark,
            url=args.jdbc_url,
            table=args.jdbc_table,
            lsn_column=args.jdbc_lsn_column,
            num_partitions=args.jdbc_partitions,
        )
    else:
        source = args.wal
    if args.conflict == "patch":
        from pasar_spark.cdc.patch import PatchReplayRunner

        runner = PatchReplayRunner(
            spark,
            args.table,
            n_buckets=args.buckets,
            chunk_size=args.chunk_size,
            compact_min_files=args.compact_min_files,
        )
        t = runner.replay(source, max_events=args.max_events)
        print(json.dumps({"table": args.table, "last_lsn": t.last_lsn,
                          "conflict": "patch", "rows": runner.read(t).count()}))
        return 0
    runner = ReplayRunner(
        spark,
        args.table,
        n_buckets=args.buckets,
        chunk_size=args.chunk_size,
        compact_min_files=args.compact_min_files,
        evolution_plan=_load_evolution_plan(args.evolution_plan),
    )
    t = runner.replay(source, max_events=args.max_events)
    print(json.dumps({"table": args.table, "last_lsn": t.last_lsn, "metrics": t.metrics}))
    return 0


def cmd_lookup(args) -> int:
    spark = _spark(args)
    t = _load_table(spark, args.table)
    key = {t.manifest["bucket_by"]: args.key}
    if args.turn_idx is not None:
        key["turn_idx"] = args.turn_idx
    rows = [r.asDict() for r in t.read_key(**key).collect()]
    print(json.dumps({"table": args.table, "key": key, "rows": rows}, default=str))
    return 0


def _run_live(ingest, args) -> dict:
    """``--live`` tail for ``--duration`` seconds; every target's head."""
    q = ingest.start(processing_time=args.trigger_interval)
    try:
        if args.duration > 0:
            q.awaitTermination(args.duration)
        else:
            q.awaitTermination()
    finally:
        q.stop()
    return ingest.heads()


def cmd_stream(args) -> int:
    from pasar_spark.streaming.stream import StreamingIngest

    spark = _spark(args)
    followers = []
    if args.derived:
        from pasar_spark.cdc.derived import DerivedConvStats

        followers.append(
            DerivedConvStats(
                spark, args.table, args.derived, n_buckets=args.buckets
            )
        )
    if args.export_dest:
        from pasar_spark.lake.export import ExportFollower

        followers.append(ExportFollower(spark, args.table, args.export_dest))
    ingest = StreamingIngest(
        spark,
        args.table,
        args.wal,
        checkpoint_path=args.checkpoint,
        n_buckets=args.buckets,
        wire_format=args.wire_format,
        dlq_path=args.dlq,
        followers=followers,
    )
    if args.live:
        # production live tail: processingTime trigger; --duration bounds
        # the run (0 = until killed; the checkpoint + ledger make any
        # stop/restart exactly-once either way)
        (t,) = _run_live(ingest, args).values()
    else:
        t = ingest.run_available_now()
    print(json.dumps({"table": args.table, "last_lsn": t.last_lsn, "metrics": t.metrics}))
    return 0


def cmd_compact(args) -> int:
    from pasar_spark.cdc.merge import compact_buckets

    spark = _spark(args)
    t, delta = compact_buckets(_load_table(spark, args.table), min_files=args.min_files)
    print(json.dumps({"table": args.table, **delta, "version": t.version}))
    return 0


def cmd_vacuum(args) -> int:
    from pasar_spark.cdc.merge import vacuum_tombstones

    spark = _spark(args)
    t, delta = vacuum_tombstones(
        _load_table(spark, args.table),
        args.horizon_lsn,
        min_tombstones=args.min_tombstones,
    )
    print(json.dumps({"table": args.table, **delta, "version": t.version}))
    return 0


def cmd_stats(args) -> int:
    spark = _spark(args)
    t = _load_table(spark, args.table)
    out = {
        "table": args.table,
        "version": t.version,
        "last_lsn": t.last_lsn,
        "metrics": t.metrics,
        "rows": t.read().count(),
        "buckets": len(t.manifest["buckets"]),
        "unresolved_buckets": len(t.manifest.get("unresolved", [])),
        "files": sum(t.bucket_file_counts().values()),
        "schema": t.schema.to_json(),
    }
    if args.history:
        out["history"] = t.history()
    print(json.dumps(out))
    return 0


def cmd_changes(args) -> int:
    spark = _spark(args)
    t = _load_table(spark, args.table)
    ch = t.changes(args.since, to_version=args.to)
    if args.limit:
        ch = ch.limit(args.limit)
    rows = [r.asDict() for r in ch.collect()]
    print(
        json.dumps(
            {"table": args.table, "from": args.since, "to": args.to or t.version,
             "count": len(rows), "changes": rows},
            default=str,
        )
    )
    return 0


def cmd_rollback(args) -> int:
    spark = _spark(args)
    t = _load_table(spark, args.table).rollback(args.to)
    print(json.dumps({"table": args.table, "version": t.version, "last_lsn": t.last_lsn}))
    return 0


def cmd_expire(args) -> int:
    spark = _spark(args)
    stats = _load_table(spark, args.table).expire_snapshots(
        keep_last=args.keep_last, min_age_sec=args.min_age_sec
    )
    print(json.dumps({"table": args.table, **stats}))
    return 0


def cmd_rebucket(args) -> int:
    spark = _spark(args)
    t = _load_table(spark, args.table).rebucket(args.buckets)
    print(json.dumps({"table": args.table, "version": t.version, "n_buckets": args.buckets}))
    return 0


def cmd_export(args) -> int:
    from pasar_spark.lake.export import exp_dirs_glob, expire_exports, export_snapshot

    spark = _spark(args)
    t = _load_table(spark, args.table)
    s = export_snapshot(t, args.dest, incremental=not args.full)
    if args.keep is not None:
        s["expired_versions"] = expire_exports(args.dest, keep=args.keep)
    s["glob"] = exp_dirs_glob(args.dest, s["source_version"])
    print(json.dumps({"table": args.table, **s}))
    return 0


def cmd_etl(args) -> int:
    # the reference's `python . etl <tables>` surface (etl/__main__.py:21-44):
    # one feed, many targets, single scan per LSN window (cdc/router.py)
    from pasar_spark.cdc.router import MultiTableReplayRunner

    spark = _spark(args)
    names = [t for t in args.tables.split(",") if t]
    if args.stream:
        # live form: one WAL tail, epoch-sliced demux (streaming/stream.py)
        from pasar_spark.streaming.stream import MultiTableStreamingIngest

        if not args.checkpoint:
            print("error: etl --stream needs --checkpoint", file=sys.stderr)
            return 2
        ingest = MultiTableStreamingIngest(
            spark,
            args.base_dir,
            names,
            route_by=args.route_by,
            wal_path=args.wal,
            checkpoint_path=args.checkpoint,
            n_buckets=args.buckets,
            on_unrouted=args.on_unrouted,
        )
        tables = _run_live(ingest, args) if args.live else ingest.run_available_now()
        runner = ingest.runner
    else:
        runner = MultiTableReplayRunner(
            spark,
            args.base_dir,
            names,
            route_by=args.route_by,
            n_buckets=args.buckets,
            chunk_size=args.chunk_size,
            on_unrouted=args.on_unrouted,
        )
        tables = runner.replay(args.wal, max_events=args.max_events)
    print(
        json.dumps(
            {
                "tables": {
                    n: {"version": t.version, "last_lsn": t.last_lsn,
                        "rows_applied": t.manifest["metrics"].get("applied", 0)}
                    for n, t in sorted(tables.items())
                },
                "unrouted_events": runner.unrouted_events,
            }
        )
    )
    return 0


def cmd_group_snapshot(args) -> int:
    from pasar_spark.cdc.router import group_snapshot, group_snapshot_epochs

    spark = _spark(args)
    fn = group_snapshot if args.authority == "lsn" else group_snapshot_epochs
    snap = fn(spark, args.base_dir, [t for t in args.tables.split(",") if t])
    print(
        json.dumps(
            {
                "authority": args.authority,
                "cut_lsn": min(t.last_lsn for t in snap.values()),
                "tables": {
                    n: {"version": t.version, "last_lsn": t.last_lsn}
                    for n, t in sorted(snap.items())
                },
            }
        )
    )
    return 0


def cmd_fsck(args) -> int:
    # pure metadata walk — no Spark session needed
    from pasar_spark.lake.fsck import fsck

    r = fsck(args.table, deep=args.deep)
    print(json.dumps(r))
    return 0 if r["ok"] else 1


def cmd_import(args) -> int:
    from pasar_spark.lake.export import import_snapshot

    spark = _spark(args)
    t = import_snapshot(
        spark, args.dest, args.table, n_buckets=args.buckets
    )
    print(
        json.dumps(
            {
                "table": args.table,
                "version": t.version,
                "last_lsn": t.last_lsn,
                "resume": "replay/stream the WAL against this table; "
                f"it continues from lsn {t.last_lsn + 1}",
            }
        )
    )
    return 0


def cmd_derive(args) -> int:
    from pasar_spark.cdc.derived import DerivedConvStats

    spark = _spark(args)
    _load_table(spark, args.source)  # fail fast with the friendly error
    stats = DerivedConvStats(
        spark, args.source, args.table, n_buckets=args.buckets
    )
    t, info = stats.refresh()
    print(json.dumps({"source": args.source, "table": args.table,
                      "version": t.version, **info}))
    return 0


def cmd_staged(args) -> int:
    spark = _spark(args)
    t = _load_table(spark, args.table)
    if args.publish:
        t = t.publish_staged(args.publish)
        print(json.dumps({"table": args.table, "published": args.publish,
                          "version": t.version, "last_lsn": t.last_lsn}))
    elif args.discard:
        t.discard_staged(args.discard)
        print(json.dumps({"table": args.table, "discarded": args.discard,
                          "version": t.version}))
    else:
        print(json.dumps({"table": args.table, "version": t.version,
                          "staged": t.staged_refs()}))
    return 0


def cmd_lineage(args) -> int:
    spark = _spark(args)
    t = _load_table(spark, args.table)
    lin = t.lineage()
    if args.bucket is not None:
        lin = {str(args.bucket): lin.get(str(args.bucket), [])}
    print(json.dumps({"table": args.table, "version": t.version, "lineage": lin}))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="pasar_spark", description=__doc__)
    p.add_argument("--master", default=None, help="spark master (default: local[*] or $PASAR_SPARK_MASTER)")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("bootstrap", help="create the transcripts lake table")
    b.add_argument("--table", required=True)
    b.add_argument("--buckets", type=int, default=16)
    b.set_defaults(fn=cmd_bootstrap)

    g = sub.add_parser("gen", help="write a deterministic synthetic change log")
    g.add_argument("--wal", required=True)
    g.add_argument("--events", type=int, required=True)
    g.add_argument("--convs", type=int, default=1000)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--files", type=int, default=32)
    g.add_argument("--evolution-lsn", type=int, default=None)
    g.add_argument(
        "--format",
        choices=["parquet", "debezium-json"],
        default="parquet",
        help="WAL encoding (debezium-json pairs with stream --wire-format)",
    )
    g.set_defaults(fn=cmd_gen)

    i = sub.add_parser("ingest", help="replay the change feed from the checkpoint to its end")
    i.add_argument("--table", required=True)
    i.add_argument("--wal", default=None, help="parquet WAL dir (or use --jdbc-url)")
    i.add_argument("--jdbc-url", default=None, help="JDBC url of the feed database (chunked cursor source)")
    i.add_argument("--jdbc-table", default="events", help="feed table/subquery for --jdbc-url")
    i.add_argument("--jdbc-lsn-column", default="lsn")
    i.add_argument("--jdbc-partitions", type=int, default=8, help="parallel range reads per chunk")
    i.add_argument("--buckets", type=int, default=16)
    i.add_argument("--chunk-size", type=int, default=1_000_000)
    i.add_argument("--max-events", type=int, default=None)
    i.add_argument(
        "--conflict",
        choices=["row", "patch"],
        default="row",
        help="row: whole-row LWW (default); patch: per-column LWW for partial-update feeds",
    )
    i.add_argument("--compact-min-files", type=int, default=8)
    i.add_argument(
        "--evolution-plan",
        default=None,
        help='JSON file: {"<schema_ver>": [["add","col","type"], ...]} applied when the feed reaches that version',
    )
    i.set_defaults(fn=cmd_ingest)

    s = sub.add_parser(
        "stream",
        help="tail the WAL via Structured Streaming (availableNow drain, or --live)",
    )
    s.add_argument("--table", required=True)
    s.add_argument("--wal", required=True)
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--buckets", type=int, default=16)
    s.add_argument("--live", action="store_true", help="processingTime trigger instead of availableNow")
    s.add_argument("--trigger-interval", default="1 second")
    s.add_argument("--duration", type=int, default=0, help="seconds to tail with --live (0 = forever)")
    s.add_argument(
        "--wire-format",
        choices=["parquet", "debezium-json"],
        default="parquet",
        help="WAL encoding: native parquet envelopes, or Debezium JSON lines",
    )
    s.add_argument(
        "--dlq",
        default=None,
        help="quarantine dir for non-row-change lines (debezium-json only)",
    )
    s.add_argument(
        "--derived",
        default=None,
        help="maintain a per-conversation stats table at this path, "
        "incrementally refreshed from the CDF inside every epoch",
    )
    s.add_argument(
        "--export-dest",
        default=None,
        help="keep a plain-parquet export at this path fresh inside every "
        "epoch (incremental republish; external engines read it live)",
    )
    s.set_defaults(fn=cmd_stream)

    c = sub.add_parser("compact", help="fold MoR delta files")
    c.add_argument("--table", required=True)
    c.add_argument("--min-files", type=int, default=8)
    c.set_defaults(fn=cmd_compact)

    v = sub.add_parser("vacuum", help="drop tombstones older than the horizon")
    v.add_argument("--table", required=True)
    v.add_argument("--horizon-lsn", type=int, required=True)
    v.add_argument(
        "--min-tombstones", type=int, default=1,
        help="only rewrite buckets holding at least this many reclaimable"
             " tombstones (cost tracks garbage, not bucket count)",
    )
    v.set_defaults(fn=cmd_vacuum)

    st = sub.add_parser("stats", help="table metrics / lineage readout")
    st.add_argument("--table", required=True)
    st.add_argument("--history", action="store_true")
    st.set_defaults(fn=cmd_stats)

    lk = sub.add_parser("lookup", help="bucket-pruned point lookup by key")
    lk.add_argument("--table", required=True)
    lk.add_argument("--key", required=True, help="bucket_by value (conv_id)")
    lk.add_argument("--turn-idx", type=int, default=None)
    lk.set_defaults(fn=cmd_lookup)

    ch = sub.add_parser("changes", help="change-data-feed between two snapshots")
    ch.add_argument("--table", required=True)
    ch.add_argument("--since", type=int, required=True, help="from version")
    ch.add_argument("--to", type=int, default=None, help="to version (default CURRENT)")
    ch.add_argument("--limit", type=int, default=1000)
    ch.set_defaults(fn=cmd_changes)

    rb = sub.add_parser("rollback", help="restore a prior snapshot (append-only)")
    rb.add_argument("--table", required=True)
    rb.add_argument("--to", type=int, required=True, help="version to restore")
    rb.set_defaults(fn=cmd_rollback)

    ex = sub.add_parser("expire", help="expire snapshots + delete unreferenced files")
    ex.add_argument("--table", required=True)
    ex.add_argument("--keep-last", type=int, default=2)
    ex.add_argument("--min-age-sec", type=float, default=3600.0)
    ex.set_defaults(fn=cmd_expire)

    rk = sub.add_parser("rebucket", help="rewrite into a new bucket count")
    rk.add_argument("--table", required=True)
    rk.add_argument("--buckets", type=int, required=True)
    rk.set_defaults(fn=cmd_rebucket)

    dv = sub.add_parser("derive", help="refresh the incremental conv-stats aggregate from the CDF")
    dv.add_argument("--source", required=True, help="transcripts lake table path")
    dv.add_argument("--table", required=True, help="derived aggregate table path")
    dv.add_argument("--buckets", type=int, default=16)
    dv.set_defaults(fn=cmd_derive)

    xp = sub.add_parser(
        "export",
        help="publish the resolved snapshot as plain parquet for external "
        "engines (incremental: changed buckets rewritten, rest hardlinked)",
    )
    xp.add_argument("--table", required=True)
    xp.add_argument("--dest", required=True, help="export root (versioned dirs + CURRENT)")
    xp.add_argument("--full", action="store_true", help="force a full rewrite")
    xp.add_argument("--keep", type=int, default=None, help="expire all but the newest N export versions after publishing")
    xp.set_defaults(fn=cmd_export)

    et = sub.add_parser(
        "etl",
        help="multi-table ingest: demux ONE change feed into N lake tables "
        "(single scan per LSN window, per-table exactly-once ledgers) — "
        "the reference's `python . etl <tables>` surface",
    )
    et.add_argument("--wal", required=True, help="parquet WAL dir of the interleaved feed")
    et.add_argument("--base-dir", required=True, help="each target lives at <base-dir>/<name>")
    et.add_argument("--tables", required=True, help="comma-separated target names")
    et.add_argument(
        "--route-by",
        default="table",
        help="SQL expression over the event yielding its target name "
        "(default: a 'table' column carried by the feed)",
    )
    et.add_argument("--buckets", type=int, default=16)
    et.add_argument("--chunk-size", type=int, default=1_000_000)
    et.add_argument("--max-events", type=int, default=None)
    et.add_argument("--on-unrouted", choices=["error", "ignore"], default="error")
    et.add_argument("--stream", action="store_true", help="tail the WAL via Structured Streaming instead of batch LSN windows")
    et.add_argument("--checkpoint", default=None, help="streaming checkpoint dir (required with --stream)")
    et.add_argument("--live", action="store_true", help="with --stream: processingTime trigger instead of a one-shot drain")
    et.add_argument("--trigger-interval", default="1 second")
    et.add_argument("--duration", type=int, default=0, help="with --live: stop after N seconds (0 = until killed)")
    et.set_defaults(fn=cmd_etl)

    gs = sub.add_parser(
        "group-snapshot",
        help="cross-table consistent read cut over a routed group: pins "
        "every table at the newest COMMON window boundary (versions to "
        "pass as time-travel reads). O(metadata).",
    )
    gs.add_argument("--base-dir", required=True)
    gs.add_argument("--tables", required=True, help="comma-separated target names")
    gs.add_argument(
        "--authority", choices=["lsn", "epoch"], default="lsn",
        help="lsn = batch-router lockstep windows (strict); epoch = "
        "streaming-maintained groups (cuts below a split epoch)",
    )
    gs.set_defaults(fn=cmd_group_snapshot)

    fk = sub.add_parser(
        "fsck",
        help="table integrity check: manifest chain, referenced files, "
        "ledger, staged pointers, orphans (metadata-only; --deep adds "
        "parquet-footer cross-checks). Exit 1 on errors.",
    )
    fk.add_argument("--table", required=True)
    fk.add_argument("--deep", action="store_true")
    fk.set_defaults(fn=cmd_fsck)

    im = sub.add_parser(
        "import",
        help="seed a NEW replica table from an export (snapshot+position "
        "bootstrap); resume the WAL afterwards to converge with the primary",
    )
    im.add_argument("--dest", required=True, help="export root to seed from")
    im.add_argument("--table", required=True, help="path for the NEW replica table")
    im.add_argument("--buckets", type=int, default=None, help="re-shard the replica (default: source bucket count)")
    im.set_defaults(fn=cmd_import)

    sg = sub.add_parser("staged", help="list / publish / discard staged (WAP) snapshots")
    sg.add_argument("--table", required=True)
    sg.add_argument("--publish", default=None, help="staged name to fast-forward CURRENT to")
    sg.add_argument("--discard", default=None, help="staged name to drop unpublished")
    sg.set_defaults(fn=cmd_staged)

    ln = sub.add_parser("lineage", help="per-bucket batch/file provenance")
    ln.add_argument("--table", required=True)
    ln.add_argument("--bucket", type=int, default=None)
    ln.set_defaults(fn=cmd_lineage)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
