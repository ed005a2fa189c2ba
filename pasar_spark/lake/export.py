"""Snapshot export — publish a lake-table snapshot as plain parquet any
external engine (DuckDB, Trino, pandas, another Spark) can read without
this library.

The lake table's own files are NOT directly consumable: they are named
by field id (rename-safe storage), may hold several row versions per key
(merge-on-read deltas), and carry tombstones. ``export_snapshot``
materializes the RESOLVED live state — logical column names, one row per
key, deletes gone — under a versioned directory with an atomically
flipped ``CURRENT`` pointer, so external readers get snapshot isolation
for free:

    dest/
      v12/b0/part-*.parquet      one dir per bucket, plain parquet
      v12/b3/...
      EXPORT_v12.json            source version + per-bucket file lists
      CURRENT                    -> "12"  (os.replace: atomic)

    -- any DuckDB, no engine required:
    SELECT * FROM 'dest/v12/*/*.parquet'

Scale shape — INCREMENTAL republish: the per-bucket source-file
signature (the same signature ``LakeTable.changes`` diffs) is recorded
in the export manifest. Re-exporting after a short version gap rewrites
ONLY the buckets whose file lists changed; unchanged buckets are
HARDLINKED from the previous export version (O(1) per file, no data
copied — both versions live in ``dest`` so they share a filesystem). A
10^10-row table that changed in a handful of buckets republishes in
O(changed buckets), not O(table). Rewrites of all changed buckets run
as ONE Spark job (``partitionBy`` on the bucket expression), not a job
per bucket.

Full rewrites are forced when incremental reuse would be wrong: a
rebucket (bucket ids mean different key sets), a schema evolution
(logical names/types changed — old exported files would be stale), or a
changed column selection.

Reference parity: the reference publishes its final OMOP tables as
plain Postgres tables any SQL client reads (README.md:71-120 — the ETL
output IS the interop surface); this is the lakehouse analogue.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from pasar_spark.lake.table import LakeTable, local_frame

CURRENT = "CURRENT"


def _export_manifest_path(dest: str, version: int) -> str:
    return os.path.join(dest, f"EXPORT_v{version}.json")


def current_export_version(dest: str) -> int | None:
    """Version the CURRENT pointer names, or None if never exported."""
    try:
        with open(os.path.join(dest, CURRENT)) as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        return None


def load_export_manifest(dest: str, version: int | None = None) -> dict:
    if version is None:
        version = current_export_version(dest)
        if version is None:
            raise FileNotFoundError(f"no export at {dest!r}")
    with open(_export_manifest_path(dest, version)) as fh:
        return json.load(fh)


def exp_dirs_glob(dest: str, version: int | None = None) -> str:
    """The parquet glob an external engine reads for a snapshot — e.g.
    ``SELECT * FROM '<glob>'`` in DuckDB. Resolves CURRENT by default."""
    if version is None:
        version = current_export_version(dest)
        if version is None:
            raise FileNotFoundError(f"no export at {dest!r}")
    return os.path.join(dest, f"v{version}", "*", "*.parquet")


def read_export(spark: SparkSession, dest: str, version: int | None = None) -> DataFrame:
    """Read an exported snapshot back as a DataFrame — the same glob an
    external engine would read, resolved through the export manifest so
    concurrent republishes can never tear the file set."""
    m = load_export_manifest(dest, version)
    files = [
        os.path.join(dest, f"v{m['source_version']}", rel)
        for entries in m["buckets"].values()
        for rel in entries["files"]
    ]
    if not files:
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(m["spark_schema"]))
        return local_frame(spark, schema)
    return spark.read.parquet(*files)


def _sig(entries: list[dict]) -> list[str]:
    # the same per-bucket signature LakeTable.changes() diffs: the
    # ordered source file list fully determines the bucket's live state
    return [e["path"] for e in entries]


def _link_or_copy(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def export_snapshot(
    table: LakeTable,
    dest: str,
    incremental: bool = True,
    columns: list[str] | None = None,
) -> dict:
    """Publish ``table``'s current snapshot under ``dest`` (see module
    docstring for the layout). Returns a summary dict:

        {"source_version", "path", "rewritten_buckets", "reused_buckets",
         "noop"}

    ``columns`` defaults to every non-internal logical column (leading
    underscores — patch-version structs, tombstone markers — are engine
    metadata, not consumer payload). ``incremental=False`` forces a full
    rewrite even when a previous export could be reused.

    Concurrent publishes to one ``dest`` are serialized by an exclusive
    flock on ``dest/.publish.lock`` (kernel-released on crash): without
    it, two racing exporters could both pass the CURRENT check and the
    laggard's crashed-attempt cleanup would delete the just-published
    LIVE v-dir out from under readers. A held lock raises loudly rather
    than queueing — the caller decides whether to retry.
    """
    import fcntl

    os.makedirs(dest, exist_ok=True)
    lock_fh = open(os.path.join(dest, ".publish.lock"), "a")
    try:
        try:
            fcntl.flock(lock_fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:  # EAGAIN / EWOULDBLOCK: the lock is held
            raise ValueError(
                f"another exporter holds the publish lock for {dest!r} "
                "(dest/.publish.lock); concurrent publishes to one dest "
                "are serialized — retry after it completes"
            ) from None
        except OSError as e:  # ENOLCK / EOPNOTSUPP: no flock on this filesystem
            raise OSError(e.errno, f"unsupported publish lock {dest}/.publish.lock: "
                          f"flock failed ({e.strerror})") from e
        return _export_snapshot_locked(table, dest, incremental, columns)
    finally:
        lock_fh.close()  # closing the fd releases the flock


def _export_snapshot_locked(
    table: LakeTable,
    dest: str,
    incremental: bool,
    columns: list[str] | None,
) -> dict:
    ver = table.version
    want_cols = columns or [
        c for c in table.schema.names() if not c.startswith("_")
    ]
    prior_ver = current_export_version(dest)
    if prior_ver is not None and prior_ver == ver:
        # same-version noop ONLY when the published surface already IS
        # what the caller asked for. A forced full rewrite or a changed
        # column selection (e.g. dropping a sensitive column from the
        # public surface) must NOT silently return success — and it
        # can't republish in place either: v<ver> is the LIVE dir
        # readers hold open, so rewriting it would break the snapshot
        # isolation the versioned layout exists for. Refuse with the
        # remedy instead.
        m = load_export_manifest(dest, ver)
        if incremental and m.get("columns") == want_cols:
            return {
                "source_version": ver,
                "path": os.path.join(dest, f"v{ver}"),
                "rewritten_buckets": [],
                "reused_buckets": sorted(m["buckets"]),
                "noop": True,
            }
        raise ValueError(
            f"export at {dest!r} already publishes source version {ver} "
            f"with columns {m.get('columns')}; republishing the SAME "
            "version with a different column set or --full would rewrite "
            "the live v-dir under readers. Commit to a new table version "
            "first (any no-op metadata commit works), or publish to a "
            "fresh dest."
        )
    if prior_ver is not None and prior_ver > ver:
        raise ValueError(
            f"export at {dest!r} is at source version {prior_ver}, newer "
            f"than this table handle ({ver}); exports only move forward"
        )

    cols = want_cols
    manifest_buckets = table.manifest["buckets"]

    prior = None
    if incremental and prior_ver is not None:
        prior = load_export_manifest(dest, prior_ver)
        if (
            prior.get("n_buckets") != table.manifest["n_buckets"]
            or prior.get("schema_id") != table.manifest["current_schema_id"]
            or prior.get("columns") != cols
        ):
            # rebucket / schema evolution / different column selection:
            # bucket-level reuse would serve wrong or stale data
            prior = None

    reused: list[str] = []
    rewritten: list[str] = []
    for b in sorted(manifest_buckets, key=int):
        if prior is not None and _sig(manifest_buckets[b]) == prior["buckets"].get(
            b, {}
        ).get("sig"):
            reused.append(b)
        else:
            rewritten.append(b)

    out_dir = os.path.join(dest, f"v{ver}")
    tmp_dir = os.path.join(dest, f".tmp-v{ver}-{os.getpid()}")
    shutil.rmtree(tmp_dir, ignore_errors=True)
    # belt to the publish lock's braces: if CURRENT already names this
    # version (a publisher outside the lock's reach, e.g. a filesystem
    # without usable flock), v<ver> is LIVE — refuse instead of deleting
    # it under readers
    if current_export_version(dest) == ver:
        raise ValueError(
            f"{dest!r} CURRENT already names v{ver}; refusing to rewrite "
            "a live export dir (was it published concurrently?)"
        )
    shutil.rmtree(out_dir, ignore_errors=True)  # an earlier crashed attempt
    os.makedirs(out_dir)

    # Row-mode exports additionally carry the current DELETE TOMBSTONES
    # (key + resolve-order columns only) under v<N>/_deletes/ — two dir
    # levels below the version root, so the consumer glob
    # v<N>/*/*.parquet can never pick them up. They exist for
    # import_snapshot: a replica seeded without them would RESURRECT a
    # key when a late out-of-order event staler than a pre-snapshot
    # delete arrives after resume. Fidelity window = tombstone
    # retention (vacuumed tombstones are gone here too — the same
    # snapshot+log-retention contract as any CDC bootstrap).
    is_row = table.manifest.get("conflict", "row") == "row"
    del_cols = list(dict.fromkeys(table.manifest["key"] + table.resolve_order))
    bucket_files: dict[str, dict] = {}

    def _collect(root: str, b: str, prefix: str) -> list[str]:
        part_dir = os.path.join(tmp_dir, root, f"_b={b}")
        if not os.path.isdir(part_dir):
            # a bucket whose layer is empty (no live rows / no
            # tombstones) legitimately writes no partition dir
            return []
        tgt = os.path.join(out_dir, prefix, f"b{b}")
        os.makedirs(os.path.dirname(tgt), exist_ok=True)
        os.replace(part_dir, tgt)
        return sorted(
            f"{prefix}/b{b}/{f}" if prefix else f"b{b}/{f}"
            for f in os.listdir(tgt)
            if f.endswith(".parquet")
        )

    try:
        if rewritten:
            import pyspark.sql.functions as F

            raw = table.read(
                buckets=[int(b) for b in rewritten], include_tombstones=is_row
            )
            live = raw
            if is_row and "_tombstone" in raw.columns:
                dead = F.coalesce(F.col("_tombstone"), F.lit(False))
                live = raw.where(~dead)
                (
                    raw.where(dead)
                    .select(*del_cols)
                    .withColumn("_b", table.bucket_expr())
                    .write.partitionBy("_b")
                    .parquet(os.path.join(tmp_dir, "deletes"))
                )
            # ONE job for every changed bucket: partitionBy on the same
            # bucket expression the table itself buckets by
            (
                live.select(*cols)
                .withColumn("_b", table.bucket_expr())
                .write.partitionBy("_b")
                .parquet(os.path.join(tmp_dir, "live"))
            )
        for b in rewritten:
            bucket_files[b] = {
                "sig": _sig(manifest_buckets[b]),
                "files": _collect("live", b, ""),
                "del_files": _collect("deletes", b, "_deletes"),
            }
        for b in reused:
            prev = prior["buckets"][b]
            entry = {"sig": prev["sig"], "files": [], "del_files": []}
            for which in ("files", "del_files"):
                for rel in prev.get(which, []):
                    os.makedirs(
                        os.path.dirname(os.path.join(out_dir, rel)), exist_ok=True
                    )
                    _link_or_copy(
                        os.path.join(dest, f"v{prior_ver}", rel),
                        os.path.join(out_dir, rel),
                    )
                    entry[which].append(rel)
            bucket_files[b] = entry
    except BaseException:
        shutil.rmtree(out_dir, ignore_errors=True)
        raise
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)

    export_manifest = {
        "source_path": table.path,
        "source_version": ver,
        "last_lsn": table.last_lsn,
        "n_buckets": table.manifest["n_buckets"],
        "schema_id": table.manifest["current_schema_id"],
        "columns": cols,
        "spark_schema": table.read(buckets=[]).select(*cols).schema.json(),
        # restore metadata — everything import_snapshot needs to seed a
        # replica table and resume the WAL from this snapshot's position
        "key": table.manifest["key"],
        "bucket_by": table.manifest["bucket_by"],
        "resolve_order": table.resolve_order,
        "conflict": table.manifest.get("conflict", "row"),
        "column_pairs": [
            [f.name, f.type] for f in table.schema.fields if f.name in set(cols)
        ],
        "buckets": bucket_files,
    }
    with open(_export_manifest_path(dest, ver), "w") as fh:
        json.dump(export_manifest, fh, indent=1)
    # atomic flip — a reader holding the old CURRENT keeps a complete,
    # immutable old version (hardlinks mean shared inodes survive expiry)
    fd, tmp = tempfile.mkstemp(dir=dest)
    with os.fdopen(fd, "w") as fh:
        fh.write(str(ver))
    os.replace(tmp, os.path.join(dest, CURRENT))
    return {
        "source_version": ver,
        "path": out_dir,
        "rewritten_buckets": rewritten,
        "reused_buckets": reused,
        "noop": False,
    }


def import_snapshot(
    spark: SparkSession,
    dest: str,
    table_path: str,
    version: int | None = None,
    n_buckets: int | None = None,
) -> LakeTable:
    """Seed a NEW lake table from an export — the CDC snapshot+position
    bootstrap: stand up a replica from the published snapshot, then
    ``ReplayRunner(...).replay(wal)`` resumes the SAME WAL from
    ``last_lsn + 1`` (the export manifest records the snapshot's ledger
    position), and the replica converges to the primary's state. Used
    for disaster recovery, read-replica fan-out, and migrating a table
    between clusters through the plain-parquet interop surface.

    The seed applies as one idempotent ledger batch
    (``import-v<source_version>``) of MoR deltas — O(snapshot) writes,
    no normalization re-run (exported text is already normalized).
    ``n_buckets`` re-shards the replica on the way in (the seed merge
    re-buckets rows by the replica's own bucket expression; resumed
    replay is bucket-count-agnostic).

    Patch-mode exports are refused: the default export carries resolved
    payload only, so per-column winner provenance is gone — a resumed
    patch replay over it would resurrect overwritten columns. Patch
    replicas bootstrap from the table files themselves, not the export.
    """
    m = load_export_manifest(dest, version)
    if m.get("conflict", "row") != "row":
        raise ValueError(
            "import_snapshot requires a row-mode export: a patch table's "
            "per-column winner provenance is not in the exported payload, "
            "so a resumed patch replay would resolve against wrong "
            "pre-images. Bootstrap patch replicas from the table files."
        )
    if "column_pairs" not in m:
        raise ValueError(
            f"export at {dest!r} predates restore metadata; re-export "
            "from the source table first"
        )
    from pyspark.sql import functions as F

    from pasar_spark.cdc.merge import merge_batch

    t = LakeTable.create(
        spark,
        table_path,
        # _tombstone is part of the physical contract (read() hides
        # deletes only when the schema declares it — cdc/runner.py
        # BASE_COLUMNS does the same)
        columns=[tuple(p) for p in m["column_pairs"]] + [("_tombstone", "boolean")],
        key=m["key"],
        n_buckets=n_buckets or m["n_buckets"],
        bucket_by=m["bucket_by"],
        resolve_order=m["resolve_order"],
    )
    seed = read_export(spark, dest, version).withColumn("op", F.lit("U"))
    del_files = [
        os.path.join(dest, f"v{m['source_version']}", rel)
        for entries in m["buckets"].values()
        for rel in entries.get("del_files", [])
    ]
    if del_files:
        # tombstones ride along with their OWN (ts, lsn): a late
        # out-of-order event staler than a pre-snapshot delete loses on
        # the replica exactly as it does on the primary
        dels = spark.read.parquet(*del_files).withColumn("op", F.lit("D"))
        seed = seed.unionByName(dels, allowMissingColumns=True)
    t, _ = merge_batch(
        t,
        seed,
        batch_id=f"import-v{m['source_version']}",
        last_lsn=m["last_lsn"],
        normalize=False,  # an import must not rewrite the primary's text
    )
    return t


class ExportFollower:
    """Streaming follower (``StreamingIngest(followers=[...])``): keeps
    an external-engine export fresh inside the live tail — every epoch
    republishes the snapshot INCREMENTALLY (changed buckets only), so a
    DuckDB/Trino dashboard reads parquet that tracks the stream with at
    most one epoch of lag, without ever touching engine code.

    The follower contract (idempotent ``refresh()`` that folds ALL
    unconsumed source state) holds by construction: export_snapshot is a
    version-keyed no-op when the source didn't move, forward-only, and
    incremental over any number of skipped source versions — so a crash
    between the source commit and this refresh heals on the redelivered
    epoch, the same argument as cdc/derived.py. ``keep`` bounds disk:
    old export versions expire after each publish (hardlink-safe)."""

    def __init__(
        self,
        spark: SparkSession,
        source_path: str,
        dest: str,
        columns: list[str] | None = None,
        keep: int | None = 2,
    ):
        self.spark = spark
        self.source_path = source_path
        self.dest = dest
        self.columns = columns
        self.keep = keep

    def refresh(self) -> dict:
        s = export_snapshot(
            LakeTable.load(self.spark, self.source_path),
            self.dest,
            columns=self.columns,
        )
        if self.keep is not None and not s["noop"]:
            expire_exports(self.dest, keep=self.keep)
        return s


def expire_exports(dest: str, keep: int = 2) -> list[int]:
    """Drop all but the newest ``keep`` export versions (never CURRENT).
    Hardlinked files shared with newer versions survive — unlinking a
    name never reclaims a shared inode — so expiry is always safe for
    readers of retained versions."""
    cur = current_export_version(dest)
    if cur is None:
        return []
    vers = sorted(
        int(d[1:])
        for d in os.listdir(dest)
        if d.startswith("v") and d[1:].isdigit() and os.path.isdir(os.path.join(dest, d))
    )
    drop = [v for v in vers[:-keep] if v != cur] if keep > 0 else []
    for v in drop:
        shutil.rmtree(os.path.join(dest, f"v{v}"), ignore_errors=True)
        try:
            os.remove(_export_manifest_path(dest, v))
        except FileNotFoundError:
            pass
    return drop
