"""Snapshot-isolated, bucket-partitioned lake table over Parquet.

An Iceberg-style table implemented in ~300 lines because this sandbox has
no Iceberg runtime jar. The design copies Iceberg's load-bearing ideas and
nothing else:

- **snapshots**: every commit writes an immutable manifest
  ``metadata/v<NNNNNNNN>.json`` (created with O_EXCL so two writers can
  never mint the same version) and flips the ``metadata/CURRENT`` pointer
  with an atomic rename. Readers resolve CURRENT once and see a consistent
  file set; a crashed writer leaves only invisible orphan data files.
- **bucket layout**: rows are hash-bucketed by ``xxhash64(conv_id) % B``
  (Iceberg's ``bucket(B, conv_id)`` transform). The manifest maps bucket ->
  data files, so a MERGE that touches k buckets appends deltas to exactly
  those k, and compaction rewrites only the buckets whose deltas piled
  up — file-level pruning. At 100 TB with B=4096, a typical replay chunk
  touches a bounded fraction of the table instead of all of it.
- **snapshot tags + embedded ledger**: the offset ledger (last applied
  LSN, recent batch ids, cumulative metrics) is a field OF the manifest,
  so data + checkpoint commit in one atomic action — the exactly-once
  trick the reference approximates with one Postgres transaction per
  module (etl/pypasar/omop/person.py:50-63).
- **field-id schema evolution**: see lake/schema.py.

Why not mimic the reference's truncate-then-load (person.py:24-33)?
Because at 10^10 events a full rewrite per batch is O(table) not
O(changes); appending per-bucket deltas is the scalable analogue.

On a real cluster this class is replaced by an Iceberg catalog; the merge
and replay layers (cdc/) only touch the narrow read/commit API below.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pasar_spark.lake.schema import TableSchema

CURRENT = "CURRENT"


def bucket_dir_entries(
    src_dir: str, dest_rel: str, schema_id: int, stat_cols: set
) -> list[dict]:
    """Manifest entries (path / schema_id / footer row count / key
    min-max stats) for every parquet file in a written bucket dir —
    footer reads only; every physical write (write_files, write_routed)
    ends here."""
    import pyarrow.parquet as pq

    entries = []
    for f in sorted(os.listdir(src_dir)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(src_dir, f)).metadata
        entry = {
            "path": os.path.join(dest_rel, f),
            "schema_id": schema_id,
            "rows": md.num_rows,
        }
        stats = _footer_key_stats(md, stat_cols)
        if stats:
            entry["stats"] = stats
        entries.append(entry)
    return entries


def _footer_key_stats(md, cols: set) -> dict:
    """Aggregate parquet row-group min/max into per-FILE stats for the
    given physical column names, JSON-safe values only.

    Parquet writers may truncate string min/max to a shorter bound; a
    truncated min is still a valid lower bound and a truncated max a
    valid upper bound, so pruning on them stays safe. A column missing
    stats in ANY row group is dropped for the whole file (absence means
    "may contain anything")."""
    if not cols:
        return {}
    out: dict[str, list] = {}
    dead: set = set()
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if name not in cols or name in dead:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                dead.add(name)
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
                except (UnicodeDecodeError, AttributeError):
                    dead.add(name)
                    continue
            if not isinstance(lo, (int, float, str, bool)) or not isinstance(
                hi, (int, float, str, bool)
            ):
                # dates/timestamps etc.: not JSON-round-trip-safe as-is
                dead.add(name)
                continue
            if name in out:
                out[name][0] = min(out[name][0], lo)
                out[name][1] = max(out[name][1], hi)
            else:
                out[name] = [lo, hi]
    for name in dead:
        out.pop(name, None)
    return out


def _entry_may_contain(entry: dict, phys_col: str, value) -> bool:
    """File-skipping predicate: False only when the manifest's per-file
    min/max PROVE the value is absent. Entries without stats (pre-stats
    manifests, non-key columns, truncation-unsafe types) always pass."""
    stats = entry.get("stats", {}).get(phys_col)
    if not stats:
        return True
    lo, hi = stats
    try:
        return lo <= value <= hi
    except TypeError:
        return True


def _union(parts: list[DataFrame]) -> DataFrame | None:
    return functools.reduce(DataFrame.unionByName, parts) if parts else None


def local_frame(spark: SparkSession, struct: StructType, rows=None) -> DataFrame:
    """A DataFrame over an Arrow table held on the driver (no rows when
    ``rows`` is None). Spark plans it as a LocalRelation, so a collect
    the optimizer folds into it runs no job, where an empty
    ``createDataFrame([], schema)`` parallelizes a Python RDD and runs
    one.

    The table is cast to the Arrow form of ``struct``: every timestamp,
    nested ones included, becomes ``timestamp("us", tz="UTC")``, since
    pyarrow decodes Spark's INT96 timestamps tz-naive and PySpark would
    read those as session-local wall time. The chunks are combined first:
    PySpark 4.1.2 drops every row of a table that starts with two or more
    empty record batches."""
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(struct)
    rows = schema.empty_table() if rows is None else rows.combine_chunks().cast(schema)
    return spark.createDataFrame(rows, struct)


def _arrow_pushable(value, sql_type: str) -> bool:
    """Whether ``col == value`` may go to pyarrow's parquet filter as is:
    the Python value's type is the column's type (a str on an int column,
    or an int beyond the column's width, is left to Spark's filter)."""
    if sql_type == "string":
        return isinstance(value, str)
    bits = {"smallint": 16, "int": 32, "bigint": 64}.get(sql_type)
    return (
        bits is not None
        and type(value) is int
        and -(2 ** (bits - 1)) <= value < 2 ** (bits - 1)
    )


class CommitConflict(Exception):
    pass


class _StaleCommit(CommitConflict):
    """A linked manifest turned out to fork before the acknowledged
    CURRENT head (the chain-aware flip refused it). The version number
    is consumed but the commit is orphaned; the writer must rebase on
    the new head and re-mint. _commit_rebasing retries this
    transparently; direct _commit callers (DDL, rollback, rebucket)
    surface it as the public CommitConflict it is."""


class LakeTable:
    def __init__(self, spark: SparkSession, path: str, manifest: dict, version: int):
        self.spark = spark
        self.path = path
        self.manifest = manifest
        self.version = version

    # ------------------------------------------------------------------ DDL
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        columns: list[tuple[str, str]],
        key: list[str],
        n_buckets: int = 16,
        bucket_by: str | None = None,
        name: str = "transcripts",
        resolve_order: list[str] | None = None,
        conflict: str | None = None,
    ) -> "LakeTable":
        """Create a table at v1. ``resolve_order`` (default ``[ts, lsn]``)
        and ``conflict`` (None = row LWW, ``'patch'`` = cdc/patch.py) land
        in the first manifest, so no crash can leave a table that exists
        under the wrong rule."""
        if conflict not in (None, "patch"):
            raise ValueError(f"unknown conflict rule {conflict!r}")
        os.makedirs(os.path.join(path, "metadata"), exist_ok=False)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        schema = TableSchema.from_pairs(columns)
        manifest = {
            "version": 1,
            "name": name,
            "key": key,
            "bucket_by": bucket_by or key[0],
            "resolve_order": list(resolve_order or ["ts", "lsn"]),
            "n_buckets": n_buckets,
            "current_schema_id": 0,
            "schemas": {"0": schema.to_json()},
            "buckets": {},  # bucket(str) -> [{path, schema_id}]
            # buckets whose file set holds unresolved MoR deltas (>1 row
            # version per key possible) — reads LWW-resolve these
            "unresolved": [],
            "ledger": {"last_lsn": -1, "batch_ids": [], "source_partitions": {}},
            "metrics": {
                "applied": 0,
                "deleted": 0,
                "skipped_batches": 0,
                "events_seen": 0,
            },
            "tags": {},
            "parent_version": 0,
        }
        if conflict:
            manifest["conflict"] = conflict
        cls._write_manifest(path, 1, manifest)
        cls._flip_current(path, 1)
        return cls(spark, path, manifest, 1)

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        path: str,
        version: int | None = None,
        tag: str | None = None,
    ) -> "LakeTable":
        """Load CURRENT, a pinned ``version``, or a named ``tag`` (tags
        are recorded per commit in the manifest — Iceberg tag refs; e.g.
        ``tag='rename-text-body'`` for time travel by event name)."""
        if tag is not None:
            if version is not None:
                raise ValueError("pass version OR tag, not both")
            tags = cls._read_manifest(path, cls._current(path))["tags"]
            if tag not in tags:
                raise KeyError(f"unknown tag {tag!r}; have {sorted(tags)}")
            version = tags[tag]
        if version is None:
            version = cls._current(path)
        return cls(spark, path, cls._read_manifest(path, version), version)

    @staticmethod
    def exists(path: str) -> bool:
        return os.path.exists(os.path.join(path, "metadata", CURRENT))

    # --------------------------------------------------------------- schema
    @property
    def schema(self) -> TableSchema:
        return TableSchema.from_json(
            self.manifest["schemas"][str(self.manifest["current_schema_id"])]
        )

    @property
    def resolve_order(self) -> list[str]:
        """The LWW comparator columns, most significant first."""
        return list(self.manifest.get("resolve_order", ["ts", "lsn"]))

    @property
    def payload(self) -> list[str]:
        """The logical payload columns: every column but the key, the
        resolve order and ``_tombstone``. A patch table stores payload
        column ``c`` as its winner struct ``_pv_<c>`` (cdc/patch.py)."""
        names = self.schema.names()
        if self.manifest.get("conflict") == "patch":
            return [c[len("_pv_"):] for c in names if c.startswith("_pv_")]
        skip = set(self.manifest["key"]) | set(self.resolve_order) | {"_tombstone"}
        return [c for c in names if c not in skip]

    def _schema_at(self, schema_id: int) -> TableSchema:
        return TableSchema.from_json(self.manifest["schemas"][str(schema_id)])

    def evolve(
        self, schema: TableSchema, renames=(), tag: str | None = None,
        feed_schema_ver: int | None = None,
    ) -> "LakeTable":
        """Make ``schema`` current in one metadata-only commit. ``renames``
        ((old, new) pairs already applied to ``schema``) carry the
        manifest's logical references along; ``feed_schema_ver`` records
        the feed version this DDL implements in the same commit."""
        m = json.loads(json.dumps(self.manifest))
        m["schemas"][str(schema.schema_id)] = schema.to_json()
        m["current_schema_id"] = schema.schema_id
        for old, new in renames:
            # key / bucketing / LWW order may name the renamed column
            m["key"] = [new if k == old else k for k in m["key"]]
            if m.get("bucket_by") == old:
                m["bucket_by"] = new
            m["resolve_order"] = [
                new if c == old else c for c in m.get("resolve_order", [])
            ]
            # feed events keep sending the OLD name; promote_extra renames
            # them on ingest (never synthesizes a key/order column from JSON)
            m.setdefault("feed_aliases", {})[old] = new
        if feed_schema_ver is not None:
            m["ledger"]["feed_schema_ver"] = feed_schema_ver
        return self._commit(m, tag=tag)

    def add_column(self, name: str, dtype: str) -> "LakeTable":
        return self.evolve(self.schema.add_column(name, dtype), tag=f"add-{name}")

    def rename_column(self, old: str, new: str) -> "LakeTable":
        return self.evolve(
            self.schema.rename_column(old, new),
            renames=[(old, new)],
            tag=f"rename-{old}-{new}",
        )

    def widen_column(self, name: str, new_type: str) -> "LakeTable":
        return self.evolve(self.schema.widen_column(name, new_type), tag=f"widen-{name}")

    # ----------------------------------------------------------------- read
    def bucket_expr(self, col: str | None = None):
        """bucket(B, conv_id) — MUST match the expr used by cdc/merge.py."""
        c = F.col(col or self.manifest["bucket_by"])
        return F.pmod(F.xxhash64(c), F.lit(self.manifest["n_buckets"])).cast("int")

    def read(
        self,
        buckets: list[int] | None = None,
        include_tombstones: bool = False,
        key_equals: dict | None = None,
    ) -> DataFrame:
        """Read current snapshot (optionally bucket-pruned) at the CURRENT
        logical schema. Files are grouped by the schema they were written
        under; each group is read with its own physical schema, mapped to
        the current schema by field id (rename-safe), cast up (widen-safe),
        null-filled (add-safe), then unioned.

        Delete tombstones (see cdc/merge.py) are hidden unless
        ``include_tombstones`` — the merge path needs them so that
        out-of-order staler events can never resurrect a deleted key.

        Merge-on-read: buckets listed in manifest['unresolved'] may hold
        several versions of a key across delta files; they are LWW-
        resolved here (max over (ts, lsn)) before tombstone filtering.
        Resolved (compacted) buckets skip that reduce.

        ``key_equals`` (logical column -> value) additionally skips files
        whose manifest min/max stats prove the value absent — safe under
        both LWW and patch resolution because a file without the key
        contributes nothing to that key's winner — and reads the
        surviving files on the driver (see read_key)."""
        cur = self.schema
        wanted = (
            list(self.manifest["buckets"].keys())
            if buckets is None
            else [str(b) for b in buckets]
        )
        unresolved = set(self.manifest.get("unresolved", []))
        plain = self._read_files(
            [b for b in wanted if b not in unresolved], key_equals
        )
        lazy = self._read_files(
            [b for b in wanted if b in unresolved], key_equals
        )
        if lazy is not None:
            lazy = self._resolve(lazy)
        out = _union([p for p in (plain, lazy) if p is not None])
        if out is None:
            out = local_frame(self.spark, cur.logical_struct())
        if not include_tombstones and "_tombstone" in cur.names():
            out = out.where("_tombstone IS NULL OR NOT _tombstone").drop("_tombstone")
        return out

    def _resolve(self, df: DataFrame) -> DataFrame:
        """One row per key under the table's conflict rule, in declared
        column order — the one place stored rows are resolved (MoR reads,
        the changes() diff, compaction folds). Patch tables resolve PER
        COLUMN (cdc/patch.py): a whole-row reduce would drop older rows
        still holding the winning value for some column. Row tables keep
        the max over ``resolve_order``."""
        names = self.schema.names()
        key = self.manifest["key"]
        if self.manifest.get("conflict") == "patch":
            from pasar_spark.cdc.patch import resolve_stored

            out = resolve_stored(df, key, self.payload)
        else:
            from pasar_spark.cdc.lww import lww_reduce  # lazy: avoids cycle

            tomb = ["_tombstone"] if "_tombstone" in names else []
            out = lww_reduce(df, key=key, order=self.resolve_order, payload=self.payload + tomb)
        return out.select(*names)

    def bucket_of(self, value) -> int:
        """The bucket a bucket_by value lands in — evaluated through the
        SAME Spark functions as bucket_expr (xxhash64 is not exposed to
        Python). xxhash64 hashes its input's type, so the value is first
        cast to the bucket_by column's type: a Python int on a bigint
        column, or the CLI's string key on an int column, hashes as the
        stored value does. The expression over a bound parameter is
        constant-folded by the optimizer, so the value is read off the
        optimized plan: no Spark job runs and no table is scanned."""
        col_type = self.schema.field_by_name(self.manifest["bucket_by"]).type
        plan = self.spark.sql(
            f"SELECT CAST(pmod(xxhash64(CAST(:v AS {col_type})), "
            f"{int(self.manifest['n_buckets'])}) AS INT) AS b",
            args={"v": value},
        )._jdf.queryExecution().optimizedPlan()
        folded = plan.projectList().apply(0).child()
        if folded.getClass().getSimpleName() != "Literal":
            raise RuntimeError(
                f"bucket_of({value!r}): optimizer left {folded.toString()} "
                "unfolded; expected a literal"
            )
        return int(folded.eval(None))

    def read_key(self, **key_values) -> DataFrame:
        """Point lookup: prune to the ONE bucket the bucket_by value
        hashes to, skip files inside it whose manifest min/max stats
        prove the key absent, then read the surviving files ON THE
        DRIVER with pyarrow — the key equalities pushed into the parquet
        reader, which skips row groups whose min/max exclude the key —
        and filter by the given key equalities (the lakehouse analogue of
        an index seek; Iceberg hidden-partition pruning over
        ``bucket(B, conv_id)`` plus its per-file column stats).

        The rows reach Spark as one Arrow table (a LocalRelation), and the
        field-id projection, the MoR resolve, the tombstone filter and the
        key filters run on top of it. For a resolved bucket the optimizer
        folds all of that into the local relation, so the collect runs no
        Spark job: no scan is planned, no Hadoop conf is broadcast and no
        code is generated. An unresolved bucket still runs its resolve,
        over the local rows.

        Row-group min/max bite where rows are key-sorted (bases, after
        major compaction); the file-stats tier bites when key values carry
        ingest-time locality (ULID-style or monotonically assigned ids).
        On uniformly random keys in unsorted deltas neither prunes, so the
        driver reads every surviving row group of the bucket's surviving
        files. That is the scale trade-off: lookup cost grows with one
        bucket's un-pruned bytes, which stay small while buckets are small
        and bases compacted. On 3 x 3.5 MB uniform-key files a lookup
        measured 0.20-0.26 s on the driver against 0.27-0.31 s for a Spark
        scan with key blooms (4 vCPUs)."""
        bucket_by = self.manifest["bucket_by"]
        if bucket_by not in key_values:
            raise ValueError(
                f"point lookup requires the bucketing column {bucket_by!r}"
            )
        df = self.read(
            buckets=[self.bucket_of(key_values[bucket_by])],
            key_equals=key_values,
        )
        return df.where(
            functools.reduce(
                lambda a, b: a & b,
                (F.col(k) == F.lit(v) for k, v in key_values.items()),
            )
        )

    def _read_files(
        self, bucket_ids: list[str], key_equals: dict | None = None
    ) -> DataFrame | None:
        """Union the files of the given buckets at the current logical
        schema (per-written-schema groups, field-id mapped)."""
        entries = [
            e for b in bucket_ids for e in self.manifest["buckets"].get(b, [])
        ]
        if key_equals:
            entries = self._prune_entries(entries, key_equals)
        return self._read_entries(entries, key_equals)

    def _prune_entries(self, entries: list[dict], key_equals: dict) -> list[dict]:
        """Drop manifest entries whose per-file key min/max prove they
        cannot contain the looked-up key. Stats are keyed by physical
        name f<field-id>, so the logical->physical mapping survives
        renames; columns without recorded stats never prune."""
        cur = self.schema
        names = set(cur.names())
        phys = {
            f"f{cur.field_by_name(k).id}": v
            for k, v in key_equals.items()
            if k in names
        }
        return [
            e
            for e in entries
            if all(_entry_may_contain(e, c, v) for c, v in phys.items())
        ]

    def _read_entries(
        self, entries: list[dict], key_equals: dict | None = None
    ) -> DataFrame | None:
        """Read an explicit manifest-entry subset at the current logical
        schema — the tiered-compaction path reads only a bucket's delta
        files, never the base. With ``key_equals`` (a point lookup) each
        group is read on the driver instead of by a Spark scan."""
        cur = self.schema
        by_schema: dict[int, list[str]] = {}
        for entry in entries:
            by_schema.setdefault(entry["schema_id"], []).append(
                os.path.join(self.path, entry["path"])
            )
        parts: list[DataFrame] = []
        for sid, paths in by_schema.items():
            written = self._schema_at(sid)
            written_ids = {f.id for f in written.fields}
            raw = (
                self._read_local(written, paths, key_equals)
                if key_equals
                else self.spark.read.schema(written.physical_struct()).parquet(*paths)
            )
            # one SQL string per column: the same casts and null-fill as
            # F.col().cast().alias() chains, in a handful of py4j round
            # trips instead of about five per column
            parts.append(raw.selectExpr(*(
                f"CAST({f'f{f.id}' if f.id in written_ids else 'NULL'} AS {f.type})"
                f" AS `{f.name.replace('`', '``')}`"
                for f in cur.fields
            )))
        return _union(parts)

    def _read_local(
        self, written: TableSchema, paths: list[str], key_equals: dict
    ) -> DataFrame:
        """One written-schema group of files read with pyarrow, as a
        local relation of ``written``'s physical struct. Key equalities
        whose Python type matches the column's type in this group are
        pushed into the reader (row-group min/max skipping plus a row
        filter); the caller's Spark key filter keeps the result exact."""
        import pyarrow.parquet as pq

        cur = self.schema
        names = set(cur.names())
        by_id = {f.id: f for f in written.fields}
        filters = []
        for k, v in key_equals.items():
            fid = cur.field_by_name(k).id if k in names else None
            if fid in by_id and _arrow_pushable(v, by_id[fid].type):
                filters.append((f"f{fid}", "==", v))
        struct = written.physical_struct()
        rows = pq.read_table(
            paths,
            columns=struct.names,
            filters=filters or None,
            partitioning=None,
            coerce_int96_timestamp_unit="us",
        )
        return local_frame(self.spark, struct, rows)

    # ---------------------------------------------------------------- write
    def write_files(
        self,
        df: DataFrame,
        commit_id: str,
        sort_keys: bool = False,
        n_buckets: int | None = None,
    ) -> dict[str, list[dict]]:
        """Physically write ``df`` (logical columns + ``_bucket``) under
        data/<commit_id>/, partitioned by bucket; returns bucket->entries
        for a subsequent commit. Does NOT commit — crash here leaves only
        orphans outside any snapshot.

        ``sort_keys`` clusters rows by key within each bucket file so
        parquet row-group min/max stats prune point lookups inside the
        bucket (Iceberg sort-order analogue). It is OFF on the ingest hot
        path — measured 2.6x replay slowdown (650k -> 249k ev/s) — and ON
        for major compaction, which rewrites the long-lived base files
        anyway: the LSM discipline (unsorted fresh deltas, sorted bases).
        """
        rel = os.path.join("data", commit_id)
        self._write_parquet(df, rel, ("_bucket",), sort_keys, n_buckets)
        return self._bucket_entries(rel)

    def write_routed(
        self, df: DataFrame, routes: dict[str, "LakeTable"]
    ) -> dict[str, dict[str, list[dict]]]:
        """Physically write ``df`` (logical columns + ``_route`` +
        ``_bucket``) for several tables in ONE Spark job: the rows of
        ``_route = name`` become ``routes[name]``'s files, laid out,
        encoded and entered exactly as :meth:`write_files` does. Returns
        ``{name: {bucket: entries}}`` for each route's own commit (a
        route with no rows is absent). Does NOT commit.

        Every route shares this table's schema, key and bucket layout
        (cdc/router.py ``combined_eligible``) and its filesystem. The
        write stages inside this table's data/<commit_id>/; each
        ``_route=<name>`` dir is then renamed whole to its table's
        data/<new commit id>, and the leftover removed. A crash leaves
        only orphans inside table dirs: fsck reports them and
        expire_snapshots reclaims them."""
        import shutil
        import urllib.parse

        rel = os.path.join("data", self.new_commit_id())
        staging = os.path.join(self.path, rel)
        self._write_parquet(df, rel, ("_route", "_bucket"))
        out: dict[str, dict[str, list[dict]]] = {}
        for d in sorted(os.listdir(staging)):
            if not d.startswith("_route="):
                continue
            name = urllib.parse.unquote(d[len("_route=") :])
            t = routes[name]
            t_rel = os.path.join("data", t.new_commit_id())
            os.makedirs(os.path.join(t.path, "data"), exist_ok=True)
            os.replace(os.path.join(staging, d), os.path.join(t.path, t_rel))
            out[name] = t._bucket_entries(t_rel)
        shutil.rmtree(staging, ignore_errors=True)
        return out

    def _write_parquet(
        self,
        df: DataFrame,
        rel: str,
        partition_by: tuple[str, ...],
        sort_keys: bool = False,
        n_buckets: int | None = None,
    ) -> None:
        """The one physical write: field-id projection, bucket
        repartition, snappy codec, ``partitionBy(...).parquet`` under
        ``<path>/<rel>``. ``partition_by`` ends with ``_bucket``."""
        cur = self.schema
        phys = [F.col(f.name).cast(f.type).alias(f"f{f.id}") for f in cur.fields]
        # Cluster rows by bucket before the dynamic-partition write: without
        # this every shuffle partition spills a file into every bucket dir
        # (shuffle_partitions x n_buckets tiny files per commit) and the
        # NEXT merge's base scan drowns in file overhead. One shuffle here
        # keeps the table at ~1 file per bucket per commit.
        *route, bucket = partition_by
        out = df.select(*route, *phys, bucket).repartition(
            n_buckets or self.manifest["n_buckets"], F.col("_bucket")
        )
        if sort_keys:
            key_phys = [f"f{cur.field_by_name(k).id}" for k in self.manifest["key"]]
            out = out.sortWithinPartitions("_bucket", *key_phys)
        # Every lake data file is snappy: it encodes ~2x faster than zstd
        # (measured on the transcript payload), and a four-arm codec x
        # bloom A/B of a 2M-event replay on 4 vCPUs was flat (6.87-7.56 s).
        # No key bloom is written: no engine read would consume it
        # (read_key reads with pyarrow, and no scan pushes a key equality).
        out.write.mode("errorifexists").option("compression", "snappy").partitionBy(
            *partition_by
        ).parquet(os.path.join(self.path, rel))

    def _bucket_entries(self, rel: str) -> dict[str, list[dict]]:
        """bucket -> manifest entries of the ``_bucket=<b>`` dirs under
        ``<path>/<rel>``. Key-column physical names: min/max per FILE
        ride the manifest so point lookups skip whole files before any
        scan task is planned (Iceberg column-stats pruning; see
        read_key). Field ids make the stats rename-safe. Row counts come
        from the parquet footers: free per-partition lineage (north
        rule) without a counting job."""
        cur = self.schema
        stat_cols = {
            f"f{cur.field_by_name(k).id}"
            for k in self.manifest.get("key", [])
            if k in set(cur.names())
        }
        out_dir = os.path.join(self.path, rel)
        new_files: dict[str, list[dict]] = {}
        for d in os.listdir(out_dir):
            if not d.startswith("_bucket="):
                continue
            b = str(int(d.split("=")[1]))
            new_files[b] = bucket_dir_entries(
                os.path.join(out_dir, d),
                os.path.join(rel, d),
                cur.schema_id,
                stat_cols,
            )
        return new_files

    def commit_merge(
        self,
        replaced_buckets: list[int],
        new_files: dict[str, list[dict]],
        batch_id: str,
        last_lsn: int | None = None,
        metrics_delta: dict | None = None,
        tag: str | None = None,
        partition_offsets: dict | None = None,
        staged_name: str | None = None,
    ) -> "LakeTable":
        """Swap the file lists of ``replaced_buckets`` for ``new_files`` and
        advance the ledger — one atomic snapshot.

        Concurrent-writer safe (rebase): if another commit lands first,
        the swap is re-derived against the new base. Files appended to a
        replaced bucket AFTER this writer read it (a racing ingest) are
        NOT covered by the rewrite, so they survive the swap and the
        bucket stays unresolved — the LWW read resolves rewrite + newer
        deltas, and the next compaction folds them."""
        # what this writer's rewrite actually covered: the bucket file
        # sets as of ITS read snapshot
        covered = {
            str(b): {e["path"] for e in self.manifest["buckets"].get(str(b), [])}
            for b in replaced_buckets
        }

        def edit(buckets: dict, unresolved: set) -> None:
            for b in map(str, replaced_buckets):
                survivors = [
                    e for e in buckets.get(b, []) if e["path"] not in covered[b]
                ]
                if survivors:
                    buckets[b] = survivors
                    unresolved.add(b)
                else:
                    buckets.pop(b, None)
                    unresolved.discard(b)
            for b, entries in new_files.items():
                buckets[b] = entries + buckets.get(b, [])

        # 'base': the new files are a fully LWW-resolved rewrite
        return self._commit_batch(
            edit, new_files, "base", batch_id, tag, last_lsn, metrics_delta,
            partition_offsets, staged_name,
        )

    def commit_append(
        self,
        new_files: dict[str, list[dict]],
        batch_id: str,
        last_lsn: int | None = None,
        metrics_delta: dict | None = None,
        tag: str | None = None,
        partition_offsets: dict | None = None,
        staged_name: str | None = None,
    ) -> "LakeTable":
        """Merge-on-read commit: APPEND delta files to their buckets and
        mark those buckets unresolved (reads LWW-resolve them). O(changes)
        per commit regardless of table size — the 10^10-event write path;
        read cost is bounded by compaction (cdc/merge.py compact_buckets).

        Concurrent-writer safe (rebase): an append commutes with any
        other commit — LWW resolution is order-independent — so losing
        the version race just re-applies the same append on the winner's
        manifest. A concurrent twin applying the SAME batch id resolves
        to exactly-once (the loser adopts the winner's commit).

        ``partition_offsets`` checkpoints per-source-partition progress
        (Kafka-style partitioned feeds, where offsets are only monotonic
        WITHIN a partition) in the same atomic commit as the data —
        monotone max-merge per partition, so rebases and out-of-order
        committers can never move a checkpoint backwards."""

        def edit(buckets: dict, unresolved: set) -> None:
            for b, entries in new_files.items():
                buckets[b] = buckets.get(b, []) + entries
                unresolved.add(b)

        # 'delta': may hold >1 version per key vs the bucket's base
        return self._commit_batch(
            edit, new_files, "delta", batch_id, tag, last_lsn, metrics_delta,
            partition_offsets, staged_name,
        )

    def commit_replace_deltas(
        self,
        new_files: dict[str, list[dict]],
        batch_id: str,
        metrics_delta: dict | None = None,
        tag: str | None = None,
    ) -> "LakeTable":
        """Minor (tiered) compaction commit: swap a bucket's DELTA files
        for one folded delta, keeping the base file and the unresolved
        flag (reads still LWW-resolve base vs delta). Write cost is
        O(deltas) — never O(bucket) — which keeps total write
        amplification logarithmic over a long replay instead of the
        quadratic full-rewrite-every-K-chunks of major-only compaction.

        Concurrent-writer safe (rebase): the fold covers the deltas this
        writer READ; deltas appended since (racing ingest) are preserved
        on top of the folded one, and the current base files are taken
        from the WINNING manifest (a racing major compaction may have
        replaced them — folded deltas re-resolve idempotently under LWW).
        """
        folded = {
            b: {
                e["path"]
                for e in self.manifest["buckets"].get(b, [])
                if e.get("kind", "base") == "delta"
            }
            for b in new_files
        }

        def edit(buckets: dict, unresolved: set) -> None:
            for b, entries in new_files.items():
                cur = buckets.get(b, [])
                bases = [e for e in cur if e.get("kind", "base") == "base"]
                newer = [
                    e
                    for e in cur
                    if e.get("kind", "base") == "delta"
                    and e["path"] not in folded[b]
                ]
                buckets[b] = bases + entries + newer
                unresolved.add(b)

        return self._commit_batch(
            edit, new_files, "delta", batch_id, tag, metrics_delta=metrics_delta
        )

    def _commit_batch(
        self, edit, new_files: dict, kind: str, batch_id: str, tag: str | None,
        last_lsn=None, metrics_delta=None, partition_offsets=None, staged_name=None,
    ) -> "LakeTable":
        """The one ledger-advancing commit under the three commit_* kinds.
        ``new_files`` entries are stamped ``kind`` and ``batch_id``;
        ``edit(buckets, unresolved)`` rewrites a copy of the base
        manifest's bucket map and unresolved set, and the ledger advances
        in the same snapshot: batch-id dedup over a 256-id window,
        monotone max of ``last_lsn`` and of each source partition's
        offset, and the metrics add. ``edit`` re-runs on every rebase, so
        it must be a pure function of the base it is handed."""
        for entries in new_files.values():
            for e in entries:
                e["kind"], e["batch"] = kind, batch_id

        def build(base: "LakeTable") -> dict:
            m = json.loads(json.dumps(base.manifest))
            unresolved = set(m.get("unresolved", []))
            edit(m["buckets"], unresolved)
            m["unresolved"] = sorted(unresolved)
            led = m["ledger"]
            if batch_id in led["batch_ids"]:
                raise CommitConflict(f"batch {batch_id} already committed")
            led["batch_ids"] = (led["batch_ids"] + [batch_id])[-256:]
            if last_lsn is not None:
                led["last_lsn"] = max(led["last_lsn"], last_lsn)
            sp = led.setdefault("source_partitions", {})
            for p, off in (partition_offsets or {}).items():
                sp[str(p)] = max(sp.get(str(p), -1), int(off))
            for k, v in (metrics_delta or {}).items():
                m["metrics"][k] = m["metrics"].get(k, 0) + v
            return m

        return self._commit_rebasing(
            build, batch_id, tag or f"batch-{batch_id}", staged_name=staged_name
        )

    def bucket_entries(self, bucket: str, kind: str | None = None) -> list[dict]:
        entries = self.manifest["buckets"].get(str(bucket), [])
        if kind is None:
            return entries
        return [e for e in entries if e.get("kind", "base") == kind]

    def bucket_file_counts(self) -> dict[str, int]:
        return {b: len(fs) for b, fs in self.manifest["buckets"].items()}

    def has_batch(self, batch_id: str) -> bool:
        return batch_id in self.manifest["ledger"]["batch_ids"]

    @property
    def last_lsn(self) -> int:
        return self.manifest["ledger"]["last_lsn"]

    def source_offset(self, partition) -> int:
        """Last committed offset for a source partition (-1 = nothing
        applied yet) — the per-partition resume point for partitioned
        feeds, checkpointed atomically with the data."""
        return self.manifest["ledger"].get("source_partitions", {}).get(
            str(partition), -1
        )

    @property
    def metrics(self) -> dict:
        return dict(self.manifest["metrics"])

    def new_commit_id(self) -> str:
        return f"commit-{self.version:08d}-{uuid.uuid4().hex[:8]}"

    # ------------------------------------------------------- snapshot ops
    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        pre_images: bool = False,
    ) -> DataFrame:
        """Incremental (CDC-out) read: the row-level diff between two
        snapshots, the Iceberg/Delta change-data-feed analogue. Emits one
        row per key whose LIVE state differs between ``from_version`` and
        ``to_version`` (default: this snapshot), with ``_change_type`` in
        {'insert','update','delete'}, the change's resolve-order position
        (for deletes: the TOMBSTONE's own ts/lsn — the delete event's
        position, which is what lets cdc/debezium.py re-emit the feed
        losslessly), the post-image payload (null for
        deletes), and the pre-image resolve-order columns
        (``_prev_<col>``) for lineage. ``pre_images=True`` additionally
        emits the pre-image PAYLOAD columns (``_prev_<payload>``, null
        for inserts) — the Debezium before-image analogue, which is what
        lets a downstream incremental aggregate compute deltas for
        sum-like state (cdc/derived.py) instead of rescanning.

        Scale shape: the two manifests are diffed DRIVER-SIDE first —
        only buckets whose file lists changed between the versions are
        read on either side (a short version gap over a 10^10-row table
        touches a handful of buckets, so the diff is O(changed data), not
        O(table)). Both sides arrive bucket-partitioned on the same key
        space and LWW-resolve to one row per key before a full-outer join
        on the key. Logical no-ops (compaction rewrites) read the bucket
        but emit nothing. If the range crosses a REBUCKET (partition
        evolution), bucket pruning is impossible across two key->bucket
        maps and the diff degrades to a full two-sided read — correct,
        O(table), documented at the fallback site.

        Schema evolution is handled by reading BOTH sides at the TO
        snapshot's logical schema (field-id mapping makes old files
        rename/widen/add-safe), so the diff compares like with like.
        """
        to = self if to_version is None or to_version == self.version else (
            LakeTable.load(self.spark, self.path, version=to_version)
        )
        frm_manifest = self._read_manifest(self.path, from_version)

        def _sig(entries: list[dict]) -> tuple:
            return tuple(e["path"] for e in entries)

        a_buckets, b_buckets = frm_manifest["buckets"], to.manifest["buckets"]
        if frm_manifest["n_buckets"] != to.manifest["n_buckets"]:
            # partition evolution (rebucket) inside the version range:
            # file-level bucket pruning is meaningless across two
            # different key->bucket maps, so degrade to a FULL two-sided
            # diff — O(table) instead of O(changed data), but correct
            # (the key-space join below never depended on bucket ids).
            # A consumer that must stay O(changes) checkpoints before
            # the rebucket and full-refreshes across it.
            changed = None
            a_entries = [e for es in a_buckets.values() for e in es]
            b_entries = [e for es in b_buckets.values() for e in es]
        else:
            changed = sorted(
                b
                for b in set(a_buckets) | set(b_buckets)
                if _sig(a_buckets.get(b, [])) != _sig(b_buckets.get(b, []))
            )
            a_entries = [e for b in changed for e in a_buckets.get(b, [])]
            b_entries = [e for b in changed for e in b_buckets.get(b, [])]

        cur = to.schema
        key = to.manifest["key"]
        order = to.resolve_order
        is_patch = to.manifest.get("conflict") == "patch"
        payload = to.payload

        def _state(entries: list[dict], buckets_read, manifest: dict) -> DataFrame:
            df = to._read_entries(entries)
            if df is None:
                df = local_frame(self.spark, cur.logical_struct())
            # resolved-bucket fast path: a bucket leaves 'unresolved' only
            # through a commit_merge of a fully resolved rewrite, so it
            # already holds exactly one row per key and the reduce is the
            # identity — skipping it removes one full exchange + aggregate
            # per side (driver-side decision from the owning manifest;
            # the guard is per SIDE, so a mixed range still reduces)
            unresolved_here = set(manifest.get("unresolved", []))
            if buckets_read is not None and not (
                set(buckets_read) & unresolved_here
            ):
                return df
            return to._resolve(df)

        a_read = changed if changed is not None else list(a_buckets)
        b_read = changed if changed is not None else list(b_buckets)
        a = _state(a_entries, a_read, frm_manifest)
        b = _state(b_entries, b_read, to.manifest)

        live = lambda side: F.col(f"{side}_live")  # noqa: E731
        # pre-image payload source: materialized winner values on patch
        # tables, plain columns in row mode
        pre_cols = (
            [F.col(f"_pv_{c}.v").alias(f"_a_{c}") for c in payload]
            if is_patch
            else [F.col(c).alias(f"_a_{c}") for c in payload]
        ) if pre_images else []
        a = a.select(
            *[F.col(k).alias(f"_ak_{i}") for i, k in enumerate(key)],
            *[F.col(c).alias(f"_a_{c}") for c in order],
            *pre_cols,
            # patch tables diff by COLUMN winners (below), which needs the
            # pre-image structs on the A side
            *[F.col(f"_pv_{c}").alias(f"_apv_{c}") for c in (payload if is_patch else [])],
            (F.col("_tombstone").isNull() | ~F.col("_tombstone")).alias("a_live"),
        )
        if is_patch:
            # emit MATERIALIZED values (winner.v), not raw structs; keep
            # the structs alongside for the version comparison
            b = b.select(
                *key,
                *order,
                *[F.col(f"_pv_{c}.v").alias(c) for c in payload],
                *[F.col(f"_pv_{c}").alias(f"_bpv_{c}") for c in payload],
                (F.col("_tombstone").isNull() | ~F.col("_tombstone")).alias("b_live"),
            )
        else:
            b = b.select(
                *key,
                *order,
                *payload,
                (F.col("_tombstone").isNull() | ~F.col("_tombstone")).alias("b_live"),
            )
        cond = None
        for i, k in enumerate(key):
            c = b[k].eqNullSafe(a[f"_ak_{i}"])
            cond = c if cond is None else cond & c
        j = b.join(a, cond, "full_outer")

        a_exists = live("a").isNotNull() & live("a")
        b_exists = live("b").isNotNull() & live("b")
        same_version = None
        if is_patch:
            # Row-level (ts, lsn) is NOT enough on a patch table: a
            # late-arriving partial update with an old-but-never-superseded
            # column set wins that column WITHOUT advancing the row's max
            # (ts, lsn) — the exact scenario patch mode exists for. A real
            # state change is "any per-column winner struct differs".
            for c in payload:
                e = F.col(f"_bpv_{c}").eqNullSafe(F.col(f"_apv_{c}"))
                same_version = e if same_version is None else same_version & e
        else:
            for c in order:
                e = F.col(c).eqNullSafe(F.col(f"_a_{c}"))
                same_version = e if same_version is None else same_version & e
        change = (
            F.when(b_exists & ~a_exists, F.lit("insert"))
            .when(~b_exists & a_exists, F.lit("delete"))
            .when(b_exists & a_exists & ~same_version, F.lit("update"))
        )
        out_key = [
            F.coalesce(b[k], a[f"_ak_{i}"]).alias(k) for i, k in enumerate(key)
        ]
        return (
            j.withColumn("_change_type", change)
            .where(F.col("_change_type").isNotNull())
            .select(
                *out_key,
                F.col("_change_type"),
                # the CHANGE's position: for deletes the resolved b-side
                # row is the tombstone, so these are the delete event's
                # own (ts, lsn) — what a Debezium consumer needs to
                # order/replay the feed (cdc/debezium.py). Null only when
                # the key vanished from storage entirely (tombstone
                # vacuumed inside the version range).
                *[F.col(c).alias(c) for c in order],
                *[F.when(b_exists, F.col(c)).alias(c) for c in payload],
                *[
                    F.col(f"_a_{c}").alias(f"_prev_{c}")
                    for c in [*order, *(payload if pre_images else [])]
                ],
            )
        )

    @staticmethod
    def poll_changes(
        spark: SparkSession, path: str, from_version: int
    ) -> tuple[DataFrame | None, int]:
        """Tail the change-data-feed: the downstream-consumer loop
        ``while True: df, v = poll_changes(spark, path, v); ...``.
        Returns (None, from_version) when no snapshot landed since
        ``from_version`` (a CURRENT pointer read — no Spark job), else
        (changes(from_version), current_version). Consumers persist the
        returned version as their own checkpoint; because ``changes``
        diffs LIVE states, a crash between processing and checkpointing
        re-emits the same (idempotent) diff."""
        cur = LakeTable.load(spark, path)
        if cur.version <= from_version:
            return None, from_version
        return cur.changes(from_version), cur.version

    def rollback(self, version: int) -> "LakeTable":
        """Advance CURRENT to a NEW snapshot whose content (files, ledger,
        schema, metrics) equals ``version`` — Iceberg rollback semantics:
        history stays linear and append-only, nothing is deleted, and a
        crash mid-rollback leaves the old CURRENT intact. Because the
        ledger rolls back with the data, a subsequent replay resumes from
        the rolled-back ``last_lsn`` and re-applies later chunks
        exactly-once (their batch ids are no longer in the ledger)."""
        m = self._read_manifest(self.path, version)
        return self._commit(m, tag=f"rollback-to-v{version}")

    def expire_snapshots(
        self,
        keep_last: int = 2,
        min_age_sec: float = 300.0,
        staged_ttl_sec: float | None = None,
    ) -> dict:
        """Expire old snapshots and delete data files no retained snapshot
        references (Iceberg expire_snapshots + remove_orphan_files).
        Keeps the newest ``keep_last`` manifests (always including
        CURRENT). ``min_age_sec`` guards in-flight writers: a data file
        younger than this is never deleted even if unreferenced, because
        an uncommitted write_files() in progress is unreferenced BY
        DESIGN until its commit lands (Iceberg's orphan-file age check).
        The default (300 s) assumes live writers may exist — the safe
        posture for a shared table, where an expire racing a commit's
        link→flip window (or a stage's manifest→STAGED-pointer window)
        must not reclaim the young manifest/files it is about to
        publish. Pass ``min_age_sec=0`` ONLY when you know no writer is
        in flight (single-process maintenance, tests): at 0 both the
        orphan-file guard and the above-head manifest guard are inert.

        Time travel / changes() to expired versions stops working — that
        is the storage-reclaim trade every lakehouse makes; run with a
        retention window sized to the downstream consumers' lag.

        ``staged_ttl_sec``: staged (unpublished) snapshots normally pin
        their whole parent chain — live audits must keep reading. But an
        audit that CRASHED (neither published nor discarded) would pin
        storage forever; a staged pointer older than this TTL is dropped
        here, after which its manifests and files expire normally. None
        (default) keeps today's pin-forever behavior.
        """
        import time as _time

        # versions whose STAGED pointer this call TTL-drops: their
        # publish window provably ENDED (the pointer landed — manifests
        # are written before pointers — and then aged past the TTL), so
        # the min_age above-head manifest guard must not resurrect them
        ttl_dropped: set[int] = set()
        if staged_ttl_sec is not None:
            now = _time.time()
            for name, sv in list(self.staged_refs().items()):
                ptr = self._staged_pointer(self.path, name)
                try:
                    if now - os.path.getmtime(ptr) > staged_ttl_sec:
                        os.remove(ptr)
                        ttl_dropped.add(sv)
                except FileNotFoundError:
                    pass  # published/discarded concurrently
        versions = self._versions(self.path)
        vset = set(versions)
        # keep the newest keep_last snapshots ON the CURRENT chain —
        # walked via parent_version, not taken by number, so orphaned
        # forks (lost commit races) and dropped stages never displace
        # real history from the retention window
        head = self._current(self.path, default=self.version)
        keep = {self.version, head}
        chain = self._ancestors(self.path, head)
        keep.update(v for v, _ in itertools.islice(chain, max(keep_last, 1)))
        # staged (unpublished) snapshots are live by definition: keep
        # each staged head and its parent chain down to a kept version
        for sv in self.staged_refs().values():
            for v, _ in self._ancestors(self.path, sv):
                if v in keep:
                    break
                keep.add(v)
        # min_age_sec guards IN-FLIGHT MANIFESTS too, not just data
        # files — but only those numbered PAST the current head: a
        # writer links its manifest before flipping CURRENT (and a stage
        # writes its manifest before the STAGED pointer lands), so a
        # young above-head manifest may be a commit in its publish
        # window; expiring it would leave the imminent CURRENT/STAGED
        # pointer dangling and forecloses crash repair's roll-forward.
        # At or below head, an off-chain manifest is a lost-race fork
        # whose writer already rebased — normal reclaim. Same knob, same
        # reasoning as the orphan-file age check below.
        # ... except the chains of stages TTL-dropped above: those
        # manifests' pointers landed and aged out, so they are past any
        # publish window by construction — reclaim regardless of mtime
        exempt: set[int] = set()
        for sv in ttl_dropped:
            for v, _ in self._ancestors(self.path, sv):
                if v not in vset or v <= head or v in exempt or v in keep:
                    break
                exempt.add(v)
        now = _time.time()
        for v in versions:
            if v in keep or v <= head or v in exempt:
                continue
            try:
                age = now - os.path.getmtime(self._manifest_path(self.path, v))
            except FileNotFoundError:
                continue
            if age < min_age_sec:
                keep.add(v)
        referenced: set[str] = set()
        for v in keep:
            for entries in self._read_manifest(self.path, v)["buckets"].values():
                referenced.update(e["path"] for e in entries)

        deleted_files = 0
        data_root = os.path.join(self.path, "data")
        now = _time.time()
        if os.path.isdir(data_root):
            for dirpath, _dirs, files in os.walk(data_root, topdown=False):
                for f in files:
                    full = os.path.join(dirpath, f)
                    rel = os.path.relpath(full, self.path)
                    if rel in referenced:
                        continue
                    if now - os.path.getmtime(full) < min_age_sec:
                        continue
                    os.remove(full)
                    deleted_files += 1
                if not os.listdir(dirpath):
                    os.rmdir(dirpath)

        expired = [v for v in versions if v not in keep]
        for v in expired:
            os.remove(self._manifest_path(self.path, v))
        return {"expired_manifests": len(expired), "deleted_files": deleted_files}

    def rebucket(self, n_buckets: int) -> "LakeTable":
        """Partition evolution: rewrite the table into a new bucket count
        (Iceberg partition-spec evolution for the ``bucket(B, col)``
        transform). A table sized for 10^8 rows drowns at 10^10 — every
        bucket becomes a multi-GB read unit — so growing B is routine
        lifecycle, not surgery.

        One full-table job: read the resolved state (tombstones kept, so
        out-of-order staler events still can't resurrect deletes), assign
        the NEW bucket, write, swap every bucket in one atomic commit.
        O(table) by necessity — every row moves buckets with probability
        (1 - 1/gcd-ish) — but it is ONE shuffle + write, runs offline,
        and the ledger survives: replay resumes from the same last_lsn
        and merges straight into the new layout (bucket_expr reads
        n_buckets from the manifest, so every downstream path follows).
        """
        if n_buckets == self.manifest["n_buckets"]:
            return self
        new_bucket = F.pmod(
            F.xxhash64(F.col(self.manifest["bucket_by"])), F.lit(n_buckets)
        ).cast("int")
        df = self.read(include_tombstones=True).withColumn("_bucket", new_bucket)
        commit_id = self.new_commit_id()
        new_files = self.write_files(
            df, commit_id, sort_keys=True, n_buckets=n_buckets
        )
        m = json.loads(json.dumps(self.manifest))
        m["n_buckets"] = n_buckets
        for entries in new_files.values():
            for e in entries:
                e["kind"] = "base"
                e["batch"] = commit_id
        m["buckets"] = new_files
        m["unresolved"] = []
        return self._commit(m, tag=f"rebucket-{n_buckets}")

    def lineage(self) -> dict[str, list[dict]]:
        """Per-partition provenance: for each bucket, the batches whose
        files make up its CURRENT state — (batch id, kind, rows, path)
        per file, in commit order. Pure manifest read (no Spark job):
        answers \"which ingest batches does partition b's state depend
        on\" for debugging, selective backfill, and audit without
        touching data files. Cumulative applied/skipped/conflict counts
        live in ``metrics()``; per-snapshot history in ``history()``."""
        return {
            b: [
                {
                    "batch": e.get("batch"),
                    "kind": e.get("kind", "base"),
                    "rows": e.get("rows", 0),
                    "path": e["path"],
                }
                for e in entries
            ]
            for b, entries in sorted(
                self.manifest["buckets"].items(), key=lambda kv: int(kv[0])
            )
        }

    # ------------------------------------------------- staged snapshots (WAP)
    # Write-audit-publish, the Iceberg branch/WAP pattern reduced to its
    # load-bearing core: a STAGED commit mints a manifest in the normal
    # linear version space but does NOT advance CURRENT — a named pointer
    # (metadata/STAGED-<name>) tracks it instead. Readers keep seeing the
    # old snapshot while audits run against the staged one; publish is a
    # fast-forward CURRENT flip (atomic, monotonic), discard just drops
    # the pointer (expire_snapshots reclaims the orphaned manifest+files).
    # Interactions with the optimistic protocol, both covered by tests:
    # - crash-repair roll-forward must NEVER auto-publish a staged
    #   manifest (it checks the manifest's 'staged' marker);
    # - a main writer whose next version number is occupied by a staged
    #   manifest re-mints PAST it (versions stay unique; parent_version
    #   links carry the true history, so numeric gaps are harmless).

    @staticmethod
    def _staged_pointer(path: str, name: str) -> str:
        if not name or not all(c.isalnum() or c in "._-" for c in name):
            raise ValueError(f"invalid staged-snapshot name {name!r}")
        return os.path.join(path, "metadata", f"STAGED-{name}")

    def staged_refs(self) -> dict[str, int]:
        meta = os.path.join(self.path, "metadata")
        out = {}
        for f in os.listdir(meta):
            if f.startswith("STAGED-"):
                with open(os.path.join(meta, f)) as fh:
                    out[f[len("STAGED-"):]] = int(fh.read().strip())
        return out

    def publish_staged(self, name: str) -> "LakeTable":
        """Atomically expose a staged snapshot to every reader —
        fast-forward only: the staged head's parent chain must reach the
        CURRENT version exactly. If main advanced since the stage was
        built, raises CommitConflict; the caller re-stages on the new
        base (the ledger's batch-id dedup makes re-staging exactly-once,
        so a lost publish race can never double-apply a chunk)."""
        with open(self._staged_pointer(self.path, name)) as fh:
            head_v = int(fh.read().strip())
        cur = self._current(self.path)
        if not self._chain_reaches(self.path, head_v, cur):
            raise CommitConflict(
                f"staged snapshot {name!r} (v{head_v}) is stale: its chain "
                f"does not reach CURRENT v{cur} — discard and re-stage on "
                "the new base"
            )
        # The staleness walk above is only a fast path: a main commit can
        # land between it and the flip. The chain-aware flip is the real
        # gate — it refuses (returns False) unless head_v fast-forwards
        # the CURRENT acknowledged at flip time, so a lost race can never
        # silently no-op while we report 'published'. On refusal the
        # STAGED pointer is LEFT IN PLACE and the caller re-stages.
        if not self._flip_current(self.path, head_v):
            raise CommitConflict(
                f"staged snapshot {name!r} (v{head_v}) lost the publish "
                f"race: CURRENT moved to v{self._current(self.path)} mid-publish — "
                "discard and re-stage on the new base"
            )
        os.remove(self._staged_pointer(self.path, name))
        return LakeTable.load(self.spark, self.path)

    def discard_staged(self, name: str) -> None:
        """Drop a staged snapshot without publishing. The manifest and
        its data files become unreferenced; expire_snapshots reclaims
        them. Main history is untouched — that is the whole point."""
        os.remove(self._staged_pointer(self.path, name))

    def _max_version(self) -> int:
        return max(self._versions(self.path), default=0)

    # ------------------------------------------------------------ internals
    def _roll_forward(self) -> "LakeTable":
        """Crash repair: advance CURRENT over every complete, non-staged
        manifest that EXTENDS the current head. A manifest that exists
        is complete (link-published), so if its writer crashed between
        the link and the flip we can finish the flip for it.

        Chain-aware: children are matched by parent_version, not by
        CURRENT+1 — a STAGED manifest occupying the next version number
        must never be auto-published, but it also must not hide a main
        commit minted PAST it (version numbers can gap; parent links
        carry the true history). When two non-staged siblings share a
        parent (both writers crashed pre-flip), the lowest version wins
        deterministically; a still-live sibling writer sees itself off
        the chain and re-mints."""
        while True:
            cur = LakeTable.load(self.spark, self.path)
            child = None
            for v in self._versions(self.path):
                if v <= cur.version:
                    continue
                m = self._read_manifest(self.path, v)
                if not m.get("staged") and m["parent_version"] == cur.version:
                    child = v
                    break
            if child is None:
                return cur
            # a failed flip means CURRENT moved concurrently — reload
            # and keep walking from the new head (progress is monotonic)
            self._flip_current(self.path, child)

    def _commit_rebasing(
        self,
        build,
        batch_id: str,
        tag: str,
        max_attempts: int = 16,
        staged_name: str | None = None,
    ) -> "LakeTable":
        """Optimistic concurrency (Iceberg's commit strategy): land the
        manifest produced by ``build(base_table)``; on losing the version
        race (O_EXCL refuses the manifest file), reload CURRENT, re-derive
        against the winner's manifest, retry. ``build`` must be a pure
        function of the base manifest — data files are already on disk,
        only manifest math re-runs, so a retry costs one JSON read/write.

        If a reload reveals ``batch_id`` already in the ledger, a
        concurrent twin applied the SAME batch: adopt its commit
        (exactly-once across racing writers, not an error)."""
        import random as _random
        import time as _time

        base = self
        races = 0  # distinct commits lost to a concurrent WINNER (not retries)
        retry_version: int | None = None
        for attempt in range(max_attempts):
            m = build(base)
            if races:
                # surfaced next to applied/skipped: how contended commits are;
                # +1 per observed winning commit — a mid-flip retry against
                # the SAME version is the same race, not a new one
                m["metrics"]["commit_races"] = (
                    m["metrics"].get("commit_races", 0) + races
                )
            try:
                return base._commit(
                    m, tag=tag, staged_name=staged_name, version=retry_version
                )
            except (FileExistsError, _StaleCommit):
                # FileExistsError: another writer claimed our version
                # number. _StaleCommit: we linked a manifest but CURRENT
                # advanced past our base first — the chain-aware flip
                # refused to bury the winner, our manifest is orphaned.
                # Either way: repair, rebase, re-mint.
                reloaded = self._roll_forward()
                if batch_id in reloaded.manifest["ledger"]["batch_ids"]:
                    return reloaded
                if reloaded.version <= base.version:
                    # CURRENT mid-flip — or our next version number is
                    # occupied by a STAGED manifest; either way re-mint
                    # past every existing manifest (numeric gaps are fine,
                    # parent_version carries the true chain)
                    _time.sleep(0.02 * (attempt + 1))
                else:
                    races += 1
                    # jittered backoff before recontending: without it a
                    # descheduled writer can lose MANY races in a row to
                    # peers committing in bursts (observed with 4 metadata
                    # writers on a fully loaded box — CommitConflict after
                    # 16 straight losses). Classic optimistic-CC etiquette;
                    # the jitter desynchronizes the herd, the growth keeps
                    # the worst-case wait bounded (~64 ms/attempt).
                    _time.sleep(
                        _random.uniform(0, min(0.004 * (attempt + 1), 0.064))
                    )
                # rebase AFTER the backoff: a base loaded before the sleep
                # is stale by the retry, so it would keep losing to peers
                reloaded = self._roll_forward()
                if batch_id in reloaded.manifest["ledger"]["batch_ids"]:
                    return reloaded
                retry_version = self._max_version() + 1
                base = reloaded
        raise CommitConflict(
            f"lost {max_attempts} consecutive commit races for {batch_id}"
        )

    def _commit(
        self,
        manifest: dict,
        tag: str | None = None,
        staged_name: str | None = None,
        version: int | None = None,
    ) -> "LakeTable":
        new_version = version if version is not None else self.version + 1
        manifest["version"] = new_version
        manifest["parent_version"] = self.version
        if staged_name is not None:
            manifest["staged"] = staged_name
        else:
            manifest.pop("staged", None)  # publish-by-commit never inherits
        if tag:
            manifest["tags"][tag] = new_version
        self._write_manifest(self.path, new_version, manifest)
        if staged_name is not None:
            # the pointer is advisory (publish/discard/audit addressing);
            # the manifest itself is the commit point, same as main
            tmp = os.path.join(self.path, "metadata", f".staged.{uuid.uuid4().hex}")
            with open(tmp, "w") as fh:
                fh.write(str(new_version))
            os.replace(tmp, self._staged_pointer(self.path, staged_name))
        else:
            if not self._flip_current(self.path, new_version):
                # CURRENT advanced past our base between the manifest
                # link and the flip; our manifest forks the acknowledged
                # history and must not be returned as a success.
                raise _StaleCommit(new_version)
        return LakeTable(self.spark, self.path, manifest, new_version)

    @staticmethod
    def _manifest_path(path: str, version: int) -> str:
        return os.path.join(path, "metadata", f"v{version:08d}.json")

    @staticmethod
    def _read_manifest(path: str, version: int) -> dict:
        with open(LakeTable._manifest_path(path, version)) as fh:
            return json.load(fh)

    @staticmethod
    def _current(path: str, default: int | None = None) -> int:
        """The version CURRENT names; ``default`` when the pointer is
        missing or unparseable (None: raise)."""
        try:
            with open(os.path.join(path, "metadata", CURRENT)) as fh:
                return int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            if default is None:
                raise
            return default

    @staticmethod
    def _versions(path: str) -> list[int]:
        """Every manifest version on disk, ascending."""
        return sorted(
            int(f[1:-5])
            for f in os.listdir(os.path.join(path, "metadata"))
            if f.startswith("v") and f.endswith(".json")
        )

    @staticmethod
    def _ancestors(path: str, version: int):
        """Yield (version, manifest) down the parent_version chain from
        ``version`` — the one parent walk. Ends after the creation
        snapshot (parent 0) or at the first manifest no longer on disk
        (expired); parent versions strictly decrease, so it terminates."""
        while version > 0:
            try:
                m = LakeTable._read_manifest(path, version)
            except FileNotFoundError:
                return
            yield version, m
            version = m["parent_version"]

    @staticmethod
    def _write_manifest(path: str, version: int, manifest: dict) -> None:
        target = LakeTable._manifest_path(path, version)
        # Write the full content to a temp file, then CLAIM the version
        # with a hard link — link(2) fails with EEXIST if another writer
        # got there first (the O_EXCL race guard), and the linked file is
        # complete by construction, so a manifest that EXISTS is always
        # valid: the commit point is the link, and a crash between link
        # and the CURRENT flip is repairable by rolling CURRENT forward
        # (_commit_rebasing does; readers just see the older snapshot).
        tmp = os.path.join(path, "metadata", f".manifest.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        try:
            os.link(tmp, target)
        finally:
            os.unlink(tmp)

    @staticmethod
    def _chain_reaches(path: str, version: int, ancestor: int) -> bool:
        """True iff walking parent_version links down from ``version``
        lands exactly on ``ancestor`` (0 = table creation reaches all).
        A missing manifest on the way breaks the chain."""
        if version <= ancestor:
            return version == ancestor
        for _, m in LakeTable._ancestors(path, version):
            if m["parent_version"] <= ancestor:
                return m["parent_version"] == ancestor
        return False

    @staticmethod
    def _flip_current(path: str, version: int) -> bool:
        """Advance the CURRENT pointer — a chain-aware fast-forward CAS.

        Two invariants, both enforced inside one flock'd critical
        section (the analogue of an Iceberg catalog's atomic swap; the
        lock guards only this microsecond pointer update — data writes
        and manifest builds stay lock-free):

        - MONOTONIC: never move the pointer to a lower version. Writer A
          links manifest v2, stalls; writer B's crash-repair rolls
          CURRENT to 2, rebases, commits v3; A resumes — a plain
          os.replace would clobber CURRENT back to 2, hiding B's
          acknowledged commit.
        - FAST-FORWARD ON THE CHAIN: never move the pointer to a version
          whose parent chain does not reach the version currently
          pointed at. Without this, a writer that rebased on a stale
          head (its repair loop raced a concurrent commit) could flip to
          a HIGHER version that nonetheless forks before — burying —
          an already-acknowledged commit.

        Returns True iff, on exit, ``version`` is on the CURRENT chain
        (we flipped, or someone rolled CURRENT forward over us). False
        means the caller's manifest is orphaned: the commit must be
        re-minted on the new head.
        """
        import fcntl

        cur_path = os.path.join(path, "metadata", CURRENT)
        lock_path = os.path.join(path, "metadata", ".current.lock")
        with open(lock_path, "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            try:
                cur = LakeTable._current(path, default=0)
                if cur >= version:
                    return LakeTable._chain_reaches(path, cur, version)
                if not LakeTable._chain_reaches(path, version, cur):
                    return False
                tmp = os.path.join(
                    path, "metadata", f".CURRENT.{uuid.uuid4().hex}"
                )
                with open(tmp, "w") as fh:
                    fh.write(str(version))
                os.replace(tmp, cur_path)  # atomic for lockless readers
                return True
            finally:
                fcntl.flock(lock, fcntl.LOCK_UN)

    def history(self) -> list[dict]:
        """This version's lineage, oldest first: the parent chain only,
        never a discarded stage, a lost-race fork or a later version."""
        chain = reversed(list(self._ancestors(self.path, self.version)))
        return [
            {
                "version": m["version"],
                "tags": m["tags"],
                "last_lsn": m["ledger"]["last_lsn"],
                "metrics": m["metrics"],
            }
            for _, m in chain
        ]
