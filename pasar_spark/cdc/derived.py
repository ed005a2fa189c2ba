"""Incremental derived-table maintenance over the change-data-feed.

The consumer side of ``LakeTable.changes()``: a per-conversation
aggregate (live turn count, total text chars) maintained as its OWN lake
table, advanced by CDF deltas instead of rescans — classic incremental
view maintenance. The reference's analogue is the stats rollup it
recomputes from scratch per run (etl/pypasar/db/utils/
final_statistics.py:26-52, SURVEY.md A9); at 10^10 source rows a
recompute is O(table) per refresh while this is O(changes since last
refresh + touched aggregate buckets).

Why these aggregates: COUNT and SUM are self-maintainable from deltas —
insert/delete contribute ±1 turn, and the CDF's pre-image payloads
(``changes(pre_images=True)``, the Debezium before-image analogue) give
``len(new text) − len(old text)`` per change without reading the source
table. MAX/MIN are deliberately absent: they are not maintainable under
deletes without full state (delete the max row and the new max is
unknown), so an engine offering them incrementally would be wrong.

Exactly-once: the consumed source version checkpoints through the
derived table's OWN ledger (monotone ``source_partitions`` entry) in the
same atomic commit as the aggregate data, and the batch id is a
deterministic function of the consumed version range — a crashed or
replayed refresh is a no-op, the same argument as the ingest path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pasar_spark.lake.table import LakeTable

_SRC = "__source_version__"


class DerivedConvStats:
    """Maintains ``(conv_id, n_turns, total_chars)`` from a transcripts
    table's CDF. ``refresh()`` folds everything committed to the source
    since the last consumed version."""

    COLUMNS = [
        ("conv_id", "string"),
        ("n_turns", "bigint"),
        ("total_chars", "bigint"),
    ]

    def __init__(
        self,
        spark: SparkSession,
        source_path: str,
        derived_path: str,
        n_buckets: int = 16,
        text_col: str = "text",
    ):
        self.spark = spark
        self.source_path = source_path
        self.derived_path = derived_path
        self.n_buckets = n_buckets
        self.text_col = text_col

    def bootstrap(self) -> LakeTable:
        if LakeTable.exists(self.derived_path):
            return LakeTable.load(self.spark, self.derived_path)
        return LakeTable.create(
            self.spark,
            self.derived_path,
            columns=self.COLUMNS,
            key=["conv_id"],
            n_buckets=self.n_buckets,
            bucket_by="conv_id",
            name="conv-stats",
        )

    def read(self) -> DataFrame:
        return LakeTable.load(self.spark, self.derived_path).read()

    # ------------------------------------------------------------------
    def _source_state(self, src: LakeTable) -> DataFrame:
        """Materialized live view of the source — patch tables store
        per-column winner structs, so their user view needs the patch
        materialize; row tables read directly. The INCREMENTAL path needs
        no such branch: changes() already materializes both images."""
        if src.manifest.get("conflict") == "patch":
            from pasar_spark.cdc.patch import materialize

            return materialize(src.read(include_tombstones=True), src.payload)
        return src.read()

    def _full_aggregate(self, src: LakeTable) -> DataFrame:
        return (
            self._source_state(src)
            .groupBy("conv_id")
            .agg(
                F.count(F.lit(1)).alias("n_turns"),
                F.coalesce(
                    F.sum(F.length(self.text_col).cast("long")), F.lit(0)
                ).alias("total_chars"),
            )
        )

    def _delta(self, ch: DataFrame) -> DataFrame:
        """Per-conv (d_turns, d_chars) from one CDF slice. Each change row
        contributes the difference between its post- and pre-image."""
        t = F.col("_change_type")
        post_len = F.coalesce(F.length(self.text_col).cast("long"), F.lit(0))
        pre_len = F.coalesce(
            F.length(f"_prev_{self.text_col}").cast("long"), F.lit(0)
        )
        return ch.groupBy("conv_id").agg(
            F.sum(
                F.when(t == "insert", 1).when(t == "delete", -1).otherwise(0)
            ).alias("d_turns"),
            F.sum(post_len - pre_len).alias("d_chars"),
        )

    def _full_refresh(
        self, src: LakeTable, der: LakeTable, frm: int
    ) -> tuple[LakeTable, dict]:
        """One full aggregate of the source snapshot, replacing every
        derived bucket and re-checkpointing at src.version."""
        batch_id = f"cdf-full-v{src.version}"
        if der.has_batch(batch_id):
            return der, {"mode": "noop"}
        agg = self._full_aggregate(src).withColumn("_bucket", der.bucket_expr())
        files = der.write_files(agg, der.new_commit_id())
        der = der.commit_merge(
            replaced_buckets=[int(b) for b in der.manifest["buckets"]],
            new_files=files,
            batch_id=batch_id,
            partition_offsets={_SRC: src.version},
        )
        return der, {
            "consumed_from": frm, "consumed_to": src.version, "mode": "full",
        }

    def refresh(self) -> tuple[LakeTable, dict]:
        """Fold source commits since the last consumed version into the
        aggregate. Returns (derived table, info)."""
        src = LakeTable.load(self.spark, self.source_path)
        der = self.bootstrap()
        frm = der.source_offset(_SRC)
        if src.version <= frm:
            return der, {"consumed_from": frm, "consumed_to": frm, "mode": "noop"}

        if frm < 1:
            # first refresh: one full aggregate of the source snapshot —
            # the only O(source) pass this table ever takes
            return self._full_refresh(src, der, 0)

        batch_id = f"cdf-v{frm}-v{src.version}"
        if der.has_batch(batch_id):
            return der, {"mode": "noop"}
        try:
            changes = src.changes(frm, pre_images=True)
        except FileNotFoundError:
            # the source's expire_snapshots dropped manifest v{frm}
            # because this consumer lagged past the retention window —
            # the delta is unrecoverable, so pay one full re-aggregate
            # (replace all buckets) instead of failing forever
            return self._full_refresh(src, der, frm)
        delta = self._delta(changes).withColumn("_bucket", der.bucket_expr())
        delta = delta.persist()
        try:
            affected = sorted(
                r["_bucket"] for r in delta.select("_bucket").distinct().collect()
            )
            if not affected:
                # compaction-only source commits: pure checkpoint advance
                der = der.commit_merge(
                    replaced_buckets=[], new_files={}, batch_id=batch_id,
                    partition_offsets={_SRC: src.version},
                )
                return der, {
                    "consumed_from": frm, "consumed_to": src.version,
                    "mode": "checkpoint-only",
                }
            base = der.read(buckets=affected)
            d = delta.select(
                F.col("conv_id").alias("_dk"), "d_turns", "d_chars", "_bucket"
            )
            j = base.join(d, base["conv_id"] == d["_dk"], "full_outer")
            new_n = F.coalesce(F.col("n_turns"), F.lit(0)) + F.coalesce(
                F.col("d_turns"), F.lit(0)
            )
            new_c = F.coalesce(F.col("total_chars"), F.lit(0)) + F.coalesce(
                F.col("d_chars"), F.lit(0)
            )
            out = (
                j.select(
                    F.coalesce(F.col("conv_id"), F.col("_dk")).alias("conv_id"),
                    new_n.cast("long").alias("n_turns"),
                    new_c.cast("long").alias("total_chars"),
                )
                # a conv whose last live turn was deleted leaves the table
                .where(F.col("n_turns") > 0)
            )
            out = out.withColumn("_bucket", der.bucket_expr())
            files = der.write_files(out, der.new_commit_id())
            der = der.commit_merge(
                replaced_buckets=affected,
                new_files=files,
                batch_id=batch_id,
                partition_offsets={_SRC: src.version},
            )
            return der, {
                "consumed_from": frm, "consumed_to": src.version,
                "mode": "incremental", "touched_buckets": len(affected),
            }
        finally:
            delta.unpersist()
