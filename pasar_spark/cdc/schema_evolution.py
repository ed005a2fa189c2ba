"""In-flight schema evolution: interpret feed-declared DDL and promote
JSON-carried columns.

The change feed (FIXTURES.md F2) carries ``schema_ver`` plus an ``extra``
JSON payload holding not-yet-promoted columns. An :class:`EvolutionPlan`
maps each feed schema version to the DDL it implies. When the replay
runner sees events with ``schema_ver`` above the table's applied version
it applies the DDL (metadata-only snapshot commits on the lake table —
see lake/schema.py for why old files stay readable), then
:func:`promote_extra` pulls the JSON fields into real typed columns for
the merge.

The reference has no counterpart (schema is frozen DDL,
etl/pypasar/db/sql/postgres/ddl.sql); this is a pure north-rule feature.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pasar_spark.lake.table import LakeTable

# Base envelope columns that are never promoted from JSON.
ENVELOPE = {"lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts", "schema_ver", "extra"}


@dataclass
class EvolutionPlan:
    """feed schema_ver -> ordered DDL ops.

    op forms: ("add", name, type) | ("rename", old, new) | ("widen", name, type)
    """

    steps: dict[int, list[tuple]] = field(default_factory=dict)

    def pending(self, events: DataFrame, tables) -> int:
        """The feed schema version ``events`` carry when any of ``tables``
        has not applied it yet, else 0 — the one evolution check every
        ingest path makes before a merge. A plan without steps answers 0
        without scanning ``events``."""
        ver = max_schema_ver(events) if self.steps else 0
        behind = any(ver > t.manifest["ledger"].get("feed_schema_ver", 0) for t in tables)
        return ver if behind else 0

    def apply_up_to(self, table: LakeTable, target_ver: int) -> LakeTable:
        """Apply DDL for feed versions (applied, target] — ONE atomic
        manifest commit per version carrying BOTH the schema change and
        the feed_schema_ver bump. A crash leaves the table either fully
        at version v or fully at v-1; re-application is then a no-op
        (the per-op-commit formulation could crash between the DDL
        commit and the ledger commit, after which re-applying the plan
        raised 'column already exists' forever)."""
        applied = table.manifest["ledger"].get("feed_schema_ver", 0)
        while applied < target_ver:
            applied += 1
            schema = table.schema
            renames: list[tuple[str, str]] = []
            for op in self.steps.get(applied, []):
                kind = op[0]
                if kind == "add":
                    schema = schema.add_column(op[1], op[2])
                elif kind == "rename":
                    schema = schema.rename_column(op[1], op[2])
                    renames.append((op[1], op[2]))
                elif kind == "widen":
                    schema = schema.widen_column(op[1], op[2])
                else:
                    raise ValueError(f"unknown evolution op {op!r}")
            table = table.evolve(
                schema, renames, tag=f"feed-schema-ver-{applied}",
                feed_schema_ver=applied,
            )
        return table


def promote_extra(events: DataFrame, table: LakeTable) -> DataFrame:
    """Align the feed with the current table schema: (1) apply recorded
    feed aliases (a renamed key/order/payload column keeps its OLD name
    in the feed envelope — rename, never re-synthesize, or every event
    would get a NULL key and the LWW reduce would corrupt the table);
    (2) materialize genuinely new columns from the ``extra`` JSON.
    JSON access + cast is pure Catalyst (get_json_object) — no Python."""
    key_and_order = set(table.manifest["key"]) | set(table.resolve_order)
    aliases = table.manifest.get("feed_aliases", {})
    for old, new in aliases.items():
        if old in events.columns and new not in events.columns:
            events = events.withColumnRenamed(old, new)
    # reverse alias map (new -> old) so JSON synthesis can see a column
    # under every name it ever had: events written before a rename carry
    # the payload at $.{old_name} — reading only $.{new_name} would
    # silently ingest NULL for all pre-rename history under LWW replay.
    reverse = {new: old for old, new in aliases.items()}
    for f in table.schema.fields:
        if f.name in ENVELOPE or f.name in events.columns or f.name.startswith("_"):
            continue  # never synthesize engine-internal (_-prefixed) columns
        if f.name in key_and_order:
            raise ValueError(
                f"feed is missing key/order column {f.name!r} and it cannot "
                "be synthesized from the JSON payload — declare a rename in "
                "the evolution plan instead"
            )
        names, cur = [f.name], f.name
        while cur in reverse and reverse[cur] not in names:
            cur = reverse[cur]
            names.append(cur)
        events = events.withColumn(
            f.name,
            F.coalesce(
                *[F.get_json_object(F.col("extra"), f"$.{n}") for n in names]
            ).cast(f.type),
        )
    return events


def max_schema_ver(events: DataFrame) -> int:
    row = events.agg(F.max("schema_ver").alias("v")).collect()[0]
    return int(row["v"] or 0)
