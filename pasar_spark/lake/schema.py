"""Field-id-based table schema with Iceberg-style evolution.

The reference has NO schema evolution — adding a column means editing
``etl/pypasar/db/sql/postgres/ddl.sql`` (SURVEY.md §1.3). The north rule
makes in-flight evolution (add / rename / type-widen) a first-class engine
feature, so this module implements the Iceberg mechanism in miniature:

- every column has a stable integer **field id**; the logical name is a
  mutable label on that id, so RENAME is a metadata-only operation and old
  data files remain readable;
- parquet files store columns under physical names ``f<id>`` — reads map
  physical->logical through the id, never through the name;
- WIDEN is restricted to information-preserving casts (int->long,
  float->double, int->double, decimal scale growth analogues), checked at
  DDL time; reads cast old files up to the current type;
- ADD gives a fresh id; old files simply lack the column and read as null.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field

from pyspark.sql.types import StructField, StructType, _parse_datatype_string

# DDL type string -> DataType. PySpark parses through the JVM, three py4j
# round trips per call, and every read plans its files' physical struct,
# so a table's few type strings are parsed once per process.
_data_type = functools.lru_cache(maxsize=256)(_parse_datatype_string)

# Information-preserving widenings (Iceberg's allowed promotions).
_WIDENINGS = {
    ("int", "bigint"),
    ("int", "double"),
    ("float", "double"),
    ("smallint", "int"),
    ("smallint", "bigint"),
    ("bigint", "double"),
}

_CANON = {"long": "bigint", "integer": "int", "short": "smallint"}


def canon_type(t: str) -> str:
    t = t.strip().lower()
    return _CANON.get(t, t)


@dataclass(frozen=True)
class Field:
    id: int
    name: str
    type: str  # Spark DDL type string, canonical form

    def to_json(self) -> dict:
        return {"id": self.id, "name": self.name, "type": self.type}

    @staticmethod
    def from_json(d: dict) -> "Field":
        return Field(d["id"], d["name"], canon_type(d["type"]))


@dataclass
class TableSchema:
    fields: list[Field] = field(default_factory=list)
    schema_id: int = 0

    # -- construction -----------------------------------------------------
    @staticmethod
    def from_pairs(pairs: list[tuple[str, str]]) -> "TableSchema":
        return TableSchema(
            fields=[Field(i + 1, n, canon_type(t)) for i, (n, t) in enumerate(pairs)],
            schema_id=0,
        )

    def to_json(self) -> dict:
        return {"schema_id": self.schema_id, "fields": [f.to_json() for f in self.fields]}

    @staticmethod
    def from_json(d: dict) -> "TableSchema":
        return TableSchema(
            fields=[Field.from_json(f) for f in d["fields"]], schema_id=d["schema_id"]
        )

    # -- lookups ----------------------------------------------------------
    def field_by_name(self, name: str) -> Field:
        for f in self.fields:
            if f.name == name:
                return f
        raise KeyError(f"no column {name!r}; have {[f.name for f in self.fields]}")

    def names(self) -> list[str]:
        return [f.name for f in self.fields]

    def max_id(self) -> int:
        return max((f.id for f in self.fields), default=0)

    # -- evolution (each returns a NEW schema with bumped schema_id) -------
    def add_column(self, name: str, dtype: str) -> "TableSchema":
        if any(f.name == name for f in self.fields):
            raise ValueError(f"column {name!r} already exists")
        new = self.fields + [Field(self.max_id() + 1, name, canon_type(dtype))]
        return TableSchema(new, self.schema_id + 1)

    def rename_column(self, old: str, new: str) -> "TableSchema":
        if any(f.name == new for f in self.fields):
            raise ValueError(f"column {new!r} already exists")
        src = self.field_by_name(old)
        fields = [Field(f.id, new if f.id == src.id else f.name, f.type) for f in self.fields]
        return TableSchema(fields, self.schema_id + 1)

    def widen_column(self, name: str, new_type: str) -> "TableSchema":
        src = self.field_by_name(name)
        new_type = canon_type(new_type)
        if (src.type, new_type) not in _WIDENINGS:
            raise ValueError(f"illegal type change {src.type} -> {new_type} for {name!r}")
        fields = [
            Field(f.id, f.name, new_type if f.id == src.id else f.type) for f in self.fields
        ]
        return TableSchema(fields, self.schema_id + 1)

    # -- spark schemas ------------------------------------------------------
    def physical_struct(self) -> StructType:
        """Schema of data files written under THIS schema version: columns
        named f<id> so renames never touch storage."""
        return StructType(
            [
                StructField(f"f{f.id}", _data_type(f.type), True)
                for f in self.fields
            ]
        )

    def logical_struct(self) -> StructType:
        return StructType(
            [StructField(f.name, _data_type(f.type), True) for f in self.fields]
        )
