"""pasar_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch reimplementation of the *capabilities* of the reference ETL
engine (satish-a0/pasar — see SURVEY.md for the operator-by-operator map),
re-expressed Spark-first:

- simulated binlog/WAL change feed (insert/update/delete events) over
  multi-turn conversation transcripts ``(conv_id, turn_idx, role, text,
  tool, ts)``;
- keyed MERGE upserts on the natural key ``(conv_id, turn_idx)`` with
  last-writer-wins resolution on ``(ts, lsn)`` — the Spark analogue of the
  reference's ``ROW_NUMBER() ... = 1`` prioritized-pick pattern
  (etl/pypasar/db/sql/postgres/person/stg__person.sql:26-40);
- an Iceberg-style snapshot lake table (atomic manifest commits, snapshot
  tags, bucket-pruned merge-on-read) implemented over Parquet because this
  sandbox ships no Iceberg runtime jar — the MERGE surface is shaped so it
  drops onto ``MERGE INTO`` + ``IcebergSparkSessionExtensions`` unchanged
  on a real cluster;
- exactly-once via a checkpointed offset ledger committed in the same
  snapshot as the data (idempotent, LSN-range-deterministic batch ids);
- in-flight schema evolution (column add / rename / type-widen) through
  field-id metadata, like Iceberg;
- Arrow-vectorized (pandas_udf) text normalization — never per-row Python.
"""

__version__ = "0.1.0"
