"""Table IO abstraction: parquet paths now, Iceberg tables when a catalog
is configured.

The north_rule targets Iceberg tables; this sandbox has no Iceberg runtime
jar, so the engine runs on directory-addressed parquet with the same
append/overwrite discipline. Every write in the pipeline goes through this
module, so switching to Iceberg is a config change, not a refactor:

    export SPARK_GRAFT_TABLE_FORMAT=iceberg
    # plus spark.sql.catalog.<cat> configs and iceberg-spark-runtime on the
    # classpath; identifiers then resolve as <cat>.<db>.<name> instead of
    # filesystem paths.

Iceberg specifics the parquet mode emulates:

* append = new files under the directory (Iceberg: new snapshot);
* overwrite = full replace (Iceberg: REPLACE snapshot);
* the checkpoint ledger gives batch resumability (Iceberg's snapshot
  isolation would additionally make each group commit atomic at the
  catalog level — the WAP/branch pattern).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: import-time snapshot, kept for backward compatibility; the functions
#: below re-read the env var at call time so a driver that sets
#: SPARK_GRAFT_TABLE_FORMAT after import (CLI-arg parsing, tests) is
#: honored instead of silently staying on parquet
TABLE_FORMAT = os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet")


def _table_format() -> str:
    # env var wins when set (call-time config); falls back to the module
    # attribute so tests/programmatic overrides of TABLE_FORMAT still work
    return os.environ.get("SPARK_GRAFT_TABLE_FORMAT", TABLE_FORMAT)


def write_table(
    df: DataFrame,
    identifier: str,
    mode: str = "append",
    partition_by: tuple[str, ...] | None = None,
) -> None:
    """Write ``df`` to a table identifier (path in parquet mode).

    ``partition_by`` lays rows out under ``col=value/`` directories in
    parquet mode. In Iceberg mode the table's partition spec is declared at
    create time: ``createOrReplace`` applies it via ``partitionedBy``;
    ``append`` relies on the existing spec (the catalog routes rows) and
    creates the table on first write — DataFrameWriterV2.append() alone
    errors on a missing table, which would break every append-only
    pipeline's first batch."""
    if _table_format() == "iceberg":
        writer = df.writeTo(identifier)
        if mode == "append":
            if not df.sparkSession.catalog.tableExists(identifier):
                _apply_partitioning(writer, partition_by).create()
            else:
                writer.append()
        elif mode == "overwrite":
            _apply_partitioning(writer, partition_by).createOrReplace()
        else:
            raise ValueError(f"unsupported mode {mode!r}")
        return
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(identifier)


def _apply_partitioning(writer, partition_by: tuple[str, ...] | None):
    if partition_by:
        from pyspark.sql import functions as F

        writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
    return writer


def read_table(spark: SparkSession, identifier: str) -> DataFrame:
    if _table_format() == "iceberg":
        return spark.read.table(identifier)
    return spark.read.parquet(identifier)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a catalog table hash-bucketed on ``bucket_col``.

    Bucketing is the co-located-join strategy for the hot keys of this
    engine (doc_id joins everywhere: postings → documents, dedup
    candidates → docs, spans → metadata). Two tables bucketed on the
    same key with the same bucket count join WITHOUT any Exchange — at
    10^12 rows that deletes the dominant shuffle from every doc_id join
    at the price of one bucketed write. ``sort_col`` additionally sorts
    within buckets so sort-merge joins skip the per-task sort.

    Parquet mode uses the session catalog (``bucketBy``/``saveAsTable``
    — Spark's Hive-style bucketing, readable only via ``spark.table``).
    In Iceberg mode the same layout is declared as a partition transform
    (``bucket(n, col)``) on the identifier; Iceberg's storage-partitioned
    join then gives the identical no-shuffle plan (the sandbox has no
    Iceberg runtime — same fence as the rest of this module).

    Plan invariant (asserted in tests/test_plans.py): joining two tables
    bucketed (same col, same n) shows a SortMergeJoin/ShuffledHashJoin
    with NO Exchange on either side.
    """
    if _table_format() == "iceberg":
        if sort_col is not None:
            # DataFrameWriterV2 has no sort-order API; Iceberg sort
            # orders are declared via ALTER TABLE ... WRITE ORDERED BY.
            # Refuse loudly rather than silently dropping the documented
            # within-bucket-sort invariant.
            raise ValueError(
                "sort_col is not supported in Iceberg mode — declare the "
                "table's sort order via ALTER TABLE ... WRITE ORDERED BY "
                "after creation, then call with sort_col=None"
            )
        from pyspark.sql import functions as F

        writer = df.writeTo(name).partitionedBy(
            F.bucket(n_buckets, F.col(bucket_col))
        )
        if mode == "overwrite":
            writer.createOrReplace()
        elif not df.sparkSession.catalog.tableExists(name):
            # same create-if-missing fallback as write_table: the first
            # append-mode bucketed write must create, not raise
            writer.create()
        else:
            writer.append()
        return
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(name)


def read_bucketed_table(spark: SparkSession, name: str) -> DataFrame:
    """Catalog read that preserves the bucketing metadata (a plain
    ``spark.read.parquet`` of the same files would lose it and
    re-shuffle on join)."""
    return spark.table(name)
