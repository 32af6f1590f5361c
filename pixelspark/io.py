"""Sources and sinks — the reference's BigQuery write path re-expressed
over parquet (reference src/services/bigquery.ts).

S4  append sink with auto-create + created_at stamp (bigquery.ts:58-137)
S5  schema evolution on sink (bigquery.ts:74-110)
S6  missing-table -> empty relation (bigquery.ts:159-165)
S7  keyed upsert (bigquery.ts:168-190): `SnapshotTable.upsert`
    (pixelspark/table.py), one atomic manifest commit
W1  latest-state read view over the append-only log (billing.ts:133-163)

Scale posture: appends are blind (cheapest write Spark has — same
reasoning as the reference's append-instead-of-UPDATE).  The billing
log itself is a SnapshotTable (pixelspark/job.py); the parquet sinks
here serve the schema-evolution path and the interchange formats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pixelspark.storage import storage_for


def table_exists(spark: SparkSession, path: str) -> bool:
    """S6 guard — the reference catches 'Not found: Table'
    (bigquery.ts:159-165); for path-based tables: does the directory
    hold any parquet footers.  Routed through the storage backend so
    hdfs://, s3a://... paths resolve via the Hadoop FileSystem API,
    not POSIX calls."""
    return storage_for(path, spark).has_parquet(path)


def read_table_or_empty(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S6 — missing table -> empty relation with the declared schema."""
    if not table_exists(spark, path):
        return spark.createDataFrame([], schema)
    return spark.read.option("mergeSchema", "true").parquet(path)


def align_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """S5 — schema-evolution aligner: add any missing target column as
    NULL of the right type, cast mismatched columns, order columns
    (mirrors the ALTER-missing-columns-in-as-NULLABLE loop,
    bigquery.ts:78-110)."""
    existing = {f.name for f in df.schema.fields}
    out = df
    for field in schema.fields:
        if field.name not in existing:
            out = out.withColumn(field.name, F.lit(None).cast(field.dataType))
        else:
            current = out.schema[field.name].dataType
            if current != field.dataType:
                out = out.withColumn(field.name, F.col(field.name).cast(field.dataType))
    return out.select(*[f.name for f in schema.fields])


def append_records(df: DataFrame, path: str, schema: T.StructType | None = None) -> None:
    """S4/P7 — append sink with auto-create and created_at stamp
    (bigquery.ts:112-137, stamp at :130-133)."""
    out = df.withColumn("created_at", F.current_timestamp())
    if schema is not None:
        out = align_to_schema(out, schema)
    out.write.mode("append").parquet(path)


def latest_state(
    df: DataFrame,
    keys: tuple[str, ...] = ("shop", "billing_date"),
    order_col: str = "created_at",
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """W1 — latest-row-per-key view over the append-only log: the true
    'current state' of a bill is the most recent row for its key
    (reference append-as-update pattern, billing.ts:133-163)."""
    order = [F.col(order_col).desc()] + [F.col(c).desc() for c in tiebreak]
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 8,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: co-locates rows by hash(bucket_col) at
    WRITE time, so later equi-joins/aggregations on that column read
    pre-partitioned data and skip the shuffle entirely — the 100-TB
    answer for a join repeated every daily run (pay the partitioning
    once, reuse it every query).  Verified shuffle-free in
    tests/test_bucketing.py."""
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)


# ---------------------------------------------------------------------------
# interchange formats — CSV / JSON-lines sources and sinks
# ---------------------------------------------------------------------------


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """CSV export sink (the reference's report/export surface; at scale
    CSV is the interchange format partners actually ingest)."""
    df.write.mode("overwrite").option("header", header).csv(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
) -> DataFrame:
    """CSV source with an EXPLICIT schema — never schema-inference,
    which costs a full extra pass over the data and guesses types
    nondeterministically at 100 TB.  Malformed rows are quarantined to
    `_corrupt_record` (PERMISSIVE) rather than failing the batch."""
    full = T.StructType(
        schema.fields + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    out = (
        spark.read.schema(full)
        .option("header", header)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    return out.drop("_corrupt_record")


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSON-lines sink (one object per line — the LLM-corpus exchange
    format; splittable, so downstream scans stay parallel)."""
    df.write.mode("overwrite").json(path)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON-lines source with explicit schema (same no-inference rule
    as read_csv: inference on JSON is another full scan)."""
    return spark.read.schema(schema).json(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink (zlib default): the other columnar interchange format —
    Hive-ecosystem consumers often require ORC over parquet.  Same
    predicate-pushdown and column-pruning properties as parquet."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source.  Schema comes from the file footer (self-describing,
    unlike CSV/JSON — no inference pass needed); filters and column
    pruning push down exactly as for parquet."""
    return spark.read.orc(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: tuple[str, ...], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned layout (`col=value/` directories): the
    physical design that makes date-scoped queries O(day) instead of
    O(table) at 100 TB — a `WHERE day = X` prunes to one directory
    without opening a single foreign data file.  Keep partition
    cardinality bounded (day, region — never user_id): each partition
    should hold >= ~1 GB or the small-file problem eats the gain
    (see SnapshotTable.compact())."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned layout; basePath preserves the partition
    columns as regular (pruning-eligible) columns."""
    return spark.read.option("basePath", path).parquet(path)


def write_xml(df: DataFrame, path: str, row_tag: str = "row", mode: str = "overwrite") -> None:
    """XML sink (built into Spark 4): one element per row under
    `row_tag`.  Interchange format for systems that still speak XML —
    never a scan format at scale (row-oriented, no stats, no column
    pruning); land it into parquet on ingest."""
    df.write.mode(mode).format("xml").option("rootTag", "rows").option("rowTag", row_tag).save(
        path
    )


def read_xml(
    spark: SparkSession, path: str, row_tag: str = "row", schema: T.StructType | None = None
) -> DataFrame:
    """XML source; pass an explicit schema to avoid the inference scan
    (inference reads the data twice — never at 100 TB)."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: tuple[str, ...],
    num_partitions: int | None = None,
    descending: bool = False,
    mode: str = "overwrite",
) -> None:
    """Globally-sorted export without a single-reducer sort.

    `repartitionByRange` samples the sort key to pick balanced range
    boundaries (ONE shuffle; partition i holds keys strictly below
    partition i+1), then `sortWithinPartitions` sorts each range
    locally in parallel — so part-00000..part-NNNNN read in file order
    form one globally ordered sequence.  This is the only way a
    100-TB ORDER BY export scales: a plain `orderBy.write` has the
    same plan shape, but making the partition count explicit here
    keeps output file sizes controlled independently of
    spark.sql.shuffle.partitions.  Per-file order + non-overlapping
    ranges are asserted in tests/test_io.py."""
    cols = [F.col(c).desc() if descending else F.col(c).asc() for c in sort_cols]
    if num_partitions is None:
        out = df.repartitionByRange(*cols)
    else:
        out = df.repartitionByRange(num_partitions, *cols)
    out.sortWithinPartitions(*cols).write.mode(mode).parquet(path)


def zorder_expr(df: DataFrame, cols: tuple[str, str], bits: int = 16):
    """The Morton-interleave Column for `cols` over `df`'s value range
    (one tiny min/max agg + pure bit arithmetic).  Shared by
    `write_zordered` and SnapshotTable.compact(cluster_by=...)."""
    a, b = cols
    mm = df.agg(
        F.min(a).alias("amin"),
        F.max(a).alias("amax"),
        F.min(b).alias("bmin"),
        F.max(b).alias("bmax"),
    ).collect()[0]
    n = 1 << bits

    def bucket(col: str, lo, hi):  # 0..n-1 on an equal-width grid
        if hi == lo:
            return F.lit(0).cast("long")
        return F.least(
            F.lit(n - 1),
            (F.width_bucket(F.col(col).cast("double"), F.lit(float(lo)), F.lit(float(hi)), n) - 1),
        ).cast("long")

    xa, xb = bucket(a, mm["amin"], mm["amax"]), bucket(b, mm["bmin"], mm["bmax"])
    z = F.lit(0).cast("long")
    for i in range(bits):  # interleave: bit i of a -> bit 2i+1, of b -> bit 2i
        z = (
            z.bitwiseOR(F.shiftleft(xa.bitwiseAND(F.lit(1 << i)), i + 1))
            .bitwiseOR(F.shiftleft(xb.bitwiseAND(F.lit(1 << i)), i))
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    num_partitions: int = 8,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order (Morton-curve) clustered layout for MULTI-column data
    skipping.  A single-column sort gives tight per-file min/max stats
    on one column only; interleaving the bit patterns of both columns'
    bucket ids and range-partitioning on the interleave gives every
    file a compact rectangle in (colA, colB) space — so parquet
    row-group/file stats prune scans for predicates on EITHER column.
    This is the vanilla-parquet equivalent of Delta/Iceberg OPTIMIZE
    ZORDER BY.

    All math is JVM-side: `width_bucket` maps each value onto a
    2^bits grid (global min/max is one tiny agg), and the interleave
    is an unrolled shiftleft/bitwise-OR expression.  The Z column is
    dropped before writing.  Skipping win is measured in
    tests/test_io.py."""
    z = zorder_expr(df, cols, bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(num_partitions, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
