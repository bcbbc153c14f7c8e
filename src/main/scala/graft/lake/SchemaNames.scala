package graft.lake

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructField, StructType}

/** Column-mapping-by-name (the Delta "name mode" / Iceberg field-id idea,
  * carried in field metadata): every top-level column has an immutable
  * PHYSICAL name — the name data files use forever — and a LOGICAL name
  * the user sees. The two coincide until the first RENAME, which only
  * swaps the logical name and stamps the physical one into metadata; no
  * file is touched. Writers rename logical→physical before hitting disk;
  * readers read physical and bind positionally (or alias back), so files
  * written before and after any number of renames stay interchangeable.
  * Stats, partition-spec sources, and partition values are all keyed by
  * physical name, which is why filters must be translated before pruning.
  */
object SchemaNames {

  val Key = "graft.physical-name"

  def physicalName(f: StructField): String =
    if (f.metadata.contains(Key)) f.metadata.getString(Key) else f.name

  /** Stamp an explicit physical name (used by RENAME, and by ADD COLUMN
    * when the new logical name collides with a retired physical name). */
  def withPhysical(f: StructField, phys: String): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putString(Key, phys).build())

  /** Schema as the data files see it (top-level names swapped to
    * physical; the mapping metadata itself is dropped — files don't
    * carry it). */
  def toPhysical(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      val m = new MetadataBuilder().withMetadata(f.metadata).remove(Key).build()
      f.copy(name = physicalName(f), metadata = m)
    })

  /** logical → physical, only for columns where the two differ (empty for
    * never-renamed tables — the common case costs nothing). */
  def renameMap(schema: StructType): Map[String, String] =
    schema.fields.iterator
      .map(f => f.name -> physicalName(f))
      .filter { case (l, p) => l != p }
      .toMap

  def hasRenames(schema: StructType): Boolean =
    schema.fields.exists(f => physicalName(f) != f.name)

  /** Read `files` under the table's PHYSICAL column names and hand back
    * a DataFrame with the LOGICAL ones (positional rename; a no-op select
    * for never-renamed tables), with NO delete applied. For raw reads of
    * files that are not a table's live rows (a materialized view's own
    * files); live rows come from [[GraftTable.liveRows]]. Paths and sizes
    * come from the snapshot: no file is listed or stat'ed. */
  def readLogical(spark: org.apache.spark.sql.SparkSession, store: SnapshotStore,
      schema: StructType, files: Seq[DataFile]): org.apache.spark.sql.DataFrame =
    readFiles(spark, store, toPhysical(schema), files.map(f => f.path -> f.sizeBytes))
      .toDF(schema.fieldNames.toIndexedSeq: _*)

  /** [[readLogical]] plus two provenance columns from the parquet reader's
    * `_metadata` struct: the data file's NAME ([[PositionDeletes.NameCol]])
    * and the row's 0-based index within it ([[PositionDeletes.RowPosCol]]) —
    * the join identity of CDC's "which rows did this commit delete". */
  def readLogicalWithProvenance(spark: org.apache.spark.sql.SparkSession,
      store: SnapshotStore, schema: StructType,
      files: Seq[DataFile]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, element_at, split}
    val phys = readFiles(spark, store, toPhysical(schema),
      files.map(f => f.path -> f.sizeBytes))
    val cols = schema.fields.toSeq.map(f => col(physicalName(f)).as(f.name)) ++ Seq(
      element_at(split(col("_metadata.file_path"), "/"), -1)
        .as(PositionDeletes.NameCol),
      col("_metadata.row_index").as(PositionDeletes.RowPosCol))
    phys.select(cols: _*)
  }

  /** Lake files given as (table-relative path, size) read with
    * `physSchema`, planned from the recorded sizes (no listing). */
  private[lake] def readFiles(spark: org.apache.spark.sql.SparkSession,
      store: SnapshotStore, physSchema: StructType,
      files: Seq[(String, Long)]): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graftbridge.ParquetScanBridge.snapshotFrame(spark,
      files.map { case (p, size) => store.tableDir.resolve(p).toUri.toString -> size },
      physSchema)

  /** Rewrite a V1 filter's attribute names through `m` (logical →
    * physical). Identity when `m` is empty. */
  def renameFilter(f: Filter, m: Map[String, String]): Filter = {
    if (m.isEmpty) return f
    def r(n: String): String = m.getOrElse(n, n)
    f match {
      case EqualTo(a, v) => EqualTo(r(a), v)
      case EqualNullSafe(a, v) => EqualNullSafe(r(a), v)
      case GreaterThan(a, v) => GreaterThan(r(a), v)
      case GreaterThanOrEqual(a, v) => GreaterThanOrEqual(r(a), v)
      case LessThan(a, v) => LessThan(r(a), v)
      case LessThanOrEqual(a, v) => LessThanOrEqual(r(a), v)
      case In(a, vs) => In(r(a), vs)
      case IsNull(a) => IsNull(r(a))
      case IsNotNull(a) => IsNotNull(r(a))
      case StringStartsWith(a, v) => StringStartsWith(r(a), v)
      case StringEndsWith(a, v) => StringEndsWith(r(a), v)
      case StringContains(a, v) => StringContains(r(a), v)
      case And(l, rr) => And(renameFilter(l, m), renameFilter(rr, m))
      case Or(l, rr) => Or(renameFilter(l, m), renameFilter(rr, m))
      case Not(c) => Not(renameFilter(c, m))
      case other => other // AlwaysTrue/AlwaysFalse and future leaf types
    }
  }
}
