package graft.lake

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Virtual metadata tables resolved as an extra name part after the table —
  * `SELECT * FROM graft.ns.t.history` — mirroring the reference's
  * `getting_started.ipynb:166,169` (`t.history`, `t.snapshots`) and
  * `iceberg_queries.ipynb:318`; `files` added for operational visibility.
  * Small by construction (one row per snapshot / data file), served from
  * the driver. */
object MetadataTables {

  val names: Set[String] = Set("history", "snapshots", "files", "partitions",
    "refs", "stats", "delete_files", "manifests")

  val historySchema: StructType = StructType(Seq(
    StructField("made_current_at", TimestampType),
    StructField("snapshot_id", LongType),
    StructField("parent_id", LongType),
    StructField("is_current_ancestor", BooleanType)))

  val snapshotsSchema: StructType = StructType(Seq(
    StructField("committed_at", TimestampType),
    StructField("snapshot_id", LongType),
    StructField("parent_id", LongType),
    StructField("operation", StringType),
    StructField("manifest_list", StringType),
    StructField("summary", MapType(StringType, StringType))))

  val filesSchema: StructType = StructType(Seq(
    StructField("file_path", StringType),
    StructField("partition", MapType(StringType, StringType)),
    StructField("record_count", LongType),
    StructField("file_size_in_bytes", LongType)))

  val deleteFilesSchema: StructType = StructType(Seq(
    StructField("file_path", StringType),
    StructField("record_count", LongType),
    StructField("file_size_in_bytes", LongType),
    StructField("kind", StringType),
    StructField("equality_columns", StringType),
    StructField("sequence_number", LongType),
    StructField("referenced_data_file", StringType)))

  val partitionsSchema: StructType = StructType(Seq(
    StructField("partition", MapType(StringType, StringType)),
    StructField("file_count", LongType),
    StructField("record_count", LongType),
    StructField("total_size_in_bytes", LongType)))

  val refsSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("type", StringType),
    StructField("snapshot_id", LongType)))

  val manifestsSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("sequence_number", LongType),
    StructField("file_count", LongType),
    StructField("record_count", LongType),
    StructField("total_size_in_bytes", LongType),
    StructField("bounds", MapType(StringType, StringType))))

  val statsSchema: StructType = StructType(Seq(
    StructField("column", StringType),
    StructField("min", StringType),
    StructField("max", StringType),
    StructField("null_count", LongType),
    StructField("ndv_estimate", LongType)))

  def build(tableName: String, metaName: String, store: SnapshotStore): Table = {
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val all = store.listVersions().map(store.read)
    metaName match {
      case "history" =>
        // every committed version is an ancestor of the current head in our
        // linear history (no branch/rollback divergence yet)
        val rows = all.map(s => Row(ts(s.timestampMs), s.version,
          s.parentVersion.map(Long.box).orNull, true))
        new LocalTable(s"$tableName.history", historySchema, rows)
      case "snapshots" =>
        val rows = all.map(s => Row(ts(s.timestampMs), s.version,
          s.parentVersion.map(Long.box).orNull, s.operation,
          s"metadata/v${s.version}.json", s.summary))
        new LocalTable(s"$tableName.snapshots", snapshotsSchema, rows)
      case "files" =>
        val head = store.head().toSeq
        val rows = head.flatMap(_.files).map(f =>
          Row(f.path, f.partitionValues, f.rowCount, f.sizeBytes))
        new LocalTable(s"$tableName.files", filesSchema, rows)
      case "delete_files" =>
        // pending merge-on-read deletes, one row per entry (the
        // rewrite_deletes dashboard: how much per-read delete work has
        // accumulated); a vector's size is its slice of the shared blob
        val rows = store.head().toSeq.flatMap(_.deleteFiles).map(f =>
          Row(f.path, f.rowCount, f.sizeBytes, f.kind,
            if (f.equalityColumns.isEmpty) null
            else f.equalityColumns.mkString(","), f.seq,
            f.referencedDataFile.orNull))
        new LocalTable(s"$tableName.delete_files", deleteFilesSchema, rows)
      case "partitions" =>
        // the small-files / hot-partition dashboard query (what the
        // compaction procedure reads to decide where to work)
        val rows = store.head().toSeq.flatMap(_.files)
          .groupBy(_.partitionValues)
          .toSeq.map { case (pv, fs) =>
            Row(pv, fs.size.toLong, fs.map(_.rowCount).sum,
              fs.map(_.sizeBytes).sum)
          }
        new LocalTable(s"$tableName.partitions", partitionsSchema, rows)
      case "refs" =>
        val rows = store.refs().toSeq.sortBy(_._1)
          .map { case (n, v) => Row(n, "TAG", v) }
        new LocalTable(s"$tableName.refs", refsSchema, rows)
      case "manifests" =>
        // one row per manifest chunk of the current snapshot — the
        // planner's view of what a filtered scan can skip without loading
        // (Iceberg's t.manifests, over our JSON chunk refs); empty for
        // inline (small) tables, whose file list lives in v<N>.json
        val rows = store.head().toSeq.flatMap(_.manifests).map { r =>
          val bounds = r.bounds.toSeq.sortBy(_._1).map { case (c, st) =>
            c -> (s"[${st.min.getOrElse("")}..${st.max.getOrElse("")}]" +
              st.nullCount.map(n => s" nulls=$n").getOrElse(""))
          }.toMap
          Row(r.path, r.seq, r.fileCount, r.rowCount, r.sizeBytes, bounds)
        }
        new LocalTable(s"$tableName.manifests", manifestsSchema, rows)
      case "stats" =>
        // table-level column stats from metadata only: min/max/null_count
        // folded over file stats, NDV from unioned per-file HLL sketches
        val rows = store.head().toSeq.flatMap { snap =>
          // min/max are normalized strings; numerics compare as decimals
          def ord(a: String, b: String): Int =
            (scala.util.Try(BigDecimal(a)).toOption,
             scala.util.Try(BigDecimal(b)).toOption) match {
              case (Some(x), Some(y)) => x.compare(y)
              case _ => a.compareTo(b)
            }
          snap.schema.fields.toSeq.map { f =>
            val phys = SchemaNames.physicalName(f)
            val sts = snap.files.flatMap(_.stats.get(phys))
            val mins = sts.flatMap(_.min)
            val maxs = sts.flatMap(_.max)
            val nulls = snap.files.map(_.stats.get(phys).flatMap(_.nullCount))
            val sketches = snap.files.map(_.ndv.get(phys))
            Row(f.name,
              if (mins.isEmpty) null else mins.reduce((a, b) => if (ord(a, b) <= 0) a else b),
              if (maxs.isEmpty) null else maxs.reduce((a, b) => if (ord(a, b) >= 0) a else b),
              if (nulls.nonEmpty && nulls.forall(_.isDefined))
                Long.box(nulls.flatten.sum) else null,
              if (sketches.nonEmpty && sketches.forall(_.isDefined))
                Long.box(NdvStats.estimate(sketches.flatten)) else null)
          }
        }
        new LocalTable(s"$tableName.stats", statsSchema, rows)
      case other =>
        throw new IllegalArgumentException(s"unknown metadata table $other")
    }
  }
}

/** Read-only table over driver-local rows (V1Scan bridge). */
final class LocalTable(tableName: String, tschema: StructType, rows: Seq[Row])
  extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = tschema
  override def partitioning(): Array[Transform] = Array.empty
  override def properties(): java.util.Map[String, String] =
    java.util.Collections.emptyMap()
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new V1Scan {
      override def readSchema(): StructType = tschema
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = tschema
          override def buildScan(): RDD[Row] =
            context.sparkSession.createDataFrame(
              rows.asJava, tschema).rdd
        }.asInstanceOf[T]
    }
}
