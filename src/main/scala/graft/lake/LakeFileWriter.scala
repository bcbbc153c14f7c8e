package graft.lake

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalOutputFile, OutputFile}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One file a [[LakeFileWriter]] task wrote: its name inside the task's
  * directory, row count, byte size, partition tuple (spec field name →
  * value string) and column stats read from the footer just written. */
final case class WrittenFile(
    name: String,
    rowCount: Long,
    sizeBytes: Long,
    partitionValues: Map[String, String],
    stats: Map[String, ColumnStats])

/** The lake's one parquet file writer, for data and delete files alike.
  *
  * Executors write `InternalRow`s with Spark's own `ParquetWriteSupport`
  * (the encoder behind `DataFrameWriter.parquet`) straight to a local file
  * through parquet's java.nio `LocalOutputFile`: no Hadoop FileSystem, no
  * output committer and its `_temporary` tree, no `_SUCCESS` or `.crc`
  * side files, no forked `chmod`. A task keeps one open file per partition
  * tuple and reports each file back with its row count and stats taken
  * from `ParquetWriter.getFooter` — the footer it just wrote, never
  * re-opened.
  *
  * Settings are resolved ONCE on the driver from the session's SQLConf
  * (compression codec, legacy-format and field-id flags) and serialized
  * into tasks. Timestamps are always TIMESTAMP_MICROS: INT96 has no usable
  * footer stats, and the file format must not depend on a session flag.
  * Parquet page checksums stay on (the parquet-mr default).
  */
final class LakeFileWriter private (
    schemaJson: String,
    settings: Map[String, String],
    codec: String,
    suffix: String) extends Serializable {

  /** The columns written: every file has exactly this schema. */
  @transient lazy val schema: StructType =
    DataType.fromJson(schemaJson).asInstanceOf[StructType]

  /** A task-side writer into `dir`. `clustered` promises that rows of one
    * partition tuple arrive together (the input is sorted on it), so the
    * previous tuple's file is finished when the next tuple starts — one
    * open file at a time, as Spark's own FileFormatWriter does. */
  def task(dir: String, clustered: Boolean): LakeFileWriter.Task =
    new LakeFileWriter.Task(this, Paths.get(dir), clustered)

  private def newParquetWriter(file: Path): ParquetWriter[InternalRow] = {
    val conf = new Configuration(false) // no XML defaults parsed per file
    settings.foreach { case (k, v) => conf.set(k, v) }
    new LakeFileWriter.Builder(new LocalOutputFile(file))
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.valueOf(codec))
      .withPageWriteChecksumEnabled(true)
      .build()
  }

  private def newFileName(): String = s"${UUID.randomUUID()}$suffix.parquet"

  /** Write every row of `df` into `dir` and return the files of all tasks.
    * `df` holds the [[schema]] columns followed by one STRING column per
    * name in `partNames` (never NULL: callers coalesce to `__null__`),
    * and must be sorted within tasks on those trailing columns. The
    * partition tuple of a file is `partNames` zipped with those values. */
  def writeFrame(df: DataFrame, dir: Path, partNames: Seq[String]): Seq[WrittenFile] = {
    val n = schema.length
    val k = partNames.size
    require(df.schema.length == n + k,
      s"write frame has ${df.schema.length} columns, expected $n data + $k partition")
    val dirStr = dir.toString
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("graft write")) {
      qe.toRdd.mapPartitions { rows =>
        val out = task(dirStr, clustered = true)
        val data = ProjectingInternalRow(schema, 0 until n)
        var key: Array[UTF8String] = null
        var pv = Map.empty[String, String]
        try {
          rows.foreach { row =>
            if (k > 0 && (key == null ||
                (0 until k).exists(i => key(i) != row.getUTF8String(n + i)))) {
              key = Array.tabulate(k)(i => row.getUTF8String(n + i).clone())
              pv = partNames.zip(key.map(_.toString)).toMap
            }
            data.project(row)
            out.write(pv, data)
          }
          out.commit().iterator
        } catch {
          case t: Throwable => out.abort(); throw t
        }
      }.collect().toSeq
    }
  }
}

object LakeFileWriter {

  /** Writer for files of `schema` (written all-nullable, as Spark's file
    * sources do) under the session's parquet settings. `suffix` is
    * appended to each file's UUID name (e.g. `-deletes`). */
  def apply(spark: SparkSession, schema: StructType, suffix: String = ""): LakeFileWriter = {
    val sql = spark.sessionState.conf
    val nullable = org.apache.spark.sql.graftbridge.ColumnBridge.asNullable(schema)
    new LakeFileWriter(nullable.json, Map(
      ParquetWriteSupport.SPARK_ROW_SCHEMA -> nullable.json,
      SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key -> sql.writeLegacyParquetFormat.toString,
      SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key ->
        SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS.toString,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key -> sql.parquetFieldIdWriteEnabled.toString,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key ->
        sql.parquetAnnotateVariantLogicalType.toString),
      new ParquetOptions(Map.empty[String, String], sql).compressionCodecClassName,
      suffix)
  }

  private final class Builder(file: OutputFile)
    extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** One task's files: one open parquet writer per partition tuple. */
  final class Task private[LakeFileWriter] (
      w: LakeFileWriter, dir: Path, clustered: Boolean) {

    private val statFields = FooterStats.statFields(w.schema)
    private val open =
      mutable.LinkedHashMap.empty[Map[String, String], (String, ParquetWriter[InternalRow])]
    private val done = mutable.ArrayBuffer.empty[WrittenFile]
    private var lastPv: Map[String, String] = _
    private var last: ParquetWriter[InternalRow] = _

    def write(pv: Map[String, String], row: InternalRow): Unit = {
      if (last == null || pv != lastPv) {
        if (clustered) finishAll()
        last = open.getOrElseUpdate(pv, {
          Files.createDirectories(dir)
          val name = w.newFileName()
          (name, w.newParquetWriter(dir.resolve(name)))
        })._2
        lastPv = pv
      }
      last.write(row)
    }

    private def finishAll(): Unit = {
      open.foreach { case (pv, (name, pw)) =>
        pw.close()
        val (rows, stats) = FooterStats.fromFooter(pw.getFooter, statFields)
        done += WrittenFile(name, rows, Files.size(dir.resolve(name)), pv, stats)
      }
      open.clear()
      last = null
    }

    /** Finish every open file; the files this task wrote. */
    def commit(): Seq[WrittenFile] = { finishAll(); done.toSeq }

    /** Close quietly and delete everything this task wrote. */
    def abort(): Unit = {
      open.values.foreach { case (_, pw) => scala.util.Try(pw.close()) }
      (open.values.map(_._1) ++ done.map(_.name))
        .foreach(n => Files.deleteIfExists(dir.resolve(n)))
      open.clear()
      done.clear()
      last = null
    }
  }
}
