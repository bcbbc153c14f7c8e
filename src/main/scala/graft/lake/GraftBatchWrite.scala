package graft.lake

import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** Executor-side write path (DSv2 `BatchWrite`) of the row-level
  * operation rewrites (MERGE / UPDATE) and dynamic partition overwrite:
  * Spark's ReplaceData / OverwritePartitionsDynamic execs require a real
  * BatchWrite — the V1 insert fallback is not applied.
  *
  * Each task writes through [[LakeFileWriter]] — the same writer as every
  * other lake write — one parquet file per partition-value tuple it sees
  * (hash-partitioned input ⇒ few tuples per task), straight into `data/`,
  * and ships `DataFile` entries with footer stats back as commit
  * messages; the driver-side commit atomically swaps the operation's
  * scanned files for the new files in one snapshot. Task retries are safe:
  * only files named in commit messages are registered, strays are swept by
  * `remove_orphan_files`.
  */
class GraftBatchWrite(
    tableDirStr: String,
    schemaJson: String,
    spec: Seq[PartitionField],
    operation: String,
    commitFiles: Seq[DataFile] => Unit) extends Write with BatchWrite {

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // bind the partition-value expressions and resolve the file settings
    // on the DRIVER (both need the session); they serialize to executors.
    // Physical names throughout: the parquet schema, the stats keys, and
    // the partition-source lookups all match what every other writer
    // produces, regardless of column renames (ordinals are unchanged)
    val phys = SchemaNames.toPhysical(
      DataType.fromJson(schemaJson).asInstanceOf[StructType])
    new GraftDataWriterFactory(tableDirStr,
      LakeFileWriter(org.apache.spark.sql.SparkSession.active, phys), spec,
      RowPartitionEval.bind(spec, phys))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.toSeq.flatMap {
      case m: GraftCommitMessage => m.files
      case _ => Seq.empty
    }
    commitFiles(files)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach {
      case m: GraftCommitMessage => m.files.foreach { f =>
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(tableDirStr).resolve(f.path))
      }
      case _ =>
    }
  }

  override def description(): String = s"GraftBatchWrite($operation)"
}

final case class GraftCommitMessage(files: Seq[DataFile]) extends WriterCommitMessage

final class GraftDataWriterFactory(
    tableDirStr: String,
    files: LakeFileWriter,
    spec: Seq[PartitionField],
    pvExprs: Seq[Expression])
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(tableDirStr, files, spec, pvExprs)
}

final class GraftDataWriter(
    tableDirStr: String,
    files: LakeFileWriter,
    spec: Seq[PartitionField],
    pvExprs: Seq[Expression])
  extends DataWriter[InternalRow] {

  private val out = files.task(
    java.nio.file.Paths.get(tableDirStr).resolve("data").toString,
    clustered = false)
  private val width = files.schema.length

  /** pvExprs with ordinals shifted by the rewrite-row prefix offset, and
    * the data-column view at that offset — built on the first row (the
    * offset is constant per write). */
  private var shifted: Seq[Expression] = _
  private var data: ProjectingInternalRow = _

  override def write(row: InternalRow): Unit = {
    // ReplaceData hands the writer the RAW rewrite-query output when the
    // operation declares no metadata columns: MergeRows/UpdateRows prepend
    // bookkeeping attributes (e.g. __row_operation) BEFORE the data
    // columns, and Spark only strips them via ReplaceDataProjections when
    // a metadata projection also exists. The data columns are the trailing
    // schema.length fields — read at this offset. (Exact-result specs pin
    // this contract; a layout change breaks them loudly, not silently.)
    if (data == null) {
      val off = row.numFields - width
      require(off >= 0,
        s"row has ${row.numFields} fields but table schema has $width")
      shifted = pvExprs.map(RowPartitionEval.shift(_, off))
      data = ProjectingInternalRow(files.schema, off until off + width)
    }
    val pv = spec.zip(shifted).map { case (f, e) =>
      f.name -> String.valueOf(e.eval(row))
    }.toMap
    data.project(row)
    out.write(pv, data)
  }

  override def commit(): WriterCommitMessage =
    GraftCommitMessage(out.commit().map(f =>
      DataFile(s"data/${f.name}", f.rowCount, f.sizeBytes, f.partitionValues,
        f.stats, seq = Snapshot.UnassignedSeq)))

  override def abort(): Unit = out.abort()

  override def close(): Unit = ()
}

/** Row-side partition values for the executor write path: evaluates the
  * SAME Catalyst expression [[GraftWriter.writeFiles]] computes —
  * `coalesce(PartitionTransforms.valueColumn(f), '__null__')` — analyzed
  * (implicit casts, session time zone) on the DRIVER and bound to row
  * ordinals, then shipped to executors. Tuples from this writer and
  * `writeFiles` agree BY CONSTRUCTION for every transform and type,
  * including the timezone-sensitive date transforms and format-sensitive
  * identity casts a hand-mirrored reimplementation gets subtly wrong —
  * and dynamic-overwrite partition matching is only correct if they
  * agree. */
object RowPartitionEval {
  import org.apache.spark.sql.catalyst.expressions.{Alias, BoundReference, Expression}
  import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}

  /** One bound, analyzed expression per partition field, ordinals
    * 0..n-1 relative to `schema`. Driver-side only: the ACTIVE session's
    * analyzer resolves the very Columns valueColumn builds (attribute
    * binding, implicit casts, session time zone) against an empty frame
    * of the write schema, then the aliased children are bound to
    * ordinals for executor-side eval. */
  def bind(spec: Seq[PartitionField], schema: StructType): Seq[Expression] = {
    if (spec.isEmpty) return Seq.empty
    val spark = org.apache.spark.sql.SparkSession.active
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val cols = spec.zipWithIndex.map { case (f, i) =>
      org.apache.spark.sql.functions.coalesce(
        PartitionTransforms.valueColumn(f),
        org.apache.spark.sql.functions.lit("__null__")).as(s"__pv$i")
    }
    val analyzed = empty.select(cols: _*).queryExecution.analyzed
    val proj = analyzed.collectFirst { case p: Project => p }.getOrElse(
      throw new IllegalStateException(s"unexpected plan shape: $analyzed"))
    val childOutput = proj.child.output
    proj.projectList.map(a =>
      org.apache.spark.sql.catalyst.expressions.BindReferences
        .bindReference(a.asInstanceOf[Alias].child, childOutput))
  }

  /** Shift a bound expression's ordinals by `off` (the rewrite-row prefix
    * offset — see GraftDataWriter.write). */
  def shift(e: Expression, off: Int): Expression =
    if (off == 0) e
    else e.transformUp {
      case BoundReference(ord, dt, n) => BoundReference(ord + off, dt, n)
    }
}
