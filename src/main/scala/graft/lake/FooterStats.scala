package graft.lake

import scala.jdk.CollectionConverters._

import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, ParquetMetadata}
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.types._

/** Per-file row count + column min/max/null-count stats read from the
  * parquet FOOTER — constant work per file, no data read. This replaces a
  * full Spark aggregation pass over freshly staged data (the round-1
  * writer re-read everything it had just written to compute stats, i.e.
  * every write paid ~2× its data volume; at 100 TB the footer is the only
  * viable source, which is also how Iceberg manifests are populated).
  *
  * Values are normalized to the snapshot stat domain shared with
  * [[StatsPruner.normalize]] / [[GraftWriter]]: timestamps as epoch
  * micros, dates as epoch days, numerics as plain decimal strings, strings
  * raw. Anything not provably exact comes back as None — absent stats only
  * cost pruning opportunity, never correctness:
  *
  *  - INT96 timestamps carry no usable footer stats (undefined sort
  *    order; parquet deprecates them) → None. [[LakeFileWriter]] always
  *    writes TIMESTAMP_MICROS instead.
  *  - Non-ASCII string bounds → None: parquet orders binary stats by
  *    unsigned UTF-8 bytes, the pruner compares with java.lang.String —
  *    the two orderings agree only on ASCII, so keeping a non-ASCII bound
  *    could prune a file that matches.
  *  - NaN-polluted float/double chunks have no footer stats (parquet-mr
  *    omits them) → None.
  */
object FooterStats {

  /** Columns eligible for min/max stats (atomic comparable types). */
  def statFields(schema: StructType): Seq[StructField] =
    schema.fields.toSeq.filter(f => f.dataType match {
      case _: NumericType | StringType | DateType | TimestampType => true
      case _ => false
    })

  /** (rowCount, stats for `fields`) of a footer already in memory — the
    * one a writer just produced. */
  def fromFooter(footer: ParquetMetadata, fields: Seq[StructField]): (Long, Map[String, ColumnStats]) = {
    val blocks = footer.getBlocks.asScala.toSeq
    val rowCount = blocks.map(_.getRowCount).sum
    val chunksByName: Map[String, Seq[ColumnChunkMetaData]] =
      blocks.flatMap(_.getColumns.asScala)
        .groupBy(_.getPath.toDotString)
        .map { case (k, v) => k -> v.toSeq }
    val stats = fields.flatMap { f =>
      chunksByName.get(f.name).flatMap(aggregate(f, _)).map(f.name -> _)
    }.toMap
    (rowCount, stats)
  }

  /** Fold one column's chunk statistics across all row groups. */
  private def aggregate(
      f: StructField, chunks: Seq[ColumnChunkMetaData]): Option[ColumnStats] = {
    var nulls = 0L
    var nullsKnown = true
    var boundsKnown = true
    var minB: Option[Either[BigDecimal, String]] = None
    var maxB: Option[Either[BigDecimal, String]] = None

    chunks.foreach { c =>
      val st: Statistics[_] = c.getStatistics
      if (st == null) { nullsKnown = false; boundsKnown = false }
      else {
        if (st.isNumNullsSet && st.getNumNulls >= 0) nulls += st.getNumNulls
        else nullsKnown = false
        if (st.hasNonNullValue) {
          (convert(f.dataType, c, st.genericGetMin.asInstanceOf[AnyRef]),
           convert(f.dataType, c, st.genericGetMax.asInstanceOf[AnyRef])) match {
            case (Some(mn), Some(mx)) =>
              minB = Some(minB.fold(mn)(cur => if (cmp(mn, cur) < 0) mn else cur: Either[BigDecimal, String]))
              maxB = Some(maxB.fold(mx)(cur => if (cmp(mx, cur) > 0) mx else cur: Either[BigDecimal, String]))
            case _ => boundsKnown = false
          }
        } else if (!(st.isNumNullsSet && st.getNumNulls == c.getValueCount)) {
          // not an all-null chunk → the bounds are genuinely unknown
          boundsKnown = false
        }
      }
    }
    val mn = if (boundsKnown) minB.map(render) else None
    val mx = if (boundsKnown) maxB.map(render) else None
    val nc = if (nullsKnown) Some(nulls) else None
    if (mn.isEmpty && mx.isEmpty && nc.isEmpty) None
    else Some(ColumnStats(mn, mx, nc))
  }

  private def cmp(a: Either[BigDecimal, String], b: Either[BigDecimal, String]): Int =
    (a, b) match {
      case (Left(x), Left(y))   => x.compare(y)
      case (Right(x), Right(y)) => x.compareTo(y)
      case _ => 0 // mixed domains can't happen for one column
    }

  private def render(v: Either[BigDecimal, String]): String =
    v.fold(d => d.bigDecimal.toPlainString, identity)

  /** Map a raw footer min/max value into the typed stat domain. */
  private def convert(
      dt: DataType, chunk: ColumnChunkMetaData, raw: AnyRef): Option[Either[BigDecimal, String]] = {
    val prim = chunk.getPrimitiveType
    val logical = prim.getLogicalTypeAnnotation
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(Left(BigDecimal(raw.toString)))
      case FloatType | DoubleType =>
        scala.util.Try(BigDecimal(raw.toString)).toOption.map(Left(_))
      case d: DecimalType =>
        val unscaled: Option[java.math.BigInteger] = raw match {
          case i: java.lang.Integer => Some(java.math.BigInteger.valueOf(i.longValue()))
          case l: java.lang.Long    => Some(java.math.BigInteger.valueOf(l.longValue()))
          case b: org.apache.parquet.io.api.Binary =>
            Some(new java.math.BigInteger(b.getBytes))
          case _ => None
        }
        unscaled.map(u => Left(BigDecimal(new java.math.BigDecimal(u, d.scale))))
      case DateType =>
        // DATE is INT32 epoch days — exactly the stat domain
        Some(Left(BigDecimal(raw.toString)))
      case TimestampType =>
        logical match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            val v = raw.asInstanceOf[java.lang.Long].longValue()
            ts.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MICROS => Some(Left(BigDecimal(v)))
              case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(Left(BigDecimal(v) * 1000))
              case _ => None // NANOS: not written by this engine
            }
          case _ => None // INT96: no defined stats order
        }
      case StringType if prim.getPrimitiveTypeName == PrimitiveTypeName.BINARY =>
        raw match {
          case b: org.apache.parquet.io.api.Binary =>
            val s = b.toStringUsingUTF8
            if (s.forall(_ < 128)) Some(Right(s)) else None
          case _ => None
        }
      case _ => None
    }
  }
}
