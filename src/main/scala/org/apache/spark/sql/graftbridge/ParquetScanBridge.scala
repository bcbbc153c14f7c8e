package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Bridge to Spark's vectorized parquet DSv2 scan for an EXPLICIT file
  * list: builds a `ParquetScan` over a [[SnapshotFileIndex]] of exactly
  * the files a Graft snapshot (post-pruning) selected. Every lake read
  * goes through it: graft.lake.LakeScan's packed batches (the same
  * columnar reader, row-group pruning and ColumnarBatch hand-off to
  * WholeStageCodegen as a plain `spark.read.parquet`), its whole-file
  * readers that apply deletes, and the reads of the delete files
  * themselves.
  *
  * Internal-API surface (reason this lives in the bridge package): the
  * ParquetScan constructor, its reader factory and the FileIndex family.
  * File listing comes from [[SnapshotFileIndex]] — snapshot metadata
  * only, no filesystem calls at plan time.
  */
object ParquetScanBridge {

  /** A DataFrame over exactly `files` ((path, size) straight from the
    * snapshot) read with `dataSchema`: Spark's parquet file relation over
    * a [[SnapshotFileIndex]]. `spark.read.parquet(paths)` would build an
    * InMemoryFileIndex that stats every path on the driver and, above 32
    * paths, runs a "Listing leaf files" Spark job; this frame plans from
    * the sizes the snapshot already records. The parquet `_metadata`
    * column (file path, row index) works as on any file source. */
  def snapshotFrame(
      spark: SparkSession,
      files: Seq[(String, Long)],
      dataSchema: StructType): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new SnapshotFileIndex(spark, files),
      StructType(Nil), dataSchema, None, new ParquetFileFormat, Map.empty)(spark))

  /** Spark's own parquet `PartitionReaderFactory`: vectorized columnar
    * DECODE (where the schema supports it) behind both reader interfaces.
    * It feeds graft.lake.LakeScan's whole-file readers and the delete-file
    * reads. No filters are pushed — a whole-file read must surface EVERY
    * row in file order so row positions count. */
  def rowReaderFactory(
      spark: SparkSession,
      dataSchema: StructType,
      readSchema: StructType): PartitionReaderFactory =
    vectorizedBatch(spark, Seq.empty, dataSchema, readSchema, Array.empty)
      .createReaderFactory()

  /** One partition = one whole file, start offset 0 — absolute row
    * positions within the partition equal positions within the file,
    * which the position-delete skip cursor relies on. */
  def wholeFilePartition(path: String, size: Long): InputPartition =
    FilePartition(0, Array(
      org.apache.spark.sql.execution.datasources.PartitionedFile(
        InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPathString(path),
        0L, size,
        locations = Array.empty,
        modificationTime = 0L,
        // fileSize MUST be the real size: the vectorized reader locates
        // the parquet footer through it (0 = unreadable file)
        fileSize = size)))

  def vectorizedBatch(
      spark: SparkSession,
      files: Seq[(String, Long)], // (path, size) straight from the snapshot
      dataSchema: StructType,
      readSchema: StructType,
      filters: Array[Filter]): Batch = {
    val index = new SnapshotFileIndex(spark, files)
    val scan = ParquetScan(
      spark,
      spark.sessionState.newHadoopConf(),
      index,
      dataSchema,
      readSchema,
      StructType(Nil),          // no hive-style partition columns
      filters,                  // parquet row-group/page pruning
      CaseInsensitiveStringMap.empty(),
      None,                     // no aggregate pushdown
      Seq.empty, Seq.empty,
      Array.empty)
    scan.toBatch
  }

  /** Same vectorized batch, with the input partitions carrying partition
    * KEYS ([[HasPartitionKey]]) so Spark can plan a storage-partitioned
    * join over the scan (see graft.lake.Spj). Split planning reuses the
    * inner ParquetScan's own PartitionedFiles (identical split/size
    * logic), then re-bin-packs WITHIN each key group — Spark's
    * `groupPartitions` requires every partition to map to exactly one
    * key, and merges same-key partitions back when SPJ applies, so
    * per-group packing costs at most one partial partition per group.
    * Falls back to the inner partitions unchanged if any split fails to
    * map back to a key (never wrong, just not SPJ-able). */
  def vectorizedKeyedBatch(
      spark: SparkSession,
      groups: Seq[(InternalRow, Seq[(String, Long)])], // key -> (path, size)
      dataSchema: StructType,
      readSchema: StructType,
      filters: Array[Filter],
      perFilePartitions: Boolean = false): Batch = {
    val inner = vectorizedBatch(
      spark, groups.flatMap(_._2), dataSchema, readSchema, filters)
    new Batch {
      override def planInputPartitions(): Array[InputPartition] = {
        val innerParts = inner.planInputPartitions()
        val keyByPath: Map[String, InternalRow] = groups.iterator.flatMap {
          case (k, fs) => fs.iterator.map { case (p, _) =>
            new Path(p).toString -> k }
        }.toMap
        val splits = innerParts.flatMap {
          case fp: FilePartition => fp.files
          case _ => return innerParts // unexpected shape: serve unkeyed
        }
        val byKey = splits.groupBy(pf =>
          keyByPath.get(pf.toPath.toString) match {
            case Some(k) => k
            case None => return innerParts // unmappable path: serve unkeyed
          })
        val parts: Seq[KeyedFilePartition] =
          if (perFilePartitions)
            // sorted-scan mode: one partition per FILE, its splits in
            // offset order — a partition's rows then ARE in file order,
            // which the reported SortOrder promises
            byKey.toSeq.flatMap { case (key, pfs) =>
              pfs.groupBy(_.toPath.toString).toSeq.map { case (_, sp) =>
                KeyedFilePartition(
                  FilePartition(0, sp.sortBy(_.start)), key)
              }
            }
          else {
            val openCost = spark.sessionState.conf.filesOpenCostInBytes
            val maxSplit = FilePartition.maxSplitBytes(spark,
              splits.map(_.length + openCost).sum)
            byKey.toSeq.flatMap { case (key, pfs) =>
              FilePartition
                .getFilePartitions(spark, pfs.sortBy(-_.length).toSeq, maxSplit)
                .map(fp => KeyedFilePartition(fp, key))
            }
          }
        // re-index: per-group packing restarts indices at 0 in each group
        parts.zipWithIndex.map { case (p, i) =>
          p.copy(delegate = FilePartition(i, p.delegate.files))
            : InputPartition
        }.toArray
      }
      override def createReaderFactory(): PartitionReaderFactory =
        new KeyedReaderFactory(inner.createReaderFactory())
    }
  }

  /** Unkeyed per-file planning for sorted scans (same guarantee as the
    * keyed variant's perFilePartitions mode). */
  def vectorizedPerFileBatch(
      spark: SparkSession,
      files: Seq[(String, Long)],
      dataSchema: StructType,
      readSchema: StructType,
      filters: Array[Filter]): Batch = {
    val inner = vectorizedBatch(spark, files, dataSchema, readSchema, filters)
    new Batch {
      override def planInputPartitions(): Array[InputPartition] = {
        val innerParts = inner.planInputPartitions()
        val splits = innerParts.flatMap {
          case fp: FilePartition => fp.files
          case _ => return innerParts
        }
        splits.groupBy(_.toPath.toString).toSeq.zipWithIndex.map {
          case ((_, sp), i) =>
            FilePartition(i, sp.sortBy(_.start)): InputPartition
        }.toArray
      }
      override def createReaderFactory(): PartitionReaderFactory =
        inner.createReaderFactory()
    }
  }
}

/** A FilePartition plus its partition key. Delegation instead of
  * subclassing: FilePartition is a case class, and the reader factory
  * only needs the delegate back (see [[KeyedReaderFactory]]). */
final case class KeyedFilePartition(
    delegate: FilePartition,
    key: InternalRow) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] =
    delegate.preferredLocations()
}

/** Unwraps [[KeyedFilePartition]] before handing partitions to the inner
  * parquet reader factory (which pattern-matches on FilePartition). */
final class KeyedReaderFactory(inner: PartitionReaderFactory)
  extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): InputPartition = p match {
    case k: KeyedFilePartition => k.delegate
    case other => other
  }
  override def createReader(p: InputPartition) =
    inner.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition) =
    inner.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(unwrap(p))
}
