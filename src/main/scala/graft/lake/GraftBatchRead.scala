package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.SupportsReportStatistics
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native executor-side batch read path (DSv2 `Batch` +
  * `PartitionReaderFactory`), used by the row-level operation rewrites
  * (MERGE / UPDATE): Spark's ReplaceData planning calls `Scan.toBatch`
  * directly and does not route through the V1 fallback, so the COW scan
  * must produce InternalRows on executors itself.
  *
  * One InputPartition per data file of the snapshot's (pruned) file
  * list; readers run fully distributed. Each wraps Spark's own parquet
  * reader (ParquetScanBridge: vectorized where the schema allows, with
  * null-fill for columns missing from old files) and applies position,
  * equality and deletion-vector deletes inside the reader; only the
  * delete files themselves are read with parquet-mr `Group` readers. The
  * hot SELECT path is [[GraftVectorScan]]; the V1 bridge remains only for
  * `_file` and pending merge-on-read deletes there.
  */
/** One equality-delete file a reader must apply: tuples at `path` hold key
  * VALUES over `cols` (physical names); rows of data files with commit
  * sequence < `seq` die on key match. Resolved to concrete types by the
  * reader factory executor-side. */
final case class EqDeleteRef(path: String, seq: Long, cols: Seq[String])

/** @param deletedPositions sorted 0-based row indexes (merge-on-read
  *                         position deletes) the reader must skip — the
  *                         small-backlog fast path (driver-built index)
  * @param posDeleteFiles   position-delete files whose tuple range covers
  *                         this data file — the large-backlog path: the
  *                         reader loads its OWN positions from these with
  *                         an exact `file_path` parquet filter (row-group +
  *                         page pruning on the sorted column), so no tuple
  *                         ever materializes on the driver
  * @param eqDeletes        equality-delete files applying to this data file
  *                         (already filtered to fileSeq < delete.seq);
  *                         applied by per-row key probing against an
  *                         executor-cached tuple set — never converted to
  *                         positions on the driver, because one key may
  *                         match an unbounded number of rows */
final case class GraftInputPartition(
    filePath: String,
    deletedPositions: Array[Long] = Array.empty,
    posDeleteFiles: Seq[String] = Seq.empty,
    eqDeletes: Seq[EqDeleteRef] = Seq.empty,
    fileSize: Long = 0L,
    // deletion-vector payload slices covering this file: (blob path,
    // offset, length) — the reader ranged-reads exactly its own bitmap
    dvSlices: Seq[(String, Long, Int)] = Seq.empty) extends InputPartition

final class GraftBatchScan(
    snapshot: Snapshot,
    store: SnapshotStore,
    required: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter],
    onRuntimePrune: Seq[DataFile] => Unit = _ => ())
  extends Scan with Batch with SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  // chunk-level (manifest-list) pruning first, then per-file
  private[lake] lazy val prunedFiles: Seq[DataFile] = {
    val phys = filters.toIndexedSeq.map(
      SchemaNames.renameFilter(_, SchemaNames.renameMap(snapshot.schema)))
    StatsPruner.prune(store.filesForScan(snapshot, phys), phys,
      snapshot.partitionSpec)
  }

  /** File set after runtime (dynamic) filtering — starts at the statically
    * pruned set; `filter()` narrows it before planInputPartitions. */
  @volatile private var runtimeFiles: Seq[DataFile] = null
  private def currentFiles: Seq[DataFile] =
    if (runtimeFiles ne null) runtimeFiles else prunedFiles

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Runtime group filtering at FILE granularity: `filterAttributes` is
    * the `_file` metadata column, so Spark's
    * RowLevelOperationRuntimeGroupFiltering rule builds an IN-subquery
    * collecting the distinct `_file` values of rows that actually match
    * the MERGE/UPDATE/DELETE condition, and at runtime hands this scan
    * exactly the set of files containing matches — the COW rewrite then
    * reads and replaces only those, regardless of how weak the static
    * predicates were. This is the 100 TB MERGE optimization (same design
    * as Iceberg's copy-on-write scan).
    *
    * Returning a SINGLE attribute matters: multiple filter attributes make
    * Spark build one `named_struct(...) IN subquery` filter, which cannot
    * be translated to a connector Predicate and is silently dropped —
    * that, not a planner limitation, is why runtime group filtering
    * appeared "never injected" with an all-columns filterAttributes. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"))

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    val v1 = org.apache.spark.sql.graftbridge.ColumnBridge.predicatesToV1(predicates)
    val (fileIn, rest) = v1.partition {
      case org.apache.spark.sql.sources.In("_file", _) => true
      case _ => false
    }
    // `_file` values may arrive in URI form ("file:///x/y", from
    // input_file_name on the V1 bridge) or raw ("/x/y", from the COW
    // reader) — normalize BOTH sides before matching. Narrowing to the
    // wrong set here loses writes, so if any wanted path fails to resolve
    // to a known snapshot file (a form this normalization doesn't cover),
    // refuse to narrow on that filter and keep the conservative set.
    def canon(p: String): String =
      if (p.startsWith("file:"))
        scala.util.Try(new java.net.URI(p).getPath).toOption.filter(_ != null)
          .getOrElse(p.stripPrefix("file://").stripPrefix("file:"))
      else p
    lazy val knownPaths: Set[String] =
      snapshot.files.map(f => store.tableDir.resolve(f.path).toString).toSet
    val afterFile = fileIn.foldLeft(currentFiles) { (fs, flt) =>
      val wanted = flt.asInstanceOf[org.apache.spark.sql.sources.In]
        .values.map(v => canon(String.valueOf(v))).toSet
      if (wanted.exists(w => !knownPaths.contains(w))) fs // unknown form → keep all
      else fs.filter(f => wanted.contains(store.tableDir.resolve(f.path).toString))
    }
    val narrowed = StatsPruner.prune(afterFile, rest.toIndexedSeq,
      snapshot.partitionSpec, SchemaNames.renameMap(snapshot.schema))
    runtimeFiles = narrowed
    onRuntimePrune(narrowed)
  }

  /** Partitions planned for one file set: Spark asks more than once per
    * statement (each BatchScanExec copy, before and after runtime
    * filtering), and planning runs a Spark job when position deletes are
    * pending. */
  @volatile private var planned: (Seq[DataFile], Array[InputPartition]) = null

  override def planInputPartitions(): Array[InputPartition] = {
    val files = currentFiles
    val memo = planned
    if (memo != null && memo._1 == files) memo._2
    else {
      val parts = plan(files)
      planned = (files, parts)
      parts
    }
  }

  private def plan(files: Seq[DataFile]): Array[InputPartition] = {
    // merge-on-read: each reader must skip its file's deleted rows so COW
    // rewrites never resurrect them. Position deletes ride in the
    // partitions as concrete index arrays while the backlog is small
    // (driver cost capped by graft.cow.driver-tuple-cap); above the cap
    // the readers load their own positions executor-side, pruned by each
    // delete file's footer name-range. Equality deletes ALWAYS apply
    // executor-side (per-row key probe): their tuple files are small, but
    // the rows they match are unbounded, so a driver-side conversion to
    // positions cannot be capped.
    val spark = org.apache.spark.sql.SparkSession.active
    val pos = snapshot.deleteFiles.filter(_.positional)
    val eq = snapshot.deleteFiles.filter(_.kind == "equality")
    val eqRefs = eq.map(e => EqDeleteRef(
      store.tableDir.resolve(e.path).toString, e.seq, e.equalityColumns))
    def eqFor(f: DataFile): Seq[EqDeleteRef] = eqRefs.filter(f.seq < _.seq)

    val posTuples = pos.map(_.rowCount).sum
    if (posTuples <= PositionDeletes.driverTupleCap(spark)) {
      val posByName: Map[String, Array[Long]] =
        PositionDeletes.positionsByFileName(spark, store, pos, files)
      files.map { f =>
        GraftInputPartition(
          store.tableDir.resolve(f.path).toString,
          posByName.getOrElse(PositionDeletes.fileName(f.path), Array.empty),
          Seq.empty, eqFor(f), f.sizeBytes): InputPartition
      }.toArray
    } else {
      // O(#delete files) footer/index reads on the driver, zero tuples:
      // raw tuple files contribute a name-range (footer stats); vector
      // blobs contribute exact per-file payload slices (their index IS
      // the mapping)
      val (dvs, tupleFiles) = pos.partition(_.kind == DeletionVectors.Kind)
      val ranged = tupleFiles.map(d =>
        (PositionDeletes.nameRange(store, d),
          store.tableDir.resolve(d.path).toString))
      val dvSliceByName: Map[String, Seq[(String, Long, Int)]] = dvs
        .flatMap { d =>
          val blob = store.tableDir.resolve(d.path).toString
          DeletionVectors.readIndex(store, d)
            .map(e => e.name -> ((blob, e.offset, e.length)))
        }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      files.map { f =>
        val name = PositionDeletes.fileName(f.path)
        val covering = ranged.collect {
          case ((lo, hi), p) if lo <= name && name <= hi => p
        }
        GraftInputPartition(store.tableDir.resolve(f.path).toString,
          Array.empty, covering, eqFor(f), f.sizeBytes,
          dvSliceByName.getOrElse(name, Seq.empty)): InputPartition
      }.toArray
    }
  }

  /** Built driver-side: the inner factory is Spark's own parquet reader
    * (vectorized decode, row interface) over the PHYSICAL read schema —
    * the required columns (minus the synthesized `_file`) renamed to
    * their physical file names, plus any equality-delete key columns the
    * projection didn't already include (the per-row probe needs them even
    * when the query doesn't). */
  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    val byPhys: Map[String, StructField] =
      snapshot.schema.fields.map(f => SchemaNames.physicalName(f) -> f).toMap
    val dataCols = required.fields.filter(_.name != "_file")
    // source each projected field from the TABLE schema: it carries the
    // rename + default metadata the parquet reader needs (null-fill /
    // EXISTS_DEFAULT for columns absent from old files)
    val byName = snapshot.schema.fields.map(f => f.name -> f).toMap
    val physRequired = dataCols.map { rf =>
      val tf = byName.getOrElse(rf.name, rf)
      tf.copy(name = SchemaNames.physicalName(tf))
    }
    val present = physRequired.map(_.name).toSet
    val eqCols = snapshot.deleteFiles.filter(_.kind == "equality")
      .flatMap(_.equalityColumns).distinct.filterNot(present)
    // appended key columns are sourced from the TABLE field like projected
    // ones, metadata included — a column added with DEFAULT reads its
    // EXISTS_DEFAULT from old files on BOTH paths, so whether the probe
    // sees the default value cannot depend on what the query projected
    val extraEq = eqCols.map { c =>
      val tf = byPhys.getOrElse(c, throw new IllegalStateException(
        s"equality-delete column '$c' no longer exists in the table " +
          "schema; run rewrite_deletes before dropping delete-key columns"))
      tf.copy(name = c)
    }
    val physRead = StructType(physRequired ++ extraEq)
    val physTable = StructType(snapshot.schema.fields.map(f =>
      f.copy(name = SchemaNames.physicalName(f))))
    val inner = org.apache.spark.sql.graftbridge.ParquetScanBridge
      .rowReaderFactory(spark, physTable, physRead)
    new GraftReaderFactory(inner, physRead.json, required.json,
      snapshot.schema.json, allowColumnar = snapshot.deleteFiles.isEmpty)
  }

  override def estimateStatistics() = new org.apache.spark.sql.connector.read.Statistics {
    override def sizeInBytes() =
      java.util.OptionalLong.of(math.max(prunedFiles.map(_.sizeBytes).sum, 1L))
    override def numRows() =
      java.util.OptionalLong.of(prunedFiles.map(_.rowCount).sum)
  }

  override def description(): String =
    s"GraftBatchScan[v${snapshot.version}, files=${prunedFiles.size}/${snapshot.fileCount}]"
}

/** One resolved equality-delete probe: tuple file + key columns (physical
  * names, as stored in both the tuple file and the data files) + the
  * CURRENT Spark types to convert both sides into (so files written before
  * a type widening still compare in one domain). */
final case class EqProbeSpec(path: String, cols: Seq[String], types: Seq[DataType])

final class GraftReaderFactory(
    inner: PartitionReaderFactory,
    physReadJson: String, requiredJson: String, tableSchemaJson: String,
    allowColumnar: Boolean = false)
  extends PartitionReaderFactory {
  // parsed once per (deserialized) factory instance, not once per file —
  // a rewrite over thousands of files calls createReader per partition
  @transient private lazy val required: StructType =
    DataType.fromJson(requiredJson).asInstanceOf[StructType]
  @transient private lazy val physRead: StructType =
    DataType.fromJson(physReadJson).asInstanceOf[StructType]
  @transient private lazy val tableSchema: StructType =
    DataType.fromJson(tableSchemaJson).asInstanceOf[StructType]
  // files store PHYSICAL column names; the projection uses logical ones
  @transient private lazy val rename: Map[String, String] =
    SchemaNames.renameMap(tableSchema)
  @transient private lazy val physTypes: Map[String, DataType] =
    tableSchema.fields.map(f => SchemaNames.physicalName(f) -> f.dataType).toMap
  // output ordinal -> inner-row ordinal; -1 = the synthesized `_file`
  @transient private lazy val outMap: Array[Int] = required.fields.map { f =>
    if (f.name == "_file") -1
    else physRead.fieldIndex(rename.getOrElse(f.name, f.name))
  }

  /** True when the inner batch IS the required output positionally: every
    * data column maps to its own ordinal and `_file` (if requested) is the
    * trailing field — then a batch needs no per-row projection, only a
    * constant `_file` vector appended. False as soon as the scan appended
    * equality-delete key columns or a rename reordered anything. */
  @transient private lazy val columnarAligned: Boolean = {
    val n = required.length
    val dataCols = outMap.zipWithIndex.forall { case (m, i) =>
      m == i || (m == -1 && i == n - 1)
    }
    dataCols && physRead.length == (if (outMap.contains(-1)) n - 1 else n)
  }

  /** Legacy partitions may not carry the size; stat LOUDLY as a fallback
    * — `java.io.File.length()` answers 0 for a missing or scheme-prefixed
    * path, and a zero-length split silently reads no row groups, which on
    * the COW rewrite path would drop every row of a live file in the
    * replacing commit. Hadoop's stat throws on a missing file instead. */
  private def fileSizeOf(p: GraftInputPartition): Long =
    if (p.fileSize > 0) p.fileSize
    else {
      val hp = new HPath(p.filePath)
      val len = hp.getFileSystem(LakeIOConf.conf).getFileStatus(hp).getLen
      require(len > 0, s"data file ${p.filePath} is empty (0 bytes)")
      len
    }

  private def wholePart(p: GraftInputPartition): InputPartition =
    org.apache.spark.sql.graftbridge.ParquetScanBridge
      .wholeFilePartition(p.filePath, fileSizeOf(p))

  /** Columnar fast path — the common COW case (SNAPSHOT with no pending
    * deletes, no renames): batches flow straight from Spark's vectorized
    * parquet reader to Spark's codegen'd ColumnarToRow, zero per-row work
    * in this layer. BatchScanExec requires a UNIFORM answer across
    * partitions, so the scan decides at snapshot level (`allowColumnar` =
    * table has zero delete files): one delete-bearing file puts the whole
    * scan on the row path — exactly when per-row work is needed anyway. */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    partition match {
      case p: GraftInputPartition =>
        allowColumnar && columnarAligned &&
          p.deletedPositions.isEmpty && p.posDeleteFiles.isEmpty &&
          p.eqDeletes.isEmpty && p.dvSlices.isEmpty &&
          inner.supportColumnarReads(wholePart(p))
      case _ => false
    }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    val innerReader = inner.createColumnarReader(wholePart(p))
    if (!outMap.contains(-1)) innerReader
    else new FileColumnAppendingReader(innerReader, p.filePath)
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    val eqSpecs = p.eqDeletes.map { r =>
      val types = r.cols.map(c => physTypes.getOrElse(c,
        throw new IllegalStateException(
          s"equality-delete column '$c' no longer exists in the table " +
            "schema; run rewrite_deletes before dropping delete-key columns")))
      EqProbeSpec(r.path, r.cols, types)
    }
    val filePart = org.apache.spark.sql.graftbridge.ParquetScanBridge
      .wholeFilePartition(p.filePath, fileSizeOf(p))
    // VECTORIZED decode whenever the schema supports it: the columnar
    // reader is the fast parquet path (the row-mode factory is plain
    // parquet-mr); batches are flattened back to rows here because the
    // delete-apply below is inherently per-row
    val innerReader =
      if (inner.supportColumnarReads(filePart))
        new ColumnarAsRowReader(inner.createColumnarReader(filePart))
      else inner.createReader(filePart)
    new GraftPartitionReader(innerReader, p.filePath, physRead, required,
      outMap, p.deletedPositions, p.posDeleteFiles, eqSpecs, p.dvSlices)
  }
}

/** Appends the constant `_file` column to every batch (vectorized
  * equivalent of the row path's Literal splice). */
private[lake] final class FileColumnAppendingReader(
    inner: PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch],
    filePath: String)
  extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
  private val fileVec = {
    val v = new org.apache.spark.sql.execution.vectorized.ConstantColumnVector(
      1, StringType)
    v.setUtf8String(UTF8String.fromString(filePath))
    v
  }
  override def next(): Boolean = inner.next()
  override def get(): ColumnarBatch = {
    val b = inner.get()
    val cols = Array.tabulate[ColumnVector](b.numCols() + 1)(i =>
      if (i < b.numCols()) b.column(i) else fileVec)
    new ColumnarBatch(cols, b.numRows())
  }
  override def close(): Unit = inner.close()
}

/** Adapts a columnar (vectorized) parquet reader to the row interface:
  * iterates each ColumnarBatch's rows in file order. The returned rows
  * are views over reused vector memory — [[GraftPartitionReader]] is the
  * only consumer and projects them through an UnsafeProjection before
  * they escape. */
private[lake] final class ColumnarAsRowReader(
    inner: PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch])
  extends PartitionReader[InternalRow] {
  private var it: java.util.Iterator[InternalRow] =
    java.util.Collections.emptyIterator()
  private var cur: InternalRow = _
  override def next(): Boolean = {
    while (!it.hasNext) {
      if (!inner.next()) return false
      it = inner.get().rowIterator()
    }
    cur = it.next()
    true
  }
  override def get(): InternalRow = cur
  override def close(): Unit = inner.close()
}

/** Serves one data file as InternalRows of `required`, applying
  * merge-on-read deletes row by row. The parquet DECODE is delegated to
  * Spark's own reader (`inner` — vectorized where the schema supports it,
  * with widening, rebase, null-fill and DEFAULT handling built in); this
  * wrapper contributes exactly the lake semantics Spark's reader cannot
  * know: the position-delete skip cursor (absolute row index within the
  * file), the equality-delete key probe, the physical→logical column
  * mapping, and the synthesized `_file` provenance column. */
final class GraftPartitionReader(
    inner: PartitionReader[InternalRow],
    filePath: String,
    physRead: StructType,
    required: StructType,
    outMap: Array[Int],
    deletedPositions: Array[Long] = Array.empty,
    posDeleteFiles: Seq[String] = Seq.empty,
    eqSpecs: Seq[EqProbeSpec] = Seq.empty,
    dvSlices: Seq[(String, Long, Int)] = Seq.empty)
  extends PartitionReader[InternalRow] {

  private var current: InternalRow = _

  /** `_file` metadata column: provenance of every row, served from the
    * reader itself — also the join key of runtime group filtering. */
  private val fileName = UTF8String.fromString(filePath)

  /** Output projection: maps inner-row ordinals to `required` order and
    * splices the `_file` constant. An UnsafeProjection (codegen) gives
    * downstream operators a row whose `copy()` is a DEEP copy — essential
    * because the inner row may be a ColumnarBatchRow view over reused
    * vector memory. */
  private val project: org.apache.spark.sql.catalyst.expressions.UnsafeProjection = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    val exprs = required.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
      if (outMap(i) < 0) Literal(fileName, StringType)
      else BoundReference(outMap(i), f.dataType, nullable = true)
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(exprs)
  }

  /** Large-backlog path: load THIS file's deleted positions from the
    * covering delete files, executor-side. The exact-path predicate rides
    * into parquet-mr's row-group/page pruning — tuple files are sorted by
    * the canonical `data/<name>` path, so only the few pages naming this
    * file are read, and the driver never holds a tuple. */
  private def loadOwnPositions(): Array[Long] = {
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.io.api.Binary
    val mine = "data/" + PositionDeletes.fileName(filePath)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    posDeleteFiles.foreach { p =>
      val r = ParquetReader.builder(new GroupReadSupport(), new HPath(p))
        .withConf(LakeIOConf.conf)
        .withFilter(FilterCompat.get(FilterApi.eq(
          FilterApi.binaryColumn(PositionDeletes.FilePathCol),
          Binary.fromString(mine))))
        .build()
      try {
        var g = r.read()
        while (g != null) {
          buf += g.getLong(PositionDeletes.PosCol, 0)
          g = r.read()
        }
      } finally r.close()
    }
    val arr = buf.distinct.toArray
    java.util.Arrays.sort(arr)
    arr
  }

  // merge-on-read skip cursor: rows arrive in file order, so one pointer
  // into the SORTED deleted-position array replaces any per-row lookup.
  // Sources merge: driver-provided array (small backlog) ∪ executor-side
  // tuple-file loads (large backlog) ∪ deletion-vector slices (exact
  // ranged reads of this file's bitmap).
  private val deleted: Array[Long] = {
    val fromFiles: Array[Long] =
      if (posDeleteFiles.isEmpty) Array.empty else loadOwnPositions()
    val fromDv: Array[Long] = dvSlices.iterator.flatMap {
      case (blob, off, len) => DeletionVectors.readPositions(blob, off, len)
    }.toArray
    if (fromFiles.isEmpty && fromDv.isEmpty) deletedPositions
    else {
      val all = (deletedPositions ++ fromFiles ++ fromDv).distinct
      java.util.Arrays.sort(all)
      all
    }
  }
  private var rowIdx: Long = -1L
  private var delIdx: Int = 0

  /** Equality-delete probes against the inner row: key ordinals in the
    * `physRead` schema (present by construction — the scan appends any
    * missing key columns) + target types + the executor-cached tuple set.
    * A file predating a key column reads NULL there, which never equals
    * anything in SQL, so its rows never match — same semantics the old
    * per-file-schema resolution had. */
  private lazy val eqProbes: Array[(Array[Int], Array[DataType], java.util.HashSet[Seq[Any]])] =
    eqSpecs.iterator.map { s =>
      (s.cols.map(physRead.fieldIndex).toArray, s.types.toArray,
        EqDeleteTupleCache.get(s.path, s.cols, s.types))
    }.toArray

  /** True iff the current row's key matches a live equality-delete tuple
    * (NULL key components never match, per SQL equality). The probed
    * values come from `InternalRow.get`, which lands in the same internal
    * value domain `GroupReadValues.convert` builds the cached tuples in. */
  private def eqMatched(): Boolean = {
    var gi = 0
    while (gi < eqProbes.length) {
      val (idxs, types, set) = eqProbes(gi)
      val key = new Array[Any](idxs.length)
      var i = 0
      var ok = true
      while (ok && i < idxs.length) {
        if (current.isNullAt(idxs(i))) ok = false
        else key(i) = GroupReadValues.normKey(current.get(idxs(i), types(i)))
        i += 1
      }
      if (ok && set.contains(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(key)))
        return true
      gi += 1
    }
    false
  }

  override def next(): Boolean = {
    while (inner.next()) {
      current = inner.get()
      rowIdx += 1
      while (delIdx < deleted.length && deleted(delIdx) < rowIdx) delIdx += 1
      val posDeleted = delIdx < deleted.length && deleted(delIdx) == rowIdx
      if (!posDeleted && (eqSpecs.isEmpty || !eqMatched())) return true
      // else: row is deleted — skip it
    }
    false
  }

  override def get(): InternalRow = project(current)

  override def close(): Unit = inner.close()
}

/** Parquet-mr `Group` → Spark internal value conversion, shared by the COW
  * data reader and the equality-delete tuple loader (both must land in the
  * same value domain for key probing to be exact). */
private[lake] object GroupReadValues {

  /** Normalize a converted value for use inside a hash key: byte arrays
    * use reference equality, so wrap them; -0.0 folds to 0.0 so the probe
    * matches Spark's join semantics (NormalizeFloatingNumbers treats them
    * equal, boxed equality does not — a -0.0-keyed row must still die to
    * a 0.0 delete tuple exactly like on the anti-join read path); NaN is
    * already self-equal for boxed Double/Float. Everything else the
    * internal representations (UTF8String, boxed primitives, Decimal)
    * define value equality for. */
  def normKey(v: Any): Any = v match {
    case b: Array[Byte] => scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
    case d: java.lang.Double if d.doubleValue() == 0.0 => java.lang.Double.valueOf(0.0)
    case f: java.lang.Float if f.floatValue() == 0.0f => java.lang.Float.valueOf(0.0f)
    case other => other
  }

  /** Value of field `idx`, repetition `rep`, inside group `g`, as the Spark
    * internal representation of `dt`. Recurses through LIST/MAP/group
    * nesting; index-addressed, so the standard `list`/`element` and
    * `key_value` wrapper names are irrelevant. */
  def convert(g: Group, idx: Int, rep: Int, dt: DataType): Any = {
    val ptype = g.getType.getType(idx)
    dt match {
      case IntegerType | ShortType | ByteType => g.getInteger(idx, rep)
      case LongType =>
        // files written before an int->bigint widening hold INT32
        ptype.asPrimitiveType().getPrimitiveTypeName match {
          case PrimitiveType.PrimitiveTypeName.INT32 =>
            g.getInteger(idx, rep).toLong
          case _ => g.getLong(idx, rep)
        }
      case DoubleType =>
        // files written before a float->double widening hold FLOAT
        ptype.asPrimitiveType().getPrimitiveTypeName match {
          case PrimitiveType.PrimitiveTypeName.FLOAT =>
            g.getFloat(idx, rep).toDouble
          case _ => g.getDouble(idx, rep)
        }
      case FloatType => g.getFloat(idx, rep)
      case BooleanType => g.getBoolean(idx, rep)
      case StringType =>
        UTF8String.fromBytes(g.getBinary(idx, rep).getBytes)
      case BinaryType => g.getBinary(idx, rep).getBytes
      case DateType => g.getInteger(idx, rep)
      case TimestampType | TimestampNTZType =>
        ptype.asPrimitiveType().getPrimitiveTypeName match {
          case PrimitiveType.PrimitiveTypeName.INT96 =>
            int96ToMicros(g.getInt96(idx, rep).getBytes)
          case _ =>
            val v = g.getLong(idx, rep)
            ptype.getLogicalTypeAnnotation match {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                  if t.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS => v * 1000L
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                  if t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS => v / 1000L
              case _ => v // micros
            }
        }
      case d: DecimalType =>
        ptype.asPrimitiveType().getPrimitiveTypeName match {
          case PrimitiveType.PrimitiveTypeName.INT32 =>
            Decimal(g.getInteger(idx, rep).toLong, d.precision, d.scale)
          case PrimitiveType.PrimitiveTypeName.INT64 =>
            Decimal(g.getLong(idx, rep), d.precision, d.scale)
          case _ =>
            val bytes = g.getBinary(idx, rep).getBytes
            Decimal(BigDecimal(BigInt(bytes), d.scale), d.precision, d.scale)
        }
      case ArrayType(et, _) =>
        // 3-level LIST: this group holds one repeated wrapper (field 0),
        // each wrapper holds one optional element (field 0).
        val listG = g.getGroup(idx, rep)
        val n = listG.getFieldRepetitionCount(0)
        val out = new Array[Any](n)
        var k = 0
        while (k < n) {
          val entry = listG.getGroup(0, k)
          out(k) =
            if (entry.getFieldRepetitionCount(0) == 0) null
            else convert(entry, 0, 0, et)
          k += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
      case st: StructType =>
        val sg = g.getGroup(idx, rep)
        val gt = sg.getType
        val out = new GenericInternalRow(st.length)
        var k = 0
        while (k < st.length) {
          val fn = st.fields(k).name
          if (!gt.containsField(fn)) out.update(k, null)
          else {
            val fi = gt.getFieldIndex(fn)
            if (sg.getFieldRepetitionCount(fi) == 0) out.update(k, null)
            else out.update(k, convert(sg, fi, 0, st.fields(k).dataType))
          }
          k += 1
        }
        out
      case MapType(kt, vt, _) =>
        // MAP: repeated key_value wrapper (field 0) with required key
        // (field 0) and optional value (field 1).
        val mapG = g.getGroup(idx, rep)
        val n = mapG.getFieldRepetitionCount(0)
        val keys = new Array[Any](n)
        val vals = new Array[Any](n)
        var k = 0
        while (k < n) {
          val kv = mapG.getGroup(0, k)
          keys(k) = convert(kv, 0, 0, kt)
          vals(k) =
            if (kv.getFieldRepetitionCount(1) == 0) null
            else convert(kv, 1, 0, vt)
          k += 1
        }
        new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(keys),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(vals))
      case other =>
        throw new UnsupportedOperationException(
          s"row-level operations on column type $other are not supported yet")
    }
  }

  /** INT96 legacy timestamp: 8 bytes nanos-of-day (LE) + 4 bytes julian
    * day (LE) → micros since epoch. */
  private def int96ToMicros(b: Array[Byte]): Long = {
    val buf = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nanosOfDay = buf.getLong
    val julianDay = buf.getInt
    val epochDay = julianDay - 2440588L
    epochDay * 86400L * 1000000L + nanosOfDay / 1000L
  }
}

/** Executor-local cache of equality-delete tuple sets. Delete files are
  * immutable and UUID-named, so an entry never goes stale; the cap only
  * bounds memory in long-lived executors. One load per executor instead of
  * one per task — O(executors × tuple bytes) IO, not O(tasks × …).
  * Access-ordered LRU (like BloomProbe): more live tuple files than the
  * cap must evict the coldest entries, not clear the world while
  * concurrent tasks are mid-probe. */
private[lake] object EqDeleteTupleCache {
  private val MaxEntries = 64
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, java.util.HashSet[Seq[Any]]](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.util.HashSet[Seq[Any]]])
          : Boolean = size() > MaxEntries
    })

  def get(path: String, cols: Seq[String],
      types: Seq[DataType]): java.util.HashSet[Seq[Any]] = {
    // key includes the types: the same tuple file probed after a type
    // widening must convert into the NEW domain, not hit the old entry
    val key = path + "|" + types.map(_.catalogString).mkString(",")
    val hit = cache.get(key)
    if (hit != null) return hit
    // racing loaders are idempotent — last put wins, both correct
    val loaded = load(path, cols, types)
    cache.put(key, loaded)
    loaded
  }

  private def load(path: String, cols: Seq[String],
      types: Seq[DataType]): java.util.HashSet[Seq[Any]] = {
    val set = new java.util.HashSet[Seq[Any]]()
    val reader = ParquetReader.builder(new GroupReadSupport(), new HPath(path))
      .withConf(LakeIOConf.conf)
      .build()
    try {
      var idxs: Array[Int] = null
      var g = reader.read()
      while (g != null) {
        if (idxs == null) {
          val schema = g.getType.asInstanceOf[MessageType]
          idxs = cols.map(schema.getFieldIndex).toArray
        }
        val key = new Array[Any](idxs.length)
        var i = 0
        var ok = true
        while (ok && i < idxs.length) {
          // a NULL key component can never equal anything (SQL) — the
          // tuple is dead weight, skip it
          if (g.getFieldRepetitionCount(idxs(i)) == 0) ok = false
          else key(i) = GroupReadValues.normKey(
            GroupReadValues.convert(g, idxs(i), 0, types(i)))
          i += 1
        }
        if (ok) set.add(scala.collection.immutable.ArraySeq.unsafeWrapArray(key))
        g = reader.read()
      }
    } finally reader.close()
    set
  }
}
