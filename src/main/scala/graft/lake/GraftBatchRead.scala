package graft.lake

import java.util.OptionalLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, JoinedRow, Literal, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.graftbridge.{ColumnBridge, ParquetScanBridge}
import org.apache.spark.sql.sources.{Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** The read path of a lake table: one DSv2 scan ([[LakeScan]]) serves
  * every SELECT, every row-level rewrite (MERGE / UPDATE / DELETE) and
  * every engine read of live rows ([[GraftTable.liveRows]]).
  *
  * Planning prunes chunk → file → identity-exact, then asks which deletes
  * apply to each planned file ([[PositionDeletes.refsFor]]): its deletion
  * vector, a lookup in the snapshot that reads no delete bytes, and the
  * equality files whose keys its stats may hold. When none applies to any
  * planned file, the scan is Spark's packed vectorized parquet batch
  * ([[ParquetScanBridge]]). Otherwise each file is one partition, read by
  * Spark's parquet reader behind [[GraftPartitionReader]], which applies
  * deletion-vector and equality deletes row by row. Readers load their own
  * vector slice and keys; equality delete files are read through the same
  * Spark reader with the key columns' current types, so planning starts
  * no Spark job and keys meet rows in one value domain.
  * This is the shape of Iceberg's `SparkBatchQueryScan` + `DeleteFilter`.
  */

/** One delete file as a reader applies it to one data file. */
sealed trait DeleteRef extends Serializable

/** The data file's deletion vector: its slice of a blob. */
final case class DvSlice(blob: String, offset: Long, length: Int) extends DeleteRef

/** An equality delete file over `cols` (physical names) committed after
  * the data file; rows whose key equals a tuple die. */
final case class EqRef(path: String, size: Long, cols: Seq[String]) extends DeleteRef

/** One whole data file (absolute path) and the deletes it must apply. */
final case class GraftInputPartition(
    filePath: String,
    fileSize: Long,
    deletes: Seq[DeleteRef] = Seq.empty) extends InputPartition

/** The scan of one snapshot's files.
  *
  * @param fileFilter true for row-level rewrites: the runtime-filter
  *                   attribute is `_file`, so Spark's runtime group
  *                   filtering hands `filter()` the files holding matches;
  *                   otherwise the file-prunable columns are reported for
  *                   dynamic file pruning
  * @param onRuntimePrune told the file set left after each runtime filter
  *                   (a rewrite replaces exactly the files it read) */
final class LakeScan(
    private val snapshot: Snapshot,
    private val store: SnapshotStore,
    private val required: StructType,
    private val filters: Array[Filter],
    private val fileFilter: Boolean = false,
    streamLimits: StreamReadLimits = StreamReadLimits(),
    onRuntimePrune: Seq[DataFile] => Unit = _ => ())
  extends Scan with Batch with SupportsReportStatistics
  with SupportsReportPartitioning with SupportsReportOrdering
  with SupportsRuntimeV2Filtering {

  // Physically-renamed filters and the vetted exact subset, computed ONCE
  // per scan — pruning and the reader pushdown must agree with the
  // builder's pushed-claim split (same deterministic inputs) or rows leak
  // past a dropped Filter node.
  private lazy val rename: Map[String, String] =
    SchemaNames.renameMap(snapshot.schema)
  private lazy val physFilters: IndexedSeq[Filter] =
    filters.toIndexedSeq.map(SchemaNames.renameFilter(_, rename))
  private lazy val exactPhysIdx: Set[Int] =
    IdentityFilters.exactIndices(physFilters, snapshot)
  private lazy val residualPhys: Array[Filter] =
    physFilters.zipWithIndex
      .filterNot(p => exactPhysIdx.contains(p._2)).map(_._1).toArray

  // chunk-level (manifest-list) pruning first — only the chunks whose
  // merged bounds overlap the filters are ever loaded — then per-file,
  // then EXACT selection for the identity-partition filters the builder
  // claimed as pushed (no residual Filter re-applies those — correctness
  // depends on this step, not just performance)
  private[lake] lazy val prunedFiles: Seq[DataFile] = {
    val exact = exactPhysIdx.toSeq.map(physFilters)
    StatsPruner.prune(store.filesForScan(snapshot, physFilters), physFilters,
      snapshot.partitionSpec)
      .filter(df => IdentityFilters.matchesAll(df, exact, snapshot))
  }

  /** File set after runtime (dynamic) filtering; null until `filter()`. */
  @volatile private var runtimeFiles: Seq[DataFile] = null
  private def currentFiles: Seq[DataFile] =
    if (runtimeFiles ne null) runtimeFiles else prunedFiles
  /** Test seam: (kept, total) after the last runtime filter. */
  @volatile private[graft] var runtimePruned: Option[(Int, Int)] = None

  /** The deletes each planned file must apply, by data-file path (files
    * no delete touches are absent). The only reads are equality key sets,
    * on the driver. */
  private lazy val deletesOf: Map[String, Seq[DeleteRef]] =
    if (snapshot.deleteFiles.isEmpty) Map.empty
    else {
      val refs = PositionDeletes.refsFor(store, snapshot)
      prunedFiles.iterator.map(f => f.path -> refs(f))
        .filter(_._2.nonEmpty).toMap
    }

  /** Whole-file partitions, chosen once per scan over the planned files:
    * a delete applies to one of them, or the rows must carry `_file` /
    * `_pos`. Spark needs one answer for every partition of a scan (it
    * refuses to mix row and columnar partitions) and fixes the reader
    * factory before runtime filtering, so a narrowed file set keeps it. */
  private lazy val wholeFiles: Boolean =
    deletesOf.nonEmpty || required.fieldNames.exists(GraftTable.Synthetic)

  /** Dynamic file pruning: Spark's PartitionPruning rule sees these
    * attributes, and when one is a join key against a filtered (broadcast)
    * build side it hands the build side's key values to `filter()` before
    * planning input partitions. Reported columns are the ones file pruning
    * can act on: partition sources, declared sort/z-order columns and
    * bloom-filtered columns. A rewrite reports `_file` alone: several
    * attributes would make Spark build one `named_struct(...) IN subquery`
    * filter, which cannot be translated to a connector Predicate and is
    * silently dropped. */
  override def filterAttributes(): Array[NamedReference] =
    if (fileFilter) Array(Expressions.column(GraftTable.FileCol))
    else {
      val props = snapshot.properties
      val sortCols = props.get("graft.sort-order").map(_.trim).map {
        case s if s.toLowerCase.startsWith("zorder") =>
          s.replaceAll("(?i)zorder\\s*\\(", "").stripSuffix(")")
        case s => s
      }.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      val bloomCols = props.get("graft.bloom-columns").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      // only columns the scan OUTPUTS: Spark's PartitionPruning rule
      // resolves these against the relation output and THROWS (not skips)
      // on a miss, so a pruned-away partition column must not be reported
      (snapshot.partitionSpec.map(_.source) ++ sortCols ++ bloomCols)
        .distinct
        .filter(c => required.fieldNames.contains(c))
        .map(Expressions.column)
        .toArray
    }

  /** Narrows the planned files by `_file IN (...)` (runtime group
    * filtering) and by stats over any other predicate. */
  override def filter(predicates: Array[Predicate]): Unit = {
    val v1 = ColumnBridge.predicatesToV1(predicates)
    if (v1.isEmpty) return // untranslatable: keep the conservative set
    val (fileIn, rest) = v1.partition {
      case In(GraftTable.FileCol, _) => true
      case _ => false
    }
    // `_file` values may arrive in URI form ("file:///x/y") or raw
    // ("/x/y", from the reader) — normalize BOTH sides before matching.
    // Narrowing to the wrong set here loses writes, so if any wanted path
    // fails to resolve to a known snapshot file (a form this
    // normalization doesn't cover), refuse to narrow on that filter and
    // keep the conservative set.
    def canon(p: String): String =
      if (p.startsWith("file:"))
        scala.util.Try(new java.net.URI(p).getPath).toOption.filter(_ != null)
          .getOrElse(p.stripPrefix("file://").stripPrefix("file:"))
      else p
    lazy val knownPaths: Set[String] = snapshot.files.map(absPath).toSet
    val afterFile = fileIn.foldLeft(currentFiles) { (fs, flt) =>
      val wanted = flt.asInstanceOf[In].values
        .map(v => canon(String.valueOf(v))).toSet
      if (wanted.exists(w => !knownPaths.contains(w))) fs
      else fs.filter(f => wanted.contains(absPath(f)))
    }
    val kept = StatsPruner.prune(afterFile, rest.toIndexedSeq,
      snapshot.partitionSpec, rename)
    runtimePruned = Some(kept.size -> prunedFiles.size)
    runtimeFiles = kept
    onRuntimePrune(kept)
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Partition-key groups for storage-partitioned joins, when the layout
    * is soundly reportable (see [[Spj.keyed]]); packed batches only. */
  private[lake] lazy val keyed: Option[Spj.Keyed] =
    if (wholeFiles) None else Spj.keyed(snapshot, prunedFiles, required)

  /** Columns (LOGICAL names) every pruned file is stamped sorted by —
    * the write path's clustered append sets DataFile.sortedBy; any file
    * from a non-sorting rewrite has it empty and kills the claim. Only
    * reported when the columns survive projection (resolution against
    * the scan output THROWS otherwise, same as SPJ keys). */
  private lazy val orderedBy: Seq[String] = {
    // opt-in: honoring an order forces ONE partition per file (no split
    // packing, no sub-file parallelism) — only pay that when sorted
    // plans are requested; the conf is the same one Spark gates
    // SPJ-with-ordering on
    val wantsSorted = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.sql.sources.v2.bucketing.sorting.enabled", "false")
      .toBoolean
    val fs = if (wantsSorted) prunedFiles else Seq.empty
    if (fs.isEmpty) Seq.empty
    else {
      val stamps = fs.map(_.sortedBy).distinct
      if (stamps.size != 1 || stamps.head.isEmpty) Seq.empty
      else {
        val physToLogical = rename.map(_.swap)
        val logical = stamps.head.map(p => physToLogical.getOrElse(p, p))
        if (logical.forall(required.fieldNames.contains)) logical
        else Seq.empty
      }
    }
  }

  /** Per-partition sort order: with SPJ (one file per key group after
    * compaction) Spark skips the sort-merge join's per-partition sorts.
    * Each partition reads one file in offset order whenever a claim
    * exists (packed batches plan one partition per file then; whole-file
    * partitions always are), and deletes only remove rows. */
  override def outputOrdering(): Array[SortOrder] =
    orderedBy.map(c => Expressions.sort(
      Expressions.column(c), SortDirection.ASCENDING)).toArray

  /** Reported layout → Spark plans co-partitioned joins WITHOUT a
    * shuffle (gated upstream by spark.sql.sources.v2.bucketing.enabled;
    * reporting when the gate is off costs nothing). */
  override def outputPartitioning(): Partitioning = keyed match {
    case Some(k) => new KeyGroupedPartitioning(k.keys, k.groups.size)
    case None => new UnknownPartitioning(0)
  }

  private def absPath(f: DataFile): String = store.tableDir.resolve(f.path).toString

  override def planInputPartitions(): Array[InputPartition] =
    if (wholeFiles)
      currentFiles.map(f => GraftInputPartition(absPath(f), f.sizeBytes,
        deletesOf.getOrElse(f.path, Seq.empty)): InputPartition).toArray
    else packedBatch().planInputPartitions()

  /** Depends on schema, filters and the delete files, never on which files
    * survived runtime filtering. A fresh instance per call: Spark asks once
    * per plan and ships copies, and Spark's parquet factory is not safe to
    * share between concurrent readers. */
  override def createReaderFactory(): PartitionReaderFactory =
    if (wholeFiles) wholeFileFactory() else packedBatch().createReaderFactory()

  /** Spark's vectorized parquet batch over the current files. Files carry
    * PHYSICAL column names: the bridge gets the physical schema,
    * projection and filters; rows bind positionally to the logical
    * attributes. Exact identity-partition filters are enforced by FILE
    * selection and must NOT reach the parquet reader: their column may be
    * pruned out of the read schema, and parquet record-level filtering
    * evaluates a missing column as NULL — dropping every row. */
  private def packedBatch(): Batch = {
    val spark = SparkSession.active
    val physRequired = StructType(required.fields.map(f =>
      f.copy(name = rename.getOrElse(f.name, f.name))))
    val physTable = SchemaNames.toPhysical(snapshot.schema)
    def uri(f: DataFile): (String, Long) =
      store.tableDir.resolve(f.path).toUri.toString -> f.sizeBytes
    keyed match {
      case Some(k) =>
        // after a runtime filter, narrow each original key group — the
        // surviving groups stay an exact subset of the reported partition
        // values, which BatchScanExec checks when re-planning under SPJ
        val groups =
          if (runtimeFiles eq null) k.groups
          else {
            val remaining = currentFiles.map(_.path).toSet
            k.groups
              .map { case (row, fs) => row -> fs.filter(f => remaining.contains(f.path)) }
              .filter(_._2.nonEmpty)
          }
        ParquetScanBridge.vectorizedKeyedBatch(spark,
          groups.map { case (row, fs) => row -> fs.map(uri) },
          physTable, physRequired, residualPhys,
          perFilePartitions = orderedBy.nonEmpty)
      case None if orderedBy.nonEmpty =>
        ParquetScanBridge.vectorizedPerFileBatch(spark, currentFiles.map(uri),
          physTable, physRequired, residualPhys)
      case None =>
        ParquetScanBridge.vectorizedBatch(spark, currentFiles.map(uri),
          physTable, physRequired, residualPhys)
    }
  }

  /** The reader factory of whole-file partitions: Spark's parquet reader
    * over the PHYSICAL read schema — the required columns (minus `_file`
    * and `_pos`) renamed to their file names, plus any equality-delete key
    * column the projection dropped (the probe needs it) — and one key
    * reader per equality key-column group. No filter is pushed: every row
    * of a file must arrive, in file order, for `_pos` and position deletes
    * to count. */
  private def wholeFileFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    // source each field from the TABLE schema: it carries the default
    // metadata the parquet reader needs (null-fill / EXISTS_DEFAULT for
    // columns absent from old files), for projected and appended key
    // columns alike
    val physTable = SchemaNames.toPhysical(snapshot.schema)
    val byPhys = physTable.fields.map(f => f.name -> f).toMap
    val physRequired = required.fields
      .filterNot(f => GraftTable.Synthetic(f.name))
      .map(rf => byPhys.getOrElse(rename.getOrElse(rf.name, rf.name), rf))
    val eqCols = deletesOf.values.flatten.collect { case e: EqRef => e.cols }
      .toSeq.distinct
    val present = physRequired.map(_.name).toSet
    val extraEq = eqCols.flatten.distinct.filterNot(present).map(byPhys)
    val physRead = StructType(physRequired ++ extraEq)
    new GraftReaderFactory(
      ParquetScanBridge.rowReaderFactory(spark, physTable, physRead),
      physRead.json, required.json, snapshot.schema.json,
      allowColumnar = deletesOf.isEmpty,
      eqReaders = eqCols.map { c =>
        val ks = PositionDeletes.keySchema(snapshot.schema, c)
        c -> ParquetScanBridge.rowReaderFactory(spark, ks, ks)
      }.toMap)
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(store, required, checkpointLocation,
      streamLimits)

  /** Snapshot-resident stats → the optimizer's broadcast decisions see real
    * sizes without touching the FS; per-column NDV from the merged HLL
    * sketches feeds CBO when present. Each planned file's rows minus the
    * cardinality of its own deletion vector, so the count is exact for
    * position deletes. Equality-delete tuples are NOT subtracted: each key
    * kills 0..N rows, so a tuple count is not a row count — an
    * overestimate is the safe direction for broadcast decisions. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val rows = {
      val vectors = PositionDeletes.vectors(snapshot)
      prunedFiles.iterator.map(f =>
        f.rowCount - vectors.get(f.path).fold(0L)(_.rowCount)).sum
    }
    private val bytes = prunedFiles.map(_.sizeBytes).sum
    override def sizeInBytes(): OptionalLong = OptionalLong.of(math.max(bytes, 1L))
    override def numRows(): OptionalLong = OptionalLong.of(rows)
    override def columnStats() = NdvStats.columnStats(snapshot)
  }

  override def description(): String =
    s"LakeScan[v${snapshot.version}, files=${prunedFiles.size}/${snapshot.fileCount}" +
      (if (deletesOf.nonEmpty) s", with-deletes=${deletesOf.size}]" else "]")

  /** The files this scan's snapshot holds, by path (by manifest chunk when
    * sharded, so equality never loads a lazy list). */
  private lazy val fileSet: Seq[String] =
    if (snapshot.manifests.nonEmpty) snapshot.manifests.map(_.path)
    else snapshot.files.map(_.path)

  /** Value equality over everything that changes the output: table,
    * branch, version, file set, projection, pushed filters and the
    * runtime-filter attribute. Spark's exchange/subquery reuse and
    * dynamic-pruning planning compare canonicalized plans, and a DSv2 scan
    * WITHOUT equals makes every re-planned scan of the same table
    * "different" — which silently disables broadcast reuse and downgrades
    * every dynamic-pruning filter to `true` (the same reason Iceberg's
    * SparkScan defines equality). `toBatch` is this scan, so
    * BatchScanExec's compare of batches uses it too. Runtime-filter state
    * is deliberately excluded: two scans planned alike are
    * interchangeable, and BatchScanExec compares its own runtimeFilters.
    * The BRANCH matters because branch chains share tableDir with
    * independent version numbers; the file set because a LIMIT prefix and
    * a live-row read pin subsets of one version. */
  override def equals(other: Any): Boolean = other match {
    case o: LakeScan =>
      store.tableDir == o.store.tableDir &&
        store.branch == o.store.branch &&
        snapshot.version == o.snapshot.version &&
        required == o.required &&
        filters.toSeq == o.filters.toSeq &&
        fileFilter == o.fileFilter &&
        fileSet == o.fileSet
    case _ => false
  }
  override def hashCode(): Int =
    (store.tableDir, store.branch, snapshot.version, required,
      filters.toSeq, fileFilter).hashCode()
}

object LakeScan {

  /** Rows of one whole lake file through Spark's parquet reader
    * `factory`, in file order: vectorized decode where the schema allows,
    * flattened to rows. */
  private[lake] def fileRows(factory: PartitionReaderFactory, path: String,
      size: Long): PartitionReader[InternalRow] = {
    val part = ParquetScanBridge.wholeFilePartition(path, size)
    if (factory.supportColumnarReads(part))
      new ColumnarAsRowReader(factory.createColumnarReader(part))
    else factory.createReader(part)
  }

  /** `f` over every row of one lake file (rows are views: copy to keep). */
  private[lake] def foreachRow(factory: PartitionReaderFactory, path: String,
      size: Long)(f: InternalRow => Unit): Unit = {
    val r = fileRows(factory, path, size)
    try while (r.next()) f(r.get())
    finally r.close()
  }
}

/** Reader factory of whole-file partitions (also the streaming source's).
  *
  * @param eqReaders  parquet reader per equality key-column group, at the
  *                   columns' current types */
final class GraftReaderFactory(
    inner: PartitionReaderFactory,
    // vals, not plain parameters: a parameter read only by lazy-val
    // initializers is nulled once they ran, and a factory that planned
    // on the driver would ship without its schemas
    val physReadJson: String, val requiredJson: String, val tableSchemaJson: String,
    allowColumnar: Boolean,
    eqReaders: Map[Seq[String], PartitionReaderFactory] = Map.empty)
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
  // output ordinal -> inner-row ordinal; -1 = `_file`, -2 = `_pos`
  @transient private lazy val outMap: Array[Int] = required.fields.map { f =>
    if (f.name == GraftTable.FileCol) -1
    else if (f.name == GraftTable.PosCol) -2
    else physRead.fieldIndex(rename.getOrElse(f.name, f.name))
  }

  /** True when the inner batch IS the required output positionally: every
    * data column maps to its own ordinal and `_file` (if requested) is the
    * trailing field — then a batch needs no per-row projection, only a
    * constant `_file` vector appended. False as soon as the scan appended
    * equality-delete key columns, a rename reordered anything, or `_pos`
    * is requested (a row-mode counter). */
  @transient private lazy val columnarAligned: Boolean = {
    val n = required.length
    val dataCols = outMap.zipWithIndex.forall { case (m, i) =>
      m == i || (m == -1 && i == n - 1)
    }
    dataCols && physRead.length == (if (outMap.contains(-1)) n - 1 else n)
  }

  private def part(p: GraftInputPartition): InputPartition =
    ParquetScanBridge.wholeFilePartition(p.filePath, p.fileSize)

  /** Columnar fast path: batches flow straight from Spark's vectorized
    * parquet reader to Spark's codegen'd ColumnarToRow, zero per-row work
    * in this layer. The scan allows it only when no delete applies to any
    * of its files, so every partition answers alike. */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    partition match {
      case p: GraftInputPartition =>
        allowColumnar && columnarAligned && inner.supportColumnarReads(part(p))
      case _ => false
    }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    val innerReader = inner.createColumnarReader(part(p))
    if (!outMap.contains(-1)) innerReader
    else new FileColumnAppendingReader(innerReader, p.filePath)
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    val eqProbes = p.deletes.collect { case e: EqRef =>
      val types = PositionDeletes.keySchema(tableSchema, e.cols).map(_.dataType)
      (e.cols.map(physRead.fieldIndex).toArray, types.toArray,
        EqDeleteTupleCache.get(e.path, e.size, types, eqReaders(e.cols)))
    }.toArray
    // this file's deleted positions, sorted: its vector slice, read here,
    // so no position ever reaches the driver
    val deleted = p.deletes.collectFirst { case DvSlice(blob, offset, length) =>
      DeletionVectors.readPositions(blob, offset, length)
    }.getOrElse(Array.emptyLongArray)
    new GraftPartitionReader(LakeScan.fileRows(inner, p.filePath, p.fileSize),
      p.filePath, physRead.length, required, outMap, deleted, eqProbes)
  }
}

/** Appends the constant `_file` column to every batch (vectorized
  * equivalent of the row path's Literal splice). */
private[lake] final class FileColumnAppendingReader(
    inner: PartitionReader[ColumnarBatch],
    filePath: String)
  extends PartitionReader[ColumnarBatch] {
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
  * are views over reused vector memory — consumers project or copy them
  * before they escape. */
private[lake] final class ColumnarAsRowReader(
    inner: PartitionReader[ColumnarBatch])
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
  * mapping, and the synthesized `_file` / `_pos` columns.
  *
  * @param deleted  sorted deleted row positions of this file
  * @param eqProbes per equality delete: key ordinals in the inner row
  *                 (present by construction — the scan appends missing
  *                 key columns), key types, and the cached tuple set */
final class GraftPartitionReader(
    inner: PartitionReader[InternalRow],
    filePath: String,
    innerWidth: Int,
    required: StructType,
    outMap: Array[Int],
    deleted: Array[Long],
    eqProbes: Array[(Array[Int], Array[DataType], java.util.HashSet[Seq[Any]])])
  extends PartitionReader[InternalRow] {

  private var current: InternalRow = _
  private val pos = new SpecificInternalRow(Seq(LongType))
  private val joined = new JoinedRow

  /** Output projection over (inner row, `_pos`): maps inner-row ordinals
    * to `required` order and splices the `_file` constant. An
    * UnsafeProjection gives downstream operators a row whose `copy()` is a
    * DEEP copy — essential because the inner row may be a view over
    * reused vector memory. */
  private val project: UnsafeProjection =
    UnsafeProjection.create(required.fields.toIndexedSeq.zipWithIndex.map {
      case (_, i) if outMap(i) == -1 =>
        Literal(UTF8String.fromString(filePath), StringType)
      case (_, i) if outMap(i) == -2 => BoundReference(innerWidth, LongType, nullable = false)
      case (f, i) => BoundReference(outMap(i), f.dataType, nullable = true)
    })

  // merge-on-read skip cursor: rows arrive in file order, so one pointer
  // into the SORTED deleted-position array replaces any per-row lookup
  private var rowIdx: Long = -1L
  private var delIdx: Int = 0

  /** True iff the current row's key matches a live equality-delete tuple
    * (NULL key components never match, per SQL equality). Probe values
    * come from `InternalRow.get` of the same Spark reader that built the
    * cached tuples, at the same types. */
  private def eqMatched(): Boolean = {
    var gi = 0
    while (gi < eqProbes.length) {
      val (idxs, types, set) = eqProbes(gi)
      val key = new Array[Any](idxs.length)
      var i = 0
      var ok = true
      while (ok && i < idxs.length) {
        if (current.isNullAt(idxs(i))) ok = false
        else key(i) = EqDeleteTupleCache.normKey(current.get(idxs(i), types(i)))
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
      if (!posDeleted && (eqProbes.isEmpty || !eqMatched())) return true
      // else: row is deleted — skip it
    }
    false
  }

  override def get(): InternalRow = {
    pos.setLong(0, rowIdx)
    project(joined(current, pos))
  }

  override def close(): Unit = inner.close()
}

/** Process-local cache of equality-delete tuple sets, filled on the driver
  * (planning, [[Conflicts]]) and on executors (readers). Delete files are
  * immutable and UUID-named, so an entry never goes stale; the cap only
  * bounds memory in long-lived executors. Access-ordered LRU (like
  * BloomProbe): more live tuple files than the cap must evict the coldest
  * entries, not clear the world while concurrent tasks are mid-probe. */
private[lake] object EqDeleteTupleCache {
  private val MaxEntries = 64
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, java.util.HashSet[Seq[Any]]](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.util.HashSet[Seq[Any]]])
          : Boolean = size() > MaxEntries
    })

  /** Key tuples of the equality delete file at `path`, read by `reader`
    * (a Spark parquet reader over the key columns at `types`; built only
    * on a miss). */
  def get(path: String, size: Long, types: Seq[DataType],
      reader: => PartitionReaderFactory): java.util.HashSet[Seq[Any]] = {
    // key includes the types: the same tuple file probed after a type
    // widening must convert into the NEW domain, not hit the old entry
    val key = path + "|" + types.map(_.catalogString).mkString(",")
    val hit = cache.get(key)
    if (hit != null) return hit
    // racing loaders are idempotent — last put wins, both correct
    val set = new java.util.HashSet[Seq[Any]]()
    LakeScan.foreachRow(reader, path, size) { view =>
      val row = view.copy() // strings of a batch view point into reused memory
      val tuple = new Array[Any](types.length)
      var i = 0
      var ok = true
      while (ok && i < types.length) {
        // a NULL key component can never equal anything (SQL) — the tuple
        // is dead weight, skip it
        if (row.isNullAt(i)) ok = false
        else tuple(i) = normKey(row.get(i, types(i)))
        i += 1
      }
      if (ok) set.add(scala.collection.immutable.ArraySeq.unsafeWrapArray(tuple))
    }
    cache.put(key, set)
    set
  }

  /** Every NaN key value: a key column has one type, so no other value
    * of it can collide with the marker. */
  private case object NaNKey

  /** Normalize a value for use inside a hash key, so the probe matches
    * Spark's join semantics (NormalizeFloatingNumbers): byte arrays use
    * reference equality, so wrap them; -0.0 folds to 0.0; NaN becomes
    * [[NaNKey]], because tuple equality compares boxed numbers with `==`,
    * under which NaN equals nothing. Everything else the internal
    * representations (UTF8String, boxed primitives, Decimal) define value
    * equality for. */
  def normKey(v: Any): Any = v match {
    case b: Array[Byte] => scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
    case d: java.lang.Double if d.isNaN => NaNKey
    case f: java.lang.Float if f.isNaN => NaNKey
    case d: java.lang.Double if d.doubleValue() == 0.0 => java.lang.Double.valueOf(0.0)
    case f: java.lang.Float if f.floatValue() == 0.0f => java.lang.Float.valueOf(0.0f)
    case other => other
  }
}
