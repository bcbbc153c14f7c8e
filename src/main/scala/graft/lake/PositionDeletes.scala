package graft.lake

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ParquetScanBridge
import org.apache.spark.sql.types._

/** Merge-on-read position deletes (Iceberg v2 design; the reference's stack
  * advertises row-level deletes via Iceberg 1.4 — `README.md:124` "old ones
  * marked deleted"). A DELETE under `graft.delete-mode = merge-on-read`
  * writes a small parquet file of `(file_path STRING, pos BIGINT)` tuples
  * naming deleted rows by data-file path + 0-based row index, instead of
  * rewriting the data files (copy-on-write). Each reader skips its own
  * file's tuples ([[LakeScan]]); which delete files a data file must apply
  * is decided at planning by [[applicable]].
  *
  * Scale rationale: deleting 1k rows from a 100 TB table costs one KB-sized
  * delete file and a metadata commit; the COW alternative rewrites every
  * file containing a match. `rewrite_deletes` compaction folds tuples back
  * into the data files when they accumulate.
  *
  * Identity is the data file's NAME (UUID-unique within a table), not its
  * absolute path — `_metadata.file_path` returns a URI whose prefix varies
  * by filesystem, and the name is stable across both forms.
  */
object PositionDeletes {

  /** Column names inside a delete file (Iceberg's position-delete schema). */
  val FilePathCol = "file_path"
  val PosCol = "pos"

  /** Provenance column names attached to data reads for delete application
    * (prefixed to never collide with user columns). */
  val NameCol = "__gdel_name"
  val RowPosCol = "__gdel_pos"

  val tupleSchema: StructType = StructType(Seq(
    StructField(FilePathCol, StringType, nullable = false),
    StructField(PosCol, LongType, nullable = false)))

  def fileName(path: String): String =
    path.substring(path.lastIndexOf('/') + 1)

  /** Broadcast the delete side of the CDC joins (which rows did a commit
    * delete: [[tuples]], [[equalityMatchedRows]]) while the delete files
    * stay small (parquet bytes ≈ a few × in-memory) — one hash build
    * instead of shuffling the data side. Past the threshold, fall back to
    * the planner's choice (sort-merge on the shuffled tuple set): a DELETE
    * backlog bigger than executor memory must never be pinned to a
    * broadcast build. Session-overridable for tests and tuning. */
  val BroadcastMaxBytesKey = "graft.mor.broadcast-max-bytes"
  private val BroadcastMaxBytesDefault = 32L * 1024 * 1024

  private def broadcastMaxBytes: Long =
    scala.util.Try(org.apache.spark.sql.SparkSession.active)
      .toOption
      .flatMap(_.conf.getOption(BroadcastMaxBytesKey))
      .map(GraftWriter.longSetting(BroadcastMaxBytesKey, _))
      .getOrElse(BroadcastMaxBytesDefault)

  /** Raw `(file_path, pos)` rows of position tuple files. */
  private[lake] def readTuples(spark: SparkSession, store: SnapshotStore,
      tupleFiles: Seq[DeleteFile]): DataFrame =
    SchemaNames.readFiles(spark, store, tupleSchema,
      tupleFiles.map(f => f.path -> f.sizeBytes))

  /** All position-shaped deletes of `deleteFiles` — raw tuple parquet
    * files AND consolidated deletion vectors — as a `(NameCol, RowPosCol)`
    * frame (file paths reduced to names for provenance joins). None when
    * there are none. The CDC and retain path; reads never use it. */
  def tuples(spark: SparkSession, store: SnapshotStore,
      deleteFilesIn: Seq[DeleteFile]): Option[DataFrame] = {
    val tupleFiles = deleteFilesIn.filter(_.kind == "position")
    val dvs = deleteFilesIn.filter(_.kind == DeletionVectors.Kind)
    if (tupleFiles.isEmpty && dvs.isEmpty) return None
    val parts = Seq.newBuilder[DataFrame]
    if (tupleFiles.nonEmpty) {
      parts += readTuples(spark, store, tupleFiles)
        .select(
          element_at(split(col(FilePathCol), "/"), -1).as(NameCol),
          col(PosCol).as(RowPosCol))
    }
    if (dvs.nonEmpty) parts += DeletionVectors.tupleFrame(spark, store, dvs)
    val t = parts.result().reduce(_ unionByName _)
    // size the broadcast by the EXPANDED tuple frame, not file bytes: a
    // dense bitset container compresses ~128× vs its exploded (name,pos)
    // rows, so a vector blob's sizeBytes wildly understates build memory.
    // Each expanded row repeats the data file NAME (UUID-based, ~45 UTF-8
    // bytes) next to the position long plus hashed-relation row overhead —
    // ~80 bytes/row, not 16.
    val totalBytes = tupleFiles.map(_.sizeBytes).sum +
      dvs.map(_.rowCount * 80L).sum
    Some(if (totalBytes <= broadcastMaxBytes) broadcast(t) else t)
  }

  /** Shared staging protocol for delete files: write `df` with
    * [[LakeFileWriter]] into a staging dir (one file per non-empty task,
    * named `<uuid>-<suffix>.parquet`), move each into `data/`, and
    * register it via `mk`. The staging dir is always cleaned up. */
  private def stageDeleteFiles(spark: SparkSession, store: SnapshotStore,
      df: DataFrame, suffix: String)(mk: (String, Long, Long) => DeleteFile): Seq[DeleteFile] = {
    val staging = store.tableDir.resolve(s".staging-del-${UUID.randomUUID()}")
    try {
      LakeFileWriter(spark, df.schema, s"-$suffix")
        .writeFrame(df, staging, Seq.empty)
        .map { f =>
          store.io.publish(staging.resolve(f.name), store.dataDir.resolve(f.name))
          mk(s"data/${f.name}", f.rowCount, f.sizeBytes)
        }
    } finally store.io.deleteTree(staging)
  }

  /** Stage a `(file_path, pos)` tuple DataFrame as new delete files and
    * move them into `data/`. Tuples are globally sorted by (file, pos) so
    * each delete file covers a narrow file range (footer stats then let a
    * future per-file pushdown prune them). Returns the committed entries
    * (empty when the DataFrame is empty). */
  def writeDeleteFiles(spark: SparkSession, store: SnapshotStore,
      tuples: DataFrame): Seq[DeleteFile] =
    stageDeleteFiles(spark, store,
      tuples
        .select(col(FilePathCol).cast(StringType), col(PosCol).cast(LongType))
        .sort(FilePathCol, PosCol),
      "deletes") { (path, cnt, size) =>
      DeleteFile(path, cnt, size, seq = Snapshot.UnassignedSeq)
    }

  /** Stage an EQUALITY delete: `keys` holds one row per deleted key over
    * `physCols` (the table's PHYSICAL column names, which is also the
    * column naming inside the staged parquet). No data scan happens here —
    * that is the whole point: an equality DELETE/upsert commits in O(keys)
    * regardless of table size; readers subtract matches with sequence
    * ordering (only files older than this commit are affected). */
  def writeEqualityDeleteFiles(spark: SparkSession, store: SnapshotStore,
      keys: DataFrame, physCols: Seq[String]): Seq[DeleteFile] =
    stageDeleteFiles(spark, store,
      keys.select(physCols.map(col): _*)
        .distinct()
        .coalesce(1), // key sets are small by design; one file per commit
      "eq-deletes") { (path, cnt, size) =>
      DeleteFile(path, cnt, size, kind = "equality",
        equalityColumns = physCols, seq = Snapshot.UnassignedSeq)
    }

  /** Sequence column names for the CDC equality match (collision-proofed
    * like the provenance columns). */
  val FileSeqCol = "__gdel_fseq"
  val DelSeqCol = "__gdel_dseq"

  /** Load one equality-column group's tuple files as a frame with columns
    * `__geq_<physName>` plus [[DelSeqCol]] (each file's commit sequence),
    * broadcast while the group stays small, for the CDC semi-join. Keys
    * are read as `types`, the columns' current types. */
  private def eqTupleFrame(spark: SparkSession, store: SnapshotStore,
      cols: Seq[String], types: Seq[DataType], group: Seq[DeleteFile]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, lit}
    val schema = StructType(cols.zip(types).map { case (c, t) => StructField(c, t) })
    val parts = group.map { g =>
      SchemaNames.readFiles(spark, store, schema, Seq(g.path -> g.sizeBytes))
        .toDF(cols.map(c => s"__geq_$c"): _*)
        .withColumn(DelSeqCol, lit(g.seq))
    }
    val tup0 = parts.reduce(_ unionByName _)
    if (group.map(_.sizeBytes).sum <= broadcastMaxBytes) broadcast(tup0)
    else tup0
  }

  /** Rewrite `deleteFiles` keeping only entries still needed over the
    * surviving data files — called by commits that REMOVE data files (COW
    * rewrites, compaction) so no dangling tuples accumulate and
    * `Snapshot.totalRows`'s subtraction stays exact. A position tuple file
    * whose footer name range covers no `replaced` file is kept as it is;
    * the others are rewritten to their surviving tuple subset. Deletion
    * vectors keep their blob form (replaced files' entries dropped by
    * index surgery, surviving bitmaps byte-copied); an equality file
    * survives as-is while ANY surviving data file is older than it (its
    * keys may still mask rows there). Cheap by construction: delete files
    * are small (else `rewrite_deletes` should have folded them in), and
    * a commit that touches none of a file's data files leaves it alone —
    * which also keeps the commit's delete edits narrow for
    * [[Conflicts]]. Returns the replacement entries; the caller commits
    * them. */
  def retain(spark: SparkSession, store: SnapshotStore,
      deleteFiles: Seq[DeleteFile],
      survivingFiles: Seq[DataFile],
      replacedFiles: Seq[DataFile]): Seq[DeleteFile] = {
    if (deleteFiles.isEmpty) return Seq.empty
    val (eq, pos) = deleteFiles.partition(_.kind == "equality")
    val (dvs, tupleFiles) = pos.partition(_.kind == DeletionVectors.Kind)
    val survivingNames = survivingFiles.map(f => fileName(f.path)).toSet
    val replacedNames = replacedFiles.map(f => fileName(f.path))
    val (touched, untouched) = tupleFiles.partition { d =>
      val (lo, hi) = nameRange(store, d)
      replacedNames.exists(n => lo <= n && n <= hi)
    }
    // touched tuple files: rewrite the surviving subset as tuple files
    val tuplesKept =
      if (touched.isEmpty) Seq.empty
      else tuples(spark, store, touched) match {
        case None => Seq.empty
        case Some(t) =>
          val kept = t.filter(col(NameCol).isin(survivingNames.toSeq: _*))
            .select(concat(lit("data/"), col(NameCol)).as(FilePathCol),
              col(RowPosCol).as(PosCol))
          writeDeleteFiles(spark, store, kept)
      }
    // deletion vectors stay VECTORS: dropping a replaced file's deletes is
    // index surgery — surviving entries' payloads byte-copy into a fresh
    // blob (exact ranged reads, no bitmap decode), and a blob none of
    // whose files were replaced is kept untouched. Exploding a dv back
    // into tuple files here would undo rewrite_delete_vectors' O(1)-read
    // consolidation on every compaction/COW commit.
    val dvKept = dvs.flatMap { d =>
      val entries = DeletionVectors.readIndex(store, d)
      val keep = entries.filter(e => survivingNames.contains(e.name))
      if (keep.isEmpty) None
      else if (keep.size == entries.size) Some(d)
      else {
        val blob = store.tableDir.resolve(d.path).toString
        Some(DeletionVectors.writeBlob(store, keep.map(e =>
          (e.name, e.cardinality,
            DeletionVectors.readPayload(blob, e.offset, e.length)))))
      }
    }
    val eqKept = eq.filter(e => survivingFiles.exists(_.seq < e.seq))
    untouched ++ tuplesKept ++ dvKept ++ eqKept
  }

  /** Rows live at `snap` that MATCH any equality tuple of `eqFiles` under
    * sequence ordering (file.seq < delete.seq): what equality deletes
    * committed on top of `snap` killed (CDC), under `schema`. */
  def equalityMatchedRows(spark: SparkSession, store: SnapshotStore,
      snap: Snapshot, eqFiles: Seq[DeleteFile],
      schema: StructType): Option[DataFrame] = {
    val relevant = snap.files.filter(f => eqFiles.exists(e => f.seq < e.seq))
    if (eqFiles.isEmpty || relevant.isEmpty) return None
    val live = GraftTable.liveRows(spark, store, snap, relevant, schema,
      provenance = true)
    val seqLookup = broadcast(spark.createDataFrame(relevant.map(f =>
        (store.tableDir.resolve(f.path).toString, f.seq)))
      .toDF(GraftTable.FileCol, FileSeqCol))
    val withSeq = live.join(seqLookup, GraftTable.FileCol)
    val physToLogical: Map[String, String] =
      schema.fields.map(f => SchemaNames.physicalName(f) -> f.name).toMap
    val matches = eqFiles.groupBy(_.equalityColumns).toSeq.map {
      case (cols, group) =>
        val logical = cols.map(c => physToLogical.getOrElse(c,
          throw new IllegalStateException(
            s"equality-delete column '$c' no longer exists in the table schema")))
        val tup = eqTupleFrame(spark, store, cols, logical.map(schema(_).dataType), group)
        val keyEq = cols.zip(logical).map { case (p, l) =>
          withSeq(l) === tup(s"__geq_$p")
        }.reduce(_ && _)
        withSeq.join(tup, keyEq && withSeq(FileSeqCol) < tup(DelSeqCol),
          "left_semi")
    }
    Some(matches.reduce(_ unionByName _)
      .dropDuplicates(GraftTable.FileCol, GraftTable.PosCol)
      .drop(GraftTable.FileCol, GraftTable.PosCol, FileSeqCol))
  }

  /** Distinct data-file NAMES referenced by any position tuple — the
    * metadata-scale planning question ("which files need a rewrite").
    * Distributed distinct + collect of names only: driver memory is
    * O(referenced FILES), never O(deleted rows), however large the
    * backlog. */
  def referencedFileNames(spark: SparkSession, store: SnapshotStore,
      deleteFiles: Seq[DeleteFile]): Set[String] = {
    val pos = deleteFiles.filter(_.kind == "position")
    val fromTuples: Set[String] =
      if (pos.isEmpty) Set.empty
      else {
        readTuples(spark, store, pos)
          .select(element_at(split(col(FilePathCol), "/"), -1).as(NameCol))
          .distinct()
          .collect()
          .map(_.getString(0))
          .toSet
      }
    // a vector blob's INDEX is exactly this question, one small read
    val fromDvs = deleteFiles.filter(_.kind == DeletionVectors.Kind)
      .flatMap(d => DeletionVectors.readIndex(store, d).map(_.name))
    fromTuples ++ fromDvs
  }

  /** Plan-time (minName, maxName) range one position-delete file covers,
    * from its parquet FOOTER (constant work, no data read). Valid because
    * every tuple's `file_path` is the canonical relative `data/<name>`
    * (writers join back to `DataFile.path`) and [[writeDeleteFiles]]
    * sorts by it, so path order == name order. A footer without usable
    * string bounds conservatively covers everything. */
  def nameRange(store: SnapshotStore, f: DeleteFile): (String, String) = {
    val (_, stats) = FooterStats.read(store.tableDir.resolve(f.path),
      Seq(StructField(FilePathCol, StringType, nullable = false)))
    stats.get(FilePathCol) match {
      case Some(cs) if cs.min.isDefined && cs.max.isDefined =>
        (fileName(cs.min.get), fileName(cs.max.get))
      case _ => ("", "\uFFFF")
    }
  }

  /** Which data files delete file `d` may remove rows of, and how a reader
    * applies it to one: None = no row of that file. Position files answer
    * by their footer `file_path` range, deletion vectors by their index
    * (with the file's exact slice), equality files by sequence order and
    * their key values against the data file's stats. Loads `d`'s metadata
    * once, on the driver, with no Spark job. [[LakeScan]] plans with it;
    * [[Conflicts]] rule 3 asks it whether a concurrent delete touches
    * what a statement read. */
  def applicable(store: SnapshotStore, snap: Snapshot,
      d: DeleteFile): DataFile => Option[DeleteRef] = {
    val path = store.tableDir.resolve(d.path).toString
    d.kind match {
      case "position" =>
        val (lo, hi) = nameRange(store, d)
        val ref = Some(TupleRef(path, d.sizeBytes, d.rowCount))
        f => { val name = fileName(f.path); if (lo <= name && name <= hi) ref else None }
      case DeletionVectors.Kind =>
        val slices = DeletionVectors.readIndex(store, d)
          .map(e => e.name -> DvSlice(path, e.offset, e.length)).toMap
        f => slices.get(fileName(f.path))
      case "equality" =>
        val ks = keySchema(snap.schema, d.equalityColumns)
        val types = ks.map(_.dataType)
        val keys = EqDeleteTupleCache.get(path, d.sizeBytes, types,
            ParquetScanBridge.rowReaderFactory(SparkSession.active, ks, ks))
        // each key column's values, sorted once: a file whose stats hold
        // none of one column's values holds no key tuple
        val probes = ks.indices.flatMap(i =>
          statsProbe(keys, i, d.equalityColumns(i), types(i)))
        val ref = Some(EqRef(path, d.sizeBytes, d.equalityColumns))
        f => if (f.seq < d.seq && !keys.isEmpty && probes.forall(_(f))) ref
          else None
      case other =>
        throw new IllegalStateException(s"unknown delete-file kind '$other' (${d.path})")
    }
  }

  /** Can a data file's [min, max] stats of `col` hold one of the values
    * of key column `i` over `keys`? One binary search over the sorted
    * values per file; stats that do not parse answer yes. None where stats
    * cannot rule a file out exactly: float and double keys (NaN has no
    * order, and a file written before a float → double widening has stats
    * rendered from the float, not from the value its rows now read as)
    * and types without stats. Internal values: dates are epoch days and
    * timestamps epoch micros, as in the stats. */
  private def statsProbe(keys: java.util.Set[Seq[Any]], i: Int, col: String,
      dt: DataType): Option[DataFile => Boolean] = {
    def probe[T: Ordering: scala.reflect.ClassTag](value: Any => T,
        parse: String => Option[T]): DataFile => Boolean = {
      val sorted = keys.iterator.asScala.map(k => value(k(i))).toArray.sorted
      f => f.stats.get(col).forall { st =>
        val at = st.min.flatMap(parse).fold(0)(lo => sorted.search(lo).insertionPoint)
        at < sorted.length &&
          st.max.flatMap(parse).forall(hi => Ordering[T].lteq(sorted(at), hi))
      }
    }
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType =>
        Some(probe[Long](_.asInstanceOf[Number].longValue, _.toLongOption))
      case _: DecimalType =>
        Some(probe[BigDecimal](_.asInstanceOf[Decimal].toBigDecimal,
          s => scala.util.Try(BigDecimal(s)).toOption))
      case StringType => Some(probe[String](_.toString, Some(_)))
      case _ => None
    }
  }

  /** Key columns `cols` (physical names) of an equality delete at the
    * table's CURRENT types: delete files and data files are both read
    * with these, so keys and rows meet in one value domain even across a
    * type widening. */
  def keySchema(schema: StructType, cols: Seq[String]): StructType = {
    val byPhys = schema.fields.map(f => SchemaNames.physicalName(f) -> f.dataType).toMap
    StructType(cols.map(c => StructField(c, byPhys.getOrElse(c,
      throw new IllegalStateException(
        s"equality-delete column '$c' no longer exists in the table " +
          "schema; run rewrite_deletes before dropping delete-key columns")))))
  }
}
