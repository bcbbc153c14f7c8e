package graft.lake

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Merge-on-read position deletes (Iceberg v2 design; the reference's stack
  * advertises row-level deletes via Iceberg 1.4 — `README.md:124` "old ones
  * marked deleted"). A DELETE under `graft.delete-mode = merge-on-read`
  * writes a small parquet file of `(file_path STRING, pos BIGINT)` tuples
  * naming deleted rows by data-file path + 0-based row index, instead of
  * rewriting the data files (copy-on-write). Readers subtract the tuples
  * with an anti-join.
  *
  * Scale rationale: deleting 1k rows from a 100 TB table costs one KB-sized
  * delete file and a metadata commit; the COW alternative rewrites every
  * file containing a match. The read-side anti-join broadcasts the tuple
  * set while it stays small; `rewrite_deletes` compaction folds tuples back
  * into the data files when they accumulate.
  *
  * Join identity is the data file's NAME (UUID-unique within a table), not
  * its absolute path — `_metadata.file_path` returns a URI whose prefix
  * varies by filesystem, and the name is stable across both forms.
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

  /** Broadcast the anti-join's delete side while the tuple files stay small
    * (parquet bytes ≈ a few × in-memory) — one hash build instead of
    * shuffling the 100 TB data side. Past the threshold, fall back to the
    * planner's choice (sort-merge on the shuffled tuple set): a DELETE
    * backlog bigger than executor memory must never be pinned to a
    * broadcast build. Session-overridable for tests and tuning. */
  val BroadcastMaxBytesKey = "graft.mor.broadcast-max-bytes"
  private val BroadcastMaxBytesDefault = 32L * 1024 * 1024

  private def broadcastMaxBytes: Long =
    scala.util.Try(org.apache.spark.sql.SparkSession.active)
      .toOption
      .flatMap(_.conf.getOption(BroadcastMaxBytesKey))
      .map(_.toLong)
      .getOrElse(BroadcastMaxBytesDefault)

  /** Raw `(file_path, pos)` rows of position tuple files. */
  private[lake] def readTuples(spark: SparkSession, store: SnapshotStore,
      tupleFiles: Seq[DeleteFile]): DataFrame =
    SchemaNames.readFiles(spark, store, tupleSchema,
      tupleFiles.map(f => f.path -> f.sizeBytes))

  /** All position-shaped deletes of `deleteFiles` — raw tuple parquet
    * files AND consolidated deletion vectors — as a `(NameCol, RowPosCol)`
    * frame (file paths reduced to names for provenance joins). None when
    * there are none. */
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

  /** Remove deleted rows from a data read that carries `NameCol`/`RowPosCol`
    * provenance columns (see [[SchemaNames.readLogicalWithProvenance]]).
    * Keeps the provenance columns — callers drop them after their last use. */
  def applyTo(spark: SparkSession, store: SnapshotStore,
      dataWithProvenance: DataFrame, deleteFiles: Seq[DeleteFile]): DataFrame =
    tuples(spark, store, deleteFiles) match {
      case None => dataWithProvenance
      case Some(t) =>
        dataWithProvenance.join(t,
          dataWithProvenance(NameCol) === t(NameCol) &&
            dataWithProvenance(RowPosCol) === t(RowPosCol),
          "left_anti")
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

  /** Sequence column names for equality application (collision-proofed
    * like the provenance columns). */
  val FileSeqCol = "__gdel_fseq"
  val DelSeqCol = "__gdel_dseq"

  /** Load one equality-column group's tuple files as a frame with columns
    * `__geq_<physName>` plus [[DelSeqCol]] (each file's commit sequence),
    * broadcast while the group stays small. Shared by the anti-join
    * (delete application) and the semi-join (CDC / position conversion).
    * Keys are read as `types`, the columns' current types. */
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

  /** Apply ALL of `snap`'s pending deletes (position tuples + equality
    * keys) to a provenance-carrying data read. Equality semantics: a row
    * dies iff its key equals a tuple AND its data file's commit sequence
    * is strictly below the delete's. Provenance columns are kept. */
  def applySnapshotDeletes(spark: SparkSession, store: SnapshotStore,
      dataWithProvenance: DataFrame, snap: Snapshot,
      readSchema: org.apache.spark.sql.types.StructType = null): DataFrame = {
    val (eq, pos) = snap.deleteFiles.partition(_.kind == "equality")
    var df = applyTo(spark, store, dataWithProvenance, pos)
    if (eq.nonEmpty) {
      import org.apache.spark.sql.functions.{broadcast, col, lit}
      // file name -> commit sequence, tiny and driver-known
      val seqLookup = broadcast(spark.createDataFrame(
        snap.files.map(f => (fileName(f.path), f.seq)))
        .toDF(NameCol, FileSeqCol))
      df = df.join(seqLookup, NameCol)
      // physical -> current logical name (files + delete tuples store
      // physical; the provenance read exposes logical). `readSchema`
      // overrides when the data was read under a DIFFERENT schema version
      // than `snap` (CDC reads everything under the range's end schema).
      val sch = Option(readSchema).getOrElse(snap.schema)
      val physToLogical: Map[String, String] =
        sch.fields.map(f => SchemaNames.physicalName(f) -> f.name).toMap
      for ((cols, group) <- eq.groupBy(_.equalityColumns)) {
        val logical = cols.map(c => physToLogical.getOrElse(c,
          throw new IllegalStateException(
            s"equality-delete column '$c' no longer exists in the table " +
              "schema; run rewrite_deletes before dropping delete-key columns")))
        val tup = eqTupleFrame(spark, store, cols, logical.map(sch(_).dataType), group)
        val keyEq = cols.zip(logical).map { case (p, l) =>
          df(l) === tup(s"__geq_$p")
        }.reduce(_ && _)
        df = df.join(tup, keyEq && df(FileSeqCol) < tup(DelSeqCol), "left_anti")
      }
      df = df.drop(FileSeqCol)
    }
    df
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

  /** Rows of a provenance-carrying read over `files` that MATCH any
    * equality tuple of `eqFiles` under sequence ordering (file.seq <
    * delete.seq) — the inverse of the anti-join in
    * [[applySnapshotDeletes]]. Used to materialize what an equality delete
    * killed (CDC) and to convert equality deletes to positions (COW
    * reads). Result is deduplicated by provenance. */
  def equalityMatchedRows(spark: SparkSession, store: SnapshotStore,
      snap: Snapshot, eqFiles: Seq[DeleteFile], files: Seq[DataFile],
      readSchema: org.apache.spark.sql.types.StructType = null): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{broadcast, lit}
    val relevant = files.filter(f => eqFiles.exists(e => f.seq < e.seq))
    if (eqFiles.isEmpty || relevant.isEmpty) return None
    val sch = Option(readSchema).getOrElse(snap.schema)
    val data = SchemaNames.readLogicalWithProvenance(spark, store, sch, relevant)
    val seqLookup = broadcast(spark.createDataFrame(
      (snap.files ++ files).distinct.map(f => (fileName(f.path), f.seq)))
      .toDF(NameCol, FileSeqCol))
    val withSeq = data.join(seqLookup, NameCol)
    val physToLogical: Map[String, String] =
      sch.fields.map(f => SchemaNames.physicalName(f) -> f.name).toMap
    val matches = eqFiles.groupBy(_.equalityColumns).toSeq.map {
      case (cols, group) =>
        val logical = cols.map(c => physToLogical.getOrElse(c,
          throw new IllegalStateException(
            s"equality-delete column '$c' no longer exists in the table schema")))
        val tup = eqTupleFrame(spark, store, cols, logical.map(sch(_).dataType), group)
        val keyEq = cols.zip(logical).map { case (p, l) =>
          withSeq(l) === tup(s"__geq_$p")
        }.reduce(_ && _)
        withSeq.join(tup, keyEq && withSeq(FileSeqCol) < tup(DelSeqCol),
          "left_semi")
    }
    Some(matches.reduce(_ unionByName _)
      .dropDuplicates(NameCol, RowPosCol)
      .drop(FileSeqCol))
  }

  /** Cap on position-delete tuples the DRIVER may materialize to plan a
    * COW rewrite scan (session conf `graft.cow.driver-tuple-cap`). At or
    * below the cap the per-file position arrays ride inside the
    * InputPartitions — cheapest for the common small-backlog case. Above
    * it the driver never touches a tuple: each reader loads its own
    * file's positions executor-side ([[GraftPartitionReader]]), so a
    * 100 TB table with a huge DELETE backlog plans in O(metadata). */
  val DriverTupleCapKey = "graft.cow.driver-tuple-cap"
  val DriverTupleCapDefault = 100000L

  def driverTupleCap(spark: SparkSession): Long =
    spark.conf.getOption(DriverTupleCapKey).map(_.toLong)
      .getOrElse(DriverTupleCapDefault)

  /** Per-data-file deleted positions (sorted ascending), keyed by file
    * NAME, restricted to `files` — the small-backlog fast path of the COW
    * rewrite scan (GraftPartitionReader skips these row indexes). Callers
    * must gate on [[driverTupleCap]]; above the cap the executor-side
    * path applies instead and no tuple reaches the driver. */
  def positionsByFileName(spark: SparkSession, store: SnapshotStore,
      deleteFiles: Seq[DeleteFile],
      files: Seq[DataFile]): Map[String, Array[Long]] = {
    val pos = deleteFiles.filter(_.kind == "position")
    val dvs = deleteFiles.filter(_.kind == DeletionVectors.Kind)
    if ((pos.isEmpty && dvs.isEmpty) || files.isEmpty) return Map.empty
    val wanted = files.map(f => fileName(f.path)).toSet
    val fromTuples: Map[String, Array[Long]] =
      if (pos.isEmpty) Map.empty
      else {
        readTuples(spark, store, pos)
          .select(
            element_at(split(col(FilePathCol), "/"), -1).as(NameCol),
            col(PosCol))
          .filter(col(NameCol).isin(wanted.toSeq: _*))
          .collect()
          .groupBy(_.getString(0))
          .view.mapValues(_.map(_.getLong(1))).toMap
      }
    // vector payloads: exact ranged reads of just the wanted files'
    // bitmaps (bounded by the same driver tuple cap as the tuple path)
    val fromDvs: Seq[(String, Array[Long])] = dvs.flatMap { d =>
      val blob = store.tableDir.resolve(d.path).toString
      DeletionVectors.readIndex(store, d)
        .filter(e => wanted.contains(e.name))
        .map(e => e.name ->
          DeletionVectors.readPositions(blob, e.offset, e.length))
    }
    (fromTuples.toSeq ++ fromDvs)
      .groupBy(_._1)
      .view.mapValues(_.flatMap(_._2).distinct.sorted.toArray).toMap
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
}
