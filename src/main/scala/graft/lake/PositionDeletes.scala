package graft.lake

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ParquetScanBridge
import org.apache.spark.sql.types._

/** Merge-on-read deletes: the entries of a snapshot's `deleteFiles`,
  * which a reader applies instead of rewriting data files (copy-on-write).
  * Positions are deleted by deletion vectors ([[DeletionVectors]]): one
  * per data file, indexed by the snapshot itself, so which vector applies
  * to a file is a lookup ([[vectors]]) and planning reads no delete bytes.
  * Keys are deleted by equality files ([[writeEqualityDeleteFiles]]),
  * which an upsert or a key-only DELETE writes without reading the table.
  * Each reader skips its own file's deletes ([[LakeScan]]); which entries
  * a data file must apply is decided at planning by [[refsFor]].
  *
  * Scale rationale: deleting 1k rows from a 100 TB table costs one small
  * blob and a metadata commit; the COW alternative rewrites every file
  * containing a match. `rewrite_deletes` folds the deletes back into the
  * data files when they accumulate.
  */
object PositionDeletes {

  /** Provenance column names attached to data reads for delete application
    * (prefixed to never collide with user columns). */
  val NameCol = "__gdel_name"
  val RowPosCol = "__gdel_pos"

  def fileName(path: String): String =
    path.substring(path.lastIndexOf('/') + 1)

  /** Broadcast the delete side of the CDC joins (which rows did a commit
    * delete: [[addedPositions]], [[equalityMatchedRows]]) while it stays
    * small — one hash build instead of shuffling the data side. Past the
    * threshold, fall back to the planner's choice (sort-merge on the
    * shuffled delete side): a DELETE
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

  /** The vectors of `snap` by referenced data-file path — a table keeps
    * at most one per data file. */
  def vectors(snap: Snapshot): Map[String, DeleteFile] =
    snap.deleteFiles.iterator.filter(_.kind != "equality")
      .map(d => referenced(d) -> d).toMap

  /** The data file vector `d` deletes rows of. Refuses an entry of any
    * other position form, naming it: a `position` tuple file, or a vector
    * without the data file it refers to. */
  private def referenced(d: DeleteFile): String =
    d.referencedDataFile.filter(_ => d.kind == DeletionVectors.Kind)
      .getOrElse(throw new IllegalStateException(
        s"unsupported delete entry ${d.path} (kind '${d.kind}', referenced " +
          s"data file ${d.referencedDataFile.getOrElse("none")}): position " +
          "deletes are read only as deletion vectors of one data file"))

  /** The positions each vector `snap` changed since `parent` deletes
    * beyond the parent's vector of the same data file — what the commit
    * deleted — as a `(NameCol, RowPosCol)` frame, broadcast while small;
    * None when no vector changed. The CDC path; reads never use it. */
  def addedPositions(spark: SparkSession, store: SnapshotStore,
      snap: Snapshot, parent: Option[Snapshot]): Option[DataFrame] = {
    val before = parent.fold(Map.empty[String, DeleteFile])(vectors)
    val changed = vectors(snap).toSeq.collect {
      case (ref, d) if !before.get(ref).exists(_.id == d.id) => d -> before.get(ref)
    }
    if (changed.isEmpty) return None
    val t = DeletionVectors.addedPositions(spark, store, changed)
    // size the broadcast by the EXPANDED frame: each row repeats the data
    // file NAME (UUID-based, ~45 UTF-8 bytes) next to the position long
    // plus hashed-relation row overhead — ~80 bytes/row
    val rows = changed.map { case (d, b) => d.rowCount - b.fold(0L)(_.rowCount) }.sum
    Some(if (rows * 80L <= broadcastMaxBytes) broadcast(t) else t)
  }

  /** Stage an EQUALITY delete: `keys` holds one row per deleted key over
    * `physCols` (the table's PHYSICAL column names, which is also the
    * column naming inside the staged parquet). No data scan happens here —
    * that is the whole point: an equality DELETE/upsert commits in O(keys)
    * regardless of table size; readers subtract matches with sequence
    * ordering (only files older than this commit are affected). The file
    * is written with [[LakeFileWriter]] into a staging dir, moved into
    * `data/`, and the staging dir is always cleaned up. */
  def writeEqualityDeleteFiles(spark: SparkSession, store: SnapshotStore,
      keys: DataFrame, physCols: Seq[String]): Seq[DeleteFile] = {
    val df = keys.select(physCols.map(col): _*)
      .distinct()
      .coalesce(1) // key sets are small by design; one file per commit
    val staging = store.tableDir.resolve(s".staging-del-${UUID.randomUUID()}")
    try {
      LakeFileWriter(spark, df.schema, "-eq-deletes")
        .writeFrame(df, staging, Seq.empty)
        .map { f =>
          store.io.publish(staging.resolve(f.name), store.dataDir.resolve(f.name))
          DeleteFile(s"data/${f.name}", f.rowCount, f.sizeBytes, kind = "equality",
            equalityColumns = physCols, seq = Snapshot.UnassignedSeq)
        }
    } finally store.io.deleteTree(staging)
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

  /** The entries of `deleteFiles` still needed once a commit removes
    * `replacedFiles` and keeps `survivingFiles` (COW rewrites, compaction,
    * overwrites), so no dangling vector accumulates and
    * `Snapshot.totalRows`'s subtraction stays exact. A pure filter over
    * snapshot metadata: a vector goes with the data file it refers to; an
    * equality file survives while ANY surviving data file is older than it
    * (its keys may still mask rows there). Entries are kept as they are,
    * which also keeps the commit's delete edits narrow for [[Conflicts]]. */
  def retain(deleteFiles: Seq[DeleteFile], survivingFiles: Seq[DataFile],
      replacedFiles: Seq[DataFile]): Seq[DeleteFile] = {
    val gone = replacedFiles.iterator.map(_.path).toSet
    val oldest = survivingFiles.iterator.map(_.seq).minOption
    deleteFiles.filter { d =>
      if (d.kind == "equality") oldest.exists(_ < d.seq)
      else !d.referencedDataFile.exists(gone)
    }
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

  /** The deletes a reader of each data file of `snap` applies: its vector
    * (a lookup, no IO) and the equality files that may hold one of its
    * keys. Loads equality key sets once, on the driver, with no Spark job.
    * [[LakeScan]] plans with it. */
  def refsFor(store: SnapshotStore, snap: Snapshot): DataFile => Seq[DeleteRef] = {
    val byFile = vectors(snap)
    val eqs = snap.deleteFiles.filter(_.kind == "equality")
      .map(applicable(store, snap, _))
    f => byFile.get(f.path).map(slice(store, _)).toSeq ++ eqs.flatMap(_(f))
  }

  private def slice(store: SnapshotStore, d: DeleteFile): DvSlice =
    DvSlice(store.tableDir.resolve(d.path).toString, d.contentOffset, d.sizeBytes.toInt)

  /** Which data files delete entry `d` may remove rows of, and how a reader
    * applies it to one: None = no row of that file. A vector answers by
    * the data file it refers to, an equality file by sequence order and its
    * key values against the data file's stats. [[Conflicts]] rule 3 asks
    * it whether a concurrent delete touches what a statement read. */
  def applicable(store: SnapshotStore, snap: Snapshot,
      d: DeleteFile): DataFile => Option[DeleteRef] =
    if (d.kind != "equality") {
      val ref = referenced(d)
      f => Option.when(f.path == ref)(slice(store, d))
    } else {
      val path = store.tableDir.resolve(d.path).toString
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
