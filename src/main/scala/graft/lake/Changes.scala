package graft.lake

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch CDC: a row-level changelog between two snapshot versions — the
  * Iceberg `create_changelog_view` capability over our snapshot log
  * (SURVEY.md §1.1 Snapshot/table version; complements the streaming
  * tail in GraftStreaming, which only follows appends).
  *
  * Planning is metadata-only: each commit's file-set diff against its
  * parent names the files whose rows changed — added files carry inserts,
  * removed files carry deletes. Only those files are read; a changelog
  * over a 100 TB table whose last commits touched one partition reads one
  * partition. With `net = true` (default), copy-on-write carryover rows —
  * unchanged rows re-materialized because their file was rewritten — are
  * cancelled with a per-commit `exceptAll` (a shuffle over the CHANGED
  * files only, never the table), so a DELETE's changelog is exactly the
  * deleted rows and a compaction's changelog is empty.
  */
object Changes {

  val ChangeType = "_change_type"
  val CommitVersion = "_commit_version"
  val CommitTimestamp = "_commit_timestamp"

  /** Changelog rows for commits in `(fromVersion, toVersion]`, under the
    * `toVersion` schema (older files null-fill evolved columns). Output =
    * table columns + `_change_type` ('insert' | 'delete'),
    * `_commit_version`, `_commit_timestamp`. */
  def between(
      spark: SparkSession,
      store: SnapshotStore,
      fromVersion: Long,
      toVersion: Long,
      net: Boolean = true): DataFrame = {
    require(toVersion > fromVersion,
      s"toVersion ($toVersion) must be > fromVersion ($fromVersion)")
    val all = store.listVersions()
    require(all.contains(toVersion), s"no snapshot v$toVersion")
    val schema = store.read(toVersion).schema
    // exceptAll needs set-comparable rows; MAP columns aren't. Degrade to
    // the raw (carryover-visible) changelog instead of failing the read.
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    val netEffective = net && !schema.fields.exists(f => hasMap(f.dataType))
    val versions = all.filter(v => v > fromVersion && v <= toVersion).sorted

    /** Read `files` as LIVE rows under `asOf`'s deletes (deletion
      * vectors and equality keys subtracted) — a file-set diff
      * names changed files, but the rows a reader actually saw at a
      * version exclude its pending deletes. */
    def readFiles(files: Seq[DataFile], asOf: Snapshot): DataFrame =
      GraftTable.liveRows(spark, store, asOf, files, schema)

    val parts = versions.flatMap { v =>
      val snap = store.read(v)
      val parent: Option[Snapshot] = snap.parentVersion match {
        case Some(p) if all.contains(p) => Some(store.read(p))
        case Some(p) => throw new IllegalStateException(
          s"parent snapshot v$p has been expired; the changelog for v$v " +
            "cannot be computed. Keep snapshots longer than the CDC lag " +
            "(expire_snapshots keep_last).")
        case None => None
      }
      val parentFiles: Seq[DataFile] = parent.map(_.files).getOrElse(Seq.empty)
      val parentDeletes: Seq[DeleteFile] =
        parent.map(_.deleteFiles).getOrElse(Seq.empty)
      val parentSet = parentFiles.map(_.path).toSet
      val curSet = snap.files.map(_.path).toSet
      val added = snap.files.filterNot(f => parentSet.contains(f.path))
      val removed = parentFiles.filterNot(f => curSet.contains(f.path))
      // a merge-on-read DELETE changes no data file — its changed rows are
      // named by its delete entries: a changed deletion vector deletes the
      // positions it holds beyond the parent's vector OF THE SAME FILE (a
      // vector an unrelated commit kept unchanged is no change); equality
      // keys are resolved to rows live at the PARENT (an equality delete
      // is written blind, so its keys may also hit rows that were already
      // deleted — those must not be re-emitted)
      val parentIds = parentDeletes.map(_.id).toSet
      val newDeleteFiles = snap.deleteFiles.filterNot(d => parentIds.contains(d.id))
      val morDeletedPos: Option[DataFrame] =
        PositionDeletes.addedPositions(spark, store, snap, parent).flatMap { t =>
          // only the files whose vectors changed are read — a commit
          // deleting rows from one file of a 10k-file table opens one file
          val changed = newDeleteFiles.flatMap(_.referencedDataFile).toSet
          val touched = snap.files.filter(f => changed.contains(f.path))
          if (touched.isEmpty) None
          else {
            val data = SchemaNames.readLogicalWithProvenance(spark, store,
              schema, touched)
            Some(data.join(t,
              data(PositionDeletes.NameCol) === t(PositionDeletes.NameCol) &&
                data(PositionDeletes.RowPosCol) === t(PositionDeletes.RowPosCol),
              "left_semi")
              .drop(PositionDeletes.NameCol, PositionDeletes.RowPosCol))
          }
        }
      val morDeletedEq: Option[DataFrame] = parent.flatMap { par =>
        PositionDeletes.equalityMatchedRows(spark, store, par,
          newDeleteFiles.filter(_.kind == "equality"), schema)
      }
      val ins = if (added.nonEmpty) Some(readFiles(added, snap)) else None
      val del = if (removed.nonEmpty) Some(readFiles(removed,
        parent.getOrElse(snap))) else None
      val (insN, delN) = if (netEffective) (ins, del) match {
        case (Some(i), Some(dl)) => (Some(i.exceptAll(dl)), Some(dl.exceptAll(i)))
        case other => other
      } else (ins, del)
      def tag(df: DataFrame, t: String): DataFrame = df
        .withColumn(ChangeType, lit(t))
        .withColumn(CommitVersion, lit(v))
        .withColumn(CommitTimestamp, lit(new java.sql.Timestamp(snap.timestampMs)))
      insN.map(tag(_, "insert")) ++ delN.map(tag(_, "delete")) ++
        morDeletedPos.map(tag(_, "delete")) ++ morDeletedEq.map(tag(_, "delete"))
    }

    parts.reduceOption(_.unionAll(_)).getOrElse {
      val meta = StructType(schema.fields ++ Seq(
        StructField(ChangeType, StringType),
        StructField(CommitVersion, LongType, nullable = false),
        StructField(CommitTimestamp, TimestampType)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], meta)
    }
  }
}
