package graft.lake

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

/** Per-trigger admission caps, parsed from the readStream options
  * `maxFilesPerTrigger` / `maxRowsPerTrigger`. */
final case class StreamReadLimits(
    maxFiles: Option[Int] = None,
    maxRows: Option[Long] = None)

object StreamReadLimits {
  def fromOptions(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : StreamReadLimits =
    StreamReadLimits(
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      Option(options.get("maxRowsPerTrigger")).map(_.toLong))
}

/** Incremental micro-batch streaming over the snapshot log
  * (SURVEY.md §2.8, §1.1 "Streams"): each committed snapshot is a stream
  * offset; a micro-batch reads exactly the data files ADDED between two
  * versions. This is the native `spark.readStream.table("graft.ns.t")`
  * path — the "Structured Streaming with Iceberg" integration the
  * reference promises (`SETUP_GUIDE_WIN.md:472`).
  *
  * Semantics: append-only tailing. Batches cover `(start, end]` append
  * commits; files introduced by rewrite commits (overwrite / delete /
  * merge / update / replace) are NOT emitted — they re-materialize
  * existing rows and would double-count. Iceberg's streaming read makes
  * the same choice (throws or skips on rewrites); we skip and keep
  * tailing appends.
  *
  * Scale notes: offsets are plain version numbers (restart-safe via the
  * checkpoint), partition planning is metadata-only (snapshot diff), and
  * each added file becomes one InputPartition read by Spark's parquet
  * reader — no listing of the data directory, ever.
  */
final case class GraftOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

final class GraftMicroBatchStream(
    store: SnapshotStore,
    readSchema: StructType,
    checkpointLocation: String,
    limits: StreamReadLimits = StreamReadLimits())
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** Trigger.AvailableNow: the run must stop at the table state observed
    * at query START (later commits belong to the next run), while still
    * draining in admission-controlled batches — without this interface
    * Spark falls back to one Trigger.Once-style mega-batch. */
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(store.currentVersion().getOrElse(0L))

  /** Streams start at the table's creation: the first batch replays all
    * rows appended since version 0 (i.e. the current content of an
    * append-only table). */
  override def initialOffset(): Offset = GraftOffset(0L)

  override def latestOffset(): Offset =
    GraftOffset(store.currentVersion().getOrElse(0L))

  // ---- admission control: bound what one trigger admits ----
  //
  // A stream catching up on a large backlog (first start against an
  // existing table, or recovery after downtime) would otherwise plan ONE
  // batch containing every file ever appended. With maxFilesPerTrigger /
  // maxRowsPerTrigger the offset range is capped per trigger and the
  // backlog drains in bounded batches. Granularity is a COMMIT: offsets
  // are version numbers, so a batch always ends on a commit boundary and
  // always advances by at least one commit (an oversized single commit
  // still forms its own batch — progress over strictness, like the file
  // source). Costing is metadata-only: appended file/row counts come
  // from the commit's own seq-group manifest rollups (sharded) or file
  // entries (inline) — no data file is touched.

  override def getDefaultReadLimit: ReadLimit = {
    val ls = Seq(
      limits.maxFiles.map(n => ReadLimit.maxFiles(n)),
      limits.maxRows.map(n => ReadLimit.maxRows(n))).flatten
    ls match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** (files, rows) appended by version `v`; rewrites contribute nothing
    * (planInputPartitions skips them too). Pre-seq-stamp snapshots have
    * no per-commit attribution — their full file list counts, which
    * over-costs and closes the batch early (safe direction). */
  private def appendedCounts(v: Long): (Long, Long) = {
    val snap = store.read(v)
    if (snap.operation != "append") return (0L, 0L)
    // legacy = pre-seq-stamping snapshot (seq defaults to 0, which a
    // stamped chain never produces) — same detection planInputPartitions
    // uses. A stamped append with NO files of its own seq is a genuinely
    // EMPTY append (INSERT matching zero rows) and costs nothing; only
    // legacy snapshots over-cost with their whole list (safe direction).
    val legacy =
      if (snap.manifests.nonEmpty) snap.manifests.exists(_.seq == 0L)
      else snap.files.exists(_.seq == 0L)
    if (legacy) (snap.fileCount, snap.dataFileRows)
    else if (snap.manifests.nonEmpty) {
      val own = snap.manifests.filter(_.seq == v)
      (own.map(_.fileCount).sum, own.map(_.rowCount).sum)
    } else {
      val own = snap.files.filter(_.seq == v)
      (own.size.toLong, own.map(_.rowCount).sum)
    }
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    import org.apache.spark.sql.connector.read.streaming._
    val from = start.asInstanceOf[GraftOffset].version
    val head0 = store.currentVersion().getOrElse(0L)
    val head = availableNowCap.fold(head0)(math.min(head0, _))
    if (head <= from) return GraftOffset(from)
    def caps(l: ReadLimit): (Option[Int], Option[Long]) = l match {
      case f: ReadMaxFiles => (Some(f.maxFiles), None)
      case r: ReadMaxRows => (None, Some(r.maxRows))
      case c: CompositeReadLimit =>
        c.getReadLimits.map(caps).foldLeft(
          (Option.empty[Int], Option.empty[Long])) { case ((f1, r1), (f2, r2)) =>
          (Seq(f1, f2).flatten.minOption, Seq(r1, r2).flatten.minOption)
        }
      case _ => (None, None) // allAvailable / minRows etc.: no cap here
    }
    val (maxF, maxR) = caps(limit)
    if (maxF.isEmpty && maxR.isEmpty) return GraftOffset(head)
    var files = 0L; var rows = 0L; var end = from
    store.listVersions().filter(v => v > from && v <= head).sorted.foreach { v =>
      val (vf, vr) = appendedCounts(v)
      val over = maxF.exists(m => files + vf > m) ||
        maxR.exists(m => rows + vr > m)
      if (end > from && over) return GraftOffset(end)
      files += vf; rows += vr; end = v
    }
    GraftOffset(end)
  }

  override def reportLatestOffset(): Offset =
    GraftOffset(store.currentVersion().getOrElse(0L))

  override def deserializeOffset(json: String): Offset =
    GraftOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftOffset].version
    val to = end.asInstanceOf[GraftOffset].version
    if (to <= from) return Array.empty
    val versions = store.listVersions().filter(v => v > from && v <= to)
    val present = versions.toSet
    // continuity: versions are DENSE (each commit is parent+1), so every
    // version in the window must still exist — a hole means expiry ate a
    // version whose appended rows this batch would silently drop
    // (including the window END, the classic WAL-replay-after-crash case)
    ((from + 1) to to).find(v => !present.contains(v)).foreach { v =>
      throw new IllegalStateException(
        s"snapshot v$v has been expired; the stream cannot compute an " +
          "incremental batch. Keep snapshots longer than the streaming " +
          "lag (expire_snapshots keep_last).")
    }
    versions.flatMap { v =>
      val snap = store.read(v)
      if (snap.operation == "append") {
        // files added by an append commit are exactly those stamped with
        // its commit sequence (SnapshotStore.commit is the single stamp
        // site) — no parent snapshot read, no full file-list diff, and a
        // sharded snapshot loads ONLY its own seq group's manifest
        // chunks: micro-batch planning is O(new files), whatever the
        // table size. Snapshots predating seq stamping (files default to
        // seq=0, which a stamped chain can never produce — versions
        // start at 1) fall back to the parent path-diff.
        val legacy =
          if (snap.manifests.nonEmpty) snap.manifests.exists(_.seq == 0L)
          else snap.files.exists(_.seq == 0L)
        if (!legacy) {
          if (snap.manifests.nonEmpty)
            SnapshotStore.loadChunks(store.tableDir,
              snap.manifests.filter(_.seq == v), store.io)
          else snap.files.filter(_.seq == v)
        } else {
          val parentPaths: Set[String] = snap.parentVersion match {
            case Some(p) if present.contains(p) || p <= from =>
              if (store.listVersions().contains(p))
                store.read(p).files.map(_.path).toSet
              else throw new IllegalStateException(
                s"parent snapshot v$p has been expired; the stream " +
                  "cannot compute an incremental batch for the pre-seq " +
                  s"snapshot v$v.")
            case Some(p) => throw new IllegalStateException(
              s"snapshot v$p has been expired; the stream cannot " +
                "compute an incremental batch.")
            case None => Set.empty
          }
          snap.files.filterNot(f => parentPaths.contains(f.path))
        }
      } else Seq.empty // rewrite commits re-materialize rows: skip
    }.map(f =>
      GraftInputPartition(store.tableDir.resolve(f.path).toString,
        f.sizeBytes): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    val tableSchema = store.head().map(_.schema).getOrElse(readSchema)
    val byName = tableSchema.fields.map(f => f.name -> f).toMap
    val physRead = org.apache.spark.sql.types.StructType(
      readSchema.fields.map { rf =>
        val tf = byName.getOrElse(rf.name, rf)
        tf.copy(name = SchemaNames.physicalName(tf))
      })
    val physTable = org.apache.spark.sql.types.StructType(
      tableSchema.fields.map(f => f.copy(name = SchemaNames.physicalName(f))))
    val inner = org.apache.spark.sql.graftbridge.ParquetScanBridge
      .rowReaderFactory(spark, physTable, physRead)
    // streaming partitions are append-commit files (never delete-bearing)
    new GraftReaderFactory(inner, physRead.json, readSchema.json,
      tableSchema.json, allowColumnar = true)
  }

  override def commit(end: Offset): Unit = () // snapshot log is immutable

  override def stop(): Unit = ()

  override def toString: String = s"GraftMicroBatchStream(${store.tableDir})"
}
