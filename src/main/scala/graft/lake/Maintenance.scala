package graft.lake

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Table maintenance (SURVEY.md §2.2 D13, §2.11.1): the reference exposes
  * compaction as `ALTER TABLE … COMPACT` (`warehouse_helpers.py:142-146`) —
  * invalid Iceberg SQL; the real capability (`README.md:141-142`
  * "Compact small files", "Expire old snapshots") is implemented here as a
  * Scala API, callable from jobs.
  *
  * Scale note: `compact` rewrites per partition-value group, so at 100 TB
  * each partition compacts independently (and the rewrite could be
  * restricted to partitions with many small files); the commit replaces
  * only the rewritten files' entries.
  */
object Maintenance {

  /** Rewrite small data files into bigger ones (one file per partition
    * value per `targetFileCount` group); commits a `replace` snapshot with
    * identical row content. Returns the new snapshot. */
  def compact(
      spark: SparkSession,
      store: SnapshotStore,
      smallFileThresholdBytes: Long = 64L * 1024 * 1024): Snapshot = {
    val head = store.head().getOrElse(
      throw new IllegalStateException(s"no table at ${store.tableDir}"))
    val small = head.files.filter(_.sizeBytes < smallFileThresholdBytes)
    if (small.size <= 1) return head // nothing to gain
    val keep = head.files.filterNot(small.contains)
    // pending MOR deletes on compacted files fold into the rewrite
    val df = GraftTable.liveRows(spark, store, head, small)
      .coalesce(math.max(1, small.map(_.sizeBytes).sum / smallFileThresholdBytes).toInt)
    val rewritten = GraftWriter.writeFiles(spark, store, head, df)
    // same rows, new files: concurrent appends rebase through untouched
    val fp = Conflicts.Footprint(head, read = small, replaced = small,
        added = rewritten)
      .retaining(PositionDeletes.retain(head.deleteFiles, keep, small))
    store.commit { prev =>
      val next = Conflicts.rebase(store, "compaction", prev.getOrElse(head), fp)
      next.copy(
        operation = "replace",
        summary = Map(
          "compacted-files" -> small.size.toString,
          "new-files" -> rewritten.size.toString,
          "total-records" -> next.totalRows.toString))
    }
  }

  /** Fold accumulated merge-on-read deletes back into the data: every
    * data file with a deletion vector (or a pending equality delete) is
    * rewritten without its deleted rows; the commit clears `deleteFiles`.
    * The MOR maintenance counterpart of `compact` (Iceberg's
    * `rewrite_position_delete_files` + data rewrite in one): DELETEs stay
    * O(matches) at write time, and this periodic rewrite keeps the
    * readers' delete work from growing. */
  def rewriteDeletes(spark: SparkSession, store: SnapshotStore): Snapshot = {
    val head = store.head().getOrElse(
      throw new IllegalStateException(s"no table at ${store.tableDir}"))
    if (head.deleteFiles.isEmpty) return head
    // files to rewrite: carrying a deletion vector, or old enough for a
    // pending equality delete to apply (conservative — the rewrite of an
    // unaffected old file is a no-op content-wise)
    val vectored = PositionDeletes.vectors(head)
    val eqDeletes = head.deleteFiles.filter(_.kind == "equality")
    val touched = head.files.filter(f =>
      vectored.contains(f.path) || eqDeletes.exists(e => f.seq < e.seq))
    val rewritten: Seq[DataFile] =
      if (touched.isEmpty) Seq.empty
      else {
        GraftWriter.writeFiles(spark, store, head,
          GraftTable.liveRows(spark, store, head, touched))
      }
    // every delete file of `head` is folded in; ones committed since
    // stay pending on the rebased snapshot
    val fp = Conflicts.Footprint(head, read = touched, replaced = touched,
      added = rewritten, deletesRemoved = head.deleteFiles)
    store.commit { prev =>
      val next = Conflicts.rebase(store, "rewrite_deletes", prev.getOrElse(head), fp)
      next.copy(
        operation = "replace",
        summary = Map(
          "rewritten-files" -> touched.size.toString,
          "removed-delete-files" -> head.deleteFiles.size.toString,
          "applied-position-deletes" ->
            head.deleteFiles.map(_.rowCount).sum.toString,
          "total-records" -> next.totalRows.toString))
    }
  }

  // ---------- branches (write-audit-publish) ----------

  private def validBranchName(name: String): Unit =
    require(name.matches("[A-Za-z][A-Za-z0-9._-]*"),
      s"invalid branch name '$name' (want letter first, then [A-Za-z0-9._-])")

  /** Fork a branch at the current main head: `t.branch_<name>` then reads
    * and writes an independent snapshot chain over the SHARED data dir —
    * metadata-only, zero data copied, however large the table. The WAP
    * (write-audit-publish) staging area: load into the branch, audit it
    * with real queries, publish with [[fastForward]] or discard with
    * [[dropBranch]]. */
  def createBranch(store: SnapshotStore, name: String): Unit = {
    validBranchName(name)
    val head = store.head().getOrElse(
      throw new IllegalStateException(s"no table at ${store.tableDir}"))
    val bst = store.branchStore(name)
    require(!bst.exists, s"branch '$name' already exists")
    bst.seed(head)
  }

  def dropBranch(store: SnapshotStore, name: String): Unit = {
    validBranchName(name)
    val bst = store.branchStore(name)
    require(bst.exists, s"no branch '$name'")
    bst.drop()
  }

  /** Publish a branch: one atomic main-chain commit adopting the branch
    * head's content. Refused when main advanced past the fork point — the
    * branch would silently overwrite those commits (rebase by re-branching
    * instead). Pending EQUALITY deletes are folded into the data first:
    * their sequence numbers are branch-chain-relative and would misorder
    * against main's version counter; data files are then re-stamped to the
    * published version (they enter MAIN at this commit). The branch chain
    * itself stays intact for audit history until dropped. */
  def fastForward(spark: SparkSession, store: SnapshotStore,
      name: String): Snapshot = {
    validBranchName(name)
    val bst = store.branchStore(name)
    require(bst.exists, s"no branch '$name'")
    var bHead = bst.head().getOrElse(
      throw new IllegalStateException(s"branch '$name' is empty"))
    if (bHead.deleteFiles.exists(_.kind == "equality"))
      bHead = rewriteDeletes(spark, bst)
    val fork = bst.listVersions().min
    store.commit { prev =>
      val mainHead = prev.getOrElse(
        throw new IllegalStateException("cannot publish into an empty table"))
      require(mainHead.version == fork,
        s"main is at v${mainHead.version} but branch '$name' forked at " +
          s"v$fork — main advanced; re-branch and replay instead of publishing")
      bHead.copy(
        timestampMs = System.currentTimeMillis(),
        operation = "publish",
        files = bHead.files.map(_.copy(seq = Snapshot.UnassignedSeq)),
        summary = Map(
          "published-branch" -> name,
          "branch-head-version" -> bHead.version.toString,
          "total-records" -> bHead.totalRows.toString))
    }
  }

  /** Drop snapshot metadata older than `keepLast` versions and delete data
    * files no remaining snapshot references (`README.md:142` "Expire old
    * snapshots you don't need"). Time travel to expired versions stops
    * working — by design. Tag-pinned versions are NEVER expired: a tag's
    * whole purpose is outliving retention (same rule as Iceberg refs). */
  def expireSnapshots(store: SnapshotStore, keepLast: Int = 3): Seq[Long] = {
    // a branch chain has no view of the MAIN chain's file references —
    // expiring from it could delete files main still reads
    require(store.branch.isEmpty,
      "expire_snapshots runs on the main chain only (drop the branch instead)")
    val versions = store.listVersions()
    if (versions.size <= keepLast) return Seq.empty
    val pinned = store.refs().values.toSet
    val (expirable, keepTail) = versions.splitAt(versions.size - keepLast)
    val (tagged, expire) = expirable.partition(pinned.contains)
    val keep = tagged ++ keepTail
    // manifest chunk paths count as references too: a chunk lives exactly
    // as long as some surviving snapshot (any chain) points at it
    def allPaths(s: Snapshot): Seq[String] =
      s.files.map(_.path) ++ s.deleteFiles.map(_.path) ++
        s.manifests.map(_.path)
    // live branches pin their files: a branch snapshot referencing a file
    // keeps it alive however old the main versions that shared it
    val branchRefs: Set[String] = store.listBranches().flatMap { b =>
      val bst = store.branchStore(b)
      bst.listVersions().map(bst.read).flatMap(allPaths)
    }.toSet
    val referenced: Set[String] =
      keep.map(store.read).flatMap(allPaths).toSet ++ branchRefs
    val expiredRefs: Set[String] =
      expire.map(store.read).flatMap(allPaths).toSet
    (expiredRefs -- referenced).foreach { rel =>
      store.io.delete(store.tableDir.resolve(rel))
    }
    expire.foreach { v =>
      store.io.delete(store.tableDir.resolve("metadata").resolve(s"v$v.json"))
    }
    expire
  }

  /** Backfill per-file sketches (`graft.bloom-columns` blooms,
    * `graft.ndv-columns` HLLs) for files written BEFORE the properties
    * were set — one column-pruned pass over exactly the files missing a
    * sketch, committed as a metadata-only `analyze` snapshot. Data files
    * are immutable, so a computed sketch can be merged onto whatever head
    * exists at commit time (no version requirement; a concurrent append's
    * new files simply keep their own write-time sketches). */
  def analyze(spark: SparkSession, store: SnapshotStore): Snapshot = {
    import org.apache.spark.sql.functions.{col, hll_sketch_agg, input_file_name}
    val head = store.head().getOrElse(
      throw new IllegalStateException(s"no table at ${store.tableDir}"))
    def colsOf(prop: String): Seq[String] = head.properties.get(prop)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
      .map { logical =>
        head.schema.fields.find(_.name == logical)
          .map(SchemaNames.physicalName)
          .getOrElse(throw new IllegalArgumentException(
            s"$prop column '$logical' not in table schema"))
      }
    val bloomCols = colsOf("graft.bloom-columns")
    val ndvCols = colsOf("graft.ndv-columns")
    val missing = head.files.filter(f =>
      bloomCols.exists(c => !f.blooms.contains(c)) ||
        ndvCols.exists(c => !f.ndv.contains(c)))
    if (missing.isEmpty || (bloomCols.isEmpty && ndvCols.isEmpty)) return head

    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val numBits = GraftWriter.bloomBits(head.properties)
    val bloomAggs = bloomCols.map { c =>
      ColumnBridge.column(new BloomFilterAggregate(
        new XxHash64(Seq(ColumnBridge.expression(col(c)))),
        Literal(math.max(numBits / 10, 64L)), Literal(numBits))
        .toAggregateExpression()).as(s"__bf_$c")
    }
    val ndvAggs = ndvCols.map(c => hll_sketch_agg(col(c), 12).as(s"__ndv_$c"))
    val aggs = bloomAggs ++ ndvAggs
    val rows = SchemaNames.readFiles(spark, store,
        SchemaNames.toPhysical(head.schema), missing.map(f => f.path -> f.sizeBytes))
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    def b64(r: org.apache.spark.sql.Row, i: Int): Option[String] =
      Option(r.getAs[Array[Byte]](i))
        .map(java.util.Base64.getEncoder.encodeToString)
    val computed: Map[String, (Map[String, String], Map[String, String])] =
      rows.map { r =>
        val fname = r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1)
        val blooms = bloomCols.zipWithIndex
          .flatMap { case (c, i) => b64(r, i + 1).map(c -> _) }.toMap
        val ndv = ndvCols.zipWithIndex
          .flatMap { case (c, i) => b64(r, 1 + bloomCols.size + i).map(c -> _) }
          .toMap
        s"data/$fname" -> (blooms, ndv)
      }.toMap

    store.commit { prev =>
      val p = prev.getOrElse(head)
      p.copy(
        timestampMs = System.currentTimeMillis(),
        operation = "analyze",
        files = p.files.map { f =>
          computed.get(f.path) match {
            case Some((bl, nd)) => f.copy(blooms = bl ++ f.blooms, ndv = nd ++ f.ndv)
            case None => f
          }
        },
        summary = Map("analyzed-files" -> computed.size.toString))
    }
  }

  /** Remove data files not referenced by ANY snapshot (failed writes,
    * crashed commits), plus `.staging-*` directories older than
    * `staleStagingMillis` — the leftovers of writers that died before
    * moving their files in. The age guard applies to EVERY class of
    * removal (staging dirs, manifest chunks, data files) and keeps
    * CONCURRENT in-flight writes safe: anything a live writer has
    * published but not yet committed is, by definition, young. */
  def removeOrphanFiles(store: SnapshotStore,
      staleStagingMillis: Long = 60L * 60 * 1000): Seq[String] = {
    // same reasoning as expireSnapshots: only the main store sees every
    // chain that may reference a data file
    require(store.branch.isEmpty,
      "remove_orphan_files runs on the main chain only")
    val chains = store +: store.listBranches().map(store.branchStore)
    val referenced = chains.flatMap(st => st.listVersions().map(st.read))
      .flatMap(s => s.files.map(_.path) ++ s.deleteFiles.map(_.path) ++
        s.manifests.map(_.path)).toSet
    val cutoff = System.currentTimeMillis() - staleStagingMillis
    // every Files.list/walk here closes its stream — an open stream holds
    // a directory fd (r12 fd fix, see LocalMetaIO.list)
    val staleStaging =
      if (!Files.isDirectory(store.tableDir)) Seq.empty
      else {
        val s = Files.list(store.tableDir)
        try s.iterator().asScala
          .filter(p => p.getFileName.toString.startsWith(".staging-") &&
            Files.isDirectory(p) &&
            Files.getLastModifiedTime(p).toMillis < cutoff)
          .toSeq
        finally s.close()
      }
    staleStaging.foreach { dir =>
      val s = Files.walk(dir)
      val all = try s.iterator().asScala.toSeq finally s.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }
    // orphan manifest chunks (crashed/raced commits wrote them before the
    // version link): same age guard — an in-flight commit's fresh chunks
    // are not yet referenced but must survive
    val mDir = store.tableDir.resolve("metadata").resolve("manifests")
    val orphanManifests =
      if (!Files.isDirectory(mDir)) Seq.empty
      else {
        val s = Files.list(mDir)
        try s.iterator().asScala
          .filter(p =>
            !referenced.contains(s"metadata/manifests/${p.getFileName}") &&
              Files.getLastModifiedTime(p).toMillis < cutoff)
          .toSeq
        finally s.close()
      }
    orphanManifests.foreach(Files.deleteIfExists(_))
    if (!Files.isDirectory(store.dataDir))
      return (staleStaging ++ orphanManifests).map(_.getFileName.toString)
    // same age guard on data/ — files published directly there ahead of
    // their commit (deletion-vector blobs, procedure outputs) are
    // unreferenced for a moment by design; a concurrent cleanup must not
    // collect a file whose commit is still in flight
    val orphans = {
      val s = Files.list(store.dataDir)
      try s.iterator().asScala
        .filter(p => !referenced.contains(s"data/${p.getFileName}") &&
          Files.getLastModifiedTime(p).toMillis < cutoff)
        .toSeq
      finally s.close()
    }
    orphans.foreach(Files.deleteIfExists(_))
    orphans.map(_.getFileName.toString) ++
      (staleStaging ++ orphanManifests).map(_.getFileName.toString)
  }
}
