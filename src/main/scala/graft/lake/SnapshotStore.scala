package graft.lake

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}

/** Filesystem snapshot store with the reference's commit semantics
  * (`README.md:124`: "atomic pointer swaps" + optimistic concurrency;
  * layout `README.md:169-176`).
  *
  * Layout per table:
  * {{{
  *   <tableDir>/data/<uuid>.parquet
  *   <tableDir>/metadata/v<N>.json          // immutable snapshot (manifest list)
  *   <tableDir>/metadata/manifests/m-*.json // manifest chunks (sharded tables)
  *   <tableDir>/metadata/version-hint.text  // current version pointer
  * }}}
  *
  * Commit protocol (§3.3 of SURVEY.md): write `v<N+1>.json` exclusively
  * (fails if a concurrent committer won the race), then swap the hint
  * atomically. A reader that catches the store between the two steps still
  * finds the head: it probes forward from the hint for later versions, and
  * lists the directory when the hint is missing, unparsable or names a
  * missing version — the hint is a hint, not the source of truth. Losing
  * a race retries the commit function on the new head (optimistic
  * concurrency). All file operations route through
  * [[MetaIO]]; on an object store `createExclusive` maps to conditional
  * PUT (if-none-match) — same protocol, different primitive.
  */
/** @param branch None = the main snapshot chain; Some(name) = the chain
  *               under `metadata/branches/<name>` (same layout, same
  *               shared `data/` dir — a branch commits metadata only).
  *               Created by `create_branch`, published by `fast_forward`,
  *               removed by `drop_branch` (Procedures). */
final class SnapshotStore(val tableDir: Path,
    val branch: Option[String] = None,
    val io: MetaIO = LocalMetaIO) {

  private def metaDir: Path = branch match {
    case None => tableDir.resolve("metadata")
    case Some(b) => tableDir.resolve("metadata").resolve("branches").resolve(b)
  }
  def dataDir: Path = tableDir.resolve("data")

  /** Manifest chunks always live under the MAIN metadata dir (UUID-named,
    * immutable) so branch snapshots share the parent's chunks by
    * reference — a branch fork copies zero bytes of file metadata. */
  private def manifestsDir: Path =
    tableDir.resolve("metadata").resolve("manifests")

  /** Names of existing branches (main store only). */
  def listBranches(): Seq[String] = {
    val dir = tableDir.resolve("metadata").resolve("branches")
    io.list(dir).filter(io.isDirectory).map(_.getFileName.toString).sorted
  }

  def branchStore(name: String): SnapshotStore = {
    require(branch.isEmpty, "branches fork from the main chain only")
    new SnapshotStore(tableDir, Some(name), io)
  }

  /** Seed a NEW branch chain with an existing snapshot (kept at its
    * original version so the fork point is recorded as the chain's first
    * version). Fails if the branch already has that version. */
  def seed(snapshot: Snapshot): Unit = {
    io.mkdirs(metaDir)
    // a sharded snapshot seeds by REFERENCE: the branch head points at the
    // main chain's immutable chunks, copying zero bytes of file metadata
    val onDisk =
      if (snapshot.manifests.nonEmpty) snapshot.copy(files = Seq.empty)
      else snapshot
    io.createExclusive(versionFile(snapshot.version), Snapshot.toJson(onDisk))
    swapHint(snapshot.version)
  }

  private def hintFile: Path = metaDir.resolve("version-hint.text")
  private def versionFile(v: Long): Path = metaDir.resolve(s"v$v.json")

  def exists: Boolean = io.isDirectory(metaDir)

  def init(): Unit = {
    io.mkdirs(metaDir)
    io.mkdirs(dataDir)
  }

  /** Head version: the hint, then a forward probe for `v<h+1>`, `v<h+2>`,
    * ... (commits that landed past a stale hint — a crash between the two
    * commit steps, or a failed hint swap). The directory is listed only
    * when the hint is missing, unparsable or names a missing version, so
    * resolving the head of a healthy table costs one read and two probes
    * however long its chain (Iceberg's `HadoopTableOperations` shape). */
  def currentVersion(): Option[Long] = {
    val hinted =
      try Some(io.readString(hintFile).trim.toLong)
      catch { case _: java.io.IOException | _: NumberFormatException => None }
    hinted.filter(h => io.exists(versionFile(h))) match {
      case Some(h) =>
        var v = h
        while (io.exists(versionFile(v + 1))) v += 1
        Some(v)
      case None => listVersions().maxOption
    }
  }

  def listVersions(): Seq[Long] =
    io.list(metaDir)
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json")
      }
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .sorted

  def read(version: Long): Snapshot =
    materialize(SnapshotStore.parse(metaDir, version,
      io.readString(versionFile(version))))

  /** Back a sharded snapshot's `files` with a LAZY seq: no chunk is read
    * until something actually walks the file list. Metadata answers
    * (fileCount / totalRows / totalBytes) come from the ref rollups, and
    * a filtered scan goes through [[filesForScan]] — so a query that
    * touches a slice of a million-file table never materializes the full
    * list on the driver. Legacy/inline snapshots pass through untouched. */
  private def materialize(s: Snapshot): Snapshot =
    if (s.manifests.isEmpty) s
    else s.copy(files = new LazyFileSeq(tableDir.toString, s.manifests, io))

  /** The files a scan with `physFilters` (physical column names) must
    * consider: for a sharded snapshot, chunks whose merged bounds rule
    * out every filter are skipped WITHOUT being read — the manifest-list
    * pruning step. Falls back to the full (lazily loaded, chunk-cached)
    * list when nothing can be skipped, so the result is always a superset
    * of the matching files and per-file pruning still applies after. */
  def filesForScan(s: Snapshot, physFilters: Seq[org.apache.spark.sql.sources.Filter])
      : Seq[DataFile] =
    if (s.manifests.isEmpty || physFilters.isEmpty) s.files
    else {
      val kept = s.manifests.filter(r => StatsPruner.chunkMightMatch(r, physFilters))
      if (kept.size == s.manifests.size) s.files
      else SnapshotStore.loadChunks(tableDir, kept, io)
    }

  /** A file prefix whose cumulative row count covers `n` rows, loading
    * only the manifest chunks the ref rollups say are needed — `SELECT *
    * LIMIT 10` on a million-file table reads one chunk, then one file. */
  def filesForLimit(s: Snapshot, n: Long): Seq[DataFile] =
    if (s.manifests.isEmpty) s.files
    else {
      var acc = 0L
      val keep = scala.collection.mutable.ArrayBuffer.empty[ManifestRef]
      val it = s.manifests.iterator
      while (acc < n && it.hasNext) {
        val r = it.next()
        keep += r
        acc += r.rowCount
      }
      SnapshotStore.loadChunks(tableDir, keep.toSeq, io)
    }

  def head(): Option[Snapshot] = currentVersion().map(read)

  /** Latest snapshot with commit timestamp <= tsMillis. */
  def asOfTimestamp(tsMillis: Long): Option[Snapshot] =
    listVersions().map(read).filter(_.timestampMs <= tsMillis)
      .sortBy(_.version).lastOption

  /** The optimistic-concurrency loop every commit flavor shares:
    * `attempt` builds the (in-memory, on-disk) snapshot pair from the
    * current head — writing any new manifest chunks as it goes, BEFORE
    * the version link, so a crash in between leaves only orphan chunks,
    * never a dangling reference. The exclusive create of `v<N>.json` is
    * the race arbiter; a lost race re-runs `attempt` on the new head.
    *
    * Object-store hardening: a conditional PUT can fail AMBIGUOUSLY (a
    * timeout or 503 whose response was lost after the write landed).
    * Treating that as plain failure and re-running the statement would
    * double-apply a commit that actually succeeded, so an IOException is
    * disambiguated by reading the version slot back: our exact content
    * there = the PUT landed (success); someone else's = lost race
    * (re-plan); empty = transient pre-land failure (safe to re-PUT). If
    * the read-back itself keeps failing, the loop throws "commit state
    * unknown" rather than guessing — the one outcome that must never be
    * silently retried. */
  private def commitLoop(maxRetries: Int)(
      attempt: Option[Snapshot] => (Snapshot, Snapshot)): Snapshot = {
    var tries = 0
    while (true) {
      val head0 = head()
      val (mem, disk) = attempt(head0)
      val vf = versionFile(mem.version)
      val json = Snapshot.toJson(disk)
      try {
        io.createExclusive(vf, json)
        trySwapHint(mem.version)
        return mem
      } catch {
        case _: FileAlreadyExistsException =>
          tries += 1
          if (tries > maxRetries)
            throw new IllegalStateException(
              s"commit lost $maxRetries races on $tableDir")
        case e: java.io.IOException =>
          var landed, known = false
          var probes = 0
          while (!known && probes < 5) {
            try {
              landed = io.exists(vf) && io.readString(vf) == json
              known = true
            } catch {
              case _: java.io.IOException =>
                probes += 1; Thread.sleep(10L << probes)
            }
          }
          if (!known)
            throw new IllegalStateException(
              s"commit state unknown for v${mem.version} on $tableDir — " +
                "storage failed during the conditional PUT and the " +
                "read-back keeps failing; do NOT blindly re-run the " +
                "statement (it may have committed)", e)
          if (landed) { trySwapHint(mem.version); return mem }
          tries += 1
          if (tries > maxRetries)
            throw new IllegalStateException(
              s"commit could not reach storage in $maxRetries attempts " +
                s"on $tableDir", e)
        // not landed: slot empty (transient pre-land failure — loop
        // re-PUTs this version) or taken by a rival (loop re-plans)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The hint is ADVISORY — `currentVersion` probes past a stale one —
    * so a hint-write failure after a LANDED commit must not fail the
    * statement. */
  private def trySwapHint(v: Long): Unit =
    try swapHint(v) catch { case _: java.io.IOException => () }

  /** Optimistic-concurrency commit: builds the next snapshot from the
    * current head, retries on lost races. Returns the committed snapshot.
    * A builder whose statement planned on an older snapshot validates
    * the head it is handed through [[Conflicts.rebase]]. */
  def commit(build: Option[Snapshot] => Snapshot, maxRetries: Int = 10): Snapshot =
    commitLoop(maxRetries) { head0 =>
      val next0 = build(head0)
      val v = head0.map(_.version + 1).getOrElse(1L)
      // stamp commit sequences: files added by THIS commit carry the
      // UnassignedSeq placeholder (one central site — no builder can
      // forget, and retries restamp against the new head's version).
      // A metadata-only commit passes the parent's files through by
      // reference — those are already stamped, so the map (which would
      // force a lazy sharded list) is skipped.
      val sameFiles = head0.exists(_.files eq next0.files)
      val next = next0.copy(
        version = v,
        parentVersion = head0.map(_.version),
        files =
          if (sameFiles) next0.files
          else next0.files.map(f =>
            if (f.seq == Snapshot.UnassignedSeq) f.copy(seq = v) else f),
        deleteFiles = next0.deleteFiles.map(d =>
          if (d.seq == Snapshot.UnassignedSeq) d.copy(seq = v) else d))
      // Page the file list out to manifest chunks above the inline
      // threshold, reusing every parent chunk whose seq-group is
      // unchanged — an append rewrites only its own chunk, so commit
      // cost is O(added files + chunk count), not O(table files).
      val refs = writeManifests(head0, next)
      val onDisk =
        if (refs.nonEmpty) next.copy(files = Seq.empty, manifests = refs)
        else next.copy(manifests = Seq.empty)
      (next.copy(manifests = refs), onDisk)
    }

  // ---------- named refs (tags): name → pinned snapshot version ----------

  private def refsDir: Path = metaDir.resolve("refs")

  /** Tag names double as file names — restrict to a safe charset (also
    * keeps `VERSION AS OF '<name>'` unambiguous vs numeric versions). */
  private def validateRefName(name: String): Unit =
    require(name.matches("[A-Za-z][A-Za-z0-9._-]*"),
      s"invalid tag name '$name' (want letter first, then [A-Za-z0-9._-])")

  /** Named snapshot refs — `VERSION AS OF 'name'` resolves through this.
    * One small file PER ref (`metadata/refs/<name>`), each updated with
    * its own atomic replace: concurrent create/drop of DIFFERENT tags
    * can't lose each other's update (a shared map file would). */
  def refs(): Map[String, Long] =
    io.list(refsDir).flatMap { p =>
      scala.util.Try(
        p.getFileName.toString -> io.readString(p).trim.toLong).toOption
    }.toMap

  def setRef(name: String, version: Long): Unit = {
    validateRefName(name)
    require(listVersions().contains(version),
      s"no snapshot v$version to tag as '$name'")
    io.mkdirs(refsDir)
    io.replaceAtomic(refsDir.resolve(name), version.toString)
  }

  def dropRef(name: String): Unit = {
    validateRefName(name)
    io.delete(refsDir.resolve(name))
  }

  /** Page `next.files` out to manifest chunks (no-op below the inline
    * threshold). Files are grouped by the commit sequence that added them;
    * a group whose content matches the parent's is served by re-pointing
    * the parent's chunks (the common case: every pre-existing commit's
    * files), so only changed groups pay a write. Returns the refs in
    * seq order (reassembly order == grouped file order). */
  private def writeManifests(
      parent: Option[Snapshot], next: Snapshot): Seq[ManifestRef] = {
    // metadata-only commit (builder passed the files through by
    // reference): the parent's refs ARE the layout — nothing to write,
    // nothing to materialize
    parent.foreach { p => if (next.files eq p.files) return p.manifests }
    if (next.files.size <= SnapshotStore.InlineMaxFiles) return Seq.empty
    io.mkdirs(manifestsDir)
    val parentRefs: Map[Long, Seq[ManifestRef]] =
      parent.map(_.manifests.groupBy(_.seq)).getOrElse(Map.empty)
    val parentFiles: Map[Long, Seq[DataFile]] =
      parent.map(_.files.groupBy(_.seq)).getOrElse(Map.empty)
    next.files.groupBy(_.seq).toSeq.sortBy(_._1).flatMap { case (seq, fs) =>
      if (parentRefs.contains(seq) && parentFiles.get(seq).contains(fs))
        parentRefs(seq)
      else
        fs.grouped(SnapshotStore.ManifestChunkFiles).map(writeChunk(seq, _)).toSeq
    }
  }

  private def writeChunk(seq: Long, chunk: Seq[DataFile]): ManifestRef = {
    val name = s"m-$seq-${java.util.UUID.randomUUID()}.json"
    io.write(manifestsDir.resolve(name),
      Snapshot.chunkToJson(ManifestChunk(chunk)))
    ManifestRef(s"metadata/manifests/$name", seq, chunk.size,
      chunk.map(_.rowCount).sum, chunk.map(_.sizeBytes).sum,
      bounds = StatsPruner.mergeBounds(chunk),
      partFields = chunk.map(_.partitionValues.keySet)
        .reduce(_ intersect _).toSeq.sorted)
  }

  /** Chunk `files` (already seq-stamped) out by seq group. */
  private def chunkOut(files: Seq[DataFile]): Seq[ManifestRef] = {
    io.mkdirs(manifestsDir)
    files.groupBy(_.seq).toSeq.sortBy(_._1).flatMap { case (seq, fs) =>
      fs.grouped(SnapshotStore.ManifestChunkFiles).map(writeChunk(seq, _))
    }
  }

  /** Append-only commit in O(added-files) metadata: every parent manifest
    * chunk is reused BY REFERENCE and only the added files are chunked —
    * the parent file list is never materialized, so a stream appending to
    * a million-file table commits each batch in constant metadata work
    * (the generic [[commit]] pays O(table files) re-grouping its list).
    *
    * `decorate(parent, stampedAdded)` sets the commit's metadata fields
    * (operation / summary / identity / properties) on a copy of the
    * parent; version, parentVersion, files, deleteFiles and manifests are
    * owned by this method and overwritten after. Like [[commit]], lost
    * races re-run against the new head. Small tables stay inline; the
    * first append to cross the threshold pays a one-time O(parent ≤
    * threshold) page-out. */
  def commitAppend(
      newFiles: Seq[DataFile],
      newDeleteFiles: Seq[DeleteFile] = Seq.empty,
      maxRetries: Int = 10)(
      decorate: (Snapshot, Seq[DataFile]) => Snapshot): Snapshot =
    commitLoop(maxRetries) { head0 =>
      val p = head0.getOrElse(throw new IllegalStateException(
        s"append to uninitialized table $tableDir"))
      val v = p.version + 1
      val stamped = newFiles.map(f =>
        if (f.seq == Snapshot.UnassignedSeq) f.copy(seq = v) else f)
      val stampedDels = newDeleteFiles.map(d =>
        if (d.seq == Snapshot.UnassignedSeq) d.copy(seq = v) else d)
      val (refs, combined): (Seq[ManifestRef], Seq[DataFile]) =
        if (p.fileCount + stamped.size <= SnapshotStore.InlineMaxFiles)
          (Seq.empty, p.files ++ stamped) // small table: inline layout
        else {
          val parentRefs =
            if (p.manifests.nonEmpty) p.manifests else chunkOut(p.files)
          val all = parentRefs ++ chunkOut(stamped)
          (all, new LazyFileSeq(tableDir.toString, all, io))
        }
      val next = decorate(p, stamped).copy(
        version = v,
        parentVersion = Some(p.version),
        files = combined,
        deleteFiles = p.deleteFiles ++ stampedDels,
        manifests = refs)
      (next, if (refs.nonEmpty) next.copy(files = Seq.empty) else next)
    }

  private def swapHint(v: Long): Unit =
    io.replaceAtomic(hintFile, v.toString)

  /** Delete the whole table directory tree — or, on a branch store, just
    * the branch's metadata chain (shared data files stay; orphan cleanup
    * reclaims any the main chain never referenced). */
  def drop(): Unit = {
    val root = branch match {
      case Some(_) => metaDir
      case None => tableDir
    }
    io.deleteTree(root)
  }
}

object SnapshotStore {

  /** Marker file at a table's warehouse HOME directory naming the external
    * directory its data+metadata actually live in (`CREATE TABLE ...
    * LOCATION` / a `path` option — `warehouse_helpers.py:110`, SURVEY
    * §2.11.4). Catalog listing/rename operate on the home dir; everything
    * else follows the pointer. */
  val ExternalPointer = "external-location"

  /** Resolve a table home dir to its actual table dir, following the
    * external-location pointer when present. Pointer reads go through the
    * same MetaIO seam as everything else — an object-store catalog backend
    * resolves external tables too. */
  def resolveTableDir(home: Path, io: MetaIO = LocalMetaIO): Path = {
    val ptr = home.resolve(ExternalPointer)
    if (io.isFile(ptr)) Paths.get(io.readString(ptr).trim)
    else home
  }

  /** At or below this many files the list stays inline in `v<N>.json` —
    * one read, one atomic swap, simplest for small tables. Above it the
    * list pages out to manifest chunks (see [[Snapshot]] scaladoc). */
  val InlineMaxFiles = 64

  /** Max files per manifest chunk: bounds both chunk-write size and the
    * unit of parallel load. */
  val ManifestChunkFiles = 10000

  /** The last parsed snapshot of one metadata dir, with the exact JSON it
    * was parsed from. */
  private final case class Parsed(version: Long, json: String, snapshot: Snapshot)

  private val ParsedMax = 64
  private val lastParsed = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Parsed](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Parsed]): Boolean =
        size() > ParsedMax
    })

  /** `Snapshot.fromJson(json)`, memoized per metadata dir: one statement
    * resolves its table's head several times, and each resolution reads
    * the same `v<N>.json`. The entry is reused only when the version AND
    * the file's exact content match — DROP + CREATE at one path reuses
    * version numbers, and a commit through another store instance or
    * process shows up as a new version or new content. */
  private def parse(metaDir: Path, version: Long, json: String): Snapshot = {
    val key = metaDir.toAbsolutePath.toString
    val hit = lastParsed.get(key)
    if (hit != null && hit.version == version && hit.json == json) hit.snapshot
    else {
      val s = Snapshot.fromJson(json)
      lastParsed.put(key, Parsed(version, json, s))
      s
    }
  }

  private val ChunkCacheMax = 256
  // access-ordered LRU (like BloomProbe / EqDeleteTupleCache): a table
  // with more chunks than the cap evicts cold entries instead of clearing
  // hot ones mid-load
  private val chunkCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Seq[DataFile]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[DataFile]]): Boolean =
        size() > ChunkCacheMax
    })

  /** Chunk files are immutable and UUID-named, so a cache hit never goes
    * stale; the cap just bounds memory for long-lived processes touching
    * many tables. */
  private[lake] def loadChunk(p: Path, io: MetaIO = LocalMetaIO): Seq[DataFile] = {
    val key = p.toAbsolutePath.toString
    val hit = chunkCache.get(key)
    if (hit != null) return hit
    // racing loaders are idempotent — last put wins, both correct
    val loaded = Snapshot.chunkFromJson(io.readString(p)).files
    chunkCache.put(key, loaded)
    loaded
  }

  /** Load `refs`' chunks in parallel (cache-backed), preserving ref order
    * — the unit of metadata parallelism for both full materialization and
    * the bounds-pruned scan path. */
  private[lake] def loadChunks(tableDir: Path, refs: Seq[ManifestRef],
      io: MetaIO = LocalMetaIO): Seq[DataFile] =
    if (refs.isEmpty) Seq.empty
    else MetaPool.mapAll(refs, s"manifest chunk load for $tableDir")(r =>
      loadChunk(tableDir.resolve(r.path), io)).flatten
}

/** `Snapshot.files` of a READ sharded snapshot: materializes the chunk
  * list on first element access and memoizes it. Pure metadata reads
  * (counts, sizes) and bounds-pruned scans never touch it, so holding a
  * table handle costs O(refs), not O(files). Java-serializes as the
  * materialized Vector (forced on demand) so a captured snapshot behaves
  * like the eager seq it replaces. */
private[lake] final class LazyFileSeq(
    tableDirStr: String, refs: Seq[ManifestRef], io: MetaIO)
  extends scala.collection.immutable.Seq[DataFile] with Serializable {

  @transient private lazy val underlying: Seq[DataFile] =
    SnapshotStore.loadChunks(Paths.get(tableDirStr), refs, io)

  override def apply(i: Int): DataFile = underlying(i)
  override def length: Int = underlying.length
  override def iterator: Iterator[DataFile] = underlying.iterator
  // knownSize must not force; -1 = unknown (Seq's default contract)
  override def knownSize: Int = -1

  protected def writeReplace(): Object = underlying.toVector
}
