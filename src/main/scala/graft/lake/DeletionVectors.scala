package graft.lake

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.file.Path
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deletion vectors: N stacked position-delete tuple files consolidated
  * into ONE blob holding a compact bitmap of deleted positions PER DATA
  * FILE (Iceberg v3's deletion-vector design; roaring-style containers).
  *
  * Why this exists at scale: every MOR DELETE appends a tuple parquet
  * file, so K stacked deletes make every subsequent read open K files
  * and re-shuffle their union. `rewrite_delete_vectors` folds the
  * backlog into one structure with O(1) read work per data file — an
  * index lookup plus one ranged read for exactly this file's bitmap —
  * WITHOUT rewriting any data file (that heavier fold stays
  * `rewrite_deletes`).
  *
  * Blob layout (single file `data/<uuid>-dv.bin`):
  * {{{
  *   "GDV1"                      magic
  *   int32  numFiles
  *   per file (index section, sorted by name):
  *     int16  nameLen, UTF-8 name bytes (data file NAME, not path)
  *     int64  cardinality
  *     int64  payloadOffset     absolute within blob
  *     int32  payloadLength
  *   payload section: roaring-lite bitmap per file:
  *     int32  numContainers
  *     per container: int32 high (pos >>> 16), int8 kind, int32 card,
  *       kind 0 (array): card × int16 low bits, ascending
  *       kind 1 (bitmap): 8192 bytes, bit i = low 16 bits == i
  * }}}
  *
  * The index is read driver-side in one small read (O(files-with-
  * deletes)); payloads are read with exact (offset, length) ranges by
  * each reader of the table scan (its own file's slice only), and
  * distributed for CDC and consolidation. Containers switch array→bitmap
  * at 4096 entries, the roaring break-even.
  */
object DeletionVectors {

  val Kind = "dv"
  private val Magic = Array[Byte]('G', 'D', 'V', '1')

  /** One data file's entry in a vector blob's index. */
  final case class DvEntry(name: String, cardinality: Long,
      offset: Long, length: Int)

  // ---------- encoding ----------

  /** Encode SORTED ascending positions (duplicates tolerated) streamed
    * from an iterator — task memory is one 64 Ki-position container at a
    * time plus the compressed output, never the position array itself (a
    * fully-deleted billion-row file would otherwise hold 8 GB in one
    * task). Returns (cardinality, payload). */
  private[graft] def encodeSorted(sorted: Iterator[Long]): (Long, Array[Byte]) = {
    val containers = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var card = 0L
    var curHigh = -1
    var lows = new scala.collection.mutable.ArrayBuffer[Int](64)
    def flush(): Unit = if (curHigh >= 0 && lows.nonEmpty) {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(curHigh)
      if (lows.length < 4096) {
        out.writeByte(0)
        out.writeInt(lows.length)
        lows.foreach(out.writeShort)
      } else {
        out.writeByte(1)
        out.writeInt(lows.length)
        val bits = new Array[Byte](8192)
        lows.foreach(l => bits(l >>> 3) = (bits(l >>> 3) | (1 << (l & 7))).toByte)
        out.write(bits)
      }
      out.flush()
      containers += bos.toByteArray
      lows = new scala.collection.mutable.ArrayBuffer[Int](64)
    }
    var prev = -1L
    sorted.foreach { p =>
      if (p != prev) { // dedup on the sorted stream
        prev = p
        card += 1
        val high = (p >>> 16).toInt
        if (high != curHigh) { flush(); curHigh = high }
        lows += (p & 0xFFFF).toInt
      }
    }
    flush()
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(containers.length)
    containers.foreach(out.write)
    out.flush()
    (card, bos.toByteArray)
  }

  /** Array form of [[encodeSorted]] (tests, small inputs). */
  private[graft] def encodeBitmap(sorted: Array[Long]): Array[Byte] =
    encodeSorted(sorted.iterator)._2

  /** Decode one file's payload back to sorted ascending positions. */
  private[graft] def decodeBitmap(bytes: Array[Byte]): Array[Long] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val nContainers = in.readInt()
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    var c = 0
    while (c < nContainers) {
      val high = in.readInt()
      val kind = in.readByte()
      val card = in.readInt()
      val base = high.toLong << 16
      if (kind == 0) {
        var k = 0
        while (k < card) { buf += base | (in.readShort() & 0xFFFF); k += 1 }
      } else {
        val bits = new Array[Byte](8192)
        in.readFully(bits)
        var l = 0
        while (l < 65536) {
          if ((bits(l >>> 3) & (1 << (l & 7))) != 0) buf += base | l
          l += 1
        }
      }
      c += 1
    }
    buf.toArray
  }

  // ---------- blob write ----------

  /** Assemble and publish a vector blob from per-file encoded bitmaps.
    * Returns the DeleteFile entry (seq left unassigned for the commit to
    * stamp). Caller supplies (name, cardinality, payload) already encoded
    * — encoding happens distributed, assembly is a driver stream whose
    * memory is O(compressed bitmap bytes), never O(deleted rows). */
  def writeBlob(store: SnapshotStore,
      perFile: Seq[(String, Long, Array[Byte])]): DeleteFile = {
    val sorted = perFile.sortBy(_._1)
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.write(Magic)
    out.writeInt(sorted.length)
    // index size must be known to lay out offsets: name bytes + fixed 22
    val nameBytes = sorted.map(_._1.getBytes("UTF-8"))
    var offset = 4L + 4L +
      nameBytes.map(_.length + 2 + 8 + 8 + 4).map(_.toLong).sum
    sorted.zip(nameBytes).foreach { case ((_, card, payload), nb) =>
      out.writeShort(nb.length)
      out.write(nb)
      out.writeLong(card)
      out.writeLong(offset)
      out.writeInt(payload.length)
      offset += payload.length
    }
    sorted.foreach { case (_, _, payload) => out.write(payload) }
    out.flush()
    val bytes = bos.toByteArray
    val name = s"${UUID.randomUUID()}-dv.bin"
    val target = store.dataDir.resolve(name)
    val staging = store.tableDir.resolve(s".staging-dv-${UUID.randomUUID()}")
    store.io.mkdirs(staging)
    val tmp = staging.resolve(name)
    try {
      store.io.writeBytes(tmp, bytes)
      store.io.publish(tmp, target)
    } finally store.io.deleteTree(staging)
    DeleteFile(s"data/$name", sorted.map(_._2).sum, bytes.length.toLong,
      kind = Kind, seq = Snapshot.UnassignedSeq)
  }

  // ---------- blob read ----------

  /** Index of a vector blob — one bounded read, O(files-with-deletes). */
  def readIndex(store: SnapshotStore, d: DeleteFile): Seq[DvEntry] =
    readIndex(store.tableDir.resolve(d.path))

  // blob reads go through Hadoop's FileSystem (no java.nio local-FS
  // assumption), with the JVM-cached session conf so `spark.hadoop.*`
  // settings reach them like they reach parquet scans — and so the hot
  // per-slice path never re-parses Hadoop's XML defaults. Blob WRITES go
  // through the MetaIO seam, so an alternate backend intercepts them.
  private def openBlob(blobPath: String): org.apache.hadoop.fs.FSDataInputStream = {
    val hp = new org.apache.hadoop.fs.Path(blobPath)
    hp.getFileSystem(LakeIOConf.conf).open(hp)
  }

  def readIndex(p: Path): Seq[DvEntry] = {
    val in = openBlob(p.toString)
    try {
      val magic = new Array[Byte](4)
      in.readFully(magic)
      require(magic.sameElements(Magic), s"not a deletion-vector blob: $p")
      val n = in.readInt()
      (0 until n).map { _ =>
        val nameLen = in.readShort() & 0xFFFF
        val nb = new Array[Byte](nameLen)
        in.readFully(nb)
        DvEntry(new String(nb, "UTF-8"), in.readLong(), in.readLong(),
          in.readInt())
      }
    } finally in.close()
  }

  /** One file's positions via an exact ranged read of its payload. */
  def readPositions(blobPath: String, offset: Long, length: Int): Array[Long] =
    decodeBitmap(readPayload(blobPath, offset, length))

  /** One file's RAW payload slice — for byte-for-byte copies into a new
    * blob (see [[PositionDeletes.retain]]), which must never pay a
    * decode/re-encode of bitmaps they don't modify. */
  def readPayload(blobPath: String, offset: Long, length: Int): Array[Byte] = {
    val in = openBlob(blobPath)
    try {
      val buf = new Array[Byte](length)
      in.readFully(offset, buf) // positioned read: one ranged request
      buf
    } finally in.close()
  }

  /** All (data file name → sorted positions) pairs of `dvs`, decoded
    * DISTRIBUTED as a `(NameCol, RowPosCol)` frame — the delete side of
    * CDC and consolidation. Each task ranged-reads only its own payload
    * slice. */
  def tupleFrame(spark: SparkSession, store: SnapshotStore,
      dvs: Seq[DeleteFile]): DataFrame = {
    import spark.implicits._
    val slices: Seq[(String, String, Long, Int)] = dvs.flatMap { d =>
      val blob = store.tableDir.resolve(d.path).toString
      readIndex(store, d).map(e => (blob, e.name, e.offset, e.length))
    }
    spark.createDataset(slices)
      .flatMap { case (blob, name, off, len) =>
        readPositions(blob, off, len).map(p => (name, p))
      }
      .toDF(PositionDeletes.NameCol, PositionDeletes.RowPosCol)
  }

  // ---------- consolidation ----------

  /** Fold a snapshot's pending position deletes (tuple parquet files AND
    * previous vector blobs) into ONE new vector blob. Bitmap encoding
    * runs distributed (groupByKey per data file); the driver only
    * streams encoded bytes into the blob. Equality deletes are untouched
    * — they are key- not position-shaped; `rewrite_deletes` folds those.
    * Returns None when there is nothing to consolidate. */
  def consolidate(spark: SparkSession, store: SnapshotStore,
      deleteFiles: Seq[DeleteFile]): Option[DeleteFile] = {
    import spark.implicits._
    val tuplesPos = deleteFiles.filter(_.kind == "position")
    val dvs = deleteFiles.filter(_.kind == Kind)
    if (tuplesPos.isEmpty && dvs.isEmpty) return None
    var df: DataFrame = null
    if (tuplesPos.nonEmpty) {
      df = PositionDeletes.readTuples(spark, store, tuplesPos)
        .select(
          element_at(split(col(PositionDeletes.FilePathCol), "/"), -1)
            .as(PositionDeletes.NameCol),
          col(PositionDeletes.PosCol).as(PositionDeletes.RowPosCol))
    }
    if (dvs.nonEmpty) {
      val dvDf = tupleFrame(spark, store, dvs)
      df = if (df == null) dvDf else df.unionByName(dvDf)
    }
    // sorted-group streaming: Spark feeds each file's positions in order
    // (secondary sort inside the shuffle), so the encoder never holds the
    // position array — one container window per task, O(bitmap) output
    val perFile = df
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col(PositionDeletes.RowPosCol).asc) { (name, it) =>
        val (card, payload) = encodeSorted(it.map(_._2))
        Iterator.single((name, card, payload))
      }
      .collect()
      .toSeq
    if (perFile.isEmpty) None
    else Some(writeBlob(store, perFile))
  }
}
