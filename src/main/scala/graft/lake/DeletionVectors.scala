package graft.lake

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deletion vectors, the one position-delete form: the deleted row
  * positions of one data file as a compact bitmap (Iceberg v3's
  * deletion-vector design; roaring-style containers). A table keeps at
  * most one vector per data file, recorded in the snapshot as its own
  * [[DeleteFile]] entry (referenced data file, offset, length,
  * cardinality), so a reader's delete work is O(1) per data file: one
  * lookup in the snapshot and one ranged read of its own slice. A
  * merge-on-read DELETE ([[write]]) reads the live vector of each file it
  * hits, ORs in the new positions and publishes one blob per commit.
  *
  * Blob layout (single file `data/<uuid>-dv.bin`; the snapshot entries are
  * its only index):
  * {{{
  *   "GDV2"                      magic
  *   per data file, at the entry's contentOffset, sizeBytes long:
  *     int32  numContainers
  *     per container: int32 high (pos >>> 16), int8 kind, int32 card,
  *       kind 0 (array): card × int16 low bits, ascending
  *       kind 1 (bitmap): 8192 bytes, bit i = low 16 bits == i
  * }}}
  *
  * Containers switch array→bitmap at 4096 entries, the roaring break-even.
  */
object DeletionVectors {

  val Kind = "dv"
  private val Magic = Array[Byte]('G', 'D', 'V', '2')

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

  // ---------- write ----------

  /** The vectors of a merge-on-read DELETE. `hits` holds `(_file, _pos)`
    * of the rows it deletes from `files` (live rows only, so they are
    * disjoint from the deleted positions already recorded); `live` is the
    * snapshot's vectors by data-file path ([[PositionDeletes.vectors]]).
    * Each hit file's new positions and its old vector are merged and
    * encoded distributed (groupByKey per data file, positions sorted in
    * the shuffle); the driver only streams the encoded bitmaps into one
    * blob. Returns one entry per hit file, each replacing that file's entry
    * in `live`; empty when nothing was hit. */
  def write(spark: SparkSession, store: SnapshotStore, files: Seq[DataFile],
      hits: DataFrame, live: Map[String, DeleteFile]): Seq[DeleteFile] = {
    import spark.implicits._
    def abs(p: String) = store.tableDir.resolve(p).toString
    val relPath = files.map(f => abs(f.path) -> f.path).toMap
    val oldSlices: Map[String, (String, Long, Int)] = files.flatMap(f =>
      live.get(f.path).map(d => abs(f.path) ->
        (abs(d.path), d.contentOffset, d.sizeBytes.toInt))).toMap
    val perFile = hits
      .select(col(GraftTable.FileCol).as("f"), col(GraftTable.PosCol).as("p"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("p").asc) { (file, it) =>
        val fresh = it.map(_._2)
        val all = oldSlices.get(file) match {
          case None => fresh
          case Some((blob, off, len)) =>
            mergeSorted(readPositions(blob, off, len).iterator.buffered, fresh.buffered)
        }
        val (card, payload) = encodeSorted(all)
        Iterator.single((file, card, payload))
      }
      .collect()
      .toSeq
    if (perFile.isEmpty) Seq.empty
    else writeBlob(store, perFile.map { case (f, card, payload) =>
      (relPath(f), card, payload) })
  }

  private def mergeSorted(a: BufferedIterator[Long],
      b: BufferedIterator[Long]): Iterator[Long] = new Iterator[Long] {
    def hasNext: Boolean = a.hasNext || b.hasNext
    def next(): Long =
      if (!b.hasNext || (a.hasNext && a.head <= b.head)) a.next() else b.next()
  }

  /** Publish one blob from `(data-file path, cardinality, payload)` per
    * file through the [[MetaIO]] seam, returning one entry per file (seq
    * left unassigned for the commit to stamp). Assembly is a driver
    * stream whose memory is O(compressed bitmap bytes), never O(deleted
    * rows). */
  private def writeBlob(store: SnapshotStore,
      perFile: Seq[(String, Long, Array[Byte])]): Seq[DeleteFile] = {
    val name = s"${UUID.randomUUID()}-dv.bin"
    val bos = new ByteArrayOutputStream()
    bos.write(Magic)
    val entries = perFile.sortBy(_._1).map { case (dataFile, card, payload) =>
      val offset = bos.size().toLong
      bos.write(payload)
      DeleteFile(s"data/$name", card, payload.length.toLong, kind = Kind,
        seq = Snapshot.UnassignedSeq, referencedDataFile = Some(dataFile),
        contentOffset = offset)
    }
    val staging = store.tableDir.resolve(s".staging-dv-${UUID.randomUUID()}")
    store.io.mkdirs(staging)
    val tmp = staging.resolve(name)
    try {
      store.io.writeBytes(tmp, bos.toByteArray)
      store.io.publish(tmp, store.dataDir.resolve(name))
    } finally store.io.deleteTree(staging)
    entries
  }

  // ---------- read ----------

  /** One file's positions, sorted: an exact ranged read of its slice.
    * Blob reads go through Hadoop's FileSystem (no java.nio local-FS
    * assumption), with the JVM-cached session conf so `spark.hadoop.*`
    * settings reach them like they reach parquet scans. */
  def readPositions(blobPath: String, offset: Long, length: Int): Array[Long] = {
    val hp = new org.apache.hadoop.fs.Path(blobPath)
    val in = hp.getFileSystem(LakeIOConf.conf).open(hp)
    val buf = new Array[Byte](length)
    try in.readFully(offset, buf) // positioned read: one ranged request
    finally in.close()
    decodeBitmap(buf)
  }

  /** The positions each vector of `changed` holds beyond the entry it
    * replaced for the same data file (None: all of them), decoded
    * DISTRIBUTED as a `(NameCol, RowPosCol)` frame — the delete side of
    * CDC. Each task ranged-reads only its own two slices. */
  def addedPositions(spark: SparkSession, store: SnapshotStore,
      changed: Seq[(DeleteFile, Option[DeleteFile])]): DataFrame = {
    import spark.implicits._
    def slice(d: DeleteFile) =
      (store.tableDir.resolve(d.path).toString, d.contentOffset, d.sizeBytes.toInt)
    val slices = changed.map { case (d, before) =>
      (PositionDeletes.fileName(d.referencedDataFile.get), slice(d), before.map(slice))
    }
    spark.createDataset(slices)
      .flatMap { case (name, (blob, off, len), before) =>
        val old = before.fold(Array.emptyLongArray) { case (b, o, l) =>
          readPositions(b, o, l) }
        readPositions(blob, off, len).iterator
          .filter(p => java.util.Arrays.binarySearch(old, p) < 0)
          .map(p => (name, p))
      }
      .toDF(PositionDeletes.NameCol, PositionDeletes.RowPosCol)
  }
}
