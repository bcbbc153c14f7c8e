package graft.lake

import java.nio.file.{FileAlreadyExistsException, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.types._

/** The storage seam is a real boundary: an entirely in-memory MetaIO can
  * carry the snapshot-store commit protocol (exclusive create as the race
  * arbiter, atomic replace for the hint, list/read for resolution) with
  * zero filesystem traffic — the shape an object-store backend takes. */
class MetaIOSpec extends AnyFunSuite {

  /** Map-backed MetaIO mimicking an object store: a flat key space, no
    * real directories, conditional-PUT semantics for createExclusive. */
  final class InMemoryMetaIO extends MetaIO {
    val objects = new java.util.concurrent.ConcurrentHashMap[String, String]()
    private def key(p: Path) = p.toAbsolutePath.toString

    override def readString(p: Path): String = {
      val v = objects.get(key(p))
      if (v == null) throw new java.nio.file.NoSuchFileException(key(p))
      v
    }
    override def createExclusive(p: Path, content: String): Unit =
      if (objects.putIfAbsent(key(p), content) != null)
        throw new FileAlreadyExistsException(key(p))
    override def replaceAtomic(p: Path, content: String): Unit =
      objects.put(key(p), content)
    override def write(p: Path, content: String): Unit =
      createExclusive(p, content)
    override def writeBytes(p: Path, bytes: Array[Byte]): Unit =
      createExclusive(p, java.util.Base64.getEncoder.encodeToString(bytes))
    override def publish(src: Path, dst: Path): Unit = {
      val v = objects.remove(key(src))
      require(v != null, s"no staged object at $src")
      objects.put(key(dst), v)
    }
    /** Calls of `list` from outside this backend. */
    val lists = new java.util.concurrent.atomic.AtomicLong()
    override def list(dir: Path): Seq[Path] = {
      lists.incrementAndGet()
      children(dir)
    }
    private def children(dir: Path): Seq[Path] = {
      // one entry per immediate child — synthesizing "directory" entries
      // for deeper keys, like an S3 delimiter listing's CommonPrefixes
      val prefix = key(dir) + "/"
      import scala.jdk.CollectionConverters._
      objects.keySet().asScala.toSeq
        .filter(_.startsWith(prefix))
        .map(k => prefix + k.stripPrefix(prefix).split('/').head)
        .distinct
        .map(Paths.get(_))
    }
    override def listTree(root: Path): Seq[Path] = {
      val prefix = key(root) + "/"
      import scala.jdk.CollectionConverters._
      objects.keySet().asScala.toSeq.filter(_.startsWith(prefix))
        .map(Paths.get(_))
    }
    // a key-value store has no directories: directory-ness is "any key
    // under the prefix", which is exactly how S3 listings behave
    override def isDirectory(p: Path): Boolean = children(p).nonEmpty ||
      listTree(p).nonEmpty
    override def isFile(p: Path): Boolean = objects.containsKey(key(p))
    override def exists(p: Path): Boolean = isFile(p) || isDirectory(p)
    override def mkdirs(p: Path): Unit = ()
    override def size(p: Path): Long = readString(p).length.toLong
    override def delete(p: Path): Boolean = objects.remove(key(p)) != null
    override def deleteTree(root: Path): Unit = {
      val prefix = key(root) + "/"
      import scala.jdk.CollectionConverters._
      objects.keySet().asScala.toSeq
        .filter(k => k.startsWith(prefix) || k == key(root))
        .foreach(objects.remove)
    }
  }

  private val schema = StructType(Seq(StructField("id", IntegerType)))

  private def snap(files: Seq[DataFile]) = Snapshot(
    version = 0L, parentVersion = None, timestampMs = 0L,
    operation = "append", schemaJson = schema.json,
    partitionSpec = Seq.empty, properties = Map.empty,
    files = files, summary = Map.empty)

  test("commit protocol, tags, branches and drop run on a pure KV backend") {
    val io = new InMemoryMetaIO
    val store = new SnapshotStore(Paths.get("/mem/tbl"), io = io)
    store.init()
    assert(store.head().isEmpty)

    val v1 = store.commit(_ => snap(Seq(
      DataFile("data/a.parquet", 10, 100, Map.empty, Map.empty,
        seq = Snapshot.UnassignedSeq))))
    assert(v1.version == 1L && v1.files.head.seq == 1L)
    val v2 = store.commit(prev => snap(prev.get.files :+
      DataFile("data/b.parquet", 5, 50, Map.empty, Map.empty,
        seq = Snapshot.UnassignedSeq)))
    assert(v2.version == 2L && store.head().get.files.size == 2)
    assert(store.listVersions() == Seq(1L, 2L))
    assert(store.read(1L).files.size == 1)

    // tags
    store.setRef("golden", 1L)
    assert(store.refs() == Map("golden" -> 1L))

    // branches share the backend
    store.branchStore("wap").seed(v2)
    val bst = store.branchStore("wap")
    assert(bst.head().get.version == 2L)
    assert(store.listBranches() == Seq("wap"))

    // the exclusive create arbitrates races (conditional-PUT semantics):
    // a second committer sneaking in between head() and the version link
    // loses the race and, with retries exhausted, fails loudly
    val rival = new SnapshotStore(Paths.get("/mem/tbl"), io = io)
    var raced = false
    val e = intercept[IllegalStateException] {
      store.commit({ prev =>
        if (!raced) { raced = true; rival.commit(p => snap(p.get.files)) }
        snap(prev.get.files)
      }, maxRetries = 0)
    }
    assert(e.getMessage.contains("lost"), e.getMessage)
    assert(store.head().get.version == 3L) // the rival's commit stands

    // nothing above touched the real filesystem
    assert(!java.nio.file.Files.exists(Paths.get("/mem")))
    store.drop()
    assert(io.objects.isEmpty, s"drop left objects: ${io.objects.keySet()}")
  }

  test("one commit splits past the chunk size; appends re-point all its chunks") {
    val io = new InMemoryMetaIO
    val store = new SnapshotStore(Paths.get("/mem/big"), io = io)
    store.init()
    def mkFiles(n: Int, tag: String): Seq[DataFile] =
      (0 until n).map(i => DataFile(s"data/$tag-$i.parquet", 1L, 10L,
        Map.empty, Map.empty, seq = Snapshot.UnassignedSeq))
    // one commit adds 2.5 chunk-sizes of files → 3 chunks for seq 1
    val n1 = SnapshotStore.ManifestChunkFiles * 5 / 2
    val v1 = store.commit(_ => snap(mkFiles(n1, "a")))
    assert(v1.manifests.size == 3, v1.manifests.map(_.fileCount))
    assert(v1.manifests.map(_.fileCount).sum == n1)
    // reassembly preserves count AND order (chunk refs are ordered)
    val readBack = store.read(1L)
    assert(readBack.files.size == n1)
    assert(readBack.files.map(_.path) == v1.files.map(_.path),
      "chunked reassembly reordered the file list")
    // an append re-points ALL of seq 1's chunks and writes only seq 2's
    val v2 = store.commit(prev => snap(prev.get.files ++ mkFiles(100, "b")))
    assert(v2.manifests.size == 4)
    assert(v2.manifests.take(3).map(_.path) == v1.manifests.map(_.path),
      "append rewrote the parent's chunks")
    assert(store.read(2L).files.size == n1 + 100)
  }

  private def appendOne(store: SnapshotStore, name: String): Snapshot =
    store.commit(prev => snap(prev.map(_.files).getOrElse(Seq.empty) :+
      DataFile(s"data/$name.parquet", 1, 10, Map.empty, Map.empty,
        seq = Snapshot.UnassignedSeq)))

  private val hint = Paths.get("/mem/h/metadata/version-hint.text")

  test("head() on a table whose hint is valid issues no list") {
    val io = new InMemoryMetaIO
    val store = new SnapshotStore(Paths.get("/mem/h"), io = io)
    store.init()
    (1 to 5).foreach(i => appendOne(store, s"f$i"))
    io.lists.set(0)
    assert(store.head().map(_.version).contains(5L))
    assert(store.head().get.files.size == 5)
    assert(io.lists.get() == 0L, s"${io.lists.get()} list calls")
  }

  test("a stale hint is probed forward; a garbage or dangling hint resolves by listing") {
    val io = new InMemoryMetaIO
    val store = new SnapshotStore(Paths.get("/mem/h"), io = io)
    store.init()
    (1 to 3).foreach(i => appendOne(store, s"f$i"))
    // stale: commits landed past the hint (crash between the two steps)
    io.replaceAtomic(hint, "1")
    io.lists.set(0)
    assert(store.currentVersion().contains(3L))
    assert(io.lists.get() == 0L, "a stale hint is probed forward, not listed")
    // garbage, a hint naming a missing version, and no hint at all: listed
    for (bad <- Seq("not-a-version", "", "7", "-1")) {
      io.replaceAtomic(hint, bad)
      io.lists.set(0)
      assert(store.currentVersion().contains(3L), s"hint '$bad'")
      assert(store.head().get.files.size == 3, s"hint '$bad'")
      assert(io.lists.get() > 0L, s"hint '$bad' resolved without a listing")
    }
    io.delete(hint)
    assert(store.currentVersion().contains(3L))
    // the next commit continues the chain and repairs the hint
    assert(appendOne(store, "f4").version == 4L)
    assert(io.readString(hint) == "4")
  }

  test("a commit through another store instance is seen by the next head()") {
    val io = new InMemoryMetaIO
    val store = new SnapshotStore(Paths.get("/mem/h"), io = io)
    store.init()
    appendOne(store, "a")
    assert(store.head().get.files.map(_.path) == Seq("data/a.parquet"))
    // a second store on a second backend instance over the same objects
    // (another process, as far as the first store can tell)
    val otherIo = new InMemoryMetaIO
    otherIo.objects.putAll(io.objects)
    val other = new SnapshotStore(Paths.get("/mem/h"), io = otherIo)
    appendOne(other, "b")
    io.objects.putAll(otherIo.objects)
    val h = store.head().get
    assert(h.version == 2L)
    assert(h.files.map(_.path) == Seq("data/a.parquet", "data/b.parquet"))
  }

  test("a table re-created at one path never returns the dropped table's snapshot") {
    val io = new InMemoryMetaIO
    val store = new SnapshotStore(Paths.get("/mem/h"), io = io)
    store.init()
    appendOne(store, "old1")
    appendOne(store, "old2")
    assert(store.head().get.files.size == 2)
    // another process drops the table and re-creates it with the same
    // version numbers; nothing in this process parses the new chain
    store.drop()
    def file(name: String) =
      DataFile(s"data/$name.parquet", 1, 10, Map.empty, Map.empty, seq = 1L)
    io.createExclusive(Paths.get("/mem/h/metadata/v1.json"),
      Snapshot.toJson(snap(Seq(file("new1"))).copy(version = 1L)))
    io.createExclusive(Paths.get("/mem/h/metadata/v2.json"),
      Snapshot.toJson(snap(Seq(file("new1"), file("new2")))
        .copy(version = 2L, parentVersion = Some(1L))))
    io.replaceAtomic(hint, "2")
    assert(store.head().get.files.map(_.path) ==
      Seq("data/new1.parquet", "data/new2.parquet"))
    assert(store.read(1L).files.map(_.path) == Seq("data/new1.parquet"))
  }
}
