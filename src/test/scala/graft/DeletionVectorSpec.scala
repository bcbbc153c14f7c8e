package graft

import java.nio.file.{Files, Paths}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.lake._

/** Deletion vectors, the one position-delete form: each MOR DELETE ORs
  * its positions into the vector of every data file it hits, so a table
  * keeps at most one vector per data file, each its own snapshot entry.
  * Reads through the SELECT path and the COW rewrite reader stay exact,
  * with no data file rewritten. */
class DeletionVectorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private def forAllSeeded[A](gen: Gen[A], cases: Int)(body: A => Unit): Unit =
    (0 until cases).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(7042L + i)).foreach(body)
    }

  private val wh = Files.createTempDirectory("graft-dv-wh").toString

  private lazy val spark = {
    val s = SparkSpec.session
    s.conf.set("spark.sql.catalog.dv", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.dv.warehouse", wh)
    s
  }

  private def sql(q: String) = spark.sql(q)
  private def store(t: String) = new SnapshotStore(Paths.get(wh, "d", t))

  override def beforeAll(): Unit = {
    sql("CREATE NAMESPACE IF NOT EXISTS dv.d")
  }

  test("bitmap encode/decode roundtrip (sparse + dense containers)") {
    val posGen = Gen.oneOf(
      // sparse: arbitrary longs within files of ~1e9 rows
      Gen.listOf(Gen.chooseNum(0L, 1000000000L)),
      // dense: >4096 in one 65536-container forces the bitset form
      Gen.chooseNum(0, 60000).map(off =>
        (off until (off + 5000)).map(_.toLong).toList))
    forAllSeeded(posGen, cases = 40) { ps =>
      val sorted = ps.distinct.sorted.toArray
      val decoded = DeletionVectors.decodeBitmap(
        DeletionVectors.encodeBitmap(sorted))
      assert(decoded.toSeq == sorted.toSeq)
    }
  }

  /** Data-file path → its vector, asserting one vector per data file. */
  private def vectorsOf(snap: Snapshot): Map[String, DeleteFile] = {
    val dvs = snap.deleteFiles.filter(_.kind == "dv")
    val refs = dvs.map(_.referencedDataFile.get)
    assert(refs.distinct.size == refs.size, s"two vectors for one file: $dvs")
    refs.zip(dvs).toMap
  }

  test("N stacked deletes fold into one vector; reads stay exact") {
    sql("""CREATE TABLE dv.d.t (id INT, v INT) USING iceberg
           TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    // range(start, end, step, 1) → one partition → one data file per insert
    sql("INSERT INTO dv.d.t SELECT id, id FROM range(0, 10000, 1, 1)")
    sql("INSERT INTO dv.d.t SELECT id, id FROM range(10000, 20000, 1, 1)")
    val st = store("t")
    val files = st.head().get.files
    // 5 stacked RANGE deletes on the first file (translatable
    // conjunctions → positions; equality shapes take the equality path)
    (0 until 5).foreach { k =>
      sql(s"DELETE FROM dv.d.t WHERE id >= ${k * 1000} AND id < ${k * 1000 + 100}")
    }
    val after = st.head().get
    val vectors = vectorsOf(after)
    assert(after.deleteFiles.map(_.kind) == Seq("dv"),
      s"want exactly one vector, got ${after.deleteFiles}")
    val first = files.find(_.stats("id").min.contains("0")).get
    assert(vectors.keySet == Set(first.path))
    assert(vectors(first.path).rowCount == 500L)
    // no data file rewritten — same data files as before
    assert(after.files.map(_.path).sorted == files.map(_.path).sorted)
    val expected = (0 until 20000).filterNot(i => i < 5000 && i % 1000 < 100)
    assert(after.totalRows == expected.size.toLong)
    assert(sql("SELECT count(*) FROM dv.d.t").collect().head.getLong(0) ==
      expected.size.toLong)
    val got = sql("SELECT id FROM dv.d.t ORDER BY id")
      .collect().map(_.getInt(0)).toSeq
    assert(got == expected, "vector read diverges")
  }

  test("new deletes stack on top of a vector and re-consolidate") {
    // ids 5000..5099 live in the first file, which already has a vector
    val st = store("t")
    val before = vectorsOf(st.head().get).values.head
    sql("DELETE FROM dv.d.t WHERE id >= 5000 AND id < 5100")
    val after = st.head().get
    assert(after.deleteFiles.map(_.kind) == Seq("dv"), s"got ${after.deleteFiles}")
    val dv = after.deleteFiles.head
    assert(dv.referencedDataFile == before.referencedDataFile)
    assert(dv.path != before.path, "the union is written to a new blob")
    assert(dv.rowCount == 600L)
    assert(after.summary("added-position-deletes") == "100")
    val expected = (0 until 20000)
      .filterNot(i => i < 6000 && i % 1000 < 100)
    assert(sql("SELECT count(*) FROM dv.d.t").collect().head.getLong(0) ==
      expected.size.toLong)
    assert(sql("SELECT id FROM dv.d.t ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == expected)
  }

  test("two DELETEs on one file leave one entry holding the union") {
    sql("""CREATE TABLE dv.d.union (id INT) USING iceberg
           TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    sql("INSERT INTO dv.d.union SELECT id FROM range(0, 100, 1, 1)")
    sql("DELETE FROM dv.d.union WHERE id >= 10 AND id < 20")
    sql("DELETE FROM dv.d.union WHERE id >= 50 AND id < 55")
    val st = store("union")
    val snap = st.head().get
    val dv = vectorsOf(snap).values.toSeq
    assert(dv.size == 1 && snap.deleteFiles.size == 1, s"got ${snap.deleteFiles}")
    val positions = DeletionVectors.readPositions(
      st.tableDir.resolve(dv.head.path).toString, dv.head.contentOffset,
      dv.head.sizeBytes.toInt)
    assert(positions.toSeq == (10L until 20L) ++ (50L until 55L))
    assert(dv.head.rowCount == 15L && snap.totalRows == 85L)
  }

  test("COW UPDATE reads through the vector on both driver-cap paths") {
    // one path since the driver tuple cap is gone: readers always load
    // their own vector slices
    val live = sql("SELECT count(*) FROM dv.d.t").collect().head.getLong(0)
    // ids 500..509 are alive; 1000..1009 are vector-deleted — the COW
    // rewrite must update the former and NOT resurrect the latter
    sql("UPDATE dv.d.t SET v = -1 WHERE id BETWEEN 500 AND 509")
    val updated = sql("SELECT count(*) FROM dv.d.t WHERE v = -1")
      .collect().head.getLong(0)
    assert(updated == 10L, s"updated $updated rows, want 10")
    assert(sql("SELECT count(*) FROM dv.d.t WHERE id BETWEEN 1000 AND 1009")
      .collect().head.getLong(0) == 0L, "resurrected rows")
    assert(sql("SELECT count(*) FROM dv.d.t").collect().head.getLong(0)
      == live, "row count drifted")
    sql("UPDATE dv.d.t SET v = id WHERE v = -1") // restore
  }

  test("COW rewrite keeps a partially-surviving vector in blob form") {
    sql("""CREATE TABLE dv.d.ret (id INT, v INT) USING iceberg
           TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    // range(start, end, step, 1) → one partition → exactly one data file
    // per insert; one DELETE hits both, so one blob holds both vectors
    sql("INSERT INTO dv.d.ret SELECT id, id FROM range(0, 10000, 1, 1)")
    sql("INSERT INTO dv.d.ret SELECT id, id FROM range(10000, 20000, 1, 1)")
    sql("DELETE FROM dv.d.ret WHERE (id >= 0 AND id < 100) OR (id >= 10000 AND id < 10100)")
    val st = store("ret")
    val dv0 = st.head().get.deleteFiles
    assert(dv0.map(_.kind) == Seq("dv", "dv") && dv0.map(_.path).distinct.size == 1,
      s"setup: one blob should hold both files' vectors: $dv0")
    // COW rewrite narrowed to file 2 (runtime group filtering): file 2's
    // entry goes with it, file 1's entry rides through unchanged
    sql("UPDATE dv.d.ret SET v = -1 WHERE id = 15000")
    val after = st.head().get
    val kept = dv0.filter(d => after.files.exists(f => d.referencedDataFile.contains(f.path)))
    assert(kept.size == 1, s"file 2's vector must go with it: $after")
    assert(after.deleteFiles == kept,
      s"retain rewrote the surviving vector: ${after.deleteFiles}")
    assert(Files.exists(st.tableDir.resolve(kept.head.path)), "shared blob lost")
    assert(after.deleteFiles.head.rowCount == 100L)
    val expected = (0 until 20000).filterNot(i => i < 100 ||
      (i >= 10000 && i < 10100))
    assert(sql("SELECT count(*) FROM dv.d.ret").collect().head.getLong(0)
      == expected.size.toLong)
    assert(sql("SELECT sum(v) FROM dv.d.ret").collect().head.getLong(0)
      == expected.map(i => if (i == 15000) -1L else i.toLong).sum)

    // retain with every vectored file surviving is an identity...
    assert(PositionDeletes.retain(after.deleteFiles, after.files, Seq.empty)
      == after.deleteFiles)
    // ...and with no vectored file surviving the vector is dropped
    val (vectored, unvectored) = after.files.partition(f =>
      after.deleteFiles.exists(_.referencedDataFile.contains(f.path)))
    assert(PositionDeletes.retain(after.deleteFiles, unvectored, vectored).isEmpty)
  }

  test("a COW UPDATE on a vectored file drops that entry and starts no Spark job for it") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // the same UPDATE on two tables of the same rows, one with a vector on
    // the updated file: dropping the vector costs no job of its own
    Seq("cow_dv", "cow_clean").foreach { t =>
      sql(s"""CREATE TABLE dv.d.$t (id INT, v INT) USING iceberg
              TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
      sql(s"INSERT INTO dv.d.$t SELECT id, id FROM range(0, 1000, 1, 1)")
      sql(s"INSERT INTO dv.d.$t SELECT id, id FROM range(1000, 2000, 1, 1)")
    }
    sql("DELETE FROM dv.d.cow_dv WHERE id >= 1000 AND id < 1010")
    sql("DELETE FROM dv.d.cow_clean WHERE id IN (1000, 1001, 1002, 1003, 1004, " +
      "1005, 1006, 1007, 1008, 1009)")
    sql("CALL dv.system.rewrite_deletes('d.cow_clean')")
    assert(store("cow_dv").head().get.deleteFiles.map(_.kind) == Seq("dv"))
    assert(store("cow_clean").head().get.deleteFiles.isEmpty)
    // jobs are tagged with a local property; listener events arrive in
    // order, so once the trailing marker job is seen every job is counted
    def jobsOf(q: String): Int = {
      val sc = spark.sparkContext
      val tag = "graft.dv.phase"
      val jobs = new AtomicInteger()
      val marker = new AtomicInteger()
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          Option(e.properties).flatMap(p => Option(p.getProperty(tag))) match {
            case Some("q") => jobs.incrementAndGet()
            case Some("marker") => marker.incrementAndGet()
            case _ =>
          }
      }
      sc.addSparkListener(l)
      try {
        sc.setLocalProperty(tag, "q")
        try sql(q) finally sc.setLocalProperty(tag, null)
        sc.setLocalProperty(tag, "marker")
        try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(tag, null)
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (marker.get() == 0 && System.nanoTime() < deadline) Thread.sleep(10)
        assert(marker.get() == 1, "listener never saw the marker job")
        jobs.get()
      } finally sc.removeSparkListener(l)
    }
    val withVector = jobsOf("UPDATE dv.d.cow_dv SET v = -1 WHERE id >= 1500")
    val clean = jobsOf("UPDATE dv.d.cow_clean SET v = -1 WHERE id >= 1500")
    assert(store("cow_dv").head().get.deleteFiles.isEmpty, "vector outlived its file")
    assert(withVector == clean, s"jobs: $withVector with a vector, $clean without")
    Seq("cow_dv", "cow_clean").foreach { t =>
      assert(sql(s"SELECT count(*), sum(v) FROM dv.d.$t").collect().head.toSeq ==
        Seq(1990L, (0 until 1500).filterNot(i => i >= 1000 && i < 1010).map(_.toLong).sum
          - 500L))
    }
  }

  test("rewrite_deletes folds a vector fully into the data files") {
    val st = store("t")
    val before = sql("SELECT id FROM dv.d.t ORDER BY id")
      .collect().map(_.getInt(0)).toSeq
    Maintenance.rewriteDeletes(spark, st)
    val head = st.head().get
    assert(head.deleteFiles.isEmpty, s"leftover: ${head.deleteFiles}")
    assert(sql("SELECT id FROM dv.d.t ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == before)
    assert(head.totalRows == before.size.toLong)
  }

  test("changelog of a second DELETE on a file emits only its new deletes") {
    sql("""CREATE TABLE dv.d.cdc (id INT) USING iceberg
           TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    sql("INSERT INTO dv.d.cdc SELECT id FROM range(0, 100, 1, 1)")
    sql("DELETE FROM dv.d.cdc WHERE id < 5")
    val st = store("cdc")
    val vBefore = st.head().get.version
    sql("DELETE FROM dv.d.cdc WHERE id >= 95")
    val vAfter = st.head().get.version
    assert(st.head().get.deleteFiles.map(_.rowCount) == Seq(10L),
      "setup: one vector holding both deletes")
    sql(s"CALL dv.system.changelog('d.cdc', $vBefore, $vAfter, 'cdc_second')")
    val changes = sql("SELECT id, _change_type FROM cdc_second ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(changes == (95 until 100).map(_ -> "delete"), s"got $changes")
    // and the full-range changelog nets out to the live rows
    sql(s"CALL dv.system.changelog('d.cdc', 0, $vAfter, 'cdc_all')")
    val net = sql("""SELECT sum(CASE _change_type WHEN 'insert' THEN 1 ELSE -1 END)
                     FROM cdc_all""").collect().head.getLong(0)
    assert(net == 90L)
  }

  test("COW scan is columnar on a clean snapshot, row-mode under deletes") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    def scanOf(t: String) = {
      val st = store(t)
      val snap = st.head().get
      val scan = new LakeScan(snap, st,
        StructType(snap.schema.fields :+ StructField("_file", StringType)),
        Array.empty, fileFilter = true)
      (scan.planInputPartitions(), scan.createReaderFactory())
    }
    // dv.d.t: rewrite_deletes folded everything earlier — clean snapshot
    val (cleanParts, cleanF) = scanOf("t")
    assert(cleanParts.nonEmpty)
    assert(cleanParts.forall(cleanF.supportColumnarReads),
      "clean snapshot must serve the vectorized columnar fast path")
    // dv.d.cdc: still carries its deletion vector — whole scan row-mode
    val (dvParts, dvF) = scanOf("cdc")
    assert(dvParts.nonEmpty)
    assert(dvParts.forall(p => !dvF.supportColumnarReads(p)),
      "delete-bearing snapshot must fall back to the row path uniformly")
  }

  test("remove_orphan_files never collects a live deletion vector") {
    val st = store("cdc")
    val dvPaths = st.head().get.deleteFiles.filter(_.kind == "dv").map(_.path)
    assert(dvPaths.nonEmpty, "test setup: cdc table should carry a vector")
    val before = sql("SELECT count(*) FROM dv.d.cdc").collect().head.getLong(0)
    Maintenance.removeOrphanFiles(st, staleStagingMillis = 0L)
    dvPaths.foreach { p =>
      assert(Files.exists(st.tableDir.resolve(p)), s"live vector deleted: $p")
    }
    assert(sql("SELECT count(*) FROM dv.d.cdc").collect().head.getLong(0)
      == before, "reads broken after orphan cleanup")
  }

  test("metadata delete_files table reports the vector") {
    val rows = sql("""SELECT kind, referenced_data_file, file_size_in_bytes
                      FROM dv.d.cdc.delete_files""").collect()
    val snap = store("cdc").head().get
    assert(rows.map(_.getString(0)).toSet == Set("dv"))
    assert(rows.map(_.getString(1)).toSet == snap.files.map(_.path).toSet)
    // a vector's size is its own slice, never the whole shared blob
    assert(rows.map(_.getLong(2)).sum == snap.deleteFiles.map(_.sizeBytes).sum)
    assert(rows.map(_.getLong(2)).sum < Files.size(
      store("cdc").tableDir.resolve(snap.deleteFiles.head.path)))
  }
}
