package graft

import java.nio.file.{Files, Paths}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.lake._

/** Deletion vectors: N stacked MOR DELETEs consolidate into ONE blob with
  * a bitmap per data file (`rewrite_delete_vectors`), read back as O(1)
  * structures per file on both the SELECT anti-join path and the COW
  * rewrite reader — with no data file rewritten. */
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

  test("N stacked deletes fold into one vector; reads stay exact") {
    sql("""CREATE TABLE dv.d.t (id INT, v INT) USING iceberg
           TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    sql("INSERT INTO dv.d.t SELECT id, id FROM range(0, 10000)")
    sql("INSERT INTO dv.d.t SELECT id, id FROM range(10000, 20000)")
    // 5 stacked RANGE deletes (translatable conjunctions → positional
    // MOR tuples; equality shapes would take the equality-delete path)
    (0 until 5).foreach { k =>
      sql(s"DELETE FROM dv.d.t WHERE id >= ${k * 1000} AND id < ${k * 1000 + 100}")
    }
    val st = store("t")
    val before = st.head().get
    val tupleFiles = before.deleteFiles.filter(_.kind == "position")
    assert(tupleFiles.size >= 5, s"expected stacked tuples, got $tupleFiles")
    val expected = (0 until 20000).filterNot(i => i < 5000 && i % 1000 < 100)

    val r = sql("CALL dv.system.rewrite_delete_vectors('d.t')").collect()
    val after = st.head().get
    assert(after.deleteFiles.map(_.kind) == Seq("dv"),
      s"want exactly one dv, got ${after.deleteFiles}")
    // no data file rewritten — same data files as before
    assert(after.files.map(_.path).sorted == before.files.map(_.path).sorted)
    // row accounting intact
    assert(after.totalRows == expected.size.toLong)
    assert(sql("SELECT count(*) FROM dv.d.t").collect().head.getLong(0) ==
      expected.size.toLong)
    val got = sql("SELECT id FROM dv.d.t ORDER BY id")
      .collect().map(_.getInt(0)).toSeq
    assert(got == expected, "vector read diverges from tuple read")

    // re-running is a no-op (already one vector)
    val v = st.head().get.version
    sql("CALL dv.system.rewrite_delete_vectors('d.t')")
    assert(st.head().get.version == v, "no-op consolidation committed")
  }

  test("new deletes stack on top of a vector and re-consolidate") {
    sql("DELETE FROM dv.d.t WHERE id >= 5000 AND id < 5100")
    val st = store("t")
    val kinds = st.head().get.deleteFiles.map(_.kind).sorted
    assert(kinds == Seq("dv", "position"), s"got $kinds")
    val expected = (0 until 20000)
      .filterNot(i => i < 6000 && i % 1000 < 100)
    assert(sql("SELECT count(*) FROM dv.d.t").collect().head.getLong(0) ==
      expected.size.toLong)
    // vector ∪ tuples → one new vector
    sql("CALL dv.system.rewrite_delete_vectors('d.t')")
    assert(st.head().get.deleteFiles.map(_.kind) == Seq("dv"))
    assert(sql("SELECT id FROM dv.d.t ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == expected)
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
    // per insert, so the vector's two entries map 1:1 to the two files
    sql("INSERT INTO dv.d.ret SELECT id, id FROM range(0, 10000, 1, 1)")
    sql("INSERT INTO dv.d.ret SELECT id, id FROM range(10000, 20000, 1, 1)")
    sql("DELETE FROM dv.d.ret WHERE id >= 0 AND id < 100")       // file 1
    sql("DELETE FROM dv.d.ret WHERE id >= 10000 AND id < 10100") // file 2
    sql("CALL dv.system.rewrite_delete_vectors('d.ret')")
    val st = store("ret")
    val dv0 = st.head().get.deleteFiles
    assert(dv0.map(_.kind) == Seq("dv"))
    assert(DeletionVectors.readIndex(st, dv0.head).size == 2,
      "setup: the vector should cover both data files")
    // COW rewrite narrowed to file 2 (runtime group filtering): file 2's
    // index entry is dropped, file 1's bitmap byte-copies into a NEW blob
    // — retain must never explode a vector back into tuple files
    sql("UPDATE dv.d.ret SET v = -1 WHERE id = 15000")
    val after = st.head().get
    assert(after.deleteFiles.map(_.kind) == Seq("dv"),
      s"retain exploded the vector: ${after.deleteFiles}")
    val idx = DeletionVectors.readIndex(st, after.deleteFiles.head)
    assert(idx.size == 1, s"replaced file's entry must be dropped: $idx")
    assert(after.deleteFiles.head.rowCount == 100L)
    val expected = (0 until 20000).filterNot(i => i < 100 ||
      (i >= 10000 && i < 10100))
    assert(sql("SELECT count(*) FROM dv.d.ret").collect().head.getLong(0)
      == expected.size.toLong)
    assert(sql("SELECT sum(v) FROM dv.d.ret").collect().head.getLong(0)
      == expected.map(i => if (i == 15000) -1L else i.toLong).sum)

    // retain with every vectored file surviving is an identity — no new
    // blob is written, the original DeleteFile entry rides through
    val kept = PositionDeletes.retain(spark, st, after.deleteFiles, after.files,
      Seq.empty)
    assert(kept == after.deleteFiles, s"identity retain rewrote: $kept")
    // ...and with no vectored file surviving the vector is dropped
    val (vectored, unvectored) = after.files.partition(f =>
      idx.map(_.name).contains(PositionDeletes.fileName(f.path)))
    val dead = PositionDeletes.retain(spark, st, after.deleteFiles,
      unvectored, vectored)
    assert(dead.isEmpty, s"stale vector survived: $dead")
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

  test("changelog emits nothing for a consolidation commit") {
    sql("""CREATE TABLE dv.d.cdc (id INT) USING iceberg
           TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    sql("INSERT INTO dv.d.cdc SELECT id FROM range(0, 100)")
    sql("DELETE FROM dv.d.cdc WHERE id < 5")
    sql("DELETE FROM dv.d.cdc WHERE id >= 95")
    val st = store("cdc")
    val vBefore = st.head().get.version
    sql("CALL dv.system.rewrite_delete_vectors('d.cdc')")
    val vAfter = st.head().get.version
    sql(s"CALL dv.system.changelog('d.cdc', $vBefore, $vAfter, 'cdc_consol')")
    val changes = sql("SELECT * FROM cdc_consol").collect()
    assert(changes.isEmpty,
      s"consolidation must be invisible to CDC, got ${changes.take(5).toSeq}")
    // and the full-range changelog still nets out to the live rows
    sql(s"CALL dv.system.changelog('d.cdc', 0, $vAfter, 'cdc_all')")
    assert(sql("SELECT * FROM cdc_all").collect().nonEmpty)
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
    val rows = sql("SELECT * FROM dv.d.cdc.delete_files").collect()
    assert(rows.nonEmpty)
    val kinds = sql("SELECT kind FROM dv.d.cdc.delete_files")
      .collect().map(_.getString(0)).toSet
    assert(kinds == Set("dv"), s"got $kinds")
  }
}
