package graft

import java.nio.file.{Files, Paths}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.lake._

/** Pins the round-3 scale fix: COW rewrite planning never materializes
  * deleted positions on the driver. InputPartitions carry each file's
  * deletion-vector slice (each reader loads its own positions
  * executor-side); equality deletes apply by executor-side key probing. */
class DistributedDeleteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val wh = Files.createTempDirectory("graft-ddel-wh").toString

  private lazy val spark = {
    val s = SparkSpec.session
    s.conf.set("spark.sql.catalog.ddel", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.ddel.warehouse", wh)
    s
  }

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    sql("CREATE NAMESPACE IF NOT EXISTS ddel.t")
  }

  test("above the cap, COW partitions carry delete files, not positions") {
    // checks: the plan names each file's vector slice, never positions,
    // and readers load their own positions
    sql("""CREATE TABLE ddel.t.cap (id INT, v STRING) USING iceberg
           TBLPROPERTIES ('graft.delete-mode'='merge-on-read')""")
    sql("INSERT INTO ddel.t.cap VALUES (1,'a'),(2,'b'),(3,'c')")
    sql("INSERT INTO ddel.t.cap VALUES (10,'x'),(11,'y')")
    sql("DELETE FROM ddel.t.cap WHERE id = 2 OR id = 3")
    val store = new SnapshotStore(Paths.get(wh, "t", "cap"))
    val snap = store.head().get
    assert(snap.deleteFiles.nonEmpty &&
      snap.deleteFiles.forall(_.kind == "dv"))
    val scan = new LakeScan(snap, store, snap.schema, Array.empty,
      fileFilter = true)
    val parts = scan.planInputPartitions()
      .map(_.asInstanceOf[GraftInputPartition])
    // the plan must not hold a single position on the driver: partitions
    // name vector slices, never positions
    assert(parts.forall(_.deletes.forall(_.isInstanceOf[DvSlice])),
      "partition carries something other than a vector slice")
    // soundness: every file a vector refers to gets its slice
    val referenced = snap.deleteFiles.flatMap(_.referencedDataFile)
      .map(PositionDeletes.fileName).toSet
    val covered = parts
      .filter(_.deletes.nonEmpty)
      .map(p => PositionDeletes.fileName(p.filePath)).toSet
    assert(referenced.subsetOf(covered),
      s"referenced $referenced not covered by $covered")
    // end-to-end through the real COW path (UPDATE rewrites via this scan)
    sql("UPDATE ddel.t.cap SET v = concat(v, '!') WHERE id <= 10")
    val rows = sql("SELECT id, v FROM ddel.t.cap ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "a!"), (10, "x!"), (11, "y")), s"got $rows")
  }

  test("equality deletes apply executor-side through the COW scan") {
    import spark.implicits._
    sql("CREATE TABLE ddel.t.eqcow (k INT, v STRING) USING iceberg")
    sql("INSERT INTO ddel.t.eqcow VALUES (1,'a'),(2,'b'),(3,'c')")
    val store = new SnapshotStore(Paths.get(wh, "t", "eqcow"))
    Upsert.into(spark, store, Seq((2, "b2"), (4, "d")).toDF("k", "v"), Seq("k"))
    // the rewrite scan must drop the eq-deleted (2,'b') by key probing —
    // never by a driver-side conversion of keys to row positions
    sql("UPDATE ddel.t.eqcow SET v = upper(v) WHERE k >= 2")
    val rows = sql("SELECT k, v FROM ddel.t.eqcow ORDER BY k, v")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "a"), (2, "B2"), (3, "C"), (4, "D")), s"got $rows")
  }

  test("mixed position + equality backlog: COW rewrite stays correct at cap 0") {
    // checks: a rewrite over a deletion vector and an equality delete, with
    // readers loading their own positions and probing keys
    import spark.implicits._
    sql("""CREATE TABLE ddel.t.mixed (k INT, v STRING) USING iceberg
           TBLPROPERTIES ('graft.delete-mode'='merge-on-read')""")
    sql("INSERT INTO ddel.t.mixed VALUES (1,'a'),(2,'b'),(3,'c'),(4,'d')")
    sql("DELETE FROM ddel.t.mixed WHERE k = 1 OR k = 4") // deletion vector
    val store = new SnapshotStore(Paths.get(wh, "t", "mixed"))
    Upsert.into(spark, store, Seq((3, "c2")).toDF("k", "v"), Seq("k"))
    sql("UPDATE ddel.t.mixed SET v = concat(v, '+') WHERE k >= 0")
    val rows = sql("SELECT k, v FROM ddel.t.mixed ORDER BY k, v")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((2, "b+"), (3, "c2+")), s"got $rows")
  }

  test("equality probe matches -0.0 keys like the SQL join does") {
    import spark.implicits._
    sql("CREATE TABLE ddel.t.negzero (k DOUBLE, v STRING) USING iceberg")
    sql("""INSERT INTO ddel.t.negzero
           VALUES (CAST(-0.0 AS DOUBLE),'a'), (1.0,'b')""")
    val store = new SnapshotStore(Paths.get(wh, "t", "negzero"))
    Upsert.into(spark, store, Seq((0.0, "z")).toDF("k", "v"), Seq("k"))
    // read path (anti-join, normalized floats): -0.0 row is replaced
    val read = sql("SELECT v FROM ddel.t.negzero ORDER BY v")
      .collect().map(_.getString(0)).toSeq
    assert(read == Seq("b", "z"), s"read path: $read")
    // COW path (executor-side key probe) must agree — an unnormalized
    // boxed compare would resurrect the -0.0 row through the rewrite
    sql("UPDATE ddel.t.negzero SET v = concat(v, '!') WHERE k >= -10")
    val rows = sql("SELECT v FROM ddel.t.negzero ORDER BY v")
      .collect().map(_.getString(0)).toSeq
    assert(rows == Seq("b!", "z!"), s"COW resurrected a -0.0-keyed row: $rows")
  }

  test("rewrite_deletes folds a large backlog without a driver tuple index") {
    sql("""CREATE TABLE ddel.t.fold (id INT, v STRING) USING iceberg
           TBLPROPERTIES ('graft.delete-mode'='merge-on-read')""")
    sql("""INSERT INTO ddel.t.fold
           SELECT CAST(id AS INT), concat('v', id) FROM range(1000)""")
    sql("DELETE FROM ddel.t.fold WHERE id = 5 OR id = 7 OR id = 500")
    val store = new SnapshotStore(Paths.get(wh, "t", "fold"))
    val snap = Maintenance.rewriteDeletes(spark, store)
    assert(snap.deleteFiles.isEmpty)
    assert(sql("SELECT count(*) FROM ddel.t.fold")
      .collect()(0).getLong(0) == 997L)
    assert(sql("SELECT count(*) FROM ddel.t.fold WHERE id IN (5,7,500)")
      .collect()(0).getLong(0) == 0L)
  }
}
