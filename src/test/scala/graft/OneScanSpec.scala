package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.lake._

/** Every read of a lake table goes through one scan ([[LakeScan]]):
  * deletes of every kind apply inside its readers, the choice between
  * packed columnar batches and whole-file delete-applying partitions is
  * made over the files a scan actually plans, planning starts no Spark
  * job, and dynamic file pruning works on delete-bearing tables. */
class OneScanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val wh = Files.createTempDirectory("graft-onescan-wh").toString

  private lazy val spark = {
    val s = SparkSpec.session
    s.conf.set("spark.sql.catalog.onescan", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.onescan.warehouse", wh)
    s
  }

  private def sql(q: String) = spark.sql(q)
  private def store(t: String) = new SnapshotStore(Paths.get(wh, "d", t))

  /** ids 0..29 in three one-file appends, then id 1, 2 deleted by one
    * deletion vector, 11, 12 by another and 21 by an equality delete. */
  private val deletedIds = Set(1, 2, 11, 12, 21)
  private val liveIds = (0 until 30).filterNot(deletedIds)

  override def beforeAll(): Unit = {
    sql("CREATE NAMESPACE IF NOT EXISTS onescan.d")
    sql("""CREATE TABLE onescan.d.mixed (id INT, v STRING) USING iceberg
           TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    (0 until 3).foreach { b =>
      sql(s"""INSERT INTO onescan.d.mixed
              SELECT CAST(id AS INT), concat('v', id)
              FROM range(${b * 10}, ${b * 10 + 10}, 1, 1)""")
    }
    sql("DELETE FROM onescan.d.mixed WHERE id = 1 OR id = 2")
    sql("DELETE FROM onescan.d.mixed WHERE id = 11 OR id = 12")
    sql("DELETE FROM onescan.d.mixed WHERE id = 21")
  }

  private def scans(df: DataFrame): Seq[BatchScanExec] = {
    df.collect()
    val p: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    PlanWalk.deepCollect(p) {
      case b: BatchScanExec if b.scan.isInstanceOf[LakeScan] => b
    }
  }

  test("SELECT, _file and aggregates over tuples, a vector and an equality delete see live rows") {
    val kinds = store("mixed").head().get.deleteFiles.map(_.kind).toSet
    assert(kinds == Set("dv", "equality"), s"test setup: $kinds")
    assert(sql("SELECT id FROM onescan.d.mixed ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == liveIds)
    val agg = sql("SELECT count(*), sum(id) FROM onescan.d.mixed").collect().head
    assert((agg.getLong(0), agg.getLong(1)) == (liveIds.size.toLong, liveIds.sum.toLong))
    val withFile = sql("SELECT id, _file, _pos FROM onescan.d.mixed ORDER BY id").collect()
    assert(withFile.map(_.getInt(0)).toSeq == liveIds)
    assert(withFile.forall(_.getString(1).endsWith(".parquet")))
    assert(withFile.map(_.getString(1)).distinct.length == 3)
    // each append wrote ids in order, so a row's position is id mod 10
    assert(withFile.forall(r => r.getLong(2) == r.getInt(0) % 10))
  }

  test("planning and the commit check read no delete bytes; the reader names a missing blob") {
    sql("""CREATE TABLE onescan.d.noblob (id INT) USING iceberg
           TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    sql("INSERT INTO onescan.d.noblob SELECT CAST(id AS INT) FROM range(0, 10, 1, 1)")
    sql("INSERT INTO onescan.d.noblob SELECT CAST(id AS INT) FROM range(10, 20, 1, 1)")
    val st = store("noblob")
    val base = st.head().get
    sql("DELETE FROM onescan.d.noblob WHERE id >= 2 AND id < 4")
    val head = st.head().get
    val dv = head.deleteFiles.head
    val (hit, other) = head.files.partition(f => dv.referencedDataFile.contains(f.path))
    Files.delete(st.tableDir.resolve(dv.path))

    val df = sql("SELECT id FROM onescan.d.noblob")
    assert(df.queryExecution.executedPlan.toString.contains("with-deletes=1"))
    // rule 3 asks which files the new vector applies to: a lookup
    assert(Conflicts.rebase(st, "test", head,
      Conflicts.Footprint(base, read = other)).files == head.files)
    val abort = intercept[IllegalStateException](Conflicts.rebase(st, "test", head,
      Conflicts.Footprint(base, read = hit)))
    assert(abort.getMessage.contains("rule 3"), abort.getMessage)
    val e = intercept[Exception](df.collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString(" | ")
    assert(msgs.contains(PositionDeletes.fileName(dv.path)), msgs)
  }

  test("a position delete entry is refused, naming its path") {
    sql("CREATE TABLE onescan.d.legacy (id INT) USING iceberg")
    sql("INSERT INTO onescan.d.legacy VALUES (1), (2)")
    val st = store("legacy")
    val ref = st.head().get.files.head.path
    val legacy = "data/00000000-0000-0000-0000-000000000000-deletes.parquet"
    // a tuple file, and a vector that names no data file
    Seq(DeleteFile(legacy, 1, 100, kind = "position", referencedDataFile = Some(ref)),
        DeleteFile(legacy, 1, 100, kind = "dv")).foreach { entry =>
      st.commit(prev => prev.get.copy(deleteFiles = Seq(entry)))
      val e = intercept[Exception](sql("SELECT * FROM onescan.d.legacy").collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).mkString(" | ")
      assert(msgs.contains(legacy) && msgs.contains(s"kind '${entry.kind}'"), msgs)
    }
  }

  test("a partition-filtered SELECT whose files no delete touches plans columnar") {
    sql("""CREATE TABLE onescan.d.parts (id INT, p STRING) USING iceberg
           PARTITIONED BY (p)
           TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    sql("INSERT INTO onescan.d.parts SELECT CAST(id AS INT), 'a' FROM range(1, 4, 1, 1)")
    sql("INSERT INTO onescan.d.parts SELECT CAST(id AS INT), 'b' FROM range(4, 6, 1, 1)")
    sql("DELETE FROM onescan.d.parts WHERE id = 1 OR id = 2")
    assert(store("parts").head().get.deleteFiles.nonEmpty)
    val clean = sql("SELECT id FROM onescan.d.parts WHERE p = 'b'")
    val cleanScans = scans(clean)
    assert(cleanScans.nonEmpty && cleanScans.forall(_.supportsColumnar),
      s"untouched partition should read columnar:\n${clean.queryExecution.executedPlan}")
    assert(clean.collect().map(_.getInt(0)).sorted.toSeq == Seq(4, 5))
    val touched = sql("SELECT id FROM onescan.d.parts WHERE p = 'a'")
    assert(scans(touched).forall(!_.supportsColumnar))
    assert(touched.collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("building the plan of a lookup on a delete-bearing table starts no Spark job") {
    val sc = spark.sparkContext
    val tag = "graft.onescan.phase"
    val planJobs = new AtomicInteger()
    val markerSeen = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))) match {
          case Some("plan") => planJobs.incrementAndGet()
          case Some("marker") => markerSeen.incrementAndGet()
          case _ =>
        }
    }
    // warm: catalog, snapshot and delete-key caches
    sql("SELECT * FROM onescan.d.mixed WHERE id = 14").collect()
    sc.addSparkListener(listener)
    try {
      val df = sql("SELECT * FROM onescan.d.mixed WHERE id = 15")
      sc.setLocalProperty(tag, "plan")
      try df.queryExecution.executedPlan
      finally sc.setLocalProperty(tag, null)
      // listener events arrive in order: once the marker job is seen,
      // every job started while planning has been counted
      sc.setLocalProperty(tag, "marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(tag, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (markerSeen.get() == 0 && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(markerSeen.get() == 1, "listener never saw the marker job")
      assert(planJobs.get() == 0,
        s"${planJobs.get()} Spark jobs ran while executedPlan was built")
      assert(df.collect().map(_.getInt(0)).toSeq == Seq(15))
    } finally sc.removeSparkListener(listener)
  }

  test("an equality delete on a NaN DOUBLE key leaves reads and rewrite_deletes working") {
    import spark.implicits._
    sql("CREATE TABLE onescan.d.nankey (k DOUBLE, v STRING) USING iceberg")
    // the first file has stats on k; the NaN-bearing one has none
    sql("INSERT INTO onescan.d.nankey VALUES (1.0, 'b'), (2.0, 'c')")
    sql("INSERT INTO onescan.d.nankey VALUES (CAST('NaN' AS DOUBLE), 'a')")
    Upsert.into(spark, store("nankey"), Seq((Double.NaN, "z")).toDF("k", "v"), Seq("k"))
    assert(store("nankey").head().get.deleteFiles.exists(_.kind == "equality"))
    def rows = sql("SELECT k, v FROM onescan.d.nankey ORDER BY v")
      .collect().map(r => (r.getDouble(0).toString, r.getString(1))).toSeq
    val expected = Seq(("1.0", "b"), ("2.0", "c"), ("NaN", "z"))
    assert(rows == expected)
    sql("CALL onescan.system.rewrite_deletes('d.nankey')")
    assert(store("nankey").head().get.deleteFiles.isEmpty)
    assert(rows == expected)
  }

  test("an equality delete on a FLOAT key widened to DOUBLE removes the old row") {
    import spark.implicits._
    sql("CREATE TABLE onescan.d.widened (k FLOAT, v STRING) USING iceberg")
    // the file's k stats are rendered from the floats: max "0.1"
    sql("""INSERT INTO onescan.d.widened
           VALUES (CAST(0.05 AS FLOAT), 'a'), (CAST(0.1 AS FLOAT), 'b')""")
    sql("ALTER TABLE onescan.d.widened ALTER COLUMN k TYPE DOUBLE")
    // the old row now reads as 0.10000000149011612, above that max
    Upsert.into(spark, store("widened"), Seq((0.1f.toDouble, "z")).toDF("k", "v"),
      Seq("k"))
    assert(sql("SELECT v FROM onescan.d.widened ORDER BY v")
      .collect().map(_.getString(0)).toSeq == Seq("a", "z"))
  }

  test("dynamic file pruning narrows a delete-bearing fact scan") {
    sql("""CREATE TABLE onescan.d.fact (day INT, v BIGINT)
           USING iceberg PARTITIONED BY (day)
           TBLPROPERTIES ('graft.write.distribution-mode' = 'hash',
                          'graft.delete-mode' = 'merge-on-read')""")
    spark.range(0, 2000)
      .selectExpr("CAST(id % 20 AS INT) AS day", "id AS v")
      .writeTo("onescan.d.fact").append()
    sql("DELETE FROM onescan.d.fact WHERE v = 20 OR v = 40") // day 0 rows
    assert(store("fact").head().get.deleteFiles.nonEmpty)
    sql("CREATE TABLE onescan.d.dim (day INT, tag STRING) USING iceberg")
    sql("""INSERT INTO onescan.d.dim SELECT id, CASE WHEN id < 2
           THEN 'hot' ELSE 'cold' END FROM range(0, 20)""")
    val q = """SELECT f.day, count(*) AS cnt, sum(f.v) AS total
               FROM onescan.d.fact f JOIN onescan.d.dim d ON f.day = d.day
               WHERE d.tag = 'hot' GROUP BY f.day"""
    val df = sql(q)
    val fact = scans(df).map(_.scan.asInstanceOf[LakeScan])
      .find(_.runtimePruned.isDefined)
    assert(fact.isDefined,
      s"no runtime-filtered scan:\n${df.queryExecution.executedPlan}")
    val (kept, total) = fact.get.runtimePruned.get
    assert(total >= 20 && kept * 10 <= total,
      s"expected ~2/20 fact files kept after runtime pruning, got $kept/$total")
    val rows = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val day0 = (0L until 2000L by 20L).filterNot(Set(20L, 40L))
    val day1 = 1L until 2000L by 20L
    assert(rows == Seq((0, day0.size.toLong, day0.sum), (1, day1.size.toLong, day1.sum)))
  }
}
