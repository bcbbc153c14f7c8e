package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.lake._

/** The full lake surface exercised against OBJECT-STORE semantics
  * ([[ObjectStoreMetaIO]]): conditional-PUT commits, no atomic rename
  * (publish = copy + delete), no directories, injected latency, and
  * injected transient/ambiguous failures. This validates the 100 TB
  * story's central claim (SURVEY.md §3.3 — commit ≈ conditional PUT): the
  * engine's correctness must come from the STORE's contract, not from
  * POSIX niceties the local backend happens to provide.
  */
class ObjectStoreLakeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val wh = Files.createTempDirectory("graft-osc-wh").toString
  private val io = ObjectStoreTestBackend.io

  private lazy val spark = {
    val s = SparkSpec.session
    s.conf.set("spark.sql.catalog.osc", classOf[ObjectStoreCatalog].getName)
    s.conf.set("spark.sql.catalog.osc.warehouse", wh)
    s
  }

  private def sql(q: String) = spark.sql(q)
  private def store(parts: String*) =
    new SnapshotStore(Paths.get(wh, parts: _*), io = io)

  override def beforeAll(): Unit = {
    sql("CREATE NAMESPACE IF NOT EXISTS osc.d")
  }

  test("create/insert/select roundtrip commits via conditional PUT, no mkdirs") {
    sql("CREATE TABLE osc.d.rt (id INT, w STRING) USING iceberg")
    sql("INSERT INTO osc.d.rt VALUES (1, 'a'), (2, 'b')")
    sql("INSERT INTO osc.d.rt VALUES (3, 'c')")
    val rows = sql("SELECT id, w FROM osc.d.rt ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "a"), (2, "b"), (3, "c")))
    // the commits went through the store's conditional PUT...
    assert(io.opCounts.get("PUT-if-none-match").get() > 0,
      "no conditional PUT recorded — commits bypassed the seam")
    // ...and never depended on directory pre-creation (mkdirs is a no-op)
    assert(io.opCounts.containsKey("MKDIR-noop"),
      "mkdirs never called — fine, but then this assertion is vacuous")
  }

  test("partitioned table: write, prune, dynamic overwrite") {
    sql("""CREATE TABLE osc.d.pt (id INT, region STRING, v INT)
           USING iceberg PARTITIONED BY (region)""")
    sql("""INSERT INTO osc.d.pt VALUES
           (1, 'eu', 10), (2, 'eu', 20), (3, 'us', 30), (4, 'ap', 40)""")
    val eu = sql("SELECT id FROM osc.d.pt WHERE region = 'eu' ORDER BY id")
      .collect().map(_.getInt(0)).toSeq
    assert(eu == Seq(1, 2))
    // dynamic partition overwrite replaces ONLY the touched partition;
    // the session setting is restored so later suites in this JVM keep
    // the static default
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try sql("INSERT OVERWRITE osc.d.pt VALUES (9, 'eu', 90)")
    finally spark.conf.set(key, prev)
    val after = sql("SELECT id, region FROM osc.d.pt ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(after == Seq((3, "us"), (4, "ap"), (9, "eu")), s"got $after")
  }

  test("time travel, tags, and branch isolation on object storage") {
    sql("CREATE TABLE osc.d.tt (id INT) USING iceberg")
    sql("INSERT INTO osc.d.tt VALUES (1)")
    sql("INSERT INTO osc.d.tt VALUES (2)")
    val v2Count = sql("SELECT count(*) FROM osc.d.tt VERSION AS OF 2")
      .collect().head.getLong(0)
    assert(v2Count == 1L)
    sql("CALL osc.system.create_tag('d.tt', 'stable', 3)")
    sql("INSERT INTO osc.d.tt VALUES (3)")
    assert(sql("SELECT count(*) FROM osc.d.tt VERSION AS OF 'stable'")
      .collect().head.getLong(0) == 2L)
    sql("CALL osc.system.create_branch('d.tt', 'side')")
    sql("INSERT INTO osc.d.tt.branch_side VALUES (100)")
    assert(sql("SELECT count(*) FROM osc.d.tt").collect().head.getLong(0) == 3L,
      "branch write leaked into main")
    assert(sql("SELECT count(*) FROM osc.d.tt.branch_side")
      .collect().head.getLong(0) == 4L)
  }

  test("schema evolution null-fills old files") {
    sql("CREATE TABLE osc.d.ev (id INT) USING iceberg")
    sql("INSERT INTO osc.d.ev VALUES (1)")
    sql("ALTER TABLE osc.d.ev ADD COLUMN note STRING")
    sql("INSERT INTO osc.d.ev VALUES (2, 'new')")
    val rows = sql("SELECT id, note FROM osc.d.ev ORDER BY id")
      .collect().map(r => (r.getInt(0), Option(r.getString(1)))).toSeq
    assert(rows == Seq((1, None), (2, Some("new"))))
  }

  test("MOR delete, upsert, rewrite_deletes, compact") {
    import spark.implicits._
    sql("CREATE TABLE osc.d.mor (id INT, v INT) USING iceberg " +
      "TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")
    sql("INSERT INTO osc.d.mor SELECT id, id FROM range(0, 100)")
    sql("DELETE FROM osc.d.mor WHERE id < 10")
    assert(sql("SELECT count(*) FROM osc.d.mor").collect().head.getLong(0) == 90L)
    val st = store("d", "mor")
    Upsert.into(spark, st,
      (50 until 60).map(k => (k, -k)).toDF("id", "v"), Seq("id"))
    assert(sql("SELECT sum(v) FROM osc.d.mor WHERE id BETWEEN 50 AND 59")
      .collect().head.getLong(0) == -(50 until 60).sum.toLong)
    Maintenance.rewriteDeletes(spark, st)
    Maintenance.compact(spark, st)
    assert(sql("SELECT count(*) FROM osc.d.mor").collect().head.getLong(0) == 90L)
    val head = st.head().get
    assert(head.totalRows == 90L, s"totalRows=${head.totalRows}")
  }

  test("metadata tables read through the object-store backend") {
    sql("CREATE TABLE osc.d.md (id INT) USING iceberg")
    sql("INSERT INTO osc.d.md VALUES (1)")
    sql("INSERT INTO osc.d.md VALUES (2)")
    assert(sql("SELECT count(*) FROM osc.d.md.history")
      .collect().head.getLong(0) >= 3L)
    assert(sql("SELECT count(*) FROM osc.d.md.snapshots")
      .collect().head.getLong(0) >= 3L)
    assert(sql("SELECT count(*) FROM osc.d.md.files")
      .collect().head.getLong(0) == 2L)
  }

  test("concurrent appenders serialize through the conditional PUT alone") {
    sql("CREATE TABLE osc.d.cc (id INT) USING iceberg")
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val fs = (0 until 8).map { t =>
      Future {
        (0 until 3).foreach { b =>
          sql(s"INSERT INTO osc.d.cc VALUES (${100 * t + b})")
        }
      }
    }
    try Await.result(Future.sequence(fs), 5.minutes)
    finally pool.shutdown()
    val st = store("d", "cc")
    val versions = st.listVersions()
    assert(versions == (1L to versions.max), s"gaps in chain: $versions")
    val ids = sql("SELECT id FROM osc.d.cc").collect().map(_.getInt(0)).toSeq
    val expected = (for { t <- 0 until 8; b <- 0 until 3 } yield 100 * t + b)
    assert(ids.sorted == expected.sorted, s"lost/phantom appends")
  }

  test("transient 503 on the version PUT is absorbed by the commit loop") {
    sql("CREATE TABLE osc.d.f503 (id INT) USING iceberg")
    sql("INSERT INTO osc.d.f503 VALUES (1)")
    io.injectFault("PUT-if-none-match", "f503")
    // the statement must succeed: slot read-back finds it empty → re-PUT
    sql("INSERT INTO osc.d.f503 VALUES (2)")
    val ids = sql("SELECT id FROM osc.d.f503 ORDER BY id")
      .collect().map(_.getInt(0)).toSeq
    assert(ids == Seq(1, 2))
    val versions = store("d", "f503").listVersions()
    assert(versions == (1L to versions.max), s"gaps: $versions")
  }

  test("lost response after a LANDED conditional PUT does not double-apply") {
    sql("CREATE TABLE osc.d.flost (id INT) USING iceberg")
    sql("INSERT INTO osc.d.flost VALUES (1)")
    io.injectFault("PUT-if-none-match", "flost", afterEffect = true)
    // PUT lands server-side, client sees an IOException: the commit loop
    // must read the slot back, recognize its own content, and report
    // success — NOT re-apply the append (duplicate row) or fail the
    // statement (spurious error for a committed write)
    sql("INSERT INTO osc.d.flost VALUES (2)")
    val ids = sql("SELECT id FROM osc.d.flost ORDER BY id")
      .collect().map(_.getInt(0)).toSeq
    assert(ids == Seq(1, 2), s"double-applied or lost: $ids")
    val versions = store("d", "flost").listVersions()
    assert(versions == (1L to versions.max), s"gaps: $versions")
  }

  test("failed publish COPY fails the statement but leaves the table intact") {
    sql("CREATE TABLE osc.d.fcopy (id INT) USING iceberg")
    sql("INSERT INTO osc.d.fcopy VALUES (1)")
    val before = store("d", "fcopy").head().get.version
    io.injectFault("COPY", "fcopy")
    val e = intercept[Exception] { sql("INSERT INTO osc.d.fcopy VALUES (2)") }
    def msgs(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .flatMap(x => Option(x.getMessage)).toSeq
    assert(msgs(e).exists(_.contains("injected")), s"unexpected: ${msgs(e)}")
    // no commit happened, head unchanged, data readable
    assert(store("d", "fcopy").head().get.version == before)
    assert(sql("SELECT id FROM osc.d.fcopy").collect().map(_.getInt(0)).toSeq == Seq(1))
    // retry lands exactly once
    sql("INSERT INTO osc.d.fcopy VALUES (2)")
    assert(sql("SELECT id FROM osc.d.fcopy ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2))
  }

  test("expire_snapshots deletes through the MetaIO seam") {
    sql("CREATE TABLE osc.d.exp (id INT) USING iceberg")
    sql("INSERT INTO osc.d.exp VALUES (1)")
    sql("INSERT INTO osc.d.exp VALUES (2)")
    sql("INSERT OVERWRITE osc.d.exp VALUES (3)")
    // v1 create, v2 and v3 one file each, v4 the overwrite's one file
    val shared = store("d", "exp")
    val dropped = shared.read(3L).files.map(_.path)
    assert(dropped.size == 2, dropped)
    // a private backend instance counts this call's operations only
    val own = new ObjectStoreMetaIO()
    val st = new SnapshotStore(shared.tableDir, io = own)
    assert(Maintenance.expireSnapshots(st, keepLast = 1) == Seq(1L, 2L, 3L))
    // two unreferenced data files + three version files
    assert(own.opCounts.get("DELETE").get() == 5L, own.opCounts)
    dropped.foreach(p => assert(!Files.exists(st.tableDir.resolve(p)), p))
    assert(st.listVersions() == Seq(4L))
    assert(sql("SELECT id FROM osc.d.exp").collect().map(_.getInt(0)).toSeq == Seq(3))
  }
}
