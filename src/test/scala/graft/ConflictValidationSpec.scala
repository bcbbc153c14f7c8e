package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.functions.{col, lit, udf}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.lake._

/** The commit-time conflict check ([[Conflicts]]), one test per rule.
  * Each test lands a rival commit between a statement's plan and its
  * commit: the statement runs through the `cvrace` catalog, whose
  * [[ConflictValidationSpec.RaceIO]] parks the statement's first
  * snapshot-version create until the test has committed the rival
  * through the plain `cvplain` catalog over the same warehouse. The
  * statement then loses the race for that version and re-validates on
  * the rival's head: it either rebases (commits in that one attempt, on
  * top of the rival) or aborts with "concurrent commit". Every test that
  * rebases also checks the version chain for gaps and every delete file
  * for references to data files that are gone. */
class ConflictValidationSpec extends AnyFunSuite with BeforeAndAfterAll {
  import ConflictValidationSpec._

  private val wh = Files.createTempDirectory("graft-conflict-wh").toString

  private lazy val spark = {
    val s = SparkSpec.session
    s.conf.set("spark.sql.catalog.cvrace", classOf[RaceCatalog].getName)
    s.conf.set("spark.sql.catalog.cvrace.warehouse", wh)
    s.conf.set("spark.sql.catalog.cvplain", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.cvplain.warehouse", wh)
    s
  }

  private def sql(q: String) = spark.sql(q)

  private implicit val ec: ExecutionContext = ExecutionContext.global

  override def beforeAll(): Unit = sql("CREATE NAMESPACE IF NOT EXISTS cvplain.d")

  private def dir(t: String): Path = Paths.get(wh, "d", t)
  private def store(t: String) = new SnapshotStore(dir(t))

  /** Partitioned table: p = 0 holds k 1..4, p = 1 holds k 11..14, one
    * file per partition per INSERT. */
  private def makeTable(t: String, props: String = ""): Unit = {
    sql(s"DROP TABLE IF EXISTS cvplain.d.$t")
    sql(s"""CREATE TABLE cvplain.d.$t (p INT, k INT, v INT) USING graft
            PARTITIONED BY (p) $props""")
    sql(s"INSERT INTO cvplain.d.$t VALUES (0, 1, 0), (0, 2, 0), (1, 11, 0), (1, 12, 0)")
    sql(s"INSERT INTO cvplain.d.$t VALUES (0, 3, 0), (0, 4, 0), (1, 13, 0), (1, 14, 0)")
  }

  private val mor = "TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')"

  /** Run `statement` in another thread; when it reaches its commit, land
    * `rival`, then let the statement go on. Returns its outcome. */
  private def race(statement: => Any)(rival: => Any): Try[Unit] = {
    val (reached, release) = RaceIO.arm()
    val f = Future { statement; () }
    try {
      while (!reached.await(50, TimeUnit.MILLISECONDS))
        assert(!f.isCompleted, s"statement ended before its commit: ${f.value}")
      rival
    } finally {
      RaceIO.disarm()
      release.countDown()
    }
    Try(Await.result(f, 3.minutes))
  }

  private def rows(t: String): Seq[(Int, Int, Int)] =
    sql(s"SELECT p, k, v FROM cvplain.d.$t ORDER BY p, k").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq

  private def aborted(r: Try[Unit], rule: String): Unit = {
    val msg = r.failed.map(e => Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).mkString(" | "))
    assert(msg.toOption.exists(m => m.contains("concurrent commit") && m.contains(rule)),
      s"expected a '$rule' concurrent-commit abort, got $r")
  }

  /** Rebased in one attempt: the statement's snapshot sits right on top of
    * the rival's, the chain has no gaps, and no delete file names a data
    * file that is gone. */
  private def rebased(r: Try[Unit], t: String, op: String,
      rivalOp: String = "append"): Unit = {
    assert(r.isSuccess, s"statement should have rebased: $r")
    val st = store(t)
    val versions = st.listVersions()
    assert(versions == (1L to versions.max), s"version chain has gaps: $versions")
    versions.tail.foreach(v =>
      assert(st.read(v).parentVersion.contains(v - 1), s"v$v has the wrong parent"))
    val head = st.head().get
    assert(head.operation == op, s"head is ${head.operation}, expected $op")
    assert(st.read(head.version - 1).operation == rivalOp,
      "the rival's commit should sit right below the statement's")
    val live = head.files.map(_.path).toSet
    val named = head.deleteFiles.flatMap(_.referencedDataFile).toSet
    assert(named.subsetOf(live), s"delete files name missing data files: ${named -- live}")
    // exact while no equality delete is pending (then an upper bound)
    if (!head.deleteFiles.exists(_.kind == "equality"))
      assert(head.totalRows == sql(s"SELECT count(*) FROM cvplain.d.$t")
        .head().getLong(0), "totalRows disagrees with the table")
  }

  test("rule 4: UPDATE WHERE p = 0 rebases over an append to p = 1 in one attempt") {
    makeTable("upd")
    val r = race(sql("UPDATE cvrace.d.upd SET v = v + 1 WHERE p = 0"))(
      sql("INSERT INTO cvplain.d.upd VALUES (1, 15, 0)"))
    rebased(r, "upd", "update")
    assert(rows("upd") == Seq((0, 1, 1), (0, 2, 1), (0, 3, 1), (0, 4, 1),
      (1, 11, 0), (1, 12, 0), (1, 13, 0), (1, 14, 0), (1, 15, 0)))
  }

  test("rule 4: the same UPDATE aborts when the append adds a matching row to p = 0") {
    makeTable("upd2")
    val r = race(sql("UPDATE cvrace.d.upd2 SET v = v + 1 WHERE p = 0"))(
      sql("INSERT INTO cvplain.d.upd2 VALUES (0, 5, 0)"))
    aborted(r, "rule 4")
    assert(rows("upd2").filter(_._1 == 0) ==
      Seq((0, 1, 0), (0, 2, 0), (0, 3, 0), (0, 4, 0), (0, 5, 0)))
  }

  test("rule 2: compact rebases over an append and keeps the appended rows") {
    makeTable("cmp", mor)
    // a pending position delete folds into the compaction
    sql("DELETE FROM cvplain.d.cmp WHERE k >= 2 AND k < 3")
    val raceStore = new SnapshotStore(dir("cmp"), io = RaceIO)
    val r = race(Maintenance.compact(spark, raceStore))(
      sql("INSERT INTO cvplain.d.cmp VALUES (0, 7, 0), (1, 17, 0)"))
    rebased(r, "cmp", "replace")
    assert(rows("cmp").map(_._2) == Seq(1, 3, 4, 7, 11, 12, 13, 14, 17))
    val head = store("cmp").head().get
    assert(head.deleteFiles.isEmpty, s"folded deletes left behind: ${head.deleteFiles}")
    assert(head.summary("total-records").toLong == head.totalRows)
  }

  test("rule 2: compact aborts when a rival replaced a file it read") {
    makeTable("cmp2")
    val raceStore = new SnapshotStore(dir("cmp2"), io = RaceIO)
    val r = race(Maintenance.compact(spark, raceStore))(
      sql("UPDATE cvplain.d.cmp2 SET v = 9 WHERE p = 1"))
    aborted(r, "rule 2")
    assert(rows("cmp2").filter(_._1 == 1).forall(_._3 == 9))
  }

  test("rule 3: MOR range DELETE aborts when a rival position file covers a file it read") {
    makeTable("mor", mor)
    // both delete k = 2 of the same data file: rebasing would record it twice
    val r = race(sql("DELETE FROM cvrace.d.mor WHERE p = 0 AND k >= 1 AND k < 3"))(
      sql("DELETE FROM cvplain.d.mor WHERE p = 0 AND k >= 2 AND k < 3"))
    aborted(r, "rule 3")
    assert(rows("mor").map(_._2) == Seq(1, 3, 4, 11, 12, 13, 14))
  }

  test("rule 3: MOR range DELETE rebases when the rival position file covers only other files") {
    makeTable("mor2", mor)
    val r = race(sql("DELETE FROM cvrace.d.mor2 WHERE p = 0 AND k >= 1 AND k < 3"))(
      sql("DELETE FROM cvplain.d.mor2 WHERE p = 1 AND k >= 13 AND k < 14"))
    rebased(r, "mor2", "delete", rivalOp = "delete")
    assert(rows("mor2").map(_._2) == Seq(3, 4, 11, 12, 14))
    val head = store("mor2").head().get
    // one blob per DELETE, one vector per data file it hit
    assert(head.deleteFiles.forall(_.kind == "dv") &&
      head.deleteFiles.map(_.path).distinct.size == 2)
    assert(head.summary("total-records").toLong == head.totalRows)
  }

  /** MOR table whose p = 0 holds k 1, 2 in one data file and k 3, 4 in
    * another. */
  private def makeTwoFileTable(t: String): Unit = {
    sql(s"DROP TABLE IF EXISTS cvplain.d.$t")
    sql(s"""CREATE TABLE cvplain.d.$t (p INT, k INT, v INT) USING graft
            PARTITIONED BY (p) $mor""")
    Seq((1, 3), (3, 5)).foreach { case (lo, hi) =>
      sql(s"INSERT INTO cvplain.d.$t SELECT 0, CAST(id AS INT), 0 FROM range($lo, $hi, 1, 1)")
    }
  }

  test("rule 3: MOR DELETEs on different files of one partition rebase") {
    makeTwoFileTable("mor3")
    val r = race(sql("DELETE FROM cvrace.d.mor3 WHERE p = 0 AND k >= 1 AND k < 2"))(
      sql("DELETE FROM cvplain.d.mor3 WHERE p = 0 AND k >= 4 AND k < 5"))
    rebased(r, "mor3", "delete", rivalOp = "delete")
    assert(rows("mor3").map(_._2) == Seq(2, 3))
    val head = store("mor3").head().get
    assert(head.deleteFiles.flatMap(_.referencedDataFile).distinct.size == 2)
  }

  test("rule 2: two MOR DELETEs on a file that has a vector serialize") {
    makeTwoFileTable("mor4")
    sql("DELETE FROM cvplain.d.mor4 WHERE p = 0 AND k >= 1 AND k < 2")
    // both replace the vector of the file holding k 1, 2
    val r = race(sql("DELETE FROM cvrace.d.mor4 WHERE p = 0 AND k >= 2 AND k < 3"))(
      sql("DELETE FROM cvplain.d.mor4 WHERE p = 0 AND k >= 2 AND k < 3"))
    aborted(r, "rule 2")
    assert(rows("mor4").map(_._2) == Seq(3, 4))
    val head = store("mor4").head().get
    assert(head.deleteFiles.map(_.rowCount) == Seq(2L), s"${head.deleteFiles}")
  }

  test("rule 4: equality DELETE rebases over a non-matching append") {
    makeTable("eq", mor)
    val r = race(sql("DELETE FROM cvrace.d.eq WHERE k IN (1, 12)"))(
      sql("INSERT INTO cvplain.d.eq VALUES (0, 50, 0), (1, 51, 0)"))
    rebased(r, "eq", "delete")
    assert(store("eq").head().get.deleteFiles.map(_.kind) == Seq("equality"))
    assert(rows("eq").map(_._2) == Seq(2, 3, 4, 50, 11, 13, 14, 51))
  }

  test("rule 4: MERGE matching on its join alone aborts on any append") {
    makeTable("mrg")
    val r = race(sql("""MERGE INTO cvrace.d.mrg t
        USING (SELECT * FROM VALUES (0, 1, 100), (0, 9, 900) AS s(p, k, v)) s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT *"""))(
      sql("INSERT INTO cvplain.d.mrg VALUES (1, 99, 0)"))
    aborted(r, "rule 4")
    assert(rows("mrg").find(_._2 == 1).contains((0, 1, 0)))
  }

  test("rule 1: a concurrent ALTER TABLE ADD COLUMN aborts") {
    makeTable("alt")
    val r = race(sql("UPDATE cvrace.d.alt SET v = 5 WHERE p = 0"))(
      sql("ALTER TABLE cvplain.d.alt ADD COLUMN w INT"))
    aborted(r, "rule 1")
    assert(rows("alt").forall(_._3 == 0))
  }

  test("partition-filtered overwrite keeps a concurrent commit outside its filter") {
    // the overwrite plans on v2 and, while its input is still being
    // computed, another writer commits (2, 99) as v3: the overwrite must
    // rebase onto v3 — not commit v2's file list and drop the row
    sql("DROP TABLE IF EXISTS cvplain.d.ovr")
    sql("CREATE TABLE cvplain.d.ovr (p INT, k INT) USING graft PARTITIONED BY (p)")
    sql("INSERT INTO cvplain.d.ovr VALUES (1, 1), (1, 2), (2, 10), (2, 11)")
    val reached = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    Gate.reached = reached
    Gate.release = release
    val gated = udf { (k: Long) => Gate.pass(); k.toInt }.asNondeterministic()
    // a range, not a local relation: the optimizer folds projections over
    // local rows at planning, which would run the gate before the plan
    val input = spark.range(100, 102).select(lit(1).as("p"), gated(col("id")).as("k"))
    val f = Future(input.writeTo("cvplain.d.ovr").overwrite(col("p") === 1))
    try {
      while (!reached.await(50, TimeUnit.MILLISECONDS))
        assert(!f.isCompleted, s"overwrite ended before computing its input: ${f.value}")
      sql("INSERT INTO cvplain.d.ovr VALUES (2, 99)")
    } finally release.countDown()
    Await.result(f, 3.minutes)
    val ks = sql("SELECT k FROM cvplain.d.ovr ORDER BY k").collect().map(_.getInt(0)).toSeq
    assert(ks == Seq(10, 11, 99, 100, 101), s"concurrent row lost: $ks")
    val st = store("ovr")
    assert(st.listVersions() == (1L to 4L))
    assert(st.head().get.operation == "overwrite")
  }

  test("partition-filtered overwrite aborts when a concurrent commit lands inside its filter") {
    sql("DROP TABLE IF EXISTS cvplain.d.ovr2")
    sql("CREATE TABLE cvplain.d.ovr2 (p INT, k INT) USING graft PARTITIONED BY (p)")
    sql("INSERT INTO cvplain.d.ovr2 VALUES (1, 1), (2, 10)")
    import spark.implicits._
    val raceStore = new SnapshotStore(dir("ovr2"), io = RaceIO)
    val r = race(Seq((1, 100)).toDF("p", "k").writeTo("cvrace.d.ovr2")
      .overwrite(col("p") === 1))(sql("INSERT INTO cvplain.d.ovr2 VALUES (1, 5)"))
    aborted(r, "rule 4")
    assert(raceStore.head().get.operation == "append")
    assert(sql("SELECT k FROM cvplain.d.ovr2 ORDER BY k").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 5, 10))
  }
}

object ConflictValidationSpec {

  /** Latches for the overwrite test's input UDF (a static object, so
    * the executor-side closure sees the driver's instances). */
  object Gate {
    @volatile var reached: CountDownLatch = new CountDownLatch(0)
    @volatile var release: CountDownLatch = new CountDownLatch(0)
    def pass(): Unit = {
      reached.countDown()
      release.await(3, TimeUnit.MINUTES)
    }
  }

  /** Local MetaIO that, once armed, parks the next snapshot-version
    * create (`v<N>.json`) until released. */
  object RaceIO extends MetaIO {
    private val inner = LocalMetaIO
    @volatile private var gate: Option[(CountDownLatch, CountDownLatch)] = None

    def arm(): (CountDownLatch, CountDownLatch) = synchronized {
      val g = (new CountDownLatch(1), new CountDownLatch(1))
      gate = Some(g)
      g
    }
    def disarm(): Unit = synchronized { gate = None }
    private def take(): Option[(CountDownLatch, CountDownLatch)] = synchronized {
      val g = gate
      gate = None
      g
    }

    override def createExclusive(p: Path, content: String): Unit = {
      if (p.getFileName.toString.matches("v\\d+\\.json"))
        take().foreach { case (reached, release) =>
          reached.countDown()
          release.await(3, TimeUnit.MINUTES)
        }
      inner.createExclusive(p, content)
    }
    override def readString(p: Path): String = inner.readString(p)
    override def replaceAtomic(p: Path, content: String): Unit = inner.replaceAtomic(p, content)
    override def write(p: Path, content: String): Unit = inner.write(p, content)
    override def writeBytes(p: Path, bytes: Array[Byte]): Unit = inner.writeBytes(p, bytes)
    override def publish(src: Path, dst: Path): Unit = inner.publish(src, dst)
    override def list(dir: Path): Seq[Path] = inner.list(dir)
    override def listTree(root: Path): Seq[Path] = inner.listTree(root)
    override def isDirectory(p: Path): Boolean = inner.isDirectory(p)
    override def isFile(p: Path): Boolean = inner.isFile(p)
    override def exists(p: Path): Boolean = inner.exists(p)
    override def mkdirs(p: Path): Unit = inner.mkdirs(p)
    override def size(p: Path): Long = inner.size(p)
    override def delete(p: Path): Boolean = inner.delete(p)
    override def deleteTree(root: Path): Unit = inner.deleteTree(root)
  }
}

/** Catalog whose stores commit through [[ConflictValidationSpec.RaceIO]]. */
class RaceCatalog extends GraftCatalog {
  override protected val io: MetaIO = ConflictValidationSpec.RaceIO
}
