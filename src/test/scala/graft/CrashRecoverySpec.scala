package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.lake._

/** Crash-window recovery: the commit protocol's two steps (version file,
  * then hint swap) can be separated by a crash — readers must resolve the
  * true head by scan, the next commit must continue the chain, and
  * maintenance must clear the debris (stale staging dirs, unreferenced
  * files) without touching live state.
  */
class CrashRecoverySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val wh = Files.createTempDirectory("graft-crash-wh").toString

  private lazy val spark = {
    val s = SparkSpec.session
    s.conf.set("spark.sql.catalog.crspec", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.crspec.warehouse", wh)
    s
  }

  private def sql(q: String) = spark.sql(q)

  private def store(table: String) =
    new SnapshotStore(Paths.get(wh, "demo", table))

  override def beforeAll(): Unit = {
    sql("CREATE NAMESPACE IF NOT EXISTS crspec.demo")
  }

  test("crash between version write and hint swap: head resolves by scan") {
    sql("CREATE TABLE crspec.demo.c1 (id INT) USING graft")
    sql("INSERT INTO crspec.demo.c1 VALUES (1)")
    val st = store("c1")
    val head = st.head().get
    // simulate the crash: v3 exists, hint still points at v2
    val v3 = head.copy(version = head.version + 1,
      parentVersion = Some(head.version),
      summary = head.summary + ("crash-sim" -> "true"))
    Files.writeString(
      Paths.get(wh, "demo", "c1", "metadata", s"v${v3.version}.json"),
      Snapshot.toJson(v3), UTF_8, StandardOpenOption.CREATE_NEW)
    Files.writeString(
      Paths.get(wh, "demo", "c1", "metadata", "version-hint.text"),
      head.version.toString, UTF_8)
    assert(st.currentVersion().contains(v3.version),
      "head must resolve past a stale hint")
    // the NEXT commit continues from the recovered head
    sql("INSERT INTO crspec.demo.c1 VALUES (2)")
    val after = st.head().get
    assert(after.version == v3.version + 1)
    assert(after.parentVersion.contains(v3.version))
    assert(sql("SELECT count(*) FROM crspec.demo.c1")
      .collect().head.getLong(0) == 2)
  }

  test("DROP + CREATE + INSERT at one path never returns the dropped table's snapshot") {
    sql("CREATE TABLE crspec.demo.dc (id INT) USING graft")
    sql("INSERT INTO crspec.demo.dc VALUES (1), (2)")
    val st = store("dc")
    val old = st.head().get
    sql("DROP TABLE crspec.demo.dc")
    sql("CREATE TABLE crspec.demo.dc (id INT, s STRING) USING graft")
    sql("INSERT INTO crspec.demo.dc VALUES (3, 'x')")
    // the new chain reuses the dropped chain's version numbers
    val now = st.head().get
    assert(now.version == old.version)
    assert(now.schema.fieldNames.toSeq == Seq("id", "s"))
    assert(st.read(old.version).totalRows == 1L)
    val rows = sql("SELECT id, s FROM crspec.demo.dc").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((3, "x")))
  }

  test("stale staging dirs are cleaned; fresh ones and live data survive") {
    sql("CREATE TABLE crspec.demo.c2 (id INT) USING graft")
    sql("INSERT INTO crspec.demo.c2 VALUES (1), (2)")
    val st = store("c2")
    val tdir = Paths.get(wh, "demo", "c2")
    // a crashed writer's leftovers
    val stale = tdir.resolve(".staging-dead")
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("part-0.parquet"), "junk", UTF_8)
    // a "live" writer's staging dir (too young to touch at 1h threshold)
    val fresh = tdir.resolve(".staging-live")
    Files.createDirectories(fresh)
    val removed = Maintenance.removeOrphanFiles(st, staleStagingMillis = 0)
    assert(removed.contains(".staging-dead") || !Files.exists(stale))
    assert(!Files.exists(stale))
    // age=0 removes both; rerun the default threshold variant on a new pair
    val fresh2 = tdir.resolve(".staging-live2")
    Files.createDirectories(fresh2)
    Maintenance.removeOrphanFiles(st) // default 1h threshold
    assert(Files.exists(fresh2), "young staging dirs must be left alone")
    assert(sql("SELECT count(*) FROM crspec.demo.c2")
      .collect().head.getLong(0) == 2, "live data untouched")
  }

  test("unreferenced data files from aborted commits are collected") {
    sql("CREATE TABLE crspec.demo.c3 (id INT) USING graft")
    sql("INSERT INTO crspec.demo.c3 VALUES (1)")
    val st = store("c3")
    // an aborted commit's leftover, old enough to be past the age guard
    val junk = st.dataDir.resolve("deadbeef-orphan.parquet")
    Files.writeString(junk, "junk", UTF_8)
    Files.setLastModifiedTime(junk,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    // a FRESH unreferenced file — e.g. a dv blob or data file published
    // ahead of a still-in-flight commit — must survive the default sweep
    val inflight = st.dataDir.resolve("cafebabe-inflight.parquet")
    Files.writeString(inflight, "junk", UTF_8)
    val removed = Maintenance.removeOrphanFiles(st)
    assert(removed.contains("deadbeef-orphan.parquet"))
    assert(!Files.exists(junk))
    assert(Files.exists(inflight),
      "young unreferenced data files must be left for the next sweep")
    assert(sql("SELECT count(*) FROM crspec.demo.c3")
      .collect().head.getLong(0) == 1)
    Files.deleteIfExists(inflight)
  }
}
