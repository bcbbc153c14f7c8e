package graft

import java.nio.file.{Files, Paths}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.lake._

/** Merge-on-read DELETE (deletion vectors, Iceberg v3 design —
  * SURVEY.md §2.2 row-level ops): a DELETE under
  * `graft.delete-mode = merge-on-read` records the deleted positions of
  * each data file it hits in that file's vector instead of rewriting data
  * files. Covers: query results, data files untouched, NULL condition
  * semantics, stacked deletes with no duplicate positions, time travel,
  * `rewrite_deletes` compaction, COW UPDATE/MERGE interplay (no
  * resurrection), CDC changelog, partitioned tables, and overwrites
  * dropping dangling vectors.
  */
class MorDeleteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val wh = Files.createTempDirectory("graft-mor-wh").toString

  private lazy val spark = {
    val s = SparkSpec.session
    s.conf.set("spark.sql.catalog.morspec", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.morspec.warehouse", wh)
    s
  }

  private def sql(q: String) = spark.sql(q)

  private def store(table: String) =
    new SnapshotStore(Paths.get(wh, "demo", table))

  private def dataFilePaths(table: String): Seq[String] =
    store(table).head().get.files.map(_.path).sorted

  private def deleteFiles(table: String): Seq[DeleteFile] =
    store(table).head().get.deleteFiles

  override def beforeAll(): Unit = {
    sql("CREATE NAMESPACE IF NOT EXISTS morspec.demo")
  }

  /** Five rows in one data file, or in five (`filePerRow`: one INSERT
    * per row). */
  private def makeTable(name: String, extraProps: String = "",
      filePerRow: Boolean = false): Unit = {
    sql(s"DROP TABLE IF EXISTS morspec.demo.$name")
    sql(s"""CREATE TABLE morspec.demo.$name (id INT, grp STRING, v INT)
            USING graft
            TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read'$extraProps)""")
    val rows = Seq("(1, 'a', 10)", "(2, 'a', 20)", "(3, 'b', NULL)",
      "(4, 'b', 40)", "(5, 'c', 50)")
    if (filePerRow) rows.foreach(r => sql(s"INSERT INTO morspec.demo.$name VALUES $r"))
    else sql(s"INSERT INTO morspec.demo.$name VALUES ${rows.mkString(", ")}")
  }

  test("MOR DELETE removes rows without touching data files") {
    makeTable("t1")
    val before = dataFilePaths("t1")
    // OR of equalities is not an equality conjunction -> POSITIONAL path
    sql("DELETE FROM morspec.demo.t1 WHERE id = 2 OR id = 4")
    assert(dataFilePaths("t1") == before, "data files must be untouched")
    assert(deleteFiles("t1").map(_.rowCount).sum == 2)
    val ids = sql("SELECT id FROM morspec.demo.t1 ORDER BY id")
      .collect().map(_.getInt(0)).toSeq
    assert(ids == Seq(1, 3, 5))
    val snap = store("t1").head().get
    assert(snap.operation == "delete")
    assert(snap.summary("delete-mode") == "merge-on-read")
    assert(snap.totalRows == 3)
  }

  test("NULL-evaluating rows are NOT deleted (SQL DELETE semantics)") {
    makeTable("t2")
    // v IS NULL for id=3: `v = 40` evaluates NULL there -> row must survive
    sql("DELETE FROM morspec.demo.t2 WHERE v = 40")
    val ids = sql("SELECT id FROM morspec.demo.t2 ORDER BY id")
      .collect().map(_.getInt(0)).toSeq
    assert(ids == Seq(1, 2, 3, 5))
  }

  test("stacked MOR deletes never record duplicate tuples") {
    makeTable("t3")
    // the range term forces the POSITIONAL path (not equality kind)
    sql("DELETE FROM morspec.demo.t3 WHERE grp = 'a' AND id < 100") // ids 1,2
    sql("DELETE FROM morspec.demo.t3 WHERE id <= 3")     // id 3 only (1,2 gone)
    assert(deleteFiles("t3").map(_.rowCount).sum == 3,
      "re-deleting already-deleted rows must not add tuples")
    val ids = sql("SELECT id FROM morspec.demo.t3 ORDER BY id")
      .collect().map(_.getInt(0)).toSeq
    assert(ids == Seq(4, 5))
    assert(store("t3").head().get.totalRows == 2)
  }

  test("time travel sees rows as of before the delete") {
    makeTable("t4")
    sql("DELETE FROM morspec.demo.t4 WHERE id = 1")
    // v1 = create, v2 = insert, v3 = delete
    assert(sql("SELECT * FROM morspec.demo.t4 VERSION AS OF 2").count() == 5)
    assert(sql("SELECT * FROM morspec.demo.t4 VERSION AS OF 3").count() == 4)
  }

  test("rewrite_deletes folds tuples into data files; results unchanged") {
    makeTable("t5")
    sql("DELETE FROM morspec.demo.t5 WHERE grp = 'b'")
    val expect = sql("SELECT id, grp, v FROM morspec.demo.t5 ORDER BY id").collect()
    sql("CALL morspec.system.rewrite_deletes('demo.t5')")
    assert(deleteFiles("t5").isEmpty, "tuples must be folded in")
    val after = sql("SELECT id, grp, v FROM morspec.demo.t5 ORDER BY id").collect()
    assert(after.toSeq == expect.toSeq)
    assert(store("t5").head().get.operation == "replace")
    // deleting after the rewrite still works (fresh tuple epoch)
    sql("DELETE FROM morspec.demo.t5 WHERE id = 5")
    assert(sql("SELECT count(*) FROM morspec.demo.t5").collect().head.getLong(0) == 2)
  }

  test("COW UPDATE on a table with pending MOR deletes does not resurrect rows") {
    makeTable("t6")
    // range term -> a deletion vector (the test below checks its reference)
    sql("DELETE FROM morspec.demo.t6 WHERE id = 2 AND v < 1000")
    // UPDATE rewrites whole files (COW): the rewrite read must skip pos 1
    sql("UPDATE morspec.demo.t6 SET v = 99 WHERE grp = 'a'")
    val rows = sql("SELECT id, v FROM morspec.demo.t6 ORDER BY id")
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toSeq
    assert(rows == Seq((1, 99), (3, -1), (4, 40), (5, 50)))
    // every surviving vector must reference a CURRENT data file (a file
    // the rewrite did not touch — runtime group filtering only rewrites
    // files with live matches, so the deleted row's mask may remain)
    val snap = store("t6").head().get
    val live = snap.files.map(_.path).toSet
    assert(snap.deleteFiles.flatMap(_.referencedDataFile).forall(live.contains),
      "no dangling vectors")
  }

  test("MERGE into a MOR table treats deleted rows as absent") {
    makeTable("t7")
    sql("DELETE FROM morspec.demo.t7 WHERE id = 1")
    spark.sql("SELECT 1 AS id, 'z' AS grp, 111 AS v")
      .createOrReplaceTempView("mor_merge_src")
    sql("""MERGE INTO morspec.demo.t7 t USING mor_merge_src s ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET v = s.v
           WHEN NOT MATCHED THEN INSERT *""")
    // id=1 was deleted -> NOT MATCHED -> inserted fresh with grp='z'
    val row = sql("SELECT grp, v FROM morspec.demo.t7 WHERE id = 1").collect()
    assert(row.length == 1 && row.head.getString(0) == "z" &&
      row.head.getInt(1) == 111)
    assert(sql("SELECT count(*) FROM morspec.demo.t7").collect().head.getLong(0) == 5)
  }

  test("CDC changelog emits MOR-deleted rows as deletes") {
    makeTable("t8")
    sql("DELETE FROM morspec.demo.t8 WHERE grp = 'c'") // id 5
    val st = store("t8")
    val head = st.currentVersion().get
    val changes = Changes.between(spark, st, head - 1, head)
    val rows = changes.collect().map(r =>
      (r.getAs[Int]("id"), r.getAs[String](Changes.ChangeType))).toSeq
    assert(rows == Seq((5, "delete")))
    // and rewrite_deletes compaction produces an EMPTY changelog
    sql("CALL morspec.system.rewrite_deletes('demo.t8')")
    val v2 = st.currentVersion().get
    assert(Changes.between(spark, st, v2 - 1, v2).count() == 0,
      "compaction must not appear as data change")
  }

  test("MOR delete on a partitioned table prunes to matching partitions") {
    sql("DROP TABLE IF EXISTS morspec.demo.tp")
    sql("""CREATE TABLE morspec.demo.tp (id INT, grp STRING, v INT)
           USING graft PARTITIONED BY (grp)
           TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    sql("""INSERT INTO morspec.demo.tp VALUES
           (1, 'a', 10), (2, 'a', 20), (3, 'b', 30), (4, 'b', 40)""")
    sql("DELETE FROM morspec.demo.tp WHERE grp = 'a' AND id = 1")
    val ids = sql("SELECT id FROM morspec.demo.tp ORDER BY id")
      .collect().map(_.getInt(0)).toSeq
    assert(ids == Seq(2, 3, 4))
    // partition-scoped read still correct
    assert(sql("SELECT count(*) FROM morspec.demo.tp WHERE grp = 'a'")
      .collect().head.getLong(0) == 1)
  }

  test("INSERT OVERWRITE clears pending tuples with the rows they referenced") {
    makeTable("t9")
    sql("DELETE FROM morspec.demo.t9 WHERE id = 1")
    sql("INSERT OVERWRITE morspec.demo.t9 VALUES (7, 'x', 70)")
    assert(deleteFiles("t9").isEmpty, "full overwrite must drop tuples")
    val ids = sql("SELECT id FROM morspec.demo.t9").collect().map(_.getInt(0)).toSeq
    assert(ids == Seq(7))
  }

  test("aggregates, joins and _file over a MOR table see only live rows") {
    makeTable("t10")
    sql("DELETE FROM morspec.demo.t10 WHERE id IN (1, 5)")
    val agg = sql("""SELECT grp, count(*) AS n, sum(v) AS sv
                     FROM morspec.demo.t10 GROUP BY grp ORDER BY grp""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(agg == Seq(("a", 1L), ("b", 2L)))
    val j = sql("""SELECT count(*) FROM morspec.demo.t10 a
                   JOIN morspec.demo.t10 b ON a.grp = b.grp""")
      .collect().head.getLong(0)
    assert(j == 5) // 1 + 4
    val files = sql("SELECT _file FROM morspec.demo.t10").collect()
    assert(files.length == 3 && files.forall(!_.isNullAt(0)))
  }

  test("CDC does not re-emit old deletes when retain() rewrites tuple files") {
    makeTable("t13", filePerRow = true)
    sql("DELETE FROM morspec.demo.t13 WHERE id = 1 OR id = 3") // positional
    val st = store("t13")
    val vDelete = st.currentVersion().get
    // compaction rewrites data files and drops their vectors (retain):
    // the changelog for that commit must be EMPTY, not a replay of the
    // v-delete positions under their new file path
    Maintenance.compact(spark, st, smallFileThresholdBytes = 1024 * 1024 * 64)
    val vCompact = st.currentVersion().get
    assert(vCompact > vDelete, "compact must have committed")
    val ch = Changes.between(spark, st, vDelete, vCompact)
    assert(ch.count() == 0,
      s"compaction changelog must be empty, got ${ch.collect().mkString(", ")}")
  }

  test("delete_files metadata table reports pending tuples") {
    makeTable("t11")
    sql("DELETE FROM morspec.demo.t11 WHERE id <= 2")
    val meta = sql("SELECT record_count FROM morspec.demo.t11.delete_files")
      .collect().map(_.getLong(0)).toSeq
    assert(meta.sum == 2)
    sql("CALL morspec.system.rewrite_deletes('demo.t11')")
    assert(sql("SELECT * FROM morspec.demo.t11.delete_files").count() == 0)
  }
}
