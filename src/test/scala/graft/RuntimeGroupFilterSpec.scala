package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.lake._

/** Runtime group filtering (SURVEY.md §4; Spark's
  * RowLevelOperationRuntimeGroupFiltering): a MERGE whose ON condition
  * carries no static predicate must still rewrite ONLY the files that
  * contain matching rows — Spark runs a subquery collecting the `_file`
  * of matching target rows and hands the set to the COW scan at runtime.
  *
  * Round-1 regression context: filterAttributes() returning all columns
  * made Spark build an untranslatable struct-IN runtime filter (silently
  * dropped → whole table rewritten); an early `_file` implementation
  * compared URI-form against raw paths (matched nothing → the MERGE
  * silently LOST its updates). Both shapes are pinned here.
  */
class RuntimeGroupFilterSpec extends AnyFunSuite {

  private val wh = Files.createTempDirectory("graft-rgf-wh").toString

  private lazy val spark = {
    val s = SparkSpec.session
    s.conf.set("spark.sql.catalog.rgf", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.rgf.warehouse", wh)
    s
  }

  test("MERGE rewrites only the files containing matching rows") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rgf.t")
    spark.sql("""CREATE TABLE rgf.t.target (id INT, v STRING, part INT)
                 USING iceberg PARTITIONED BY (part)""")
    // one INSERT per row: one data file per row
    Seq("(1,'a',1)", "(2,'b',1)", "(3,'c',2)", "(4,'d',2)", "(5,'e',3)")
      .foreach(r => spark.sql(s"INSERT INTO rgf.t.target VALUES $r"))
    spark.sql("CREATE TABLE rgf.t.src (id INT, v STRING) USING iceberg")
    spark.sql("INSERT INTO rgf.t.src VALUES (3,'C3'),(4,'D4')")

    val store = new SnapshotStore(Paths.get(wh, "t", "target"))
    val before = store.head().get
    assert(before.files.size == 5)

    spark.sql("""MERGE INTO rgf.t.target t USING rgf.t.src s
                 ON t.id = s.id
                 WHEN MATCHED THEN UPDATE SET t.v = s.v""")

    // data: matched rows updated, everything else intact
    val rows = spark.sql("SELECT id, v FROM rgf.t.target ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "a"), (2, "b"), (3, "C3"), (4, "D4"), (5, "e")))

    // group set: only the 2 files that contained ids 3 and 4 were
    // replaced — NOT all 5 (the ON condition has no static predicate, so
    // only the runtime _file filter can narrow the rewrite)
    val head = store.head().get
    assert(head.operation == "update" || head.operation == "merge")
    assert(head.summary("replaced-files").toInt == 2,
      s"runtime group filtering regressed: ${head.summary}")
    assert(head.summary("added-files").toInt >= 1)
    assert(head.files.size == 5)
  }

  test("MERGE with an empty match set rewrites nothing and loses nothing") {
    spark.sql("CREATE TABLE rgf.t.target2 (id INT, v STRING) USING iceberg")
    spark.sql("INSERT INTO rgf.t.target2 VALUES (1,'a'),(2,'b')")
    spark.sql("CREATE TABLE rgf.t.src2 (id INT, v STRING) USING iceberg")
    spark.sql("INSERT INTO rgf.t.src2 VALUES (99,'zz')")
    spark.sql("""MERGE INTO rgf.t.target2 t USING rgf.t.src2 s
                 ON t.id = s.id
                 WHEN MATCHED THEN UPDATE SET t.v = s.v""")
    val rows = spark.sql("SELECT id, v FROM rgf.t.target2 ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "a"), (2, "b")))
    val store = new SnapshotStore(Paths.get(wh, "t", "target2"))
    assert(store.head().get.summary.get("replaced-files").forall(_.toInt == 0))
  }
}
