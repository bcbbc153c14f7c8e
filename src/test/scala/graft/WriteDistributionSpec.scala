package graft

import java.nio.file.{Files, Paths}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.lake._

/** `graft.write.distribution-mode` (Iceberg's write.distribution-mode):
  * `hash` routes each partition tuple to one task so an append writes one
  * file per partition value instead of one per (task × value). The content
  * must be identical in every mode — only the file layout changes.
  */
class WriteDistributionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val wh = Files.createTempDirectory("graft-dist-wh").toString

  private lazy val spark = {
    val s = SparkSpec.session
    s.conf.set("spark.sql.catalog.distspec", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.distspec.warehouse", wh)
    s
  }

  private def sql(q: String) = spark.sql(q)

  private def store(table: String) =
    new SnapshotStore(Paths.get(wh, "demo", table))

  override def beforeAll(): Unit = {
    sql("CREATE NAMESPACE IF NOT EXISTS distspec.demo")
  }

  /** 200 rows over 4 partition values, spread over many input tasks. */
  private def seed(table: String): Unit = {
    spark.range(0, 200, 1, 16)
      .selectExpr("CAST(id AS INT) AS id", "CAST(id % 4 AS INT) AS p")
      .createOrReplaceTempView(s"dist_src_$table")
    sql(s"INSERT INTO distspec.demo.$table SELECT * FROM dist_src_$table")
  }

  test("hash distribution writes one file per partition value") {
    sql("""CREATE TABLE distspec.demo.hashed (id INT, p INT)
           USING graft PARTITIONED BY (p)
           TBLPROPERTIES ('graft.write.distribution-mode' = 'hash')""")
    seed("hashed")
    val files = store("hashed").head().get.files
    assert(files.size == 4, s"expected 1 file per partition, got ${files.size}")
    assert(files.map(_.partitionValues("p")).sorted == Seq("0", "1", "2", "3"))
    assert(sql("SELECT count(*) FROM distspec.demo.hashed")
      .collect().head.getLong(0) == 200)
  }

  test("default (none) distribution fans out files per task x value") {
    sql("""CREATE TABLE distspec.demo.fanout (id INT, p INT)
           USING graft PARTITIONED BY (p)""")
    seed("fanout")
    val files = store("fanout").head().get.files
    assert(files.size > 4,
      s"16 input tasks x 4 values should exceed 4 files, got ${files.size}")
    // identical content to the hash-distributed table
    val a = sql("SELECT id, p FROM distspec.demo.fanout ORDER BY id").collect()
    val b = sql("SELECT id, p FROM distspec.demo.hashed ORDER BY id").collect()
    assert(a.toSeq == b.toSeq)
  }

  test("range distribution also consolidates and keeps content identical") {
    sql("""CREATE TABLE distspec.demo.ranged (id INT, p INT)
           USING graft PARTITIONED BY (p)
           TBLPROPERTIES ('graft.write.distribution-mode' = 'range')""")
    seed("ranged")
    val files = store("ranged").head().get.files
    assert(files.size <= 8, s"range mode should consolidate, got ${files.size}")
    val a = sql("SELECT id, p FROM distspec.demo.ranged ORDER BY id").collect()
    val b = sql("SELECT id, p FROM distspec.demo.hashed ORDER BY id").collect()
    assert(a.toSeq == b.toSeq)
  }

  test("a multi-row VALUES insert over 3 partition values commits exactly 3 files") {
    sql("""CREATE TABLE distspec.demo.vals (id INT, p STRING)
           USING graft PARTITIONED BY (p)""")
    val rows = (1 to 30).map(i => s"($i, '${"abc"(i % 3)}')").mkString(", ")
    sql(s"INSERT INTO distspec.demo.vals VALUES $rows")
    val head = store("vals").head().get
    assert(head.files.size == 3, s"got ${head.files.map(_.partitionValues)}")
    assert(head.files.map(_.partitionValues("p")).sorted == Seq("a", "b", "c"))
    assert(head.files.map(_.rowCount).sum == 30L)
    // a local frame takes the same path; unpartitioned, it is one file
    sql("CREATE TABLE distspec.demo.flat (id INT, p STRING) USING graft")
    import spark.implicits._
    (1 to 30).map(i => (i, "x")).toDF("id", "p")
      .writeTo("distspec.demo.flat").append()
    assert(store("flat").head().get.files.size == 1)
    assert(sql("SELECT count(*) FROM distspec.demo.vals")
      .collect().head.getLong(0) == 30L)
  }

  test("an 8-partition non-local source still fans out per task x value") {
    sql("""CREATE TABLE distspec.demo.wide (id INT, p INT)
           USING graft PARTITIONED BY (p)""")
    spark.range(0, 200, 1, 8)
      .selectExpr("CAST(id AS INT) AS id", "CAST(id % 4 AS INT) AS p")
      .createOrReplaceTempView("dist_src_wide")
    sql("INSERT INTO distspec.demo.wide SELECT * FROM dist_src_wide")
    // each of the 8 tasks holds 25 consecutive ids, so all 4 values
    val files = store("wide").head().get.files
    assert(files.size == 32, s"expected 8 tasks x 4 values, got ${files.size}")
    assert(sql("SELECT count(*) FROM distspec.demo.wide")
      .collect().head.getLong(0) == 200L)
  }
}
