package graft

import java.nio.file.{Files, Paths}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.lake._

/** IDENTITY columns: values assigned at ingest from a committed
  * high-water mark (gaps expected — assignment is shuffle-free), START
  * WITH / INCREMENT BY respected, BY DEFAULT accepts explicit values,
  * ALWAYS rejects them, and inserts stay unique across commits.
  */
class IdentityColumnsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val wh = Files.createTempDirectory("graft-idn-wh").toString

  private lazy val spark = {
    val s = SparkSpec.session
    s.conf.set("spark.sql.catalog.idspec", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.idspec.warehouse", wh)
    s
  }

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    sql("CREATE NAMESPACE IF NOT EXISTS idspec.demo")
  }

  test("ALWAYS AS IDENTITY assigns unique increasing values across commits") {
    sql("""CREATE TABLE idspec.demo.t1
           (id BIGINT GENERATED ALWAYS AS IDENTITY, v STRING) USING graft""")
    sql("INSERT INTO idspec.demo.t1 (v) VALUES ('a'), ('b'), ('c')")
    sql("INSERT INTO idspec.demo.t1 (v) VALUES ('d'), ('e')")
    val ids = sql("SELECT id FROM idspec.demo.t1 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.size == 5 && ids.distinct.size == 5, s"ids not unique: $ids")
    assert(ids.forall(_ >= 1), s"ids below start: $ids")
    // second batch strictly after the first (hwm advanced)
    val snap = new SnapshotStore(Paths.get(wh, "demo", "t1")).head().get
    assert(snap.identity("id").lastValue.contains(ids.max))
  }

  test("a many-row VALUES insert into an IDENTITY table keeps its ids unique") {
    sql("""CREATE TABLE idspec.demo.tv
           (id BIGINT GENERATED ALWAYS AS IDENTITY, v INT) USING graft""")
    val values = (1 to 40).map(i => s"($i)").mkString(", ")
    sql(s"INSERT INTO idspec.demo.tv (v) VALUES $values")
    sql(s"INSERT INTO idspec.demo.tv (v) VALUES $values")
    val ids = sql("SELECT id FROM idspec.demo.tv").collect().map(_.getLong(0)).toSeq
    assert(ids.size == 80 && ids.distinct.size == 80, s"ids not unique: $ids")
    // driver-held rows are written by one task: one file per INSERT
    val st = new SnapshotStore(Paths.get(wh, "demo", "tv"))
    assert(st.head().get.files.size == 2)
  }

  test("START WITH / INCREMENT BY are respected") {
    sql("""CREATE TABLE idspec.demo.t2
           (id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100 INCREMENT BY 5),
            v STRING) USING graft""")
    sql("INSERT INTO idspec.demo.t2 (v) VALUES ('a'), ('b')")
    val ids = sql("SELECT id FROM idspec.demo.t2 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.forall(i => i >= 100 && (i - 100) % 5 == 0),
      s"ids must be on the 100+5k lattice: $ids")
    assert(ids.distinct.size == 2)
  }

  test("BY DEFAULT accepts explicit values and fills omissions") {
    sql("""CREATE TABLE idspec.demo.t3
           (id BIGINT GENERATED BY DEFAULT AS IDENTITY, v STRING) USING graft""")
    sql("INSERT INTO idspec.demo.t3 VALUES (555, 'explicit')")
    sql("INSERT INTO idspec.demo.t3 (v) VALUES ('auto')")
    val rows = sql("SELECT id, v FROM idspec.demo.t3 ORDER BY v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows.exists(_ == (555L, "explicit")))
    val auto = rows.find(_._2 == "auto").get._1
    assert(auto != 555L)
  }

  test("MERGE and upsert on identity tables are refused (would bypass assignment)") {
    sql("""CREATE TABLE idspec.demo.t5
           (id BIGINT GENERATED ALWAYS AS IDENTITY, v STRING) USING graft""")
    sql("INSERT INTO idspec.demo.t5 (v) VALUES ('a')")
    spark.sql("SELECT 1L AS id, 'z' AS v").createOrReplaceTempView("idn_src")
    val e1 = intercept[Exception] {
      sql("""MERGE INTO idspec.demo.t5 t USING idn_src s ON t.id = s.id
             WHEN MATCHED THEN UPDATE SET v = s.v
             WHEN NOT MATCHED THEN INSERT *""")
    }
    assert((e1.getMessage + Option(e1.getCause).map(_.getMessage).getOrElse(""))
      .contains("IDENTITY"))
    val e2 = intercept[Exception] {
      Upsert.into(spark,
        new SnapshotStore(Paths.get(wh, "demo", "t5")),
        spark.sql("SELECT 1L AS id, 'z' AS v"), Seq("id"))
    }
    assert(e2.getMessage.contains("IDENTITY"))
  }

  test("DDL that would break write-time machinery is refused") {
    sql("""CREATE TABLE idspec.demo.t6
           (id BIGINT GENERATED ALWAYS AS IDENTITY, v INT) USING graft""")
    sql("ALTER TABLE idspec.demo.t6 ADD CONSTRAINT pos CHECK (v > 0)")
    // dropping the identity column would brick every later insert
    val e1 = intercept[Exception] {
      sql("ALTER TABLE idspec.demo.t6 DROP COLUMN id")
    }
    assert((e1.getMessage + Option(e1.getCause).map(_.getMessage).getOrElse(""))
      .contains("IDENTITY"))
    // dropping/renaming a column referenced by a CHECK is refused
    val e2 = intercept[Exception] {
      sql("ALTER TABLE idspec.demo.t6 DROP COLUMN v")
    }
    assert((e2.getMessage + Option(e2.getCause).map(_.getMessage).getOrElse(""))
      .contains("CHECK"))
    val e3 = intercept[Exception] {
      sql("ALTER TABLE idspec.demo.t6 RENAME COLUMN v TO w")
    }
    assert((e3.getMessage + Option(e3.getCause).map(_.getMessage).getOrElse(""))
      .contains("CHECK"))
    // renaming the IDENTITY column itself renames its spec key
    sql("ALTER TABLE idspec.demo.t6 RENAME COLUMN id TO rid")
    sql("INSERT INTO idspec.demo.t6 (v) VALUES (5)")
    val r = sql("SELECT rid FROM idspec.demo.t6").collect()
    assert(r.length == 1 && !r.head.isNullAt(0))
  }

  test("batched rename+drop in ONE alterTable cannot smuggle out an identity column") {
    sql("""CREATE TABLE idspec.demo.t8
           (id BIGINT GENERATED ALWAYS AS IDENTITY, v INT) USING graft""")
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog, TableChange}
    val cat = spark.sessionState.catalogManager.catalog("idspec")
      .asInstanceOf[TableCatalog]
    val e = intercept[Exception] {
      cat.alterTable(Identifier.of(Array("demo"), "t8"),
        TableChange.renameColumn(Array("id"), "rid"),
        TableChange.deleteColumn(Array("rid"), false))
    }
    assert(e.getMessage.contains("IDENTITY"),
      s"guards must see the batch's own rename: ${e.getMessage}")
    // table unchanged and still writable
    sql("INSERT INTO idspec.demo.t8 (v) VALUES (1)")
    assert(sql("SELECT id FROM idspec.demo.t8").collect().length == 1)
  }

  test("partition-overwrite paths on identity tables are refused") {
    sql("""CREATE TABLE idspec.demo.t7
           (id BIGINT GENERATED ALWAYS AS IDENTITY, p INT, v INT)
           USING graft PARTITIONED BY (p)""")
    sql("INSERT INTO idspec.demo.t7 (p, v) VALUES (1, 10), (2, 20)")
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try {
      val e = intercept[Exception] {
        sql("INSERT OVERWRITE idspec.demo.t7 (p, v) VALUES (1, 99)")
      }
      assert((e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
        .contains("IDENTITY"))
    } finally spark.conf.set(key, prev)
    // rows untouched, ids still unique after a further plain insert
    sql("INSERT INTO idspec.demo.t7 (p, v) VALUES (3, 30)")
    val ids = sql("SELECT id FROM idspec.demo.t7").collect().map(_.getLong(0))
    assert(ids.length == 3 && ids.distinct.length == 3)
  }

  test("ALWAYS AS IDENTITY rejects explicit inserts") {
    sql("""CREATE TABLE idspec.demo.t4
           (id BIGINT GENERATED ALWAYS AS IDENTITY, v STRING) USING graft""")
    val e = intercept[Exception] {
      sql("INSERT INTO idspec.demo.t4 VALUES (1, 'x')")
    }
    assert(e.getMessage.toUpperCase.contains("IDENTITY"))
  }
}
