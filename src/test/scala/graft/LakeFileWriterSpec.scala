package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.scalatest.funsuite.AnyFunSuite

import graft.lake._

/** The lake's one parquet writer ([[LakeFileWriter]]) behind every write
  * path: INSERT, merge-on-read position and equality deletes, the
  * UPDATE/MERGE rewrites, dynamic overwrite and compaction. Pins what the
  * files look like — partition tuples recorded as written (an empty
  * string stays ''), no committer or checksum debris, footer stats on
  * every path, and MICROS timestamps whatever the session asks of
  * `DataFrameWriter.parquet`.
  */
class LakeFileWriterSpec extends AnyFunSuite {

  private val wh = Files.createTempDirectory("graft-lfw-wh").toString

  private lazy val spark = {
    val s = SparkSpec.session
    s.conf.set("spark.sql.catalog.lfw", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.lfw.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS lfw.t")
    s
  }

  private def sql(q: String) = spark.sql(q)

  private def store(t: String) = new SnapshotStore(Paths.get(wh, "t", t))

  private def ids(q: String): Seq[Int] =
    sql(q).collect().map(_.getInt(0)).toSeq.sorted

  private def withDynamicMode[A](body: => A): A = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try body finally spark.conf.set(key, prev)
  }

  /** Names of every file and directory under `root`. */
  private def entries(root: Path): Seq[String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq
    finally s.close()
  }

  test("an empty-string partition value stays '' on INSERT, UPDATE and dynamic overwrite") {
    sql("CREATE TABLE lfw.t.ep (id INT, p STRING) USING iceberg PARTITIONED BY (p)")
    sql("INSERT INTO lfw.t.ep VALUES (1, ''), (2, 'a'), (3, NULL)")
    def tuples = store("ep").head().get.files.map(_.partitionValues("p")).toSet
    assert(tuples == Set("", "a", "__null__"))
    assert(ids("SELECT id FROM lfw.t.ep WHERE p = ''") == Seq(1))
    assert(ids("SELECT id FROM lfw.t.ep WHERE p IS NULL") == Seq(3))

    sql("UPDATE lfw.t.ep SET id = 10 WHERE p = ''")
    assert(tuples == Set("", "a", "__null__"))
    assert(ids("SELECT id FROM lfw.t.ep WHERE p = ''") == Seq(10))

    // dynamic overwrite swaps the '' partition, and only it
    withDynamicMode(sql("INSERT OVERWRITE lfw.t.ep VALUES (20, '')"))
    assert(ids("SELECT id FROM lfw.t.ep") == Seq(2, 3, 20))
    assert(ids("SELECT id FROM lfw.t.ep WHERE p = ''") == Seq(20))
    // ... next to the NULL partition, which swaps the same way
    withDynamicMode(sql("INSERT OVERWRITE lfw.t.ep VALUES (30, NULL)"))
    assert(ids("SELECT id FROM lfw.t.ep") == Seq(2, 20, 30))
    assert(ids("SELECT id FROM lfw.t.ep WHERE p IS NULL") == Seq(30))
    assert(tuples == Set("", "a", "__null__"))
  }

  test("every write path leaves only published parquet, and UPDATE/MERGE files carry STRING stats") {
    sql("""CREATE TABLE lfw.t.w (id INT, s STRING, p STRING) USING iceberg
           PARTITIONED BY (p)
           TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    sql("""INSERT INTO lfw.t.w VALUES
           (1, 'a', 'x'), (2, 'b', 'x'), (3, 'c', 'y'), (4, 'd', 'y'), (6, 'f', 'y')""")
    sql("DELETE FROM lfw.t.w WHERE id >= 6")  // range: deletion vector
    sql("DELETE FROM lfw.t.w WHERE id IN (1)") // IN-list: equality deletes
    assert(store("w").head().get.deleteFiles.map(_.kind).toSet ==
      Set("dv", "equality"))

    def files = store("w").head().get.files
    val beforeUpdate = files.map(_.path).toSet
    sql("UPDATE lfw.t.w SET s = 'bb' WHERE id = 2")
    val afterUpdate = files
    val beforeMerge = afterUpdate.map(_.path).toSet
    sql("""MERGE INTO lfw.t.w t
           USING (SELECT 3 AS id, 'cc' AS s, 'y' AS p
                  UNION ALL SELECT 5, 'ee', 'z') u
           ON t.id = u.id
           WHEN MATCHED THEN UPDATE SET s = u.s
           WHEN NOT MATCHED THEN INSERT *""")
    val rewritten = afterUpdate.filterNot(f => beforeUpdate(f.path)) ++
      files.filterNot(f => beforeMerge(f.path))
    assert(rewritten.nonEmpty)
    rewritten.foreach { f =>
      val st = f.stats.get("s")
      assert(st.exists(c => c.min.isDefined && c.max.isDefined),
        s"${f.path} written by UPDATE/MERGE has no STRING min/max: ${f.stats}")
    }

    sql("CALL lfw.system.compact(`table` => 't.w')")
    val rows = sql("SELECT id, s, p FROM lfw.t.w").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq.sortBy(_._1)
    assert(rows == Seq((2, "bb", "x"), (3, "cc", "y"), (4, "d", "y"), (5, "ee", "z")))

    val debris = entries(store("w").tableDir).filter(n =>
      n.endsWith(".crc") || n == "_SUCCESS" || n == "_temporary" ||
        n.startsWith(".staging-"))
    assert(debris.isEmpty, s"write debris left behind: $debris")
  }

  test("TIMESTAMP columns are written as MICROS with stats whatever the session's outputTimestampType") {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try {
      sql("CREATE TABLE lfw.t.ts (id INT, ts TIMESTAMP) USING iceberg")
      // one INSERT per file
      sql("INSERT INTO lfw.t.ts VALUES (1, TIMESTAMP '2024-01-02 03:04:05')")
      sql("INSERT INTO lfw.t.ts VALUES (2, TIMESTAMP '2024-06-01 00:00:00')")
      sql("UPDATE lfw.t.ts SET id = 3 WHERE id = 2") // the rewrite writer too
      assert(spark.conf.get(key) == "INT96", "the session setting was changed")

      val st = store("ts")
      val head = st.head().get
      assert(head.files.size == 2)
      head.files.foreach { f =>
        val r = ParquetFileReader.open(new LocalInputFile(st.tableDir.resolve(f.path)))
        val ts =
          try r.getFooter.getFileMetaData.getSchema.getFields.asScala
            .find(_.getName == "ts").get.asPrimitiveType
          finally r.close()
        assert(ts.getPrimitiveTypeName == PrimitiveTypeName.INT64, s"${f.path}: $ts")
        assert(ts.getLogicalTypeAnnotation ==
          LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS),
          s"${f.path}: $ts")
        assert(f.stats.get("ts").exists(c => c.min.isDefined && c.max.isDefined),
          s"${f.path} has no timestamp stats: ${f.stats}")
      }
      val got = sql("SELECT id, CAST(ts AS STRING) FROM lfw.t.ts").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSeq.sortBy(_._1)
      assert(got == Seq((1, "2024-01-02 03:04:05"), (3, "2024-06-01 00:00:00")))
    } finally spark.conf.set(key, prev)
  }
}
