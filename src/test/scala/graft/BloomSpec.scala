package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.lake._

/** Per-file bloom-filter skipping (`graft.bloom-columns`): point lookups
  * on high-cardinality string columns skip files min/max can't — and
  * bloom's no-false-negative guarantee means pruning never loses a row. */
class BloomSpec extends AnyFunSuite {

  private val wh = Files.createTempDirectory("graft-bloom-wh").toString

  private lazy val spark = {
    val s = SparkSpec.session
    s.conf.set("spark.sql.catalog.bl", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.bl.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS bl.t")
    s
  }

  test("bloom prunes absent keys, never present ones") {
    spark.sql("""CREATE TABLE bl.t.ids (k STRING, n INT) USING iceberg
                 TBLPROPERTIES ('graft.bloom-columns' = 'k')""")
    // several inserts → several files, interleaved key ranges so min/max
    // stats alone can NOT tell the files apart
    (0 until 4).foreach { b =>
      spark.sql(s"""INSERT INTO bl.t.ids
                    SELECT concat('key-', lpad(CAST(id * 4 + $b AS STRING), 6, '0')), 1
                    FROM range(0, 500)""")
    }
    val head = new SnapshotStore(Paths.get(wh, "t", "ids")).head().get
    assert(head.files.size >= 4)
    assert(head.files.forall(_.blooms.contains("k")), "every file has a k bloom")

    // every present key keeps its file (no false negatives — exhaustive)
    val eq = (v: String) => Seq[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("k", v))
    (0 until 2000 by 97).foreach { i =>
      val key = f"key-$i%06d"
      val kept = StatsPruner.prune(head.files, eq(key), head.partitionSpec)
      assert(spark.sql(s"SELECT n FROM bl.t.ids WHERE k = '$key'").count() == 1)
      assert(kept.nonEmpty, s"bloom false-negative for $key")
    }

    // absent keys prune everything (within fpp, deterministic here)
    val keptAbsent = StatsPruner.prune(head.files, eq("key-999999"),
      head.partitionSpec)
    assert(keptAbsent.size < head.files.size,
      "absent key pruned nothing — bloom not consulted")

    // and the engine returns the right answer either way
    assert(spark.sql("SELECT * FROM bl.t.ids WHERE k = 'key-999999'").count() == 0)
  }

  test("IN-list probes each value against the bloom") {
    val head = new SnapshotStore(Paths.get(wh, "t", "ids")).head().get
    val in = Seq[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k", Array("absent-1", "absent-2")))
    assert(StatsPruner.prune(head.files, in, head.partitionSpec).size
      < head.files.size)
  }

  test("bloom-columns on a non-string column fails the write loudly") {
    spark.sql("""CREATE TABLE bl.t.bad (k INT) USING iceberg
                 TBLPROPERTIES ('graft.bloom-columns' = 'k')""")
    intercept[Exception] {
      spark.sql("INSERT INTO bl.t.bad VALUES (1)")
    }
  }

  test("bloom pruning survives a column rename (logical→physical translation)") {
    spark.sql("""CREATE TABLE bl.t.ren (k STRING) USING iceberg
                 TBLPROPERTIES ('graft.bloom-columns' = 'k')""")
    spark.sql("INSERT INTO bl.t.ren VALUES ('alpha'), ('beta')")
    spark.sql("ALTER TABLE bl.t.ren RENAME COLUMN k TO kk")
    // property still names the OLD logical name — the next write must fail
    // loudly rather than silently stop building blooms
    intercept[Exception] {
      spark.sql("INSERT INTO bl.t.ren VALUES ('gamma')")
    }
    spark.sql("ALTER TABLE bl.t.ren SET TBLPROPERTIES ('graft.bloom-columns' = 'kk')")
    spark.sql("INSERT INTO bl.t.ren VALUES ('gamma')")

    val head = new SnapshotStore(Paths.get(wh, "t", "ren")).head().get
    // blooms stay keyed by the immutable physical name across the rename
    assert(head.files.forall(_.blooms.contains("k")))
    // rename-aware pruning: filters arrive with the NEW logical name
    val rename = SchemaNames.renameMap(head.schema)
    val keptPresent = StatsPruner.prune(head.files,
      Seq(org.apache.spark.sql.sources.EqualTo("kk", "alpha")),
      head.partitionSpec, rename)
    val keptAbsent = StatsPruner.prune(head.files,
      Seq(org.apache.spark.sql.sources.EqualTo("kk", "nope")),
      head.partitionSpec, rename)
    assert(keptPresent.nonEmpty)
    assert(keptAbsent.isEmpty, "bloom not consulted after rename")
    assert(spark.sql("SELECT * FROM bl.t.ren WHERE kk = 'alpha'").count() == 1)
  }

  test("tables without the property carry no blooms (zero overhead)") {
    spark.sql("CREATE TABLE bl.t.plain (k STRING) USING iceberg")
    spark.sql("INSERT INTO bl.t.plain VALUES ('a')")
    val head = new SnapshotStore(Paths.get(wh, "t", "plain")).head().get
    assert(head.files.forall(_.blooms.isEmpty))
  }

  test("a malformed graft.bloom-bits fails the write naming the key and the value") {
    spark.sql("""CREATE TABLE bl.t.badbits (k STRING) USING iceberg
                 TBLPROPERTIES ('graft.bloom-columns' = 'k', 'graft.bloom-bits' = '64k')""")
    val e = intercept[Exception] {
      spark.sql("INSERT INTO bl.t.badbits VALUES ('a')")
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).toSeq
    assert(msgs.exists(m => m.contains("graft.bloom-bits") && m.contains("'64k'")),
      s"unnamed parse failure: $msgs")
  }
}
