package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.lake._

/** Dynamic file pruning on the hot vectorized scan
  * (LakeScan + SupportsRuntimeV2Filtering): a fact scan joined to
  * a FILTERED broadcast dimension receives the dimension's join-key
  * values at runtime and opens only the files whose partition values /
  * stats can match — Spark's dynamic-partition-pruning flow, acting at
  * graft's file granularity. On a 100 TB fact table joined to "last two
  * days of dims" this is the difference between scanning everything and
  * scanning two days of files. */
class RuntimeFilterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val wh = Files.createTempDirectory("graft-dpp").toString

  private lazy val spark = {
    val s = SparkSpec.session
    s.conf.set("spark.sql.catalog.dppspec", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.dppspec.warehouse", wh)
    s
  }

  private def sql(q: String) = spark.sql(q)

  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** The graft vector scans in the executed plan (deep: AQE stages). */
  private def vectorScans(p: SparkPlan): Seq[LakeScan] =
    PlanWalk.deepCollect(p) {
      case b: BatchScanExec if b.scan.isInstanceOf[LakeScan] =>
        b.scan.asInstanceOf[LakeScan]
    }

  override def beforeAll(): Unit = {
    sql("CREATE NAMESPACE IF NOT EXISTS dppspec.db")
    // fact: one file per day (hash distribution), 20 days
    sql("""CREATE TABLE dppspec.db.fact (day INT, v BIGINT)
           USING iceberg PARTITIONED BY (day)
           TBLPROPERTIES ('graft.write.distribution-mode' = 'hash')""")
    spark.range(0, 2000)
      .selectExpr("CAST(id % 20 AS INT) AS day", "id AS v")
      .writeTo("dppspec.db.fact").append()
    sql("""CREATE TABLE dppspec.db.dim (day INT, tag STRING)
           USING iceberg""")
    sql("""INSERT INTO dppspec.db.dim SELECT id, CASE WHEN id < 2
           THEN 'hot' ELSE 'cold' END FROM range(0, 20)""")
  }

  private val q =
    """SELECT f.day, count(*) AS cnt, sum(f.v) AS total
       FROM dppspec.db.fact f JOIN dppspec.db.dim d ON f.day = d.day
       WHERE d.tag = 'hot' GROUP BY f.day"""

  test("a filtered broadcast dim dynamically prunes fact FILES") {
    val df = sql(q)
    val plan = finalPlan(df)
    val factScan = vectorScans(plan).find(_.runtimePruned.isDefined)
    assert(factScan.isDefined,
      s"no runtime-filtered graft scan in plan:\n$plan")
    val (kept, total) = factScan.get.runtimePruned.get
    assert(total >= 20, s"expected >=20 fact files, scan saw $total")
    assert(kept * 10 <= total,
      s"expected ~2/20 files kept after runtime pruning, got $kept/$total")
  }

  test("pruned and unpruned plans agree") {
    val expected = {
      spark.conf
        .set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
      try sql(q).collect().map(_.toString).sorted
      finally spark.conf
        .set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    }
    assert(sql(q).collect().map(_.toString).sorted.sameElements(expected))
    assert(expected.length == 2) // days 0 and 1
  }

  test("an unselective dim filter keeps every file and every row") {
    val all = sql(
      """SELECT count(*) AS c FROM dppspec.db.fact f
         JOIN dppspec.db.dim d ON f.day = d.day""").collect()
    assert(all.head.getLong(0) == 2000)
  }
}
