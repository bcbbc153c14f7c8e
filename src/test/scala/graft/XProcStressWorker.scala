package graft

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

import graft.lake._

/** Worker process for [[CrossProcessCommitSpec]]: a REAL separate JVM (its
  * own driver, its own SparkSession, its own GraftCatalog instance) that
  * hammers one shared table with appends, upserts, a COW delete, and —
  * worker 2 only — compactions. In-JVM stress (ConcurrentStressSpec) can
  * never race `MetaIO.createExclusive` across process boundaries; this
  * worker exists so the optimistic commit loop's real enemy — two drivers
  * on shared storage — is exercised with nothing but the storage contract
  * arbitrating.
  *
  * Exit code 0 = every operation eventually committed; 1 = a failure that
  * retry-on-contention could not absorb (stack trace on stdout).
  */
object XProcStressWorker {

  /** Same retry contract as ConcurrentStressSpec: head-pinned plans (COW
    * delete, compaction) rebase over concurrent commits they do not
    * conflict with (graft.lake.Conflicts) and abort loudly with
    * "concurrent commit" on one they do, to be re-planned by the caller;
    * anything else propagates. */
  private def retrying[T](what: String, attempts: Int = 60)(op: => T): T = {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return op
      catch {
        case e: Throwable if msgs(e).exists(m =>
            m.contains("concurrent commit") || m.contains("lost") ||
              m.contains("concurrent insert")) =>
          last = e; i += 1
      }
    }
    throw new IllegalStateException(s"$what never committed in $attempts attempts", last)
  }

  def main(args: Array[String]): Unit = {
    val wh = args(0)
    val wid = args(1).toInt
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.xp", classOf[GraftCatalog].getName)
      .config("spark.sql.catalog.xp.warehouse", wh)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try { run(spark, wh, wid); println(s"WORKER $wid OK"); 0 }
      catch { case t: Throwable => t.printStackTrace(); 1 }
      finally { try spark.stop() catch { case _: Throwable => () } }
    sys.exit(code)
  }

  def run(spark: SparkSession, wh: String, wid: Int): Unit = {
    import spark.implicits._
    val store = new SnapshotStore(Paths.get(wh, "d", "xt"))
    val appendBatches = 6
    val rowsPerBatch = 5

    (0 until appendBatches).foreach { b =>
      val base = 10000 * (wid + 1) + b * 10
      val values = (0 until rowsPerBatch)
        .map(k => s"(${base + k}, 'w$wid', ${base + k})").mkString(", ")
      retrying(s"append w$wid b$b") {
        spark.sql(s"INSERT INTO xp.d.xt VALUES $values")
      }
      // worker 2 doubles as the table-maintenance process, interleaving
      // compactions with everyone else's writes
      if (wid == 2 && b % 2 == 1) retrying(s"compact w$wid b$b") {
        Maintenance.compact(spark, store)
      }
      if (b == 2) retrying(s"delete w$wid") {
        // each worker kills its own pre-seeded victim chunk (COW delete —
        // a head-pinned rewrite racing everyone else's commits)
        val lo = 9000 + 10 * wid
        spark.sql(s"DELETE FROM xp.d.xt WHERE id BETWEEN $lo AND ${lo + 9}")
      }
    }

    val upsertRounds = 4
    (1 to upsertRounds).foreach { r =>
      retrying(s"upsert w$wid r$r") {
        Upsert.into(spark, store,
          (0 until 10).map(k => (6000 + 10 * wid + k, s"up$wid", r))
            .toDF("id", "w", "v"),
          Seq("id"))
      }
    }

    // phase 2 — the merge-on-read table: every worker appends then MOR-
    // deletes half of each batch (deletion vectors); on odd batches worker
    // 1 deletes that half in two statements, the second merging into the
    // vector the first wrote (retried on contention); worker 2
    // interleaves the age-guarded orphan sweep, which races everyone's
    // publish→commit windows and must never collect a file a commit is
    // about to reference
    val mtStore = new SnapshotStore(Paths.get(wh, "d", "mt"))
    (0 until appendBatches).foreach { b =>
      val base = 50000 * (wid + 1) + b * 20
      val values = (0 until 10)
        .map(k => s"(${base + k}, 'm$wid', $b)").mkString(", ")
      retrying(s"mt append w$wid b$b") {
        spark.sql(s"INSERT INTO xp.d.mt VALUES $values")
      }
      val merge = wid == 1 && b % 2 == 1
      retrying(s"mt delete w$wid b$b") {
        val hi = if (merge) base + 2 else base + 4
        spark.sql(s"DELETE FROM xp.d.mt WHERE id BETWEEN $base AND $hi")
      }
      if (merge) retrying(s"mt dv w$wid b$b") {
        spark.sql(s"DELETE FROM xp.d.mt WHERE id BETWEEN ${base + 3} AND ${base + 4}")
      }
      if (wid == 2 && b % 2 == 0) Maintenance.removeOrphanFiles(mtStore)
    }
  }
}
