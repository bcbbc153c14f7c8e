package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.lake._

/** Concurrent-writer stress over the optimistic commit loop
  * (SnapshotStore.commitLoop): mixed appends, row-level DELETEs,
  * compactions, upserts, and branch work race on ONE table, and the final
  * state must be what SOME serial order of the successful operations
  * produces — no lost updates, no duplicated rows, no resurrected deletes,
  * and a gap-free linear version chain.
  *
  * Retry contract exercised here: plain appends/upserts retry internally
  * (commitLoop re-runs `attempt` against the new head — the new files are
  * head-independent). Operations whose PLAN depends on the head they read
  * (COW DELETE, compaction) rebase onto the new head when no concurrent
  * commit conflicts with what they read (graft.lake.Conflicts), and abort
  * loudly with "concurrent commit ..." when one does, instead of
  * committing a stale rewrite; identity inserts abort on any concurrent
  * insert. The caller re-runs an aborted statement, which re-plans
  * against the new head. Both flavors must converge under contention.
  */
class ConcurrentStressSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val wh = Files.createTempDirectory("graft-ccstress-wh").toString

  private lazy val spark = {
    val s = SparkSpec.session
    s.conf.set("spark.sql.catalog.ccspec", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.ccspec.warehouse", wh)
    s
  }

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    sql("CREATE NAMESPACE IF NOT EXISTS ccspec.d")
  }

  /** Re-run `op` until it commits: head-pinned operations (COW delete,
    * compaction) abort on a conflicting concurrent commit by contract and
    * must be re-planned; anything else propagates. */
  private def retrying[T](what: String, attempts: Int = 40)(op: => T): T = {
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

  test("mixed concurrent append/delete/compact/upsert serializes with no lost updates") {
    sql("CREATE TABLE ccspec.d.stress (id INT, w STRING, v INT) USING iceberg")
    // seeds stay forever; victims exist up front so a DELETE is a real
    // serial-order anchor (nothing re-adds them — every interleaving ends
    // with them gone)
    sql("INSERT INTO ccspec.d.stress SELECT id, 'seed', id FROM range(1, 51)")
    sql("INSERT INTO ccspec.d.stress SELECT id, 'victim', 0 FROM range(9001, 9051)")

    val store = new SnapshotStore(Paths.get(wh, "d", "stress"))
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)

    val appendBatches = 8
    val rowsPerBatch = 5
    val appenders = (0 until 4).map { t =>
      Future {
        (0 until appendBatches).foreach { b =>
          val base = 1000 * (t + 1) + b * 10
          val values = (0 until rowsPerBatch)
            .map(k => s"(${base + k}, 'w$t', ${base + k})").mkString(", ")
          retrying(s"append t$t b$b") {
            sql(s"INSERT INTO ccspec.d.stress VALUES $values")
          }
        }
      }
    }
    val deleter = Future {
      (0 until 5).foreach { c =>
        val lo = 9001 + c * 10
        retrying(s"delete chunk $c") {
          sql(s"DELETE FROM ccspec.d.stress WHERE id BETWEEN $lo AND ${lo + 9}")
        }
      }
    }
    val compactor = Future {
      (0 until 6).foreach { i =>
        retrying(s"compact $i") {
          Maintenance.compact(spark, store)
        }
      }
    }
    val upsertRounds = 6
    val upserter = Future {
      import spark.implicits._
      (1 to upsertRounds).foreach { r =>
        retrying(s"upsert round $r") {
          Upsert.into(spark, store,
            (5000 to 5009).map(k => (k, "up", r)).toDF("id", "w", "v"),
            Seq("id"))
        }
      }
    }
    // branch work shares the metadata dir but commits to its own chain —
    // it must neither corrupt main nor be corrupted by it
    val brancher = Future {
      sql("CALL ccspec.system.create_branch('d.stress', 'side')")
      (0 until 4).foreach { i =>
        retrying(s"branch insert $i") {
          sql(s"INSERT INTO ccspec.d.stress.branch_side VALUES (${7000 + i}, 'br', $i)")
        }
      }
    }

    val all = Future.sequence(appenders :+ deleter :+ compactor :+ upserter :+ brancher)
    try Await.result(all, 10.minutes)
    finally pool.shutdown()

    // --- invariants: final state ≡ some serial order of the ops above ---

    // 1. one linear, gap-free version chain (no lost/overwritten commits)
    val versions = store.listVersions()
    assert(versions == (1L to versions.max),
      s"version chain has gaps: $versions")

    val rows = sql("SELECT id, w, v FROM ccspec.d.stress").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2)))

    // 2. no duplicate ids anywhere (append exactly-once + upsert key unity)
    val dupes = rows.groupBy(_._1).filter(_._2.length > 1)
    assert(dupes.isEmpty, s"duplicated ids: ${dupes.keys.toSeq.sorted.take(10)}")

    // 3. every appended row landed exactly once
    val expectedAppends = (for {
      t <- 0 until 4; b <- 0 until appendBatches; k <- 0 until rowsPerBatch
    } yield 1000 * (t + 1) + b * 10 + k).toSet
    val gotAppends = rows.collect { case (id, w, _) if w.startsWith("w") => id }.toSet
    assert(gotAppends == expectedAppends,
      s"appends lost: ${(expectedAppends -- gotAppends).toSeq.sorted.take(10)} " +
        s"phantom: ${(gotAppends -- expectedAppends).toSeq.sorted.take(10)}")

    // 4. victims deleted, never resurrected by a racing compaction/rewrite
    val victims = rows.filter(r => r._1 >= 9001 && r._1 <= 9050)
    assert(victims.isEmpty, s"deleted rows resurrected: ${victims.take(10).toSeq}")

    // 5. seeds untouched
    assert(rows.count(_._2 == "seed") == 50, "seed rows lost or duplicated")

    // 6. upsert keys present once each with the LAST round's value (the
    // single upserter's ops serialize in program order)
    val ups = rows.filter(_._2 == "up").sortBy(_._1)
    assert(ups.map(_._1).toSeq == (5000 to 5009),
      s"upsert keys wrong: ${ups.map(_._1).toSeq}")
    assert(ups.forall(_._3 == upsertRounds),
      s"stale upsert values visible: ${ups.filter(_._3 != upsertRounds).toSeq}")

    // 7. total = seeds + appends + upsert keys (victims gone)
    assert(rows.length == 50 + expectedAppends.size + 10,
      s"row count off: ${rows.length}")

    // 8. branch chain intact and isolated from the main-chain churn
    val br = sql("SELECT id FROM ccspec.d.stress.branch_side WHERE w = 'br' ORDER BY id")
      .collect().map(_.getInt(0)).toSeq
    assert(br == (7000 to 7003), s"branch rows wrong: $br")
    val mainBr = rows.filter(_._2 == "br")
    assert(mainBr.isEmpty, s"branch rows leaked into main: ${mainBr.take(5).toSeq}")

    // 9. after maintenance quiesces, metadata totals agree with reality
    retrying("final rewrite_deletes") { Maintenance.rewriteDeletes(spark, store) }
    retrying("final compact") { Maintenance.compact(spark, store) }
    val head = store.head().get
    assert(head.totalRows == rows.length.toLong,
      s"totalRows=${head.totalRows} but table has ${rows.length} rows")
  }
}
