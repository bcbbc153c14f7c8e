package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** `lake_write`: a closed loop of several client threads on one
  * merge-on-read table partitioned by client. Each client owns a disjoint
  * key range and keeps the rows it expects, so the final table does not
  * depend on how the clients interleave and is checked exactly, along
  * with a gap-free version chain.
  *
  * Classes: `append` (small INSERT batches), `dml` (DELETE by range and by
  * IN-list, UPDATE, MERGE INTO; a statement aborted with "concurrent
  * commit" is re-run by the client and the re-run counted, and its
  * latency includes the re-runs) and `maint` (client 0 runs `compact`,
  * `rewrite_deletes` and `expire_snapshots` in turn).
  *
  * A row-level statement aborts on ANY commit that lands while it runs,
  * so a long UPDATE can lose to the other client's stream of appends
  * without end. Ops therefore run under a shared lock, and a statement
  * aborted once re-runs under the exclusive lock, alone: contention still
  * shows as counted re-runs, but no op is starved. */
final class LakeWrite(spark: SparkSession, a: Args) extends Workload {
  override val clients = 2
  private val InitialRows = math.max(40, (40000 * a.scale).toInt)
  private val KeepLast = 30

  private final class Client(val id: Int) {
    val rnd = new java.util.SplittableRandom(a.seed * 31L + id)
    val rows = mutable.TreeMap.empty[Long, (Long, String)]
    var nextKey: Long = id * 1000000000L
    var blocks = 0
    var order: List[() => Step] = Nil
    def freshRows(n: Int): Seq[(Long, Long, String)] = Seq.fill(n) {
      nextKey += 1
      (nextKey, rnd.nextLong(1000000L), s"s${rnd.nextInt(1000)}")
    }
    def someKeys(n: Int): Seq[Long] = {
      val ks = rows.keysIterator.toIndexedSeq
      if (ks.isEmpty) Nil else Seq.fill(n)(ks(rnd.nextInt(ks.size))).distinct
    }
  }
  private var cs: IndexedSeq[Client] = IndexedSeq.empty
  private var tbl = ""
  private var nsName = ""

  private def values(c: Int, rs: Seq[(Long, Long, String)]): String =
    rs.map { case (k, v, s) => s"($c, $k, $v, '$s')" }.mkString(", ")

  override def setup(rep: Int): Unit = {
    nsName = s"w$rep"
    tbl = s"graft.$nsName.kv"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$nsName")
    spark.sql(s"""CREATE TABLE $tbl (client INT, k BIGINT, v BIGINT, s STRING)
      USING graft PARTITIONED BY (client)
      TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    cs = (0 until clients).map(new Client(_))
    cs.foreach { c =>
      val rs = c.freshRows(InitialRows)
      spark.sql(s"INSERT INTO $tbl VALUES ${values(c.id, rs)}")
      rs.foreach { case (k, v, s) => c.rows(k) = (v, s) }
    }
  }

  private val gate = new java.util.concurrent.locks.ReentrantReadWriteLock(true)

  private def locked[T](lock: java.util.concurrent.locks.Lock)(body: => T): T = {
    lock.lock()
    try body finally lock.unlock()
  }

  /** Run `body` under the shared lock; if it aborts with "concurrent
    * commit", re-run it once under the exclusive lock. Returns the result
    * and the number of re-runs. */
  private def contended[T](body: => T): (T, Int) =
    try (locked(gate.readLock)(body), 0)
    catch {
      case e: Throwable if Errors.isConcurrentCommit(e) =>
        Trace.count("commit.statement_reruns")
        (locked(gate.writeLock)(body), 1)
    }

  /** Run one DML statement with its re-runs, then apply its effect to the
    * client's expected rows. */
  private def run(c: Client)(sql: String, apply: () => Int): Outcome = {
    val (_, reruns) = contended(spark.sql(sql))
    val changed = apply()
    Trace.count("rows.changed", math.max(changed, 1))
    Outcome(ok = true, reruns = reruns)
  }

  private def keyRange(c: Client): (Long, Long) = {
    val lo = c.someKeys(1).headOption.getOrElse(c.nextKey)
    (lo, lo + 3 + c.rnd.nextInt(6))
  }

  override def atBoundary(client: Int): Boolean = cs(client).order.isEmpty

  /** Each client's ops come in blocks of six, shuffled within the block:
    * five appends and one DML statement whose kind takes turns across
    * blocks; client 0 adds a maintenance call every third block. The
    * clients stop only at block boundaries, so every run holds the same
    * mix. */
  override def next(client: Int): Step = {
    val c = cs(client)
    if (c.order.isEmpty) {
      val b = c.blocks
      c.blocks += 1
      val ops = Seq.fill[() => Step](5)(() => append(c)) ++
        Seq[() => Step](() => dml(c, (b + 2 * client) % 4)) ++
        (if (client == 0 && b % 3 == 2) Seq(() => maint((b / 3) % 3)) else Nil)
      c.order = Mix.shuffled(c.rnd, ops).toList
    }
    val step = c.order.head
    c.order = c.order.tail
    step()
  }

  private def append(c: Client): Step = {
    val rs = c.freshRows(10 + c.rnd.nextInt(20))
    Step("append", () => {
      locked(gate.readLock)(spark.sql(s"INSERT INTO $tbl VALUES ${values(c.id, rs)}"))
      rs.foreach { case (k, v, s) => c.rows(k) = (v, s) }
      Trace.count("rows.added", rs.size)
      Outcome(ok = true)
    })
  }

  private def dml(c: Client, kind: Int): Step = kind match {
    case 0 =>
      val (lo, hi) = keyRange(c)
      Step("dml", () => run(c)(
        s"DELETE FROM $tbl WHERE client = ${c.id} AND k >= $lo AND k < $hi",
        () => { val ks = c.rows.range(lo, hi).keys.toSeq; ks.foreach(c.rows.remove); ks.size }))
    case 1 =>
      val ks = c.someKeys(4)
      Step("dml", () => run(c)(
        s"DELETE FROM $tbl WHERE k IN (${(ks :+ (-1L - c.id)).mkString(", ")})",
        () => ks.count(k => c.rows.remove(k).isDefined)))
    case 2 =>
      val (lo, hi) = keyRange(c)
      Step("dml", () => run(c)(
        s"UPDATE $tbl SET v = v + 1 WHERE client = ${c.id} AND k >= $lo AND k < $hi",
        () => {
          val hit = c.rows.range(lo, hi).toSeq
          hit.foreach { case (k, (v, s)) => c.rows(k) = (v + 1, s) }
          hit.size
        }))
    case _ =>
      val upd = c.someKeys(3).map(k => (k, c.rnd.nextLong(1000000L), "m"))
      val ins = c.freshRows(3)
      val src = (upd ++ ins).map { case (k, v, s) => s"(${c.id}, $k, $v, '$s')" }
        .mkString(", ")
      Step("dml", () => run(c)(
        s"""MERGE INTO $tbl AS t USING (
              SELECT CAST(col1 AS INT) AS client, CAST(col2 AS BIGINT) AS k,
                     CAST(col3 AS BIGINT) AS v, col4 AS s FROM VALUES $src) AS src
            ON t.client = src.client AND t.k = src.k
            WHEN MATCHED THEN UPDATE SET v = src.v
            WHEN NOT MATCHED THEN INSERT *""",
        () => {
          upd.foreach { case (k, v, _) => c.rows.get(k).foreach { case (_, s) => c.rows(k) = (v, s) } }
          ins.foreach { case (k, v, s) => c.rows(k) = (v, s) }
          upd.size + ins.size
        }))
  }

  private def maint(kind: Int): Step = {
    val (proc, args, counter) = kind match {
      case 0 => ("compact", "", "maint.compact_ms")
      case 1 => ("rewrite_deletes", "", "maint.rewrite_ms")
      case _ => ("expire_snapshots", s", keep_last => $KeepLast", "maint.expire_ms")
    }
    Step("maint", () => {
      val t0 = System.nanoTime()
      val (_, reruns) = contended(
        spark.sql(s"CALL graft.system.$proc(`table` => '$nsName.kv'$args)").collect())
      Trace.count(counter, (System.nanoTime() - t0) / 1e6)
      Outcome(ok = true, reruns = reruns)
    })
  }

  private var bytesPerLiveRow = 0.0
  private var deleteFilesLive = 0.0

  override def verify(ops: Seq[Done]): Verdict = {
    val checks = mutable.ArrayBuffer.empty[String]
    val got = spark.sql(s"SELECT client, k, v, s FROM $tbl ORDER BY client, k")
      .collect().map(r => s"${r.getInt(0)}|${r.getLong(1)}|${r.getLong(2)}|${r.getString(3)}")
      .toSeq
    val want = cs.flatMap(c => c.rows.toSeq.map { case (k, (v, s)) => s"${c.id}|$k|$v|$s" })
    val want2 = if (a.corruptExpected) want.drop(1) else want
    if (got != want2) {
      val extra = got.diff(want2).take(3)
      val missing = want2.diff(got).take(3)
      checks += s"final table of $tbl differs from the op log: " +
        s"${got.size} rows vs ${want2.size} expected; unexpected $extra, missing $missing"
    }
    val chain = spark.sql(s"SELECT snapshot_id, parent_id FROM $tbl.snapshots ORDER BY 1")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
    val gaps = chain.sliding(2).collect {
      case Seq((v0, _), (v1, p1)) if v1 != v0 + 1 || p1 != v0 => s"v$v0->v$v1(parent $p1)"
    }.toSeq
    if (gaps.nonEmpty) checks += s"version chain of $tbl has gaps: ${gaps.take(5)}"
    val sizes = spark.sql(s"SELECT coalesce(sum(file_size_in_bytes), 0) FROM $tbl.files")
      .head().getLong(0) +
      spark.sql(s"SELECT coalesce(sum(file_size_in_bytes), 0) FROM $tbl.delete_files")
        .head().getLong(0)
    bytesPerLiveRow = sizes.toDouble / math.max(want.size, 1)
    deleteFilesLive =
      spark.sql(s"SELECT count(*) FROM $tbl.delete_files").head().getLong(0).toDouble
    Verdict(Set.empty, checks.toSeq)
  }

  override def facts(): Map[String, Double] = Map(
    "clients" -> clients.toDouble,
    "bytes_per_live_row" -> bytesPerLiveRow,
    "delete_files_live" -> deleteFilesLive)
}
