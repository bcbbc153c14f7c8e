package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.lake._

/** Regressions for the round-1 judge findings (ADVICE.md): every test here
  * failed (or silently returned wrong data) before the round-2 fixes.
  *
  *  1. numeric identity-partition bound pruning compared "9" < "10"
  *     lexicographically and dropped matching files
  *  2. DELETE dropped rows where the condition evaluated to NULL
  *  3. identity-partitioned TIMESTAMP equality pruning compared
  *     `Timestamp.toString` ("…00:00:00.0") against Spark's cast
  *     ("…00:00:00") and pruned matching files
  *  4. '+' in an identity string partition value was URL-decoded to a space
  *  5. pre-1970 timestamp stats were mis-normalized by truncating division
  */
class AdviceRegressionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val wh = Files.createTempDirectory("graft-advice-wh").toString

  private lazy val spark = {
    val s = SparkSpec.session
    s.conf.set("spark.sql.catalog.advreg", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.advreg.warehouse", wh)
    s
  }

  private def sql(q: String) = spark.sql(q)

  override def beforeAll(): Unit = {
    sql("CREATE NAMESPACE IF NOT EXISTS advreg.t")
  }

  test("numeric identity partition: col < 10 keeps the value-9 partition") {
    sql("""CREATE TABLE advreg.t.numpart (v INT, tag STRING)
           USING iceberg PARTITIONED BY (v)""")
    sql("INSERT INTO advreg.t.numpart VALUES (9, 'nine'), (11, 'eleven'), (100, 'hundred')")

    // end-to-end: "9" <= "10" is false lexicographically; must still read it
    val lt = sql("SELECT tag FROM advreg.t.numpart WHERE v < 10")
      .collect().map(_.getString(0))
    assert(lt.toSeq == Seq("nine"))
    val ge = sql("SELECT tag FROM advreg.t.numpart WHERE v >= 100")
      .collect().map(_.getString(0))
    assert(ge.toSeq == Seq("hundred"))

    // direct: the pruner itself must keep exactly the right files
    val store = new SnapshotStore(Paths.get(wh, "t", "numpart"))
    val snap = store.head().get
    assert(snap.files.size == 3)
    val kept = StatsPruner.prune(snap.files, Seq(LessThan("v", 10)), snap.partitionSpec)
    assert(kept.map(_.partitionValues("v")).toSet == Set("9"))
    val keptGt = StatsPruner.prune(snap.files, Seq(GreaterThan("v", 10)), snap.partitionSpec)
    assert(keptGt.map(_.partitionValues("v")).toSet == Set("11", "100"))
  }

  test("DELETE keeps rows where the condition evaluates to NULL") {
    sql("CREATE TABLE advreg.t.delnull (id INT, c INT) USING iceberg")
    sql("INSERT INTO advreg.t.delnull VALUES (1, 5), (2, NULL), (3, 7)")
    sql("DELETE FROM advreg.t.delnull WHERE c = 5")
    // row 2 (c NULL): `c = 5` is NULL, not TRUE → the row must survive
    val left = sql("SELECT id FROM advreg.t.delnull ORDER BY id")
      .collect().map(_.getInt(0)).toSeq
    assert(left == Seq(2, 3), s"NULL-condition row dropped by DELETE: $left")
  }

  test("overwrite-by-filter keeps NULL-evaluating rows") {
    import spark.implicits._
    sql("CREATE TABLE advreg.t.ovrnull (id INT, c INT) USING iceberg")
    sql("INSERT INTO advreg.t.ovrnull VALUES (1, 5), (2, NULL), (3, 7)")
    Seq((10, 5)).toDF("id", "c").writeTo("advreg.t.ovrnull")
      .overwrite(col("c") === 5)
    val rows = sql("SELECT id, c FROM advreg.t.ovrnull ORDER BY id")
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toSeq
    // id=1 (c=5) replaced by id=10; id=2 (c NULL) and id=3 (c=7) survive
    assert(rows == Seq((2, -1), (3, 7), (10, 5)), s"got $rows")
  }

  test("identity TIMESTAMP partition: equality predicate still finds the row") {
    sql("""CREATE TABLE advreg.t.tspart (ts TIMESTAMP, tag STRING)
           USING iceberg PARTITIONED BY (ts)""")
    sql("""INSERT INTO advreg.t.tspart VALUES
           (TIMESTAMP '2024-11-25 00:00:00', 'a'),
           (TIMESTAMP '2024-11-26 12:30:00', 'b')""")
    val hit = sql("""SELECT tag FROM advreg.t.tspart
                     WHERE ts = TIMESTAMP '2024-11-25 00:00:00'""")
      .collect().map(_.getString(0))
    assert(hit.toSeq == Seq("a"))
    // and the stats path still prunes: only 1 of 2 files survives pruning
    val store = new SnapshotStore(Paths.get(wh, "t", "tspart"))
    val snap = store.head().get
    val kept = StatsPruner.prune(snap.files,
      Seq(EqualTo("ts", java.sql.Timestamp.valueOf("2024-11-25 00:00:00"))),
      snap.partitionSpec)
    assert(kept.size == 1)
  }

  test("identity string partition value containing '+' round-trips") {
    sql("""CREATE TABLE advreg.t.pluspart (k STRING, v INT)
           USING iceberg PARTITIONED BY (k)""")
    sql("INSERT INTO advreg.t.pluspart VALUES ('a+b', 1), ('c d', 2), ('x%2Fy', 3)")
    val store = new SnapshotStore(Paths.get(wh, "t", "pluspart"))
    val pvs = store.head().get.files.map(_.partitionValues("k")).toSet
    assert(pvs == Set("a+b", "c d", "x%2Fy"), s"stored partition values: $pvs")
    // equality pruning against the recorded value finds the row
    val hit = sql("SELECT v FROM advreg.t.pluspart WHERE k = 'a+b'")
      .collect().map(_.getInt(0))
    assert(hit.toSeq == Seq(1))
    val pct = sql("SELECT v FROM advreg.t.pluspart WHERE k = 'x%2Fy'")
      .collect().map(_.getInt(0))
    assert(pct.toSeq == Seq(3))
  }

  test("pre-epoch timestamps: stats normalization doesn't misprune") {
    sql("CREATE TABLE advreg.t.preepoch (ts TIMESTAMP, tag STRING) USING iceberg")
    sql("""INSERT INTO advreg.t.preepoch VALUES
           (TIMESTAMP '1969-12-31 23:59:58.5', 'old'),
           (TIMESTAMP '1970-01-01 00:00:01', 'new')""")
    val hit = sql("""SELECT tag FROM advreg.t.preepoch
                     WHERE ts = TIMESTAMP '1969-12-31 23:59:58.5'""")
      .collect().map(_.getString(0))
    assert(hit.toSeq == Seq("old"))
    val lt = sql("""SELECT tag FROM advreg.t.preepoch
                    WHERE ts < TIMESTAMP '1970-01-01 00:00:00'""")
      .collect().map(_.getString(0))
    assert(lt.toSeq == Seq("old"))
    // normalize() agrees with itself across the fix: -1.5s = -1500000us
    val n = StatsPruner.normalize(java.sql.Timestamp.valueOf("1969-12-31 23:59:58.5"))
    // 23:59:58.5 UTC session ts: value checked via round-trip against writer
    assert(n.isDefined && n.get.isLeft)
  }

  // --- round-3 ADVICE pins ---

  test("CHECK constraint referencing a GENERATED column is enforced") {
    sql("""CREATE TABLE advreg.t.genchk (
             v INT, dbl INT GENERATED ALWAYS AS (v * 2)) USING iceberg""")
    sql("ALTER TABLE advreg.t.genchk ADD CONSTRAINT small CHECK (dbl < 10)")
    sql("INSERT INTO advreg.t.genchk (v) VALUES (4)") // dbl=8: passes
    // dbl=12 violates; the analyzer hands the connector NULL for dbl, so
    // without generation-before-check this committed silently (ADVICE r2)
    val e = intercept[Exception] {
      sql("INSERT INTO advreg.t.genchk (v) VALUES (6)")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("small")),
      s"expected CHECK 'small' violation, got: ${msgs(e).mkString(" | ")}")
    val rows = sql("SELECT v, dbl FROM advreg.t.genchk").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(rows == Seq((4, 8)), s"violating row committed: $rows")
  }

  test("upsert with a NULL key value fails instead of duplicating") {
    import spark.implicits._
    sql("CREATE TABLE advreg.t.upnull (k INT, v STRING) USING iceberg")
    sql("INSERT INTO advreg.t.upnull VALUES (1, 'a')")
    val store = new SnapshotStore(Paths.get(wh, "t", "upnull"))
    val e = intercept[Exception] {
      Upsert.into(spark, store,
        Seq((Option.empty[Int], "ghost"), (Some(1), "b")).toDF("k", "v"),
        Seq("k"))
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("upsert key")),
      s"expected NULL-key failure, got: ${msgs(e).mkString(" | ")}")
    // the failed batch must not have committed anything
    val rows = sql("SELECT k, v FROM advreg.t.upnull").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "a")), s"partial upsert visible: $rows")
  }

  test("planner numRows ignores equality-delete tuple counts") {
    import spark.implicits._
    sql("CREATE TABLE advreg.t.eqstats (k INT, v STRING) USING iceberg")
    sql("INSERT INTO advreg.t.eqstats VALUES (1,'a'), (2,'b'), (3,'c'), (4,'d')")
    val store = new SnapshotStore(Paths.get(wh, "t", "eqstats"))
    // two upserts of the same 3 keys accumulate 6 equality-delete tuples
    // that matched only 3 rows total; naive subtraction would estimate
    // 4+3+3-6-... rows wildly wrong (or clamp to 0 → bad broadcast calls)
    Upsert.into(spark, store, Seq((1, "a2"), (2, "b2"), (3, "c2")).toDF("k", "v"), Seq("k"))
    Upsert.into(spark, store, Seq((1, "a3"), (2, "b3"), (3, "c3")).toDF("k", "v"), Seq("k"))
    val snap = store.head().get
    val eqTuples = snap.deleteFiles.filter(_.kind == "equality").map(_.rowCount).sum
    assert(eqTuples == 6L, s"expected 6 accumulated eq-delete tuples, got $eqTuples")
    val scan = new LakeScan(snap, store, snap.schema, Array.empty)
    val est = scan.estimateStatistics().numRows().getAsLong
    // physical rows written = 4 + 3 + 3 = 10; no position deletes, so the
    // estimate must be exactly the file row count (an upper bound), never
    // file rows minus eq tuples (10 - 6 = 4 happens to equal live rows here,
    // but a third upsert would push it below the true count)
    assert(est == 10L, s"numRows estimate subtracted eq-delete tuples: $est")
  }

  test("planner numRows subtracts only the planned files' deletion vectors") {
    sql("""CREATE TABLE advreg.t.dvstats (k INT, v STRING) USING iceberg
           PARTITIONED BY (v)
           TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    sql("INSERT INTO advreg.t.dvstats SELECT CAST(id AS INT), 'a' FROM range(0, 100, 1, 1)")
    sql("INSERT INTO advreg.t.dvstats SELECT CAST(id AS INT), 'b' FROM range(100, 110, 1, 1)")
    // 90 of the 'a' file's rows deleted: more than the 'b' file holds
    sql("DELETE FROM advreg.t.dvstats WHERE v = 'a' AND k >= 10")
    val store = new SnapshotStore(Paths.get(wh, "t", "dvstats"))
    val snap = store.head().get
    def est(filters: Array[org.apache.spark.sql.sources.Filter]) =
      new LakeScan(snap, store, snap.schema, filters)
        .estimateStatistics().numRows().getAsLong
    assert(est(Array(org.apache.spark.sql.sources.EqualTo("v", "b"))) == 10L)
    assert(est(Array(org.apache.spark.sql.sources.EqualTo("v", "a"))) == 10L)
    assert(est(Array.empty) == 20L)
  }

  // --- round-4 ADVICE pins ---

  test("branch scans never compare equal to main-chain scans (scan reuse)") {
    sql("CREATE TABLE advreg.t.brscan (id INT, v STRING) USING iceberg")
    sql("INSERT INTO advreg.t.brscan VALUES (1, 'a')")
    sql("CALL advreg.system.create_branch('t.brscan', 'b')")
    // advance BOTH chains to the same version with different file sets
    sql("INSERT INTO advreg.t.brscan.branch_b VALUES (100, 'branch')")
    sql("INSERT INTO advreg.t.brscan VALUES (2, 'main')")

    val main = new SnapshotStore(Paths.get(wh, "t", "brscan"))
    val branch = main.branchStore("b")
    val (ms, bs) = (main.head().get, branch.head().get)
    assert(ms.version == bs.version,
      s"test setup: chains diverged (${ms.version} vs ${bs.version})")
    def scan(snap: Snapshot, st: SnapshotStore) =
      new LakeScan(snap, st, snap.schema, Array.empty)
    // same tableDir + version + projection + filters, different branch:
    // MUST differ, or Spark's sameResult-driven reuse swaps their results
    assert(scan(ms, main) != scan(bs, branch),
      "main-chain and branch scans at the same version compare equal")
    assert(scan(ms, main) == scan(ms, main), "self-equality lost")
    // end-to-end: two identically-shaped scalar subqueries differing only
    // in branch — ReuseSubquery folds them into one if the scans compare
    // equal, returning the main sum for both
    val r = sql("""SELECT (SELECT sum(id) FROM advreg.t.brscan),
                          (SELECT sum(id) FROM advreg.t.brscan.branch_b)""")
      .collect().head
    assert((r.getLong(0), r.getLong(1)) == (3L, 101L),
      s"branch subquery answered from the main chain: $r")
  }

  test("replaceAtomic leaves no tmp file behind when the move fails") {
    val dir = Files.createTempDirectory("graft-replat")
    // a non-empty DIRECTORY target makes the atomic move throw after the
    // tmp file has been written — the failure path the finally must cover
    val target = dir.resolve("ref.json")
    Files.createDirectory(target)
    Files.writeString(target.resolve("occupant"), "x")
    intercept[Exception] { LocalMetaIO.replaceAtomic(target, "content") }
    val strays = LocalMetaIO.list(dir).map(_.getFileName.toString)
      .filter(_.endsWith(".tmp"))
    assert(strays.isEmpty, s"stray tmp files after failed replace: $strays")
  }

  test("append summary total-records matches totalRows with eq-deletes pending") {
    import spark.implicits._
    sql("CREATE TABLE advreg.t.sumeq (k INT, v STRING) USING iceberg")
    sql("INSERT INTO advreg.t.sumeq VALUES (1,'a'), (2,'b'), (3,'c')")
    val store = new SnapshotStore(Paths.get(wh, "t", "sumeq"))
    // upsert leaves equality-delete files whose rowCount is a TUPLE count
    Upsert.into(spark, store, Seq((1, "a2"), (2, "b2")).toDF("k", "v"), Seq("k"))
    sql("INSERT INTO advreg.t.sumeq VALUES (4,'d')")
    val snap = store.head().get
    assert(snap.deleteFiles.exists(_.kind == "equality"),
      "test setup: no equality deletes pending")
    val summarized = snap.summary("total-records").toLong
    assert(summarized == snap.totalRows,
      s"append summary says $summarized, totalRows says ${snap.totalRows}")
    // and the live count is what SQL sees
    val live = sql("SELECT count(*) FROM advreg.t.sumeq").collect().head.getLong(0)
    assert(live == 4L, s"expected 4 live rows, got $live")
  }

  test("compact and COW DELETE summary total-records match totalRows with eq-deletes pending") {
    import spark.implicits._
    sql("CREATE TABLE advreg.t.sumeq2 (k INT, v STRING) USING iceberg")
    // one big old file stays out of the compaction below, so the
    // equality deletes that may still mask rows in it stay pending
    sql("INSERT INTO advreg.t.sumeq2 SELECT id, concat('big', id) FROM range(10, 5000)")
    sql("INSERT INTO advreg.t.sumeq2 VALUES (1,'a'), (2,'b'), (3,'c')")
    val store = new SnapshotStore(Paths.get(wh, "t", "sumeq2"))
    Upsert.into(spark, store, Seq((1, "a2"), (10, "big2")).toDF("k", "v"), Seq("k"))
    sql("INSERT INTO advreg.t.sumeq2 VALUES (4,'d')")
    val big = store.head().get.files.map(_.sizeBytes).max
    val compacted = Maintenance.compact(spark, store, smallFileThresholdBytes = big)
    assert(compacted.operation == "replace", "test setup: nothing was compacted")
    assert(compacted.deleteFiles.exists(_.kind == "equality"),
      "test setup: no equality deletes pending after compact")
    assert(compacted.summary("total-records").toLong == compacted.totalRows,
      s"compact summary says ${compacted.summary("total-records")}, " +
        s"totalRows says ${compacted.totalRows}")
    sql("DELETE FROM advreg.t.sumeq2 WHERE k = 4")
    val deleted = store.head().get
    assert(deleted.operation == "delete" &&
      deleted.deleteFiles.exists(_.kind == "equality"),
      "test setup: no COW DELETE over pending equality deletes")
    assert(deleted.summary("total-records").toLong == deleted.totalRows,
      s"COW DELETE summary says ${deleted.summary("total-records")}, " +
        s"totalRows says ${deleted.totalRows}")
    val live = sql("SELECT count(*) FROM advreg.t.sumeq2").collect().head.getLong(0)
    assert(live == 4990L + 3L, s"expected 4993 live rows, got $live")
  }

  // ---- round-5 pins (ADVICE round 4) ----

  test("winnow fingerprints: doc shorter than k yields 0 fingerprints, NULL min_fp") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-winnow-short").toString
    val long = ("the quick brown fox jumps over the lazy dog " * 3).trim
    Seq((1L, "abc", "en", "web", 3L), (2L, long, "en", "web", long.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // before the fix element_at([], 1) threw INVALID_ARRAY_INDEX under ANSI
    val out = SparkEntry.queries("q_winnow_fingerprint")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.isNullAt(2)))
    assert(out.head == ((1L, 0L, true)), s"short doc row: ${out.head}")
    assert(out(1)._2 > 0L && !out(1)._3, s"long doc row: ${out(1)}")
  }

  test("q_percentiles interpolates quantile_cont in exact integer cents") {
    // r6 rework (ADVICE r5 #4): the float lo + frac*(hi-lo) form sat on a
    // .005 rounding boundary at sf0.001 and disagreed with DuckDB by an
    // ulp. Both engines now interpolate 2-decimal money as exact integer
    // cents; this witness recomputes that arithmetic driver-side from the
    // sorted raw values.
    val sfDir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q_percentiles")(spark, sfDir)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    val byFlag = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_returnflag", "l_extendedprice")
      .collect().map(r => (r.getString(0),
        math.floor(r.getDouble(1) * 100 + 0.5).toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def p50(cs: Array[Long]): Double = {
      val n = cs.length.toLong
      val lo = cs(((n + 1) / 2).toInt - 1)
      val hi = cs(((n + 2) / 2).toInt - 1)
      ((lo + hi + 1) / 2).toDouble / 100
    }
    def p90(cs: Array[Long]): Double = {
      val n = cs.length.toLong
      val lo = cs(((9 * n + 1) / 10).toInt - 1)
      val hi = cs(((9 * n + 10) / 10).toInt - 1)
      val frac10 = (9 * n + 1) % 10
      ((10 * lo + frac10 * (hi - lo) + 5) / 10).toDouble / 100
    }
    byFlag.foreach { case (flag, cs) =>
      val (g50, g90) = got(flag)
      assert(g50 == p50(cs), s"$flag p50: got $g50, want ${p50(cs)}")
      assert(g90 == p90(cs), s"$flag p90: got $g90, want ${p90(cs)}")
    }
  }

  test("MetaPool.mapAll propagates fatal worker errors instead of stalling") {
    // scala.concurrent re-wraps fatal throwables in ExecutionException; the
    // point is the call fails NOW with the real cause, not after 10 minutes
    // with "metadata backend hung"
    val e = intercept[Throwable] {
      MetaPool.mapAll(Seq(1), "fatal check") { _ =>
        throw new OutOfMemoryError("synthetic fatal")
      }
    }
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t =>
      t.isInstanceOf[OutOfMemoryError] && t.getMessage == "synthetic fatal"),
      s"cause chain: ${chain.map(_.getClass.getSimpleName)}")
  }

  test("MetaPool.mapAll rejects nested fan-out from its own workers") {
    val e = intercept[IllegalStateException] {
      MetaPool.mapAll(Seq(1), "outer") { _ =>
        MetaPool.mapAll(Seq(2), "inner")(identity)
      }
    }
    assert(e.getMessage.contains("nested fan-out"), e.getMessage)
  }

  test("eventsStream refuses a non-UTC session instead of shifting instants") {
    val sfDir = "/root/testdata/sf0.001"
    val tsType = spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType
    // only the NTZ fixture shape takes the session-zone cast that needs UTC
    assume(tsType == org.apache.spark.sql.types.TimestampNTZType)
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val e = intercept[IllegalArgumentException] {
        graft.streaming.Streams.eventsStream(spark, sfDir)
      }
      assert(e.getMessage.contains("UTC"), e.getMessage)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("eventsStream accepts UTC-equivalent zones (Etc/UTC, GMT, +00:00)") {
    val sfDir = "/root/testdata/sf0.001"
    val tsType = spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType
    assume(tsType == org.apache.spark.sql.types.TimestampNTZType)
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      // zones with identical (fixed zero-offset) rules preserve instants
      // exactly like "UTC" — the guard must compare rules, not strings
      Seq("Etc/UTC", "GMT", "+00:00").foreach { z =>
        spark.conf.set("spark.sql.session.timeZone", z)
        val df = graft.streaming.Streams.eventsStream(spark, sfDir)
        assert(df.schema("ts").dataType ==
          org.apache.spark.sql.types.TimestampType, s"zone $z rejected")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  // ---- round-7 pins (ADVICE round 6) ----

  test("length outliers drop NULL n_chars rows instead of shifting the median") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-adv-nullchars").toString
    // 4 real rows + 1 NULL n_chars row: before the fix the NULL sorted
    // NULLS FIRST in Spark (NULLS LAST in DuckDB), shifting the (n+1)/2
    // lower-median rank for the whole language across engines
    Seq(
      (1L, "aaaa", "en", "web", Option(4L)),
      (2L, "aaaaaa", "en", "web", Option(6L)),
      (3L, "aaaaaaaa", "en", "web", Option(8L)),
      (4L, "a" * 100, "en", "web", Option(100L)),
      (5L, null: String, "en", "web", Option.empty[Long]))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_length_outliers")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(!out.contains(5L), "NULL n_chars row must be excluded")
    // lower median of (4, 6, 8, 100) = rank (4+1)/2 = 2 -> 6;
    // MAD deviations (2, 0, 2, 94) -> lower median 2; outlier iff ad > 6
    assert(out(1L) == ((6L, 2L, false)), s"doc 1: ${out(1L)}")
    assert(out(4L) == ((6L, 2L, true)), s"doc 4: ${out(4L)}")
  }

  test("zipf fit nullifies slope/intercept on a single-token vocabulary") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-adv-zipf1").toString
    // one distinct token -> n*sxx - sx^2 = 0: Spark's Divide yields NULL,
    // DuckDB yields inf/NaN; both engines must now emit NULL via the
    // vocab >= 2 guard
    Seq((1L, "word word word", "en", "web", 14L),
        (2L, "word", "en", "web", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val Array(row) = SparkEntry.queries("q_zipf_fit")(spark, dir).collect()
    assert(row.getInt(0) == 1, s"vocab: ${row.getInt(0)}")
    assert(row.isNullAt(1) && row.isNullAt(2),
      s"degenerate fit must be NULL, got (${row.get(1)}, ${row.get(2)})")
  }

  test("MetaPool.mapAll preserves order and propagates worker failures") {
    val out = MetaPool.mapAll(1 to 100, "order check")(i => i * 2)
    assert(out == (2 to 200 by 2).toSeq)
    val e = intercept[Exception] {
      MetaPool.mapAll(Seq(1, 2, 3), "failure check") { i =>
        if (i == 2) sys.error("backend exploded") else i
      }
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("backend exploded")), s"got: ${msgs(e)}")
  }

  // ---- round-8 pins (ADVICE round 7) ----

  test("corpus prep keeps NULL-lang docs and curriculum-ranks NULL-source docs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-adv-nullsrc").toString
    // all four doc_ids hash to the 'train' split (md5 first hex chars
    // a/1/8/4). Doc 4 has NULL lang: before the coalesce it silently
    // vanished through the inner median/MAD joins. Doc 6 has NULL source
    // AND the minimum interleave position under the ''-coalesced source
    // ordering (sidx('')=0, rk=1 → pos 0): before the fix it dropped out
    // of the curriculum join entirely (NULL never equi-joins), so
    // first_doc flipped to another doc — and in DuckDB a NULL source
    // additionally sorted NULLS LAST where Spark sorts NULLS FIRST.
    Seq(
      (4L, "a b c d e f g h i j", null: String, "web", 48L),
      (6L, "k l m n o p q r s t", "en", null: String, 50L),
      (7L, "u v w x y z aa bb cc dd ee", "en", "web", 55L),
      (9L, "ff gg hh ii jj kk ll mm nn oo pp qq", "en", "web", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_corpus_prep")(spark, dir).collect()
    assert(rows.length == 1 && rows(0).getString(0) == "train",
      s"expected one train row, got ${rows.mkString("; ")}")
    val r = rows(0)
    assert(r.getLong(1) == 4L, s"NULL-lang doc lost from n_docs: ${r.getLong(1)}")
    assert(r.getLong(2) == 43L, s"n_tokens: ${r.getLong(2)}")
    assert(r.getLong(5) == 6L, s"NULL-source doc must win pos 0: ${r.getLong(5)}")
  }
}
