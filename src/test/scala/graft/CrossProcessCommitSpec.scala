package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import org.scalatest.funsuite.AnyFunSuite

import graft.lake._

/** Cross-PROCESS commit contention: three real JVMs (plus this one) race
  * append / upsert / COW-delete / compaction on ONE table over shared
  * storage, with `MetaIO.createExclusive` as the only arbiter. In-JVM
  * stress shares every JVM-level cache and memory fence by accident; only
  * separate processes prove the commit protocol's claim that the STORAGE
  * primitive (conditional create of the next version file) alone
  * serializes writers — the exact situation of two Spark drivers sharing
  * an object store (SURVEY.md §3.3).
  *
  * Invariants asserted are the same as ConcurrentStressSpec: a gap-free
  * linear version chain, every append exactly once, deletes not
  * resurrected, last-writer-wins upserts per key, metadata totals matching
  * reality.
  */
class CrossProcessCommitSpec extends AnyFunSuite {

  // same module flags the sbt build passes to forked test JVMs; Spark 4 on
  // JDK 17 fails to boot without them
  private val jdk17AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  test("three separate JVMs racing on one table serialize with no lost updates") {
    val wh = Files.createTempDirectory("graft-xproc-wh").toString
    val spark = SparkSpec.session
    spark.conf.set("spark.sql.catalog.xproc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.xproc.warehouse", wh)
    def sql(q: String) = spark.sql(q)

    sql("CREATE NAMESPACE IF NOT EXISTS xproc.d")
    sql("CREATE TABLE xproc.d.xt (id INT, w STRING, v INT) USING iceberg")
    sql("INSERT INTO xproc.d.xt SELECT id, 'seed', id FROM range(1, 51)")
    // one victim chunk per worker; each worker COW-deletes its own
    sql("INSERT INTO xproc.d.xt SELECT id, 'victim', 0 FROM range(9000, 9030)")
    // phase-2 table: merge-on-read deletes merging into deletion vectors
    // + orphan sweeps, all racing across the three processes
    sql("""CREATE TABLE xproc.d.mt (id INT, w STRING, v INT) USING iceberg
           TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")

    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val cp = sys.props("java.class.path")
    assert(cp.contains(File.pathSeparator),
      "test JVM must be forked with a real -cp for worker launch")
    val outDir = Files.createTempDirectory("graft-xproc-out")

    def launch(wid: Int): (Process, java.nio.file.Path) = {
      val out = outDir.resolve(s"worker-$wid.log")
      val cmd = Seq(javaBin) ++ jdk17AddOpens ++ Seq(
        "-Xmx3g", "-cp", cp, "graft.XProcStressWorker", wh, wid.toString)
      val p = new ProcessBuilder(cmd: _*)
        .redirectErrorStream(true)
        .redirectOutput(out.toFile)
        .start()
      (p, out)
    }

    val workers = (0 until 3).map(launch)
    val done = workers.map { case (p, _) => p.waitFor(10, TimeUnit.MINUTES) }
    workers.foreach { case (p, _) => if (p.isAlive) p.destroyForcibly() }
    def logOf(out: java.nio.file.Path): String =
      if (Files.exists(out)) Files.readString(out) else "<no output>"
    workers.zip(done).zipWithIndex.foreach { case (((p, out), finished), wid) =>
      assert(finished, s"worker $wid timed out\n${logOf(out).takeRight(4000)}")
      assert(p.exitValue() == 0,
        s"worker $wid exited ${p.exitValue()}\n${logOf(out).takeRight(4000)}")
    }

    val store = new SnapshotStore(Paths.get(wh, "d", "xt"))

    // 1. one linear, gap-free version chain across all three processes,
    // with every snapshot chained to exactly its predecessor (no commit
    // overwrote or bypassed another's slot)
    val versions = store.listVersions()
    assert(versions == (1L to versions.max), s"version chain has gaps: $versions")
    versions.filter(_ > 1).foreach { v =>
      val parent = store.read(v).parentVersion
      assert(parent.contains(v - 1), s"v$v chains to $parent, want ${v - 1}")
    }

    val rows = sql("SELECT id, w, v FROM xproc.d.xt").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2)))

    // 2. no id appears twice (exactly-once appends + upsert key unity)
    val dupes = rows.groupBy(_._1).filter(_._2.length > 1)
    assert(dupes.isEmpty, s"duplicated ids: ${dupes.keys.toSeq.sorted.take(10)}")

    // 3. every append from every process landed exactly once
    val expectedAppends = (for {
      wid <- 0 until 3; b <- 0 until 6; k <- 0 until 5
    } yield 10000 * (wid + 1) + b * 10 + k).toSet
    val gotAppends = rows.collect { case (id, w, _) if w.startsWith("w") => id }.toSet
    assert(gotAppends == expectedAppends,
      s"appends lost: ${(expectedAppends -- gotAppends).toSeq.sorted.take(10)} " +
        s"phantom: ${(gotAppends -- expectedAppends).toSeq.sorted.take(10)}")

    // 4. every victim chunk deleted by its worker, none resurrected
    val victims = rows.filter(r => r._1 >= 9000 && r._1 < 9030)
    assert(victims.isEmpty, s"deleted rows resurrected: ${victims.take(10).toSeq}")

    // 5. seeds untouched
    assert(rows.count(_._2 == "seed") == 50, "seed rows lost or duplicated")

    // 6. per-worker upsert keys present once with that worker's LAST round
    (0 until 3).foreach { wid =>
      val ups = rows.filter(_._2 == s"up$wid").sortBy(_._1)
      assert(ups.map(_._1).toSeq == (6000 + 10 * wid until 6010 + 10 * wid),
        s"worker $wid upsert keys wrong: ${ups.map(_._1).toSeq}")
      assert(ups.forall(_._3 == 4),
        s"worker $wid stale upsert values: ${ups.filter(_._3 != 4).toSeq}")
    }

    // 7. total = seeds + appends + upsert keys
    assert(rows.length == 50 + expectedAppends.size + 30,
      s"row count off: ${rows.length}")

    // 8. after maintenance quiesces, metadata totals agree with reality
    Maintenance.rewriteDeletes(spark, store)
    Maintenance.compact(spark, store)
    val head = store.head().get
    assert(head.totalRows == rows.length.toLong,
      s"totalRows=${head.totalRows} but table has ${rows.length} rows")

    // ---- phase-2 table: MOR deletes under racing vector merges/sweeps ----
    val mtStore = new SnapshotStore(Paths.get(wh, "d", "mt"))

    // 9. linear gap-free chain there too
    val mtVersions = mtStore.listVersions()
    assert(mtVersions == (1L to mtVersions.max),
      s"mt version chain has gaps: $mtVersions")

    // 10. exactly the surviving half of every batch, none resurrected,
    // none over-deleted — deletes raced vector merges the whole run
    val mtRows = sql("SELECT id, w, v FROM xproc.d.mt").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
    val expectedMt = (for {
      wid <- 0 until 3; b <- 0 until 6; k <- 5 until 10
    } yield 50000 * (wid + 1) + b * 20 + k).toSet
    val gotMt = mtRows.map(_._1).toSet
    assert(gotMt == expectedMt,
      s"mt lost: ${(expectedMt -- gotMt).toSeq.sorted.take(10)} " +
        s"resurrected: ${(gotMt -- expectedMt).toSeq.sorted.take(10)}")
    assert(mtRows.length == expectedMt.size, "mt duplicated rows")

    // 11. every file the final snapshot references still exists — the
    // concurrent age-guarded orphan sweeps never collected live state
    val mtHead = mtStore.head().get
    (mtHead.files.map(_.path) ++ mtHead.deleteFiles.map(_.path)).foreach { p =>
      assert(Files.exists(mtStore.tableDir.resolve(p)),
        s"live file collected by a racing orphan sweep: $p")
    }

    // 12. at most one vector per data file, and exact row accounting
    val refs = mtHead.deleteFiles.map(d => d.kind -> d.referencedDataFile)
    assert(refs.forall { case (k, r) => k == "dv" && r.isDefined },
      s"not one vector per entry: ${mtHead.deleteFiles}")
    assert(refs.distinct.size == refs.size,
      s"two vectors for one data file: ${mtHead.deleteFiles}")
    assert(mtHead.totalRows == expectedMt.size.toLong,
      s"mt totalRows=${mtHead.totalRows}, want ${expectedMt.size}")
  }
}
