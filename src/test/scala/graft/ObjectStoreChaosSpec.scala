package graft

import java.nio.file.{Files, Paths}

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.lake._

/** Chaos over object-store semantics: a random operation sequence
  * (append / MOR delete / upsert / compact / vector merge) runs
  * while transient storage faults — 503s before the effect AND
  * lost-responses after a landed conditional PUT — are injected at
  * random into the write path. The caller retries failed statements,
  * exactly like a production job would, and the table must track the
  * model exactly: no lost writes, no DOUBLE-APPLIED writes (the
  * lost-response case the commit loop disambiguates by slot read-back),
  * and a gap-free version chain at the end.
  *
  * Faults are scoped to this suite's warehouse (path substring) so the
  * shared fake backend never perturbs other suites. */
class ObjectStoreChaosSpec extends AnyFunSuite {

  private val wh = Files.createTempDirectory("graft-oschaos-wh").toString
  private val io = ObjectStoreTestBackend.io

  private lazy val spark = {
    val s = SparkSpec.session
    s.conf.set("spark.sql.catalog.oschaos", classOf[ObjectStoreCatalog].getName)
    s.conf.set("spark.sql.catalog.oschaos.warehouse", wh)
    s
  }

  private def sql(q: String) = spark.sql(q)

  private sealed trait Op
  private case class Append(rows: Seq[(Int, Int)]) extends Op
  private case class DeleteRange(lo: Int) extends Op
  private case class UpsertB(rows: Seq[(Int, Int)]) extends Op
  private case object Compact extends Op
  private case object Vectors extends Op

  private val genRows: Gen[Seq[(Int, Int)]] = for {
    n <- Gen.choose(1, 4)
    rows <- Gen.listOfN(n, for {
      k <- Gen.choose(0, 49); v <- Gen.choose(0, 999)
    } yield (k, v))
  } yield rows.groupBy(_._1).map(_._2.head).toSeq

  private val genOp: Gen[Op] = Gen.frequency(
    4 -> genRows.map(Append),
    2 -> Gen.choose(0, 40).map(DeleteRange),
    3 -> genRows.map(UpsertB),
    1 -> Gen.const(Compact),
    1 -> Gen.const(Vectors))

  // (op name on the fake, after-effect?) — the write-path fault space
  private val genFault: Gen[Option[(String, Boolean)]] = Gen.frequency(
    5 -> Gen.const(None),
    2 -> Gen.const(Some(("PUT-if-none-match", false))),
    2 -> Gen.const(Some(("PUT-if-none-match", true))), // lost response
    1 -> Gen.const(Some(("COPY", false))),
    1 -> Gen.const(Some(("PUT", false))))

  private def retrying[T](what: String, attempts: Int = 12)(op: => T): T = {
    def msgs(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .flatMap(x => Option(x.getMessage)).toSeq
    var last: Throwable = null
    (0 until attempts).foreach { _ =>
      try return op
      catch {
        case e: Throwable if msgs(e).exists(m =>
            m.contains("concurrent commit") || m.contains("injected") ||
              m.contains("concurrent insert") || m.contains("lost")) =>
          last = e
      }
    }
    throw new IllegalStateException(s"$what never succeeded", last)
  }

  test("random ops under injected storage faults track the model exactly") {
    sql("CREATE NAMESPACE IF NOT EXISTS oschaos.d")
    sql("""CREATE TABLE oschaos.d.t (k INT, v INT) USING iceberg
           TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    val store = new SnapshotStore(Paths.get(wh, "d", "t"), io = io)
    var model = Seq.empty[(Int, Int)]

    val genStep = for { f <- genFault; op <- genOp } yield (f, op)
    val steps = (0 until 24).flatMap { i =>
      genStep.apply(Gen.Parameters.default, Seed(9042L + i))
    }
    var injected = 0
    var consumed = 0
    var vectorMerges = 0

    steps.zipWithIndex.foreach { case ((fault, op), i) =>
      fault.foreach { case (opName, after) =>
        io.injectFault(opName, "oschaos", afterEffect = after)
        injected += 1
      }
      try {
        op match {
          case Append(rows) =>
            val values = rows.map { case (k, v) => s"($k, $v)" }.mkString(", ")
            retrying(s"append $i") {
              sql(s"INSERT INTO oschaos.d.t VALUES $values")
            }
            model = model ++ rows
          case DeleteRange(lo) =>
            retrying(s"delete $i") {
              sql(s"DELETE FROM oschaos.d.t WHERE k >= $lo AND k < ${lo + 10}")
            }
            model = model.filterNot { case (k, _) => k >= lo && k < lo + 10 }
          case UpsertB(rows) =>
            import spark.implicits._
            retrying(s"upsert $i") {
              Upsert.into(spark, store, rows.toDF("k", "v"), Seq("k"))
            }
            val keys = rows.map(_._1).toSet
            model = model.filterNot(r => keys.contains(r._1)) ++ rows
          case Compact =>
            retrying(s"compact $i") { Maintenance.compact(spark, store) }
          case Vectors =>
            // a range DELETE over rows of a file that already carries a
            // vector: the merged vector is a new blob write under faults
            val dvFiles = store.head().get.deleteFiles
              .flatMap(_.referencedDataFile).map(PositionDeletes.fileName).toSet
            val keys = sql("SELECT k, _file FROM oschaos.d.t").collect()
              .filter(r => dvFiles.contains(PositionDeletes.fileName(r.getString(1))))
              .map(_.getInt(0))
            if (keys.nonEmpty) {
              val lo = keys.min
              retrying(s"vectors $i") {
                sql(s"DELETE FROM oschaos.d.t WHERE k >= $lo AND k < ${lo + 3}")
              }
              model = model.filterNot { case (k, _) => k >= lo && k < lo + 3 }
              vectorMerges += 1
            }
        }
      } finally {
        // a fault not reached by this op must not leak into the next
        // step's unexpected place; empty queue before the clear = it fired
        if (fault.isDefined && io.faults.isEmpty) consumed += 1
        io.faults.clear()
      }
      val got = sql("SELECT k, v FROM oschaos.d.t").collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSeq
      assert(got.sorted == model.sorted,
        s"diverged after step $i ($op, fault=$fault): " +
          s"got=${got.sorted.take(20)} want=${model.sorted.take(20)}")
    }

    // the chaos must have actually happened, not idled in the queue
    assert(vectorMerges > 0, "no DELETE merged into an existing vector")
    assert(injected >= 8 && consumed >= injected / 2,
      s"fault injection vacuous: injected=$injected consumed=$consumed")

    val versions = store.listVersions()
    assert(versions == (1L to versions.max), s"version chain gaps: $versions")
    val head = store.head().get
    assert(head.totalRows == model.size.toLong,
      s"totalRows=${head.totalRows}, model=${model.size}")
  }
}
