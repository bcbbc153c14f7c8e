package graft

import java.nio.file.{Files, Paths}

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.lake._

/** Property-based merge-on-read tests: random sequences of append /
  * equality-delete / positional-delete / upsert / rewrite_deletes /
  * compact against an in-memory model. After EVERY op the table content
  * must equal the model, the net CDC changelog must replay to the model,
  * and folding all deletes must restore exact row accounting — the
  * interleavings (eq deletes over positional tuples over upserts over
  * compactions) are where hand-written cases run out.
  */
class MorPropertySpec extends SparkSpec {

  import spark.implicits._

  private def forAllSeeded[A](gen: Gen[A], cases: Int)(body: A => Unit): Unit =
    (0 until cases).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(1042L + i)).foreach(body)
    }

  private sealed trait Op
  private case class Append(rows: Seq[(Int, String)]) extends Op
  private case class DeleteEq(k: Int) extends Op
  private case class DeleteRange(lo: Int) extends Op
  private case class UpsertB(rows: Seq[(Int, String)]) extends Op
  private case object Rewrite extends Op
  private case object Compact extends Op
  private case object Vectors extends Op

  private val genRows: Gen[Seq[(Int, String)]] = for {
    n <- Gen.choose(1, 4)
    rows <- Gen.listOfN(n, for {
      k <- Gen.choose(0, 49)
      v <- Gen.alphaLowerStr.map(_.take(6))
    } yield (k, v))
  } yield rows

  /** Upsert batches must be unique per key (documented contract). */
  private val genUpsertRows: Gen[Seq[(Int, String)]] =
    genRows.map(_.groupBy(_._1).map(_._2.head).toSeq)

  private val genOp: Gen[Op] = Gen.frequency(
    4 -> genRows.map(Append),
    2 -> Gen.choose(0, 49).map(DeleteEq),
    2 -> Gen.choose(0, 40).map(DeleteRange),
    3 -> genUpsertRows.map(UpsertB),
    1 -> Gen.const(Rewrite),
    1 -> Gen.const(Compact),
    1 -> Gen.const(Vectors))

  test("random MOR op sequences match the model at every step; CDC replays") {
    val wh = Files.createTempDirectory("graft-morprop-wh").toString
    spark.conf.set("spark.sql.catalog.morprop", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.morprop.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS morprop.t")
    var caseId = 0
    var vectorMerges = 0
    forAllSeeded(Gen.listOfN(7, genOp), cases = 6) { ops =>
      caseId += 1
      val tbl = s"morprop.t.c$caseId"
      spark.sql(s"""CREATE TABLE $tbl (k INT, v STRING) USING graft
                    TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
      val store = new SnapshotStore(Paths.get(wh, "t", s"c$caseId"))
      var model = Seq.empty[(Int, String)]

      def check(tag: String): Unit = {
        val got = spark.table(tbl).as[(Int, String)].collect().toSeq
        assert(got.sorted == model.sorted,
          s"content diverged after $tag for $tbl: got=${got.sorted} " +
            s"want=${model.sorted}")
      }

      ops.foreach { op =>
        op match {
          case Append(rows) =>
            val values = rows.map { case (k, v) => s"($k, '$v')" }.mkString(", ")
            spark.sql(s"INSERT INTO $tbl VALUES $values")
            model = model ++ rows
          case DeleteEq(k) =>
            spark.sql(s"DELETE FROM $tbl WHERE k = $k") // equality kind
            model = model.filterNot(_._1 == k)
          case DeleteRange(lo) =>
            spark.sql(s"DELETE FROM $tbl WHERE k >= $lo AND k < ${lo + 10}")
            model = model.filterNot { case (k, _) => k >= lo && k < lo + 10 }
          case UpsertB(rows) =>
            Upsert.into(spark, store, rows.toDF("k", "v"), Seq("k"))
            val keys = rows.map(_._1).toSet
            model = model.filterNot(r => keys.contains(r._1)) ++ rows
          case Rewrite =>
            Maintenance.rewriteDeletes(spark, store)
          case Compact =>
            Maintenance.compact(spark, store)
          case Vectors =>
            // range DELETEs of two live keys of one data file: the second
            // merges into the vector the first wrote
            val twoKeys = spark.sql(s"SELECT k, _file FROM $tbl").collect()
              .groupBy(_.getString(1)).values
              .map(_.map(_.getInt(0)).distinct.sorted.toSeq)
              .find(_.size >= 2)
            twoKeys.foreach { ks =>
              ks.take(2).foreach { k =>
                spark.sql(s"DELETE FROM $tbl WHERE k >= $k AND k < ${k + 1}")
                model = model.filterNot(_._1 == k)
              }
              vectorMerges += 1
            }
        }
        check(op.getClass.getSimpleName)
      }

      // net CDC changelog replays to the final model
      val head = store.head().get
      val ch = Changes.between(spark, store, 1L, head.version)
        .select("k", "v", Changes.ChangeType, Changes.CommitVersion)
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      var replay = Seq.empty[(Int, String)]
      ch.groupBy(_._4).toSeq.sortBy(_._1).foreach { case (v, rows) =>
        val ins = rows.filter(_._3 == "insert").map(r => (r._1, r._2))
        val del = rows.filter(_._3 == "delete").map(r => (r._1, r._2))
        replay = del.foldLeft(replay ++ ins) { (acc, d) =>
          val i = acc.indexOf(d)
          assert(i >= 0, s"changelog deletes absent row $d at v$v in $tbl")
          acc.patch(i, Nil, 1)
        }
      }
      assert(replay.sorted == model.sorted, s"changelog replay diverged for $tbl")

      // folding every pending delete restores exact accounting
      Maintenance.rewriteDeletes(spark, store)
      val folded = store.head().get
      assert(folded.deleteFiles.isEmpty)
      assert(folded.totalRows == model.size,
        s"totalRows ${folded.totalRows} != model ${model.size} for $tbl")
      check("final rewrite_deletes")
    }
    assert(vectorMerges > 0, "no DELETE merged into an existing vector")
  }
}
