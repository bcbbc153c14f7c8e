package graft.perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.graftbridge.CheckpointBridge

/** `pipeline`: one client runs a fixed list of declared queries in turn,
  * each executed in full and collected, and stops only after a whole pass
  * over the list, so every run measures the same queries. As in
  * `graft.Bench`, persisted blocks are swept after each query, and the
  * number still live before the sweep is recorded.
  *
  * Set-up prepares the lake namespace and the five tables the two ingest
  * queries replace (drop and create, as a re-run of an ingest job does).
  * The corpus itself is generated once, before set-up, like lake_query's
  * input data.
  *
  * Checks: every op's result is written out for run.py, which compares it
  * with the query's DuckDB twin where one exists, and checks the two
  * queries without a twin against laws DuckDB can compute over the same
  * corpus (twins.py). Here, the lake tables left by the last run of each
  * ingest query must hold exactly the rows its accounting says it
  * admitted. */
final class PipelineWork(spark: SparkSession, a: Args) extends Workload {
  override val clients = 1
  // one set-up takes ~0.1 s warm
  override val setupReps = 9
  val Queries = Seq("q_lake_ingest_neardup_small", "q_lake_ingest_semantic",
    "q_corpus_prep", "q_dedup_pipeline", "q_minhash_dedup", "q_bigram_lm",
    "q_stream_join")
  private val Docs = math.max(40, (4000 * a.scale).toInt)
  private val Events = math.max(400, (100000 * a.scale).toInt)
  private val fns = graft.SparkEntry.queries
  private val oracle = graft.SparkEntry.oracleSql
  private val dir = a.work.resolve("corpus").toString
  private val out = a.work.resolve("pipeline-results")
  private var i = 0

  Gen.corpus(spark, a.seed, Docs, Events, dir)

  private val Ns = "graft.verify"
  private val IngestTables = Seq(
    "nds_corpus" -> "doc_id BIGINT, text STRING",
    "nds_bands" -> "band_idx INT, band_hash BIGINT, doc_id BIGINT",
    "sem_corpus" -> "vec_id BIGINT, embedding ARRAY<FLOAT>",
    "sem_centroids" -> "cluster_id BIGINT, centroid ARRAY<DOUBLE>",
    "sem_index" -> "cluster_id BIGINT, vec_id BIGINT, v ARRAY<DOUBLE>, nv DOUBLE")

  override def setup(rep: Int): Unit = {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $Ns")
    IngestTables.foreach { case (t, cols) =>
      spark.sql(s"DROP TABLE IF EXISTS $Ns.$t")
      spark.sql(s"CREATE TABLE $Ns.$t ($cols) USING graft")
    }
  }

  override def atBoundary(client: Int): Boolean = i % Queries.size == 0

  override def next(client: Int): Step = {
    val name = Queries(i % Queries.size)
    i += 1
    Step(name, () => {
      val rows = Main.queryDf(fns(name)(spark, dir))
      if (Trace.on)
        Trace.count("ckpt.live_rdds", spark.sparkContext.getPersistentRDDs.size)
      CheckpointBridge.sweep(spark)
      Outcome(ok = true, checkKey = name, rows = rows)
    })
  }

  private def count(t: String): Long =
    spark.sql(s"SELECT count(*) FROM $Ns.$t").head().getLong(0)

  private def sum(rows: Array[Row], col: String): Long =
    rows.map(_.getAs[Long](col)).sum

  /** The lake state the last run of an ingest query left, against its
    * accounting; None when it agrees. */
  private def lakeStateWrong(q: String, rows: Array[Row]): Option[String] = q match {
    case "q_lake_ingest_neardup_small" =>
      // two bands per admitted document (the query ingests at 4 hashes / 2 bands)
      val (admitted, corpus, bands) = (sum(rows, "admitted"), count("nds_corpus"), count("nds_bands"))
      if (corpus == admitted && bands == 2 * admitted) None
      else Some(s"admitted $admitted, nds_corpus $corpus rows, nds_bands $bands rows")
    case "q_lake_ingest_semantic" =>
      // zero-norm vectors are admitted but not indexed
      val (admitted, zero) = (sum(rows, "admitted"), sum(rows, "zero_norm"))
      val (corpus, index) = (count("sem_corpus"), count("sem_index"))
      if (corpus == admitted && index == admitted - zero) None
      else Some(s"admitted $admitted (zero-norm $zero), sem_corpus $corpus rows, " +
        s"sem_index $index rows")
    case _ => None
  }

  override def verify(ops: Seq[Done]): Verdict = {
    passS = ops.map(_.ms).sum / 1000.0 / math.max(ops.size / Queries.size, 1)
    val ran = ops.filter(_.outcome.ok)
    val bad = ran.groupBy(_.outcome.checkKey).values.map(_.maxBy(_.op.id)).flatMap { d =>
      lakeStateWrong(d.outcome.checkKey, d.outcome.rows).map { why =>
        System.err.println(s"[perfbench] ${d.outcome.checkKey}: lake state differs: $why")
        d.op.id
      }
    }.toSet
    // every other op's result, for run.py to check against DuckDB over the corpus
    val toCheck = ran.filterNot(d => bad(d.op.id))
    Files.createDirectories(out)
    toCheck.filter(_.outcome.rows.nonEmpty).foreach { d =>
      val rows = d.outcome.rows
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), rows.head.schema)
        .write.mode("overwrite").parquet(out.resolve(d.op.id.toString).toString)
    }
    Files.writeString(out.resolve("twins.json"), Report.obj(Seq(
      "corpus" -> Report.str(dir),
      "twins" -> Report.obj(Queries.flatMap(q => oracle.get(q).map(q -> Report.str(_)))),
      // the exact pair listing q_minhash_dedup's pairs are checked against
      "pairs" -> Report.str(oracle("q_ngram_jaccard")),
      "ops" -> toCheck.map(d => Report.obj(Seq("op" -> d.op.id.toString,
        "query" -> Report.str(d.outcome.checkKey)))).mkString("[", ", ", "]"))))
    Verdict(bad, Nil)
  }

  private var passS = 0.0

  override def facts(): Map[String, Double] = Map(
    "pipeline_s" -> passS, "documents" -> Docs.toDouble, "events" -> Events.toDouble)
}
