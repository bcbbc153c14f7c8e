package graft

import org.apache.spark.sql.functions._

/** Pins exactJaccard's TWO join shapes (VERDICT r11 #2): with
  * `hintBroadcast = true` (the batch-bounded ingest paths) the candidate
  * shingle-array sides are force-broadcast; without it (corpus-scale
  * callers) the strategy is AQE's to pick, and when broadcasting is
  * disabled outright the verification degrades to a working shuffle join
  * with IDENTICAL rows — the fallback that used to be unreachable because
  * the r11 form hinted unconditionally (an 8 GB-cap / driver-OOM hazard on
  * candidate floods). */
class ExactJaccardPlanSpec extends SparkSpec {

  private def fixtures = {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "one two three four five six seven"),
      (4L, "one two three four five six eight"),
      (5L, "totally unrelated words appear here now")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L), (1L, 5L)).toDF("id_a", "id_b")
    (docs, pairs)
  }

  test("hinted form broadcasts; past the estimate gate it falls back to a shuffle join") {
    val (docs, pairs) = fixtures
    val hinted = graft.operators.Dedup
      .exactJaccard(docs, pairs, hintBroadcast = true)
    assert(hinted.queryExecution.sparkPlan.toString
      .contains("BroadcastHashJoin"),
      "hinted exactJaccard lost its broadcast shape")

    // corpus-scale callers gate the hint on the plan-time size estimate;
    // force the gate to trip (cap 0) AND disable auto-broadcast so the
    // fallback's static shape is visible
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(graft.operators.Dedup.JaccardBroadcastMaxBytesKey, "0")
    try {
      val unhinted = graft.operators.Dedup
        .exactJaccard(docs, pairs, hintBroadcast = false)
      val p = unhinted.queryExecution.sparkPlan.toString
      // with auto-broadcast off and no hint, the two INNER verify joins
      // (keyed id_a / id_b, carrying the shingle arrays) must plan as
      // shuffle joins — proof the fallback path EXISTS (at runtime AQE may
      // still convert small sides; that conversion is the point). The
      // candidate-id SEMI-join stays hinted — ids are 8 B/row, not arrays.
      assert(!p.matches("(?s).*BroadcastHashJoin [^\\n]*Inner.*"),
        s"unhinted exactJaccard still pins an inner broadcast join:\n$p")
      assert(p.matches("(?s).*(SortMergeJoin|ShuffledHashJoin)[^\\n]*Inner.*"),
        s"no shuffle join in the unhinted plan:\n$p")
      // and the fallback computes the identical verification rows
      val a = hinted.orderBy("id_a", "id_b").collect().toSeq
      val b = unhinted.orderBy("id_a", "id_b").collect().toSeq
      assert(a == b, s"shuffle fallback diverged:\n$a\nvs\n$b")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset(graft.operators.Dedup.JaccardBroadcastMaxBytesKey)
    }
  }

  test("under the estimate gate the corpus-scale form keeps the broadcast hint") {
    val (docs, pairs) = fixtures
    val gated = graft.operators.Dedup
      .exactJaccard(docs, pairs, hintBroadcast = false)
    // tiny fixture → estimate ≪ the 64 MB default cap → hint applies and
    // the pair frame never shuffles (the r11 fast shape, now guarded)
    assert(gated.queryExecution.sparkPlan.toString
      .contains("BroadcastHashJoin"),
      "estimate-gated hint did not apply under the cap")
  }

  test("a malformed broadcast cap fails naming the key and the value") {
    val (docs, pairs) = fixtures
    val key = graft.operators.Dedup.JaccardBroadcastMaxBytesKey
    spark.conf.set(key, "64MB")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.operators.Dedup.exactJaccard(docs, pairs, hintBroadcast = false)
      }
      assert(e.getMessage.contains(key) && e.getMessage.contains("'64MB'"),
        e.getMessage)
    } finally spark.conf.unset(key)
  }

  test("a malformed stream state-partition count fails naming the key and the value") {
    val key = "graft.stream.state-partitions"
    spark.conf.set(key, "four")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.streaming.Streams.runToMemory(spark,
          spark.readStream.format("rate").load(), "bad_state_parts")
      }
      assert(e.getMessage.contains(key) && e.getMessage.contains("'four'"),
        e.getMessage)
    } finally spark.conf.unset(key)
  }
}
