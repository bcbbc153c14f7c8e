package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Pins the PLAN-SHAPE properties the 100 TB design depends on — not what
  * the queries return (the oracle gate owns that) but how they execute:
  * filters reach the parquet scan, projections prune the read schema,
  * small dimensions broadcast, aggregation is partial+final, order+limit
  * becomes top-K, and the hot relational path stays inside whole-stage
  * codegen. A regression here keeps results correct while silently
  * turning a scan-light plan into a full-table one — exactly the class of
  * bug small-SF correctness tests can never catch.
  */
class PlanQualitySpec extends SparkSpec {

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  /** The FINAL adaptive plan: AQE only fixes join strategies (and codegen
    * spans only materialize) at runtime, so execute first, then inspect. */
  private def executedPlan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("filter+projection push down to the parquet scan (q_filter_project)") {
    val p = plan("q_filter_project")
    assert(p.contains("PushedFilters:") &&
      p.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThan[^\\]]*.*"),
      s"filter not pushed:\n$p")
    // projection pruning: the widest lineitem column never leaves the scan
    assert(!p.contains("l_comment"), "read schema not pruned to projection")
  }

  test("explicit broadcast produces a BroadcastHashJoin (q_join_broadcast)") {
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("multi-way dim join has no cartesian product and keeps dims broadcast (q5)") {
    val p = plan("q5_local_supplier_volume")
    assert(!p.contains("CartesianProduct"), "cartesian crept into q5")
    assert(p.contains("BroadcastHashJoin"), "small dims not broadcast in q5")
  }

  test("aggregation is partial then final — map-side combine (q1)") {
    val p = plan("q1_pricing_summary")
    // two HashAggregates with the shuffle between them: map-side combine
    // runs before the exchange, so the shuffle moves one row per
    // (group × partition), not one per input row
    assert(p.matches("(?s).*HashAggregate.*Exchange.*HashAggregate.*"),
      s"no partial+final aggregation in q1:\n$p")
  }

  test("hot relational path stays inside whole-stage codegen (q1)") {
    val s = executedPlan("q1_pricing_summary")
    assert(s.contains("*("), s"q1 fell out of whole-stage codegen:\n$s")
  }

  test("order by + limit plans as top-K, not global sort (q_orderby_limit)") {
    val p = plan("q_orderby_limit")
    assert(p.contains("TakeOrderedAndProject"),
      s"limit+orderBy did not become top-K:\n$p")
  }

  test("semi/anti joins stay joins (no aggregate-based rewrite)") {
    assert(plan("q_semi_join").contains("LeftSemi"))
    assert(plan("q_anti_join").contains("LeftAnti"))
  }

  test("tf-idf joins the small df side broadcast (q_tfidf)") {
    assert(plan("q_tfidf").contains("BroadcastHashJoin"),
      "document-frequency side not broadcast")
  }

  test("CUBE expands at the partial-agg stage — one shuffle (q_cube)") {
    val p = plan("q_cube")
    assert(p.contains("Expand"), s"cube not planned via Expand:\n$p")
    assert(p.matches("(?s).*HashAggregate.*Exchange.*HashAggregate.*"),
      "cube lost map-side partial aggregation")
  }

  test("correlated scalar subqueries decorrelate into joins (q_correlated_subquery)") {
    val p = plan("q_correlated_subquery")
    assert(!p.contains("CartesianProduct"), "decorrelation produced a cartesian")
    assert(p.contains("Join"), "no join in decorrelated plan")
  }

  test("lake catalog scan reports snapshot stats so it can broadcast") {
    // ensureCatalog path: q_lake_roundtrip creates + populates the table
    SparkEntry.queries("q_lake_roundtrip")(spark, sf).collect()
    val t = spark.table("graft.verify.nation")
    val bytes = t.queryExecution.optimizedPlan.stats.sizeInBytes
    // a V1 relation without stats reports defaultSizeInBytes (8 EiB) and
    // could never be chosen as a broadcast side
    assert(bytes < 100L * 1024 * 1024, s"lake table reports $bytes bytes")
  }

  test("merge-on-read scan applies deletes inside the reader: no join, no shuffle") {
    // the reader skips deleted positions itself; a join (broadcast or
    // shuffled) against the tuple set would put delete application, and
    // for a 100 TB MOR table a shuffle of the data side, into every read
    SparkEntry.queries("q_lake_roundtrip")(spark, sf) // registers the catalog
    spark.sql("DROP TABLE IF EXISTS graft.verify.planq_mor")
    spark.sql("""CREATE TABLE graft.verify.planq_mor (id INT, v INT)
                 USING graft
                 TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    spark.sql("INSERT INTO graft.verify.planq_mor VALUES (1,1),(2,2),(3,3)")
    // OR of equalities -> positional tuples stay PENDING on the table
    spark.sql("DELETE FROM graft.verify.planq_mor WHERE id = 1 OR id = 3")
    val df = spark.table("graft.verify.planq_mor")
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(2))
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val store = new graft.lake.SnapshotStore(
      java.nio.file.Paths.get(wh, "verify", "planq_mor"))
    val head = store.head().get
    assert(head.deleteFiles.nonEmpty, "positional tuples must be pending")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("with-deletes="), s"scan plans no delete-applying file:\n$p")
    assert(!p.contains("Join"), s"MOR delete application joins:\n$p")
    assert(!p.contains("Exchange"), s"MOR scan shuffles:\n$p")
  }

  test("domain mixture keeps the weights dim broadcast and the corpus unshuffled") {
    val p = plan("q_domain_mixture")
    assert(p.contains("BroadcastHashJoin"),
      s"weights dim not broadcast:\n$p")
    // corpus side must not shuffle for the join: the only Exchange allowed
    // is the final ORDER BY's range partitioning
    assert(!p.contains("SortMergeJoin"),
      s"mixture join shuffles the corpus:\n$p")
  }

  test("sequence packing sorts per source shard, not globally, before the window") {
    val p = plan("q_sequence_pack")
    // the running sum must be a hash repartition on source (shard-local
    // sort), never a range/global sort feeding the Window
    assert(p.contains("Window"), s"no window in packing plan:\n$p")
    assert(p.matches("(?s).*hashpartitioning\\(source.*Window.*") ||
      p.matches("(?s).*Exchange hashpartitioning\\(source.*"),
      s"window input not hash-partitioned by source:\n$p")
  }

  test("unigram LM scoring broadcasts the model and combines map-side") {
    val s = executedPlan("q_unigram_logprob")
    assert(s.contains("BroadcastHashJoin"),
      s"vocabulary model not broadcast at this scale:\n$s")
    assert(s.matches("(?s).*HashAggregate.*Exchange.*HashAggregate.*"),
      "per-doc aggregation lost map-side combine")
  }

  test("repetition profile is a pure map plan — no shuffle before the sort") {
    val p = plan("q_repetition_profile")
    // one per-row kernel pass: the only Exchange is the output ORDER BY's
    // range partitioning — no hash shuffle (join/agg) may appear
    assert(!p.contains("Exchange hashpartitioning"),
      s"repetition profile shuffles mid-plan:\n$p")
    assert(!p.contains("Generate"), s"kernel replaced by explode:\n$p")
  }

  test("ingest dedup streams the index scan — batch side broadcasts") {
    val s = executedPlan("q_lake_ingest_dedup")
    assert(s.contains("BroadcastHashJoin") && s.contains("LeftSemi"),
      s"index ⋉ batch is not a broadcast semi-join:\n$s")
    assert(!s.contains("SortMergeJoin"),
      s"the fingerprint index shuffled for the dedup check:\n$s")
  }

  test("importance weights broadcast the 256-bucket table — corpus unshuffled for scoring") {
    val s = executedPlan("q_importance_weights")
    assert(s.contains("BroadcastHashJoin [bucket"),
      s"bucket-weight table not broadcast into the scoring join:\n$s")
    // the 256-row histogram full-outer join may sort-merge (full outer
    // can't broadcast; it's bucket-sized) — what must never shuffle is the
    // corpus-keyed side
    assert(!s.contains("SortMergeJoin [doc_id"),
      s"the corpus was sort-merge joined:\n$s")
  }

  test("perplexity buckets sort per language shard, not globally, for ntile") {
    val p = plan("q_perplexity_buckets")
    assert(p.contains("Window"), s"no window in bucket plan:\n$p")
    assert(p.matches("(?s).*hashpartitioning\\(lang.*") ||
      p.matches("(?s).*Exchange hashpartitioning\\(lang.*"),
      s"ntile input not hash-partitioned by lang:\n$p")
  }

  test("semantic dedup pairs join on the cluster key — no cartesian product") {
    val p = plan("q_semantic_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"semantic dedup fell back to an all-pairs join:\n$p")
    assert(p.matches("(?s).*hashpartitioning\\(cluster_id.*") ||
      p.contains("BroadcastHashJoin"),
      s"pair join not keyed by cluster_id:\n$p")
  }

  test("substring overlap joins on the fingerprint key — banded, never all-pairs") {
    val p = plan("q_substring_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fingerprint pairing fell back to an all-pairs join:\n$p")
    // the candidate join must be an EQUI-join keyed by the fingerprint —
    // either shuffled (hashpartitioning on fp) at scale or, at this toy SF
    // where the fp frame fits the auto-broadcast threshold, a broadcast
    // hash join whose keys are the fp column (r12: the leaner dupClasses
    // shape shrank size estimates below 10 MB here, which is correct
    // planning — what stays pinned is that the join is fp-KEYED, the
    // property that makes it banded rather than all-pairs)
    assert(p.matches("(?s).*hashpartitioning\\(fp#.*") ||
      p.matches("(?s).*Left keys \\[1\\]: \\[fp#.*"),
      s"candidate join not keyed by fingerprint:\n$p")
  }

  test("BPE merges explode over the word histogram, not the corpus; top-50 is top-K") {
    val p = plan("q_bpe_merges")
    // top-down tree: pair-count agg, then the explode, then the VOCAB agg
    // below it — proving the per-character Generate consumes the
    // histogram, not raw corpus tokens
    assert(p.matches("(?s).*HashAggregate.*Generate.*HashAggregate.*"),
      s"pair explode not fed by the word histogram:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 planned as a global sort:\n$p")
  }

  test("cluster sampling pre-prunes per salt slice before the per-cluster window") {
    val p = plan("q_cluster_sample")
    // two window stages: the corpus-sized one partitions on the SALTED
    // composite key (bounded reducer sorts), the cluster-keyed one only
    // sees the pre-pruned survivors
    assert(p.matches("(?s).*hashpartitioning\\(cluster_id[^)]*__salt.*"),
      s"pre-prune window not salted:\n$p")
    assert(p.matches("(?s).*Window.*Window.*"),
      s"expected two window stages:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
  }

  test("CBO sees connector row counts + NDV and builds on the dims (3-way join)") {
    // q5 shape: fact ⋈ dimA ⋈ dimB. The connector's estimateStatistics
    // (snapshot-resident rows/bytes) + columnStats (merged HLL NDV) must
    // reach the optimizer so both dimensions end up as BROADCAST BUILD
    // sides and the fact side is never exchanged — the decision that
    // keeps a 100 TB fact scan shuffle-free in star joins.
    SparkEntry.queries("q_lake_roundtrip")(spark, sf) // registers the catalog
    spark.sql("DROP TABLE IF EXISTS graft.verify.cbo_fact")
    spark.sql("DROP TABLE IF EXISTS graft.verify.cbo_dima")
    spark.sql("DROP TABLE IF EXISTS graft.verify.cbo_dimb")
    spark.sql("""CREATE TABLE graft.verify.cbo_fact (a BIGINT, b BIGINT, x BIGINT)
                 USING graft TBLPROPERTIES ('graft.ndv-columns' = 'a,b')""")
    spark.sql("""CREATE TABLE graft.verify.cbo_dima (id BIGINT, la STRING)
                 USING graft TBLPROPERTIES ('graft.ndv-columns' = 'id')""")
    spark.sql("""CREATE TABLE graft.verify.cbo_dimb (id BIGINT, lb STRING)
                 USING graft TBLPROPERTIES ('graft.ndv-columns' = 'id')""")
    spark.sql("""INSERT INTO graft.verify.cbo_fact
                 SELECT id % 3000, id % 50, id FROM range(0, 40000)""")
    spark.sql("""INSERT INTO graft.verify.cbo_dima
                 SELECT id, concat('a', CAST(id AS STRING)) FROM range(0, 3000)""")
    spark.sql("""INSERT INTO graft.verify.cbo_dimb
                 SELECT id, concat('b', CAST(id AS STRING)) FROM range(0, 50)""")

    // connector stats visible to the optimizer: exact row counts, not the
    // 8 EiB default that poisons every CBO estimate
    val factStats = spark.table("graft.verify.cbo_fact")
      .queryExecution.optimizedPlan.stats
    assert(factStats.rowCount.exists(_.toLong == 40000L),
      s"fact rowCount not reported: ${factStats.rowCount}")
    // and per-column NDV from the merged sketches
    val store = new graft.lake.SnapshotStore(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "verify", "cbo_fact"))
    val cs = graft.lake.NdvStats.columnStats(store.head().get)
    val ndvByName = {
      val it = cs.entrySet().iterator()
      val m = scala.collection.mutable.Map.empty[String, Long]
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.distinctCount().isPresent)
          m(e.getKey.fieldNames().mkString(".")) =
            e.getValue.distinctCount().getAsLong
      }
      m.toMap
    }
    assert(ndvByName.get("a").exists(n => math.abs(n - 3000) < 150),
      s"NDV(a) wrong: $ndvByName")
    assert(ndvByName.get("b").exists(n => math.abs(n - 50) < 5),
      s"NDV(b) wrong: $ndvByName")

    val prevCbo = spark.conf.get("spark.sql.cbo.enabled")
    val prevReorder = spark.conf.get("spark.sql.cbo.joinReorder.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try {
      val df = spark.sql(
        """SELECT la, lb, count(*) AS n, sum(x) AS sx
           FROM graft.verify.cbo_fact f
           JOIN graft.verify.cbo_dima da ON f.a = da.id
           JOIN graft.verify.cbo_dimb db ON f.b = db.id
           GROUP BY la, lb""")
      df.collect() // final adaptive plan
      // AQE's toString appends an "== Initial Plan ==" section; inspect
      // only the final plan above it
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val nBhj = "BroadcastHashJoin".r.findAllIn(p).length
      assert(nBhj == 2, s"expected both dims broadcast, got $nBhj BHJ:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"star join degraded to shuffle:\n$p")
      // the fact table is STREAMED: its scan never sits under a broadcast
      // exchange (broadcasting 40k fact rows here = broadcasting 100 TB
      // at scale)
      val broadcastSubtrees = p.split("BroadcastExchange|BroadcastQueryStage")
        .drop(1)
      assert(!broadcastSubtrees.exists(_.contains("cbo_fact")),
        s"fact table broadcast:\n$p")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", prevReorder)
    }
  }

  test("CDC delete join falls back to shuffle past the broadcast cap") {
    // a delete backlog bigger than executor memory must NOT be pinned to
    // a broadcast build: past graft.mor.broadcast-max-bytes the hint is
    // withheld and the planner's shuffled join applies. The cap governs
    // only CDC's "which rows did this commit delete"; reads apply deletes
    // in the reader.
    SparkEntry.queries("q_lake_roundtrip")(spark, sf) // registers the catalog
    spark.sql("DROP TABLE IF EXISTS graft.verify.planq_morcap")
    spark.sql("""CREATE TABLE graft.verify.planq_morcap (id INT, v INT)
                 USING graft
                 TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    spark.sql("INSERT INTO graft.verify.planq_morcap VALUES (1,1),(2,2),(3,3)")
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val store = new graft.lake.SnapshotStore(
      java.nio.file.Paths.get(wh, "verify", "planq_morcap"))
    val before = store.currentVersion().get
    spark.sql("DELETE FROM graft.verify.planq_morcap WHERE id = 1 OR id = 3")
    val head = store.head().get
    assert(head.deleteFiles.nonEmpty)
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(graft.lake.PositionDeletes.BroadcastMaxBytesKey, "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val deleted = graft.lake.Changes.between(spark, store, before, head.version)
      val p = deleted.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(p.contains("LeftSemi"), s"no delete join:\n$p")
      assert(!p.contains("BroadcastHashJoin"),
        s"delete join still broadcast past the cap:\n$p")
      assert(deleted.select("id").collect().map(_.getInt(0)).sorted.toSeq ==
        Seq(1, 3))
      // correctness is unchanged on the shuffle path
      assert(spark.table("graft.verify.planq_morcap").select("id")
        .collect().map(_.getInt(0)).toSeq == Seq(2))
    } finally {
      spark.conf.unset(graft.lake.PositionDeletes.BroadcastMaxBytesKey)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
    }
  }

  test("quality classifier broadcasts the vocab model — corpus unshuffled for scoring") {
    val s = executedPlan("q_quality_classifier")
    assert(s.contains("BroadcastHashJoin [tok"),
      s"vocab model not broadcast into the scoring join:\n$s")
    assert(!s.contains("SortMergeJoin [doc_id"),
      s"the per-doc side was sort-merge joined:\n$s")
  }

  test("epoch shuffle moves the corpus exactly once — one hash exchange on shard") {
    val p = plan("q_epoch_shuffle")
    // formatted mode lists the partitioning under Arguments:, so count the
    // partitioning expressions themselves
    val hashEx = "hashpartitioning\\(".r.findAllIn(p).length
    assert(hashEx == 1, s"expected exactly one hash exchange, got $hashEx:\n$p")
    assert(p.matches("(?s).*hashpartitioning\\(shard.*"),
      s"the one exchange is not the shard shuffle:\n$p")
    assert(!p.contains("Generate"), s"explode crept into the shuffle:\n$p")
  }

  test("bm25 never explodes and never hash-shuffles — top-K over a map-only score") {
    val s = executedPlan("q_bm25_search")
    assert(s.contains("TakeOrderedAndProject"),
      s"bm25 top-20 did not plan as top-K:\n$s")
    assert(!s.contains("Generate"),
      s"per-term tf fell back to explode:\n$s")
    assert(!s.contains("Exchange hashpartitioning"),
      s"bm25 scoring shuffled the corpus:\n$s")
  }

  test("bpe encode joins the corpus to a broadcast encode table keyed by word") {
    val s = executedPlan("q_bpe_encode")
    assert(s.contains("BroadcastHashJoin [tok"),
      s"encode table not broadcast — the corpus would shuffle on tok:\n$s")
    assert(!s.contains("SortMergeJoin"),
      s"encode join shuffled:\n$s")
  }

  test("semantic decontamination aggregates the argmax partial+final — pair frame stays out of the exchange") {
    val s = executedPlan("q_semantic_decontaminate")
    assert(s.contains("BroadcastNestedLoopJoin"),
      s"eval set not broadcast under the corpus:\n$s")
    // struct-valued max buffers plan as SortAggregate, but the partial
    // half must still run BEFORE the exchange — that is what keeps the
    // |corpus|·|eval| pair frame out of the shuffle
    assert(s.contains("partial_max"),
      s"argmax lost map-side partial aggregation:\n$s")
    assert(!s.contains("Window"),
      s"argmax planned as a window over the pair frame:\n$s")
  }

  test("hybrid search: both branches reach the fusion as bounded top-K lists") {
    val s = executedPlan("q_hybrid_search")
    // the sparse and dense candidate generators each cap via TakeOrdered
    // (orderBy+limit) BEFORE their rank windows — the windows only ever
    // see ≤100 rows, so the single-partition sort they imply is bounded
    // by construction, not by corpus size
    assert(s.contains("TakeOrderedAndProject"),
      s"candidate branches did not plan as top-K:\n$s")
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"),
      s"dense query vector not broadcast under the corpus scan:\n$s")
  }

  test("temperature mix never shuffles the corpus — histogram agg + broadcast thresholds") {
    val s = executedPlan("q_temperature_mix")
    assert(s.contains("BroadcastHashJoin [lang"),
      s"per-lang thresholds not broadcast back onto the corpus:\n$s")
    // the only hash exchanges allowed are the |langs|-row aggregations,
    // never a corpus-wide repartition: every exchange must sit above an
    // aggregate, which the partial_count marker pins
    assert(s.contains("partial_count"),
      s"lang histogram lost map-side combine:\n$s")
  }

  test("PMI bigrams: vocab sides broadcast, counts combine map-side, top-50 is top-K") {
    val s = executedPlan("q_pmi_bigrams")
    assert(s.contains("BroadcastHashJoin"),
      s"unigram vocab not broadcast onto the bigram frame:\n$s")
    assert(s.contains("partial_count"),
      s"bigram counting lost map-side combine:\n$s")
    assert(s.contains("TakeOrderedAndProject"),
      s"top-50 planned as a global sort:\n$s")
  }

  test("heavy hitters: the recount aggregates only the candidate-filtered stream") {
    val s = executedPlan("q_heavy_hitters")
    // pass 2 must push the candidate membership below the aggregation —
    // the exchange then carries candidate tokens only, never the vocab
    assert(s.contains("partial_count"),
      s"candidate recount lost map-side combine:\n$s")
    assert(s.matches("(?s).*Filter.*w#\\d+ IN.*"),
      s"candidate filter missing below the recount:\n$s")
  }

  test("weighted sample: map-only key + top-K, never a global sort") {
    val s = executedPlan("q_weighted_sample")
    assert(s.contains("TakeOrderedAndProject"),
      s"top-200 planned as a global sort:\n$s")
    assert(!s.contains("Exchange rangepartitioning"),
      s"weighted sample range-shuffled the corpus:\n$s")
  }

  test("inverted index: one hash aggregate per segment, stats broadcast, no window") {
    val s = executedPlan("q_inverted_index")
    // the whole point of range segmentation: posting lists build without
    // any per-term window (rank-chunking would sort every hot term's
    // postings through one reducer)
    assert(!s.contains("Window"),
      s"inverted index fell back to a rank-chunking window:\n$s")
    assert(s.contains("BroadcastHashJoin"),
      s"per-term stats not broadcast onto the postings frame:\n$s")
  }

  test("bigram LM: model sides broadcast, corpus aggregates map-side") {
    val s = executedPlan("q_bigram_lm")
    assert(s.contains("BroadcastHashJoin"),
      s"LM model not broadcast onto the bigram frame:\n$s")
    assert(s.contains("partial_count"),
      s"bigram counting lost map-side combine:\n$s")
  }

  test("range window: one hash exchange on user_id, no global sort") {
    // AdaptiveSparkPlan.toString prints Final AND Initial sections —
    // count exchanges in the final plan only
    val s = executedPlan("q_window_range").split("== Initial Plan ==")(0)
    assert(s.contains("Window"),
      s"range frame lost its window operator:\n$s")
    // exactly one hash exchange (user_id) before the final presentation
    // sort — the frame itself never re-shuffles
    val hashExchanges = "Exchange hashpartitioning".r
      .findAllIn(s).length
    assert(hashExchanges == 1,
      s"expected 1 hash exchange for the user window, got $hashExchanges:\n$s")
  }

  test("SNM candidates come from a balanced range sort, never a pair join") {
    // the corpus-sized path: a RANGE partition on the full unique sort
    // key (flood-proof — VERDICT r6 #3), read off with mapPartitions;
    // the only joins allowed touch the 6-rows-per-partition boundary
    // strip, so the corpus itself must never be a join input
    val sorted = graft.operators.Dedup
      .snmSorted(spark, Tables.documents(spark, sf))
    val sp = sorted.queryExecution.executedPlan.toString
    assert(sp.toLowerCase.contains("rangepartitioning"),
      s"SNM sort lost its range partitioning (per-block hash skew):\n$sp")
    val p = plan("q_snm_pairs")
    assert(!p.contains("CartesianProduct"), s"SNM degraded to cartesian:\n$p")
    // within-partition pairs stream through mapPartitions (an npart-sized
    // prefix-sum window over the strip offsets is fine; a corpus window
    // keyed by block — the r6 flood-skew shape — is not)
    assert(p.contains("MapPartitions"),
      s"SNM lost its sliding-buffer mapPartitions pass:\n$p")
  }

  test("prefix Jaccard builds prefixes with aggregates, not windows") {
    val p = plan("q_prefix_jaccard")
    // the ONLY window allowed is dupClasses' class-min (min(doc_id) over
    // the __fp partition — the r11 one-exchange exact-dup pre-collapse);
    // prefix SELECTION itself must stay a per-doc aggregate: a rank/sort
    // window there would funnel every hot shingle's rows through one
    // reducer sort (the r6 flood-skew shape this pin exists to prevent)
    val windows = "windowspecdefinition\\(".r.findAllIn(p).length
    val classMin =
      "min\\(doc_id[^\\n]*windowspecdefinition\\(__fp".r.findAllIn(p).length
    assert(windows == classMin,
      s"prefix selection grew a non-class-min window ($windows vs $classMin):\n$p")
    assert(!p.contains("row_number"),
      s"prefix selection uses a rank window:\n$p")
    assert(!p.contains("CartesianProduct"), "prefix join degraded to cartesian")
  }

  test("substring best match: capped equi-join, map-side df combine, no cartesian") {
    val p = plan("q_substring_best_match")
    assert(!p.contains("CartesianProduct"),
      s"capped fp join degraded to cartesian:\n$p")
    // the stop-fingerprint cap is a fingerprint-keyed aggregate — it must
    // partial-combine map-side or the cap itself shuffles every fp row
    assert(p.contains("partial_count"),
      s"df-cap aggregate lost map-side combine:\n$p")
    // per-rep top-1 window partitions by the rep id (bounded by the
    // capped candidate fan-in), never an unpartitioned corpus window
    assert(!p.matches("(?s).*Window \\[.*\\], \\[\\].*"),
      s"best-match window lost its partitioning:\n$p")
  }

  test("dup-ngram fraction: partial+final aggregation, no cartesian") {
    val p = plan("q_dup_ngram_fraction")
    assert(p.matches("(?s).*HashAggregate.*Exchange.*HashAggregate.*"),
      s"df aggregate lost map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("dup-rate report is two hash aggregates — no joins, no windows") {
    val p = plan("q_dup_rate_report")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"dup-rate report should be pure aggregation:\n$p")
    assert(p.matches("(?s).*HashAggregate.*Exchange.*HashAggregate.*"),
      "report lost map-side combine")
  }

  test("zipf fit: one vocab-sized window, no joins") {
    val p = plan("q_zipf_fit")
    assert(!p.contains("Join"), s"zipf fit grew a join:\n$p")
    assert(p.contains("Window"), "zipf fit lost its rank window")
  }
}
