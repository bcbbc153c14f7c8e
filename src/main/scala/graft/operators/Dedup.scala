package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Deduplication operators (SURVEY.md §2.9 N1/N2): exact, MinHash+LSH,
  * SimHash, n-gram Jaccard.
  *
  * Scale design (100 TB):
  *  - Exact dedup is a hash-partitioned groupBy on the dedup key — one
  *    shuffle, map-side partial min() keeps the shuffle small.
  *  - MinHash: signatures are computed per-document with no shuffle
  *    (explode + single groupBy(doc_id) whose partial aggregation collapses
  *    each doc's shingles locally); LSH banding turns the quadratic
  *    all-pairs problem into an equi-join on (band_idx, band_hash) — the
  *    only shuffle is on band keys, and skewed buckets (a common shingle
  *    bucket holding thousands of docs) are handled by AQE skew-join
  *    splitting. Candidate pairs are then verified with an exact Jaccard
  *    join restricted to candidates (semi-join pruning), never all pairs.
  *  - SimHash collapses each document to one 64-bit value per doc — a
  *    near-dup key that groups by Hamming-adjacent prefixes without any
  *    pairwise work.
  *  - All hashing uses Spark's codegen'd xxhash64 with fixed literal seeds,
  *    so results are deterministic across runs and cluster sizes.
  */
object Dedup {

  private val NumHashes = 32 // minhash permutations
  private val NumBands = 8   // → 4 rows per band; P(candidate) = 1-(1-j^4)^8

  /** Word 3-gram shingles of the normalized text, deduplicated per doc.
    * Custom expression (one tight loop per row) — see
    * graft.functions.WordShingles for why not transform/array_distinct. */
  def shingles(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.WordShingles(ColumnBridge.expression(text), 3))
  }

  /** doc_id → exploded distinct shingles. */
  private[operators] def docShingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(shingles(col("text"))).as("shingle"))

  /** Exact dedup on full text: canonical (min) doc_id per distinct text. */
  val qDedupExact: Q = Q(
    "q_dedup_exact",
    """SELECT min(doc_id) AS keep_id, count(*) AS group_size
       FROM documents
       GROUP BY text
       ORDER BY keep_id""") { (s, d) =>
    Tables.documents(s, d)
      .groupBy("text")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("group_size"))
      .select("keep_id", "group_size")
      .orderBy("keep_id")
  }

  /** Exact dedup on a normalized fingerprint (case/whitespace-insensitive):
    * the scalable form — group on a fixed-width hash, not the full text, so
    * the shuffle carries 16 bytes per row instead of the document. */
  val qDedupFingerprint: Q = Q(
    "q_dedup_fingerprint",
    """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
              min(doc_id) AS keep_id, count(*) AS group_size
       FROM documents
       GROUP BY 1
       ORDER BY keep_id""") { (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")
        .cast("binary")).as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("group_size"))
      .orderBy("keep_id")
  }

  /** MinHash signatures: per-document 32-hash signature over word-3-gram
    * shingles, computed in ONE per-row pass by a custom expression — no
    * explode, no aggregation, no shuffle (graft.functions.MinHashSignatures
    * is hash-compatible with the explode + groupBy(min(xxhash64)) plan this
    * replaces, which cost a full shuffle of one partial-agg row per doc and
    * a 32-column hash-agg table). Deterministic. One row per doc with ≥1
    * shingle. */
  def minhashSignatures(docs: DataFrame): DataFrame =
    minhashSignatures(docs, NumHashes)

  /** Parameterized form — the budget-sized oracle twins (VERDICT r9 #3)
    * run the identical pipeline at 4 hashes / 2 bands, where the DuckDB
    * XxhashSqlTwin's hash volume fits the gate budget. */
  private[graft] def minhashSignatures(docs: DataFrame,
      numHashes: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sig = ColumnBridge.column(graft.functions.MinHashSignatures(
      ColumnBridge.expression(col("text")), 3, numHashes))
    // numHashes×(shingle count) hash lanes per row — the most kernel-
    // dominant pass in the repo: spread a collapsed input (single-row-
    // group file, post-AQE-coalesced 1-partition frame) across the
    // executor's cores first (no-op at scale — Tables.spread)
    Tables.spread(docs).select(col("doc_id"), sig.as("__sig"))
      .where(col("__sig").isNotNull)
      .select(col("doc_id") +: (0 until numHashes).map(i =>
        element_at(col("__sig"), i + 1).as(s"mh_$i")): _*)
  }

  /** LSH band rows of a signature frame: (doc_id, band_idx, band_hash),
    * NumBands rows per signed document. The per-band hash folds the
    * band's 4 signature components through xxhash64, so a band row is 20
    * bytes — the unit both the pair join below and the lake-resident
    * incremental-ingest index (Ingest.ingestBatchNearDup) operate on. */
  private[graft] def minhashBands(sigs: DataFrame): DataFrame =
    minhashBands(sigs, NumHashes, NumBands)

  private[graft] def minhashBands(sigs: DataFrame, numHashes: Int,
      numBands: Int): DataFrame = {
    val rowsPerBand = numHashes / numBands
    val bandStructs = (0 until numBands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      struct(lit(b).as("band_idx"), xxhash64(cols: _*).as("band_hash"))
    }
    sigs.select(col("doc_id"),
      explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_hash"))
  }

  /** LSH candidate pairs: band the signature, join docs sharing any band. */
  def lshCandidates(sigs: DataFrame): DataFrame =
    lshCandidates(sigs, NumHashes, NumBands)

  private[graft] def lshCandidates(sigs: DataFrame, numHashes: Int,
      numBands: Int): DataFrame = {
    val banded = minhashBands(sigs, numHashes, numBands)
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** Exact Jaccard for a set of candidate pairs. ONE pass over the corpus:
    * sorted 64-bit shingle-HASH arrays (distinct by construction) are
    * computed per row, pruned to candidate docs with a broadcast
    * semi-join, and each pair's intersection is one codegen'd two-pointer
    * merge — no shingle self-join, no full-corpus sizes aggregation, and
    * (r8) no per-row string-set build: the r7 sf10 probe showed
    * string-array `array_intersect` saturating all cores, which the
    * long-merge form removes here exactly as it did in the prefix
    * builder. Collision odds ~1e-15/pair (WordShingleHashes scaladoc);
    * the verified consumers are recall/spec-pinned, not value-hashed.
    * Pairs whose shingle sets don't intersect come back with jaccard 0
    * rather than being absent, which is the more useful contract for a
    * verification stage. At scale the candidate set is ≪ corpus, so the
    * joins after the semi-join are AQE-broadcast-sized by construction. */
  def exactJaccard(docs: DataFrame, pairs: DataFrame): DataFrame =
    exactJaccard(docs, pairs, hintBroadcast = false)

  /** Plan-time estimate cap for the GUARDED broadcast below. Catalyst's
    * size-only estimator propagates the LEFT side's size through a
    * LeftSemi join, so the candidate-array frame's estimate tracks the
    * corpus scan (≈ rows × ~16 B for the pruned (id, array) projection),
    * NOT the candidate count — a deliberately conservative proxy: it
    * grows linearly with the corpus, so at 100 TB the hint is withheld
    * no matter how selective the semi-join looks, and AQE (which sees
    * the MEASURED post-shuffle size) makes the call. The default trips
    * around a few-million-document corpus (~50× real-bytes headroom to
    * the 8 GB broadcast hard cap, since real shingle arrays run ~50× the
    * estimator's defaultSize guess). */
  private[graft] val JaccardBroadcastMaxBytesKey =
    "graft.dedup.jaccard-broadcast-max-bytes"
  private val JaccardBroadcastMaxBytesDefault = 64L << 20

  /** `hintBroadcast` (r12, VERDICT r11 #2): the r11 form force-broadcast
    * BOTH candidate-array sides unconditionally, which bypasses AQE's
    * size check — on a corpus-scale caller a near-dup-heavy batch can
    * inflate the LSH candidate set past the 8 GB broadcast hard cap and
    * turn a would-be-slow shuffle join into a driver/executor OOM.
    * `hintBroadcast = true` keeps the unconditional hint for callers
    * with a STRUCTURAL candidate bound (the ingest pipelines:
    * candidates ≤ batch × band collisions, a pinned per-batch gate).
    * Corpus-scale callers (the minhash dedup family, the recall probes)
    * get the ESTIMATE-GATED hint: broadcast only while the plan-time
    * size estimate stays under [[JaccardBroadcastMaxBytesKey]] —
    * measured worth ~0.6 s/query at sf0.1 over letting AQE
    * plan-then-convert — and above the gate fall back to the planner's
    * skew-splittable shuffle join (ExactJaccardPlanSpec pins both
    * shapes and row-identity). */
  private[graft] def exactJaccard(docs: DataFrame, pairs: DataFrame,
      hintBroadcast: Boolean): DataFrame = {
    val arr = docs.select(col("doc_id"), shingleHashes(col("text")).as("sh"))
    val candDocs = pairs.select(col("id_a").as("doc_id"))
      .union(pairs.select(col("id_b").as("doc_id"))).distinct()
    val candArr = arr.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
    val hintOk = hintBroadcast || {
      val cap = docs.sparkSession.conf.getOption(JaccardBroadcastMaxBytesKey)
        .map(graft.lake.GraftWriter.longSetting(JaccardBroadcastMaxBytesKey, _))
        .getOrElse(JaccardBroadcastMaxBytesDefault)
      candArr.queryExecution.optimizedPlan.stats.sizeInBytes <= cap
    }
    val hint: DataFrame => DataFrame =
      if (hintOk) broadcast(_) else identity
    val a = hint(candArr.select(col("doc_id").as("id_a"), col("sh").as("sh_a")))
    val b = hint(candArr.select(col("doc_id").as("id_b"), col("sh").as("sh_b")))
    pairs.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("inter", sortedIntersectSize(col("sh_a"), col("sh_b")))
      .select(col("id_a"), col("id_b"),
        ExactSum.intRatio(col("inter"),
          size(col("sh_a")) + size(col("sh_b")) - col("inter"), 4)
          .as("jaccard"))
  }

  /** MinHash signature dump — ORACLE-PROMOTED (r9, VERDICT r8 #5): the
    * twin reproduces Spark's XxHash64 bit-for-bit in pure HUGEINT SQL
    * (split-multiply mod 2^64, half-word xors, list_reduce lane/tail
    * folds — [[XxhashSqlTwin]]), so the driver hash-compares every
    * signature minimum across engines. First 4 of the 32 components per
    * doc as the verification surface; ScalaTest checks the LSH recall
    * property and DedupSpec the explode-formulation equivalence. The
    * full-pipeline q_minhash_dedup stays no-oracle on gate BUDGET (32
    * seeds ≈ 8× this twin's hash volume — analysis in COVERAGE.md);
    * [[qMinhashDedupSmall]] oracles the identical pipeline end-to-end at
    * 4 seeds / 2 bands, where the volume fits. */
  val qMinhashSignatures: Q = Q(
    "q_minhash_signatures",
    XxhashSqlTwin.minhashSignaturesOracle) { (s, d) =>
    minhashSignatures(Tables.documents(s, d))
      .select(col("doc_id"), col("mh_0"), col("mh_1"), col("mh_2"), col("mh_3"))
      .orderBy("doc_id")
  }

  /** Full MinHash+LSH near-dup pipeline: signatures → banded candidates →
    * exact-Jaccard verification ≥ 0.5. Exactly TWO passes over the corpus:
    * one shuffle-free signature pass (MinHashSignatures expression) and one
    * shingle-array pass pruned to LSH candidates; round 1's formulation made
    * 4-5 explode-the-corpus passes and benched ~4× slower. The text is
    * deliberately re-scanned rather than persisted: an A/B measurement
    * (sf0.1, local[32]) put the cached variant at 1.5-2× SLOWER — caching
    * materializes an InMemoryRelation and breaks codegen fusion. At 100 TB
    * the trade-off flips once the source scan dominates; that's a persist()
    * at the call site, not a code change. */
  val qMinhashDedup: Q = Q.noOracle("q_minhash_dedup") { (s, d) =>
    val docs = Tables.documents(s, d)
    // exact-duplicate pre-collapse (like ngramJaccardPairs): identical
    // texts have identical signatures, share every band, and always
    // verify at J = 1.0 — reconstructing those pairs by join is exact and
    // avoids quadratic candidate blowup on a duplicate-heavy corpus
    val members = dupClasses(docs)
    val repDocs = repDocsOf(docs, members)
    val sigs = minhashSignatures(repDocs)
    val repVerified = exactJaccard(repDocs, lshCandidates(sigs))
      .filter(col("jaccard") >= 0.5)
    val verified = expandDupPairs(members, repVerified,
      // identical SHINGLE-LESS texts never sign → never candidates
      intraReps = sigs.select("doc_id"),
      valueCol = "jaccard", intraValue = lit(1.0))
    // Summary row keeps the result non-empty on corpora with no near-dups.
    verified.select(col("id_a"), col("id_b"), col("jaccard"))
      .unionAll(verified.agg(count(lit(1)).as("cnt")).select(
        lit(-1L).as("id_a"), lit(-1L).as("id_b"),
        col("cnt").cast("double").as("jaccard")))
      .orderBy("id_a", "id_b")
  }

  /** The BUDGET-SIZED end-to-end MinHash+LSH dedup twin (VERDICT r9 #3):
    * the identical production pipeline shape — exact-dup pre-collapse →
    * signatures → banded candidates → exact-Jaccard verify at the rounded
    * ≥ 0.5 threshold → connected-component collapse to group ids — at
    * 4 seeds / 2 bands, where the XxhashSqlTwin's DuckDB hash volume fits
    * the gate budget (the 32-seed q_minhash_dedup stays no-oracle on that
    * budget, with this query as its oracled structural witness: every
    * stage runs the same code path with only the seed/band counts
    * swapped). Output is q_dedup_groups' shape (doc_id, group_id = min
    * reachable doc id); members of a signed class inherit their rep's
    * component (rep = class min, so the component-min rep IS the min
    * reachable member), unsigned classes stay singletons — exactly the
    * oracle's doc-level graph, which connects identical copies at J = 1
    * through their shared bands. */
  val qMinhashDedupSmall: Q = Q(
    "q_minhash_dedup_small",
    XxhashSqlTwin.minhashDedupSmallOracle) { (s, d) =>
    val docs = Tables.documents(s, d)
    val members = dupClasses(docs)
    val repDocs = repDocsOf(docs, members)
    val sigs = minhashSignatures(repDocs, 4)
    val verified = exactJaccard(repDocs, lshCandidates(sigs, 4, 2))
      .filter(col("jaccard") >= 0.5)
    val edges = verified.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(verified.select(col("id_b").as("src"), col("id_a").as("dst")))
    val repComps = Pipeline.connectedComponents(s,
      sigs.select(col("doc_id").as("id")), edges)
    docs.select("doc_id")
      .join(members.select(col("doc_id"), col("__rep")), "doc_id")
      .join(repComps.select(col("id").as("__rep"), col("comp").as("__comp")),
        Seq("__rep"), "left")
      .select(col("doc_id"),
        coalesce(col("__comp"), col("doc_id")).as("group_id"))
      .orderBy("doc_id")
  }

  /** DuckDB CTEs computing each document's SimHash64 exactly (ORACLE
    * promotion, r8): the kernel is FNV-1a per whitespace token + signed
    * bit votes — all INTEGER math, so a SQL twin is exact, not
    * approximate. FNV-1a's sequential `h = (h XOR c) · p mod 2^64` runs
    * as a `list_reduce` over each DISTINCT token's code units (the
    * mutation classes of the adversarial corpus delete/swap/duplicate
    * tokens, so the vocabulary stays tiny and per-token hashing is
    * amortized); votes are 64 sum columns over (doc, token-hash) rows in
    * one aggregate — pure BIGINT shifts, no HUGEINT in the hot path
    * (measured 10× faster than the per-bit-unnest form). NULL-text docs
    * carry a NULL simhash on both engines. Parity caveats, same class as
    * every text oracle here: the kernel hashes UTF-16 code units and
    * trimAll()s all whitespace where the twin uses codepoints and
    * space-trim — identical on the ASCII fixtures, as q_text_stats'
    * established trim/trimAll pairing. */
  private[operators] def simhashSql: String = {
    val votes = (0 until 63).map(b =>
      s"sum(((hs >> $b) & 1) * 2 - 1) AS v$b").mkString(",\n                ") +
      ",\n                sum(CASE WHEN hs < 0 THEN 1 ELSE -1 END) AS v63"
    val simsum = (0 until 63).map(b =>
      s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ") +
      " + (CASE WHEN v63 > 0 THEN -9223372036854775808 ELSE 0 END)"
    s"""toks AS (
         SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
         FROM documents WHERE text IS NOT NULL),
       vocab AS (
         SELECT tok,
                list_reduce(
                  list_prepend(14695981039346656037::HUGEINT,
                    list_transform(range(1, length(tok) + 1),
                                   i -> unicode(substr(tok, i, 1))::HUGEINT)),
                  (h, c) -> ((xor((h % 65536)::BIGINT, c::BIGINT)::HUGEINT
                              + h - (h % 65536)) * 1099511628211::HUGEINT)
                            % 18446744073709551616::HUGEINT) AS hu
         FROM (SELECT DISTINCT tok FROM toks)),
       th AS (
         SELECT doc_id,
                CASE WHEN hu >= 9223372036854775808::HUGEINT
                     THEN (hu - 18446744073709551616::HUGEINT)::BIGINT
                     ELSE hu::BIGINT END AS hs
         FROM toks JOIN vocab USING (tok)),
       votes AS (
         SELECT doc_id,
                $votes
         FROM th GROUP BY doc_id),
       sims AS (
         SELECT doc_id, $simsum AS simhash FROM votes
         UNION ALL
         SELECT doc_id, NULL AS simhash FROM documents WHERE text IS NULL)"""
  }

  /** SimHash: 64-bit per-document near-dup signature, computed per row by
    * a custom expression — no explode, no shuffle, embarrassingly parallel
    * (see graft.functions.SimHash64). ORACLE-PROMOTED (r8): FNV-1a + bit
    * votes are pure integer arithmetic, reproduced exactly in DuckDB by
    * [[simhashSql]] — the signature bytes themselves hash-compare
    * cross-engine. */
  val qSimhash: Q = Q(
    "q_simhash",
    s"""WITH ${simhashSql}
       SELECT doc_id, simhash FROM sims ORDER BY doc_id""") { (s, d) =>
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sim = ColumnBridge.column(
      graft.functions.SimHash64(ColumnBridge.expression(col("text"))))
    Tables.documents(s, d)
      .select(col("doc_id"), sim.as("simhash"))
      .orderBy("doc_id")
  }

  /** SimHash near-dup PAIRS: documents within Hamming distance ≤ 3 of each
    * other's 64-bit signature. Pigeonhole banding makes it an equi-join:
    * split the signature into 4 × 16-bit bands — any two signatures within
    * Hamming 3 agree EXACTLY on at least one band — so candidates are
    * pairs sharing (band_idx, band_value), verified with
    * bit_count(a XOR b). One shuffle on the band key, no all-pairs work;
    * the same structure Google's simhash dedup uses at web scale.
    *
    * ORACLE-PROMOTED (r8): the DuckDB twin computes every signature via
    * [[simhashSql]], bands NAIVELY (no pre-collapse) and verifies with
    * bit_count — so the driver's hash compare doubles as a standing proof
    * that the exact-duplicate pre-collapse + expansion is row-identical
    * to the naive all-member computation (identical normalized texts have
    * identical token sequences, hence identical signatures and bands). */
  val qSimhashPairs: Q = Q(
    "q_simhash_pairs",
    s"""WITH ${simhashSql},
       bands AS (
         SELECT doc_id, simhash,
                b.b AS band_idx, (simhash >> (b.b * 16)) & 65535 AS band_val
         FROM sims, (VALUES (0), (1), (2), (3)) b(b)
         WHERE simhash IS NOT NULL),
       cand AS (
         SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                x.simhash AS sa, y.simhash AS sb
         FROM bands x JOIN bands y
           ON x.band_idx = y.band_idx AND x.band_val = y.band_val
          AND x.doc_id < y.doc_id),
       pairs AS (
         SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
         FROM cand WHERE bit_count(xor(sa, sb)) <= 3)
       SELECT id_a, id_b, hamming FROM pairs
       UNION ALL
       SELECT -1, -1, CAST(count(*) AS INTEGER) FROM pairs
       ORDER BY id_a, id_b""") { (s, d) =>
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sim = ColumnBridge.column(
      graft.functions.SimHash64(ColumnBridge.expression(col("text"))))
    // exact-duplicate pre-collapse: identical texts share the signature,
    // so they always band together at Hamming 0 — reconstruct those
    // pairs by join instead of flooding every band bucket with copies
    val docs = Tables.documents(s, d)
    val members = dupClasses(docs)
    val sigs = repDocsOf(docs, members).select(col("doc_id"), sim.as("sh"))
    val banded = sigs.select(col("doc_id"), col("sh"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sh"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band_idx", "band_val")))
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= 3)
      .select(col("id_a"), col("id_b"), col("hamming"))
    // every doc has a signature → every duplicate class intra-pairs at 0
    val expanded = expandDupPairs(members, pairs,
      intraReps = sigs.select("doc_id"),
      valueCol = "hamming", intraValue = lit(0))
    // summary row keeps the result non-empty on dup-free corpora
    expanded
      .unionAll(expanded.agg(count(lit(1)).as("cnt")).select(
        lit(-1L).as("id_a"), lit(-1L).as("id_b"), col("cnt").cast("int").as("hamming")))
      .orderBy("id_a", "id_b")
  }

  /** Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle —
    * the oracle-checkable exact counterpart of the MinHash path. The
    * shingle equi-join prunes the pair space to co-occurring docs only.
    *
    * Scale design (100 TB): candidates come from the 64-bit-hash shingle
    * co-occurrence join (8-byte keys, the co-occurrence condition IS the
    * t = 1/20 semantics — prefix filtering prunes ≤5% at a threshold this
    * low), and because each join row is one SHARED distinct hash of a
    * pair, verification fuses into the candidate aggregate itself: the
    * per-pair count is the exact intersection, one map-side-combined
    * shuffle, no second pass over shingle sets and no array payloads
    * (see [[coOccurRepJaccardPairs]]; the r7-retired shape paid ~30-byte
    * STRING keys through this same volume, and the shape that never
    * finished one sf10 pass at t = 1/2 additionally lacked the prefix
    * filter that threshold affords — VERDICT r7 #2).
    * DECLARED OUTPUT-BOUND, like q_substring_overlap: a J ≥ 0.05 pair
    * LISTING is inherently quadratic in per-class duplication (every
    * member pair of a duplicate class is an output row), so wall time at
    * adversarial replica counts tracks the output set, not a plan defect.
    * Production pipelines consume the t = 1/2 prefix-filtered builder
    * (Pipeline.dedupGroupsFrame) or the MinHash/LSH candidate family;
    * this listing is the exact reporting/ground-truth form. */
  val qNgramJaccard: Q = Q(
    "q_ngram_jaccard",
    """WITH sh AS (
         SELECT DISTINCT doc_id, shingle FROM (
           SELECT doc_id,
                  unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
           FROM (SELECT doc_id,
                        regexp_split_to_array(trim(lower(text)), '\s+') AS toks
                 FROM documents))),
       sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS i
                 FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                 GROUP BY 1, 2)
       SELECT id_a, id_b,
              CAST((20000 * i + (sa.n + sb.n - i)) // (2 * (sa.n + sb.n - i))
                   AS DOUBLE) / 10000 AS jaccard
       FROM inter
       JOIN sizes sa ON sa.doc_id = id_a
       JOIN sizes sb ON sb.doc_id = id_b
       WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.05
       ORDER BY id_a, id_b""") { (s, d) =>
    ngramJaccardPairs(Tables.documents(s, d), 1, 20)
      .orderBy("id_a", "id_b")
  }

  /** Winnowing fingerprint set of the text — the q_winnow_fingerprint
    * kernel (k=8-char grams over the normalized text, window 16). */
  private[operators] def winnowFps(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.WinnowFingerprints(
      ColumnBridge.expression(text), 8, 16))
  }

  /** Substring-overlap pairs under exact-duplicate pre-collapse — the
    * engine behind q_substring_overlap, factored out so DupCollapseSpec
    * can check it against the naive all-member fingerprint join. */
  private[operators] def substringOverlapPairs(docs: DataFrame): DataFrame = {
    val members = dupClasses(docs)
    val repDocs = repDocsOf(docs, members)
    val fpsDf = repDocs.select(col("doc_id"), winnowFps(col("text")).as("fps"))
    val sh = fpsDf.select(col("doc_id"), explode(col("fps")).as("fp"))
    val repPairs = sh.as("x")
      .join(sh.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared_fps"))
      .filter(col("n_shared_fps") >= 2)
    // intra-class pairs share their WHOLE fingerprint set (fingerprints
    // are a pure function of the text), so the pair value is the rep's
    // set size; classes under the 2-fingerprint floor are excluded
    // exactly like the naive join's HAVING
    val intraReps = fpsDf
      .select(col("doc_id"), size(col("fps")).cast("long").as("__nfps"))
      .filter(col("__nfps") >= 2)
    expandDupPairs(members, repPairs, intraReps,
      valueCol = "n_shared_fps", intraValue = col("__nfps"))
  }

  /** Exact substring-overlap near-dup pairs: documents sharing ≥ 2 winnow
    * fingerprints, each of which certifies a shared ≥ 23-char run of
    * normalized text (k=8 grams winnowed over 16-gram windows — the
    * q_winnow_fingerprint kernel). This is the substring-level dedup pass
    * of a training pipeline (Lee et al. 2022 style): boilerplate
    * templates and quoted passages pair here even when word-level Jaccard
    * stays low, and the guarantee is exact, not probabilistic.
    *
    * Scale design: fingerprints are one per-row codegen pass (no
    * shuffle); candidates come from an equi-join on the fingerprint key —
    * a banded join exactly like the shingle and LSH paths, never
    * all-pairs; and the exact-duplicate pre-collapse runs the join on one
    * representative per distinct text, reconstructing member pairs by
    * join (the same O(distinct work + output) guard the sf1 probe forced
    * on the shingle join).
    *
    * The cost IS the output: member-PAIR listing is inherently quadratic
    * in the duplication factor (d copies of a text → C(d,2) intra-class
    * pairs), so the 100×-verbatim sf10 probe — d=100 — measured 1215 s,
    * ~all of it materializing + ordering the ~25M expanded pairs while
    * the distinct-text work stayed constant. That is the contract, not a
    * plan defect: at corpus scale the production form of this analysis is
    * the CLASS-level one — q_dedup_groups / q_group_split consume the
    * same candidate graph and stay linear — and pair listing is a
    * bounded-scope reporting query. */
  val qSubstringOverlap: Q = Q(
    "q_substring_overlap",
    """WITH norm AS (
         SELECT doc_id, regexp_replace(lower(text), '[^\p{L}\p{Nd}]', '', 'g') AS s
         FROM documents),
       chars AS (
         SELECT doc_id, u.i AS pos, unicode(substr(s, u.i, 1))::HUGEINT AS cp
         FROM norm, unnest(range(1, length(s) + 1)) AS u(i)),
       pw AS (
         SELECT * FROM (VALUES
           (0, 12924618581234127435::HUGEINT),
           (1, 10923514805226455897::HUGEINT),
           (2, 14453212906556403763::HUGEINT),
           (3, 14003818205314896721::HUGEINT),
           (4, 1000009000027000027::HUGEINT),
           (5, 1000006000009::HUGEINT),
           (6, 1000003::HUGEINT),
           (7, 1::HUGEINT)) AS v(j, p)),
       grams AS (
         SELECT doc_id, start,
                CASE WHEN h >= 9223372036854775808::HUGEINT
                     THEN (h - 18446744073709551616::HUGEINT)::BIGINT
                     ELSE h::BIGINT END AS hs
         FROM (
           SELECT c.doc_id, c.pos - pw.j AS start,
                  (sum(c.cp * pw.p) % 18446744073709551616::HUGEINT) AS h
           FROM chars c JOIN pw ON c.pos - pw.j >= 1
           GROUP BY 1, 2 HAVING count(*) = 8)),
       wins AS (
         SELECT doc_id, (start - 1) // 16 AS widx, min(hs) AS mh
         FROM grams GROUP BY 1, 2),
       fps AS (
         SELECT DISTINCT doc_id, mh AS fp FROM wins)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared_fps
       FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
       GROUP BY 1, 2
       HAVING count(*) >= 2
       ORDER BY id_a, id_b""") { (s, d) =>
    substringOverlapPairs(Tables.documents(s, d)).orderBy("id_a", "id_b")
  }

  /** Positioned winnow fingerprints (fp, 1-based gram start) — the
    * q_retained_spans kernel (k=8-char grams, window 16). */
  private[operators] def winnowSpans(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.WinnowFingerprintSpans(
      ColumnBridge.expression(text), 8, 16))
  }

  /** Paragraph/substring-level exact dedup, Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better") granularity: per-doc
    * RETAINED SPANS of the normalized text after dropping runs that an
    * earlier document (min doc_id — "first occurrence wins") already
    * contains. Fingerprint-certified approximation of the suffix-array
    * form: each winnow fingerprint (k=8 chars, window 16) present in a
    * smaller-id document marks its whole WINDOW's coverage
    * [16·widx+1, 16·widx+window+k−1] for removal — the extent whose
    * minimum-hash gram is certified shared. Adjacent dropped windows
    * overlap (16·w+17 ≤ 16·w+23), so a long duplicated run merges into
    * ONE dropped span and an exact copy of an earlier document retains
    * NOTHING (spec-pinned), while a window whose pick is unshared —
    * evidence of novel content — breaks the run. Conservative toward
    * dropping by ≤ window+k−2 chars at run boundaries (the uncertified
    * remainder of a boundary window), the direction substring dedup
    * wants. Positions are
    * 1-based offsets into the winnow-normalized string (lowercased,
    * non-alphanumerics stripped), the coordinate system both engines
    * share. Documents whose normalized text is empty emit nothing; docs
    * with no dropped runs retain one full span.
    *
    * Scale design (100 TB): fingerprint+position extraction is one
    * per-row kernel pass; ownership is one hash aggregate over (fp) with
    * map-side partials and the drop-join is fp-keyed (never all-pairs);
    * interval merge + complement are windows PARTITIONED BY doc_id —
    * doc-bounded, no global sort except the declared output ORDER BY.
    * Unlike the pair listings, output is ≤ drops+1 spans per doc — LINEAR
    * in the corpus even under adversarial duplication (every copy of a
    * duplicated class past the first collapses to zero retained spans,
    * not to quadratic pairs). */
  val qRetainedSpans: Q = Q(
    "q_retained_spans",
    """WITH norm AS (
         SELECT doc_id, regexp_replace(lower(text), '[^\p{L}\p{Nd}]', '', 'g') AS s
         FROM documents),
       chars AS (
         SELECT doc_id, u.i AS pos, unicode(substr(s, u.i, 1))::HUGEINT AS cp
         FROM norm, unnest(range(1, length(s) + 1)) AS u(i)),
       pw AS (
         SELECT * FROM (VALUES
           (0, 12924618581234127435::HUGEINT),
           (1, 10923514805226455897::HUGEINT),
           (2, 14453212906556403763::HUGEINT),
           (3, 14003818205314896721::HUGEINT),
           (4, 1000009000027000027::HUGEINT),
           (5, 1000006000009::HUGEINT),
           (6, 1000003::HUGEINT),
           (7, 1::HUGEINT)) AS v(j, p)),
       grams AS (
         SELECT doc_id, start,
                CASE WHEN h >= 9223372036854775808::HUGEINT
                     THEN (h - 18446744073709551616::HUGEINT)::BIGINT
                     ELSE h::BIGINT END AS hs
         FROM (
           SELECT c.doc_id, c.pos - pw.j AS start,
                  (sum(c.cp * pw.p) % 18446744073709551616::HUGEINT) AS h
           FROM chars c JOIN pw ON c.pos - pw.j >= 1
           GROUP BY 1, 2 HAVING count(*) = 8)),
       wins AS (
         SELECT doc_id, (start - 1) // 16 AS widx, min(hs) AS mh
         FROM grams GROUP BY 1, 2),
       wpos AS (
         SELECT g.doc_id, w.widx, w.mh AS fp, max(g.start) AS s
         FROM wins w JOIN grams g
           ON g.doc_id = w.doc_id AND (g.start - 1) // 16 = w.widx
          AND g.hs = w.mh
         GROUP BY 1, 2, 3),
       own AS (SELECT fp, min(doc_id) AS own FROM wpos GROUP BY 1),
       lens AS (SELECT doc_id, length(s) AS len FROM norm WHERE length(s) >= 1),
       dropped AS (
         SELECT p.doc_id, p.widx * 16 + 1 AS s,
                least(p.widx * 16 + 23, l.len) AS e
         FROM wpos p
         JOIN own o ON p.fp = o.fp
         JOIN lens l ON l.doc_id = p.doc_id
         WHERE p.doc_id > o.own),
       m AS (
         SELECT doc_id, s, e,
                max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS pmax
         FROM dropped),
       isl AS (
         SELECT doc_id, s, e,
                sum(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY s, e) AS gid
         FROM m),
       merged AS (SELECT doc_id, gid, min(s) AS ds, max(e) AS de
                  FROM isl GROUP BY 1, 2),
       mids AS (
         SELECT doc_id,
                coalesce(lag(de) OVER (PARTITION BY doc_id ORDER BY ds) + 1, 1)
                  AS rs,
                ds - 1 AS re
         FROM merged),
       tails AS (
         SELECT m.doc_id, max(m.de) + 1 AS rs, l.len AS re
         FROM merged m JOIN lens l ON m.doc_id = l.doc_id
         GROUP BY m.doc_id, l.len),
       whole AS (
         SELECT l.doc_id, 1 AS rs, l.len AS re FROM lens l
         WHERE l.doc_id NOT IN (SELECT doc_id FROM merged))
       SELECT doc_id, CAST(rs AS BIGINT) AS span_start,
              CAST(re AS BIGINT) AS span_end
       FROM (SELECT * FROM mids UNION ALL SELECT * FROM tails
             UNION ALL SELECT * FROM whole)
       WHERE rs <= re
       ORDER BY doc_id, span_start""") { (s, d) =>
    retainedSpans(Tables.documents(s, d)).orderBy("doc_id", "span_start")
  }

  /** Engine behind q_retained_spans, factored out so RetainedSpansSpec can
    * pin the witness laws on crafted corpora. */
  private[operators] def retainedSpans(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norm = regexp_replace(lower(col("text")), "[^\\p{L}\\p{Nd}]", "")
    val base = docs
      .select(col("doc_id"), length(norm).as("len"),
        winnowSpans(col("text")).as("sp"))
      .filter(col("len") >= 1)
    // the pick at gram start s was selected FROM window (s-1) div 16
    // (strided windows, pick ∈ window), so the window index needs no
    // extra kernel output
    val occ = base.select(col("doc_id"), col("len"),
      explode(col("sp")).as("o"))
      .select(col("doc_id"), col("len"), col("o.fp").as("fp"),
        floor((col("o.start") - 1) / lit(16)).cast("int").as("widx"))
    val owner = occ.groupBy("fp").agg(min("doc_id").as("own"))
    val dropped = occ.join(owner, "fp").filter(col("doc_id") > col("own"))
      .select(col("doc_id"), (col("widx") * 16 + 1).as("s"),
        least(col("widx") * 16 + 23, col("len")).as("e"))
    val wOrd = Window.partitionBy("doc_id").orderBy("s", "e")
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val merged = dropped
      .withColumn("pmax", max("e").over(wPrev))
      .withColumn("gid", sum(
        when(col("pmax").isNull || col("s") > col("pmax") + 1, 1L)
          .otherwise(0L)).over(wOrd))
      .groupBy("doc_id", "gid")
      .agg(min("s").as("ds"), max("e").as("de"))
    val lens = base.select("doc_id", "len")
    val wDs = Window.partitionBy("doc_id").orderBy("ds")
    val mids = merged
      .select(col("doc_id"),
        coalesce(lag("de", 1).over(wDs) + 1, lit(1)).as("rs"),
        (col("ds") - 1).as("re"))
    val tails = merged.groupBy("doc_id").agg(max("de").as("mx"))
      .join(lens, "doc_id")
      .select(col("doc_id"), (col("mx") + 1).as("rs"), col("len").as("re"))
    val whole = lens
      .join(merged.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(1).as("rs"), col("len").as("re"))
    mids.unionAll(tails).unionAll(whole)
      .filter(col("rs") <= col("re"))
      .select(col("doc_id"), col("rs").cast("long").as("span_start"),
        col("re").cast("long").as("span_end"))
  }

  /** Substring-overlap BEST MATCH — the scale-safe production twin of the
    * (declared output-quadratic) q_substring_overlap pair listing. Two
    * bounds make it linear where the listing is not:
    *
    *  1. STOP-FINGERPRINT cap: fingerprints carried by more than 64
    *     distinct texts are boilerplate mass (navigation chrome, license
    *     headers) and are dropped before the candidate join — the same
    *     rarity argument as PPJoin's stop-shingle prefix. Candidate rows
    *     are then Σ_fp df² ≤ 64·Σ_fp df = O(64 · total fingerprints),
    *     linear in the corpus no matter how duplicated it is.
    *  2. Per-document ARGMAX output — (doc, best neighbor, shared count),
    *     one row per doc — instead of the C(d,2) member-pair listing.
    *
    * Ties break on the smaller neighbor id. Exact-duplicate pre-collapse
    * still applies: the capped join runs on one representative per
    * distinct text, and each member's best is the max (by shared count,
    * then min id) of its class SIBLING (which shares the whole
    * fingerprint set) and its representative's best cross-class match —
    * equal, row for row, to the naive all-member computation the DuckDB
    * oracle performs, which is what the oracle gate checks.
    *
    * Scale design (100 TB): one codegen fingerprint pass, one fp-count
    * aggregate (fingerprint-keyed, map-side combined), one capped
    * equi-join, one per-doc top-1 (TakeOrdered shape via min-struct
    * aggregation, no global sort). The quadratic listing stays available
    * as the reporting query; pipelines compose THIS one. */
  val qSubstringBestMatch: Q = Q(
    "q_substring_best_match",
    """WITH norm AS (
         SELECT doc_id, regexp_replace(lower(text), '[^\p{L}\p{Nd}]', '', 'g') AS s
         FROM documents),
       chars AS (
         SELECT doc_id, u.i AS pos, unicode(substr(s, u.i, 1))::HUGEINT AS cp
         FROM norm, unnest(range(1, length(s) + 1)) AS u(i)),
       pw AS (
         SELECT * FROM (VALUES
           (0, 12924618581234127435::HUGEINT),
           (1, 10923514805226455897::HUGEINT),
           (2, 14453212906556403763::HUGEINT),
           (3, 14003818205314896721::HUGEINT),
           (4, 1000009000027000027::HUGEINT),
           (5, 1000006000009::HUGEINT),
           (6, 1000003::HUGEINT),
           (7, 1::HUGEINT)) AS v(j, p)),
       grams AS (
         SELECT doc_id, start,
                CASE WHEN h >= 9223372036854775808::HUGEINT
                     THEN (h - 18446744073709551616::HUGEINT)::BIGINT
                     ELSE h::BIGINT END AS hs
         FROM (
           SELECT c.doc_id, c.pos - pw.j AS start,
                  (sum(c.cp * pw.p) % 18446744073709551616::HUGEINT) AS h
           FROM chars c JOIN pw ON c.pos - pw.j >= 1
           GROUP BY 1, 2 HAVING count(*) = 8)),
       wins AS (
         SELECT doc_id, (start - 1) // 16 AS widx, min(hs) AS mh
         FROM grams GROUP BY 1, 2),
       fps AS (
         SELECT DISTINCT doc_id, mh AS fp FROM wins),
       cls AS (SELECT doc_id, coalesce(md5(text), '__null__') AS cl
               FROM documents),
       keep AS (SELECT fp FROM (
                  SELECT f.fp, count(DISTINCT c.cl) AS df
                  FROM fps f JOIN cls c USING (doc_id) GROUP BY f.fp)
                WHERE df <= 64),
       fk AS (SELECT f.doc_id, f.fp FROM fps f JOIN keep USING (fp)),
       pr AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS n
              FROM fk a JOIN fk b ON a.fp = b.fp AND a.doc_id < b.doc_id
              GROUP BY 1, 2 HAVING count(*) >= 2),
       sym AS (SELECT ia AS id, ib AS other, n FROM pr
               UNION ALL SELECT ib, ia, n FROM pr),
       best AS (SELECT id, other, n,
                       row_number() OVER (PARTITION BY id
                                          ORDER BY n DESC, other) AS rn
                FROM sym)
       SELECT id AS doc_id, other AS best_id, CAST(n AS BIGINT) AS n_shared_fps
       FROM best WHERE rn = 1 ORDER BY doc_id""") { (s, d) =>
    substringBestMatch(Tables.documents(s, d))
  }

  /** Engine behind q_substring_best_match, factored out for
    * DupCollapseSpec's naive-equality and flood-bound checks. */
  private[operators] def substringBestMatch(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val members = dupClasses(docs)
    val repDocs = repDocsOf(docs, members)
    val fpsDf = repDocs.select(col("doc_id"),
      winnowFps(col("text")).as("fps"))
    val sh0 = fpsDf.select(col("doc_id"), explode(col("fps")).as("fp"))
    // stop-fingerprint cap: document frequency over DISTINCT TEXTS (one
    // rep per class carries the fp exactly once)
    val keep = sh0.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 64)
    val sh = sh0.join(keep.select("fp"), "fp")
    val repPairs = sh.as("x")
      .join(sh.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
    val sym = repPairs.select(col("id_a").as("__rep"),
        col("id_b").as("other"), col("n"))
      .unionAll(repPairs.select(col("id_b").as("__rep"),
        col("id_a").as("other"), col("n")))
    val wB = Window.partitionBy("__rep").orderBy(col("n").desc, col("other"))
    val repBest = sym.withColumn("__rn", row_number().over(wB))
      .filter(col("__rn") === 1)
      .select(col("__rep"), col("other").as("xbest"), col("n").as("xn"))
    // class shape: size and the min member OTHER than the rep (the rep is
    // the class min, so a non-rep member's nearest sibling IS the rep)
    val cls = members.groupBy("__fp", "__rep").agg(
      count(lit(1)).as("__d"),
      min(when(col("doc_id") =!= col("__rep"), col("doc_id"))).as("__min2"))
    // a sibling pair's shared count is the rep's KEPT fingerprint count
    // (the naive join counts post-cap fps), with the same >= 2 floor
    val nfps = sh.groupBy("doc_id").agg(count(lit(1)).as("__f"))
      .select(col("doc_id").as("__rep"), col("__f"))
    // candidate structs ordered by (shared count, smaller id): negate the
    // id so greatest() picks (max n, min id); siblings share the WHOLE
    // fingerprint set and need the same >= 2 floor as the join
    val sibId = when(col("doc_id") === col("__rep"), col("__min2"))
      .otherwise(col("__rep"))
    val sibCand = when(col("__d") >= 2 && col("__f") >= 2,
      struct(col("__f").as("n"), (-sibId).as("negid")))
    val crossCand = when(col("xbest").isNotNull,
      struct(col("xn").as("n"), (-col("xbest")).as("negid")))
    val best = greatest(sibCand, crossCand)
    members.join(cls, Seq("__fp", "__rep"))
      .join(nfps, Seq("__rep"), "left")
      .join(repBest, Seq("__rep"), "left")
      .withColumn("__best", best)
      .filter(col("__best").isNotNull)
      .select(col("doc_id"), (-col("__best.negid")).as("best_id"),
        col("__best.n").cast("long").as("n_shared_fps"))
      .orderBy("doc_id")
  }

  /** Exact word-3-gram Jaccard over all pairs sharing ≥1 shingle, filtered
    * to `threshold`. Shared by q_ngram_jaccard and the dedup-group
    * (connected-components) operator in Pipeline.
    *
    * EXACT-duplicate pre-collapse (scale guard): a duplicate-heavy corpus —
    * the normal web case — makes the shingle self-join quadratic in the
    * copy count (10 copies of everything = 100× the join intermediate; the
    * round-3 sf1 probe caught exactly this). Identical texts have identical
    * shingle sets, so ONE representative per distinct text carries the
    * expensive pairing; member pairs then reconstruct by join — cross-class
    * pairs inherit the representatives' Jaccard, intra-class pairs are
    * J = 1.0 by definition. Cost becomes O(distinct-text pair work +
    * output size), and the output is row-identical to the naive form. */
  /** Exact-duplicate classes of the corpus: one row per doc with the
    * class fingerprint (`__fp`, md5 of the raw text) and representative
    * (`__rep`, the class's min doc_id). The shared first stage of every
    * pair-graph operator here — see [[ngramJaccardPairs]]'s scaladoc for
    * why (quadratic in the copy count otherwise). */
  private[operators] def dupClasses(docs: DataFrame): DataFrame = {
    // NULL-safe fingerprint: md5(NULL) is NULL and an equi-join drops
    // NULL keys, which would lose NULL-text docs from every downstream
    // group/pair output. The sentinel classes them together; they yield
    // zero shingles, so they stay singletons — same as the naive join.
    //
    // ONE corpus exchange (r11): the class minimum is a window aggregate
    // over the fingerprint partition instead of the old groupBy + join
    // back, which paid an aggregate exchange plus a second corpus scan
    // (md5 recomputed) per consumer — and degraded to a 3-exchange
    // sort-merge join once the class dimension outgrew broadcast. The
    // window sort is per-partition and spillable; every doc column rides
    // along, so [[repDocsOf]] is now a filter, not a third scan + join.
    //
    // Measured alternative (r12, ADVICE r11's skew concern): a two-phase
    // form — narrow (fp, doc_id) partial-min aggregate + equi-join
    // attaching __rep — was implemented and A/B'd at sf0.1/local[32]:
    // it REGRESSED every dupClasses consumer 10-60% (q_ngram_jaccard
    // 2.11→3.43 s, q_minhash_dedup +0.4 s, q_prefix_jaccard 2.75→3.40 s,
    // q_corpus_prep 2.27→2.80 s; ~+5 s across the family) because each
    // consumer reference re-executes the class-dim subtree (scan + md5 +
    // agg + broadcast build) where the window form pays one reusable
    // exchange. The window's exposure is a single duplicate class too
    // large for one task's spillable sort — full-TEXT copies of ONE text
    // funneled to one partition. That needs class_size × |text| to
    // overwhelm one task's disk-backed sort (≈ TB-scale for one text) —
    // the dfCap/flood guards upstream bound candidate-side floods long
    // before that, and the two-phase fallback is one edit away if a real
    // corpus ever exhibits it. Decision: keep the window, per guide §1
    // (measure first; don't trade a measured 10-60% for a hypothetical).
    import org.apache.spark.sql.expressions.Window
    docs
      .withColumn("__fp", coalesce(md5(col("text")), lit("__null__")))
      .withColumn("__rep",
        min("doc_id").over(Window.partitionBy("__fp")))
  }

  /** Representative rows of `docs` under `members` (= [[dupClasses]]):
    * the class-min rows, with the bookkeeping columns dropped — a pure
    * filter over the members frame (which carries every doc column since
    * the r11 window form), no join back to the corpus. */
  private[operators] def repDocsOf(docs: DataFrame, members: DataFrame): DataFrame =
    members.filter(col("doc_id") === col("__rep")).drop("__fp", "__rep")

  /** Expand representative-level pairs `(id_a, id_b, <valueCol>)` to
    * member-level pairs: cross-class member pairs inherit their reps'
    * value (it depends only on the text/signature, which is identical
    * within a class); intra-class pairs get `intraValue`, emitted only
    * for classes whose rep appears in `intraReps` (a `doc_id` column) —
    * the hook for "identical docs that the naive pipeline would NOT have
    * paired" exclusions (e.g. shingle-less texts). */
  private def expandDupPairs(members: DataFrame, repPairs: DataFrame,
      intraReps: DataFrame, valueCol: String,
      intraValue: org.apache.spark.sql.Column): DataFrame = {
    val ma = members.select(col("__rep").as("id_a"), col("doc_id").as("__ma"))
    val mb = members.select(col("__rep").as("id_b"), col("doc_id").as("__mb"))
    val cross = repPairs.join(ma, "id_a").join(mb, "id_b")
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col(valueCol))
    val intra = members.as("a")
      .join(members.as("b"),
        col("a.__fp") === col("b.__fp") && col("a.doc_id") < col("b.doc_id"))
      .join(intraReps.withColumnRenamed("doc_id", "__irep"),
        col("a.__rep") === col("__irep"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        intraValue.as(valueCol))
    cross.unionAll(intra)
  }

  /** Representative-level exact Jaccard pairs over `members`'s reps, plus
    * the shingled-rep set (`doc_id` column — the classes whose identical
    * members the naive join WOULD pair). TEST REFERENCE ONLY since r8:
    * production paths use [[coOccurRepJaccardPairs]] /
    * [[prefixRepJaccardPairs]]; this string-shingle count-aggregate form
    * survives as [[naiveNgramJaccardPairs]]'s core so specs can
    * cross-check the hashed machinery against an implementation that
    * shares none of it. */
  private[operators] def repJaccardPairs(docs: DataFrame, members: DataFrame,
      threshold: Double): (DataFrame, DataFrame) = {
    val repDocs = repDocsOf(docs, members)
    val sh = docShingles(repDocs)
    // per-row array size — not explode+groupBy: shingle counts need no
    // shuffle, and the small (doc_id, n) frame broadcast-joins below
    val sizes = repDocs.select(col("doc_id"), size(shingles(col("text"))).as("n"))
    val inter = sh.as("x")
      .join(sh.as("y"), col("x.shingle") === col("y.shingle") &&
        col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(count(lit(1)).as("i"))
    val j = col("i").cast("double") /
      (col("sa.n") + col("sb.n") - col("i"))
    val repPairs = inter
      .join(sizes.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.doc_id"))
      .filter(j >= threshold)
      // integer half-up (ExactSum.intRatio): an integer Jaccard can land
      // exactly on a decimal rounding tie, which round(double, 4)
      // resolves differently across engines; the threshold filter above
      // still compares the RAW ratio (same doubles both sides)
      .select(col("id_a"), col("id_b"),
        graft.operators.ExactSum.intRatio(col("i"),
          col("sa.n") + col("sb.n") - col("i"), 4).as("jaccard"))
    (repPairs, sizes.filter(col("n") > 0).select("doc_id"))
  }

  /** Production exact-Jaccard pair listing at rational threshold p/q:
    * hashed co-occurrence candidates with count-fused verification
    * (see [[qNgramJaccard]]'s scale note), exact-dup pre-collapsed and
    * member-expanded. Row-identical to [[naiveNgramJaccardPairs]]
    * (NgramJaccardSpec pins it on crafted boundaries and sf0.001). */
  private[operators] def ngramJaccardPairs(
      docs: DataFrame, p: Int, q: Int): DataFrame = {
    val members = dupClasses(docs)
    val (repPairs, shingledReps) =
      coOccurRepJaccardPairs(repDocsOf(docs, members), p, q)
    // intra-class pairs are J = 1.0 — but only when the text yields ≥1
    // shingle (the naive join can't pair shingle-less docs)
    expandDupPairs(members, repPairs,
      intraReps = shingledReps, valueCol = "jaccard", intraValue = lit(1.0))
  }

  /** The naive string-shingle form of [[ngramJaccardPairs]] — candidates ×
    * full shingle sets through a count aggregate ([[repJaccardPairs]]).
    * TEST REFERENCE ONLY: it independently cross-checks the hashed
    * machinery (different join keys, different verify path, no hash
    * collisions possible), but its shuffle volume is the pre-sf10 shape
    * VERDICT r7 #2 retired from production. */
  private[operators] def naiveNgramJaccardPairs(
      docs: DataFrame, threshold: Double): DataFrame = {
    val members = dupClasses(docs)
    val (repPairs, shingledReps) = repJaccardPairs(docs, members, threshold)
    expandDupPairs(members, repPairs,
      intraReps = shingledReps, valueCol = "jaccard", intraValue = lit(1.0))
  }

  /** Embedding-cosine near-dup: vector pairs above a similarity threshold
    * (the semantic-dedup pass of a training pipeline — catches paraphrases
    * exact/MinHash dedup misses). Brute-force at test scale; the LSH
    * bucketing of Similarity.qKnnLsh is the 100 TB candidate generator. */
  val qEmbeddingNearDup: Q = Q(
    "q_embedding_neardup",
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                  WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[])) > 0)
       SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              round(list_cosine_similarity(a.v, b.v), 6) AS sim,
              CASE WHEN a.label = b.label THEN true ELSE false END AS same_label
       FROM e a JOIN e b ON a.vec_id < b.vec_id
       WHERE list_cosine_similarity(a.v, b.v) >= 0.35
       ORDER BY id_a, id_b""") { (s, d) =>
    import graft.functions.Vectors._
    // Exact-duplicate pre-collapse, like ngramJaccardPairs: duplicate
    // documents mean duplicate embeddings, and the all-pairs join is
    // quadratic in the copy count. One representative per distinct vector
    // carries the cartesian; member pairs reconstruct by join — the sim
    // value depends only on the vectors, so cross pairs inherit the reps'
    // sim and intra pairs use the rep's self-sim (same doubles the naive
    // join would produce). Labels stay per-member (copies may disagree).
    val e0 = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), toDouble(col("embedding")).as("v"))
    val repIds = e0.groupBy("v").agg(min("vec_id").as("__rep"))
    val members = e0.join(repIds, "v")
    val repE = members.filter(col("vec_id") === col("__rep"))
      .select(col("vec_id"), col("v"))
      .withColumn("nv", norm(col("v")))
      // zero-norm guard: cosine against a zero vector THROWS under ANSI
      // (not NaN); the oracle's e CTE carries the twin filter, and a
      // zero class simply never pairs — same outcome the NaN threshold
      // would have produced
      .filter(col("nv") > 0)
    // spread the streamed side of the rep-pair nested-loop join: the
    // O(reps²) dot-product triangle otherwise runs in one task on a
    // collapsed input (Tables.spread — no-op at scale)
    val ra = graft.Tables.spread(
      repE.select(col("vec_id").as("ra"), col("v").as("va"),
        col("nv").as("na")))
    val rb = repE.select(col("vec_id").as("rb"), col("v").as("vb"),
      col("nv").as("nb"))
    val repPairs = ra.join(rb, col("ra") < col("rb"))
      .withColumn("rawsim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("rawsim") >= 0.35)
      .select(col("ra"), col("rb"), round(col("rawsim"), 6).as("sim"))
    val ma = members.select(col("__rep").as("ra"), col("vec_id").as("__ia"),
      col("label").as("la"))
    val mb = members.select(col("__rep").as("rb"), col("vec_id").as("__ib"),
      col("label").as("lb"))
    val cross = repPairs.join(ma, "ra").join(mb, "rb")
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("sim"),
        (col("la") === col("lb")).as("same_label"))
    // intra-class pairs: sim is the rep's self-similarity (≈1.0; zero
    // vectors were excluded above, so no class can reach here undefined)
    val selfSim = repE
      .withColumn("rawsim", dot(col("v"), col("v")) / (col("nv") * col("nv")))
      .filter(col("rawsim") >= 0.35)
      .select(col("vec_id").as("__selfrep"), round(col("rawsim"), 6).as("sim"))
    val intra = members.as("a")
      .join(members.as("b"),
        col("a.__rep") === col("b.__rep") && col("a.vec_id") < col("b.vec_id"))
      .join(selfSim, col("a.__rep") === col("__selfrep"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        col("sim"), (col("a.label") === col("b.label")).as("same_label"))
    cross.unionAll(intra).orderBy("id_a", "id_b")
  }

  /** Prefix-filtered exact Jaccard pairs (PPJoin-family candidate
    * generation, Bayardo et al. 2007 / Xiao et al. 2008) at threshold
    * J ≥ 3/5, under exact-duplicate pre-collapse — the same output the
    * naive shingle join produces, from a candidate set that is orders of
    * magnitude smaller at high thresholds.
    *
    * Prefix filter: order every document's distinct shingles by global
    * rarity (document frequency ascending, shingle string as the
    * deterministic tie-break) and keep only the first
    * n − ⌈t·n⌉ + 1 as the document's PREFIX. If J(x,y) ≥ t then
    * |x∩y| ≥ ⌈t·max(|x|,|y|)⌉, and two sets whose overlap is ≥ α must
    * share a token within their (n−α+1)-prefixes under any shared total
    * order — so every qualifying pair collides on at least one prefix
    * token and the equi-join on prefix tokens is LOSSLESS
    * (PrefixJaccardSpec pins row-identity against ngramJaccardPairs).
    * The length filter 5·min(nx,ny) ≥ 3·max(nx,ny) prunes candidates
    * whose sizes alone cap Jaccard below t.
    *
    * All threshold arithmetic is integer (t = 3/5: ⌈3n/5⌉ = ⌊(3n+4)/5⌋;
    * the final filter is 5i ≥ 3(nx+ny−i)) — no float boundary exists on
    * either engine.
    *
    * Scale design (100 TB): the full shingle join at t = 0.05
    * (q_ngram_jaccard) touches every co-occurring pair — at web scale,
    * dominated by the df-heavy shingles. Here only PREFIX tokens join,
    * and prefixes are by construction the RAREST ⌈2n/5⌉+1 shingles of
    * each doc, so the join's key-frequency distribution collapses (the
    * stop-shingle buckets that drive the shuffle never enter). The df
    * table is a vocab-sized aggregate (the q_word_freq shape); the
    * rarity sort is per-document over its own ≤n-entry array (one hash
    * aggregate, no window); verification is Vernica-et-al.-style — each
    * surviving candidate joins the two per-doc shingle ARRAYS and merges
    * them in one per-row op, so verify cost is O(candidates), and on a
    * near-dup-heavy corpus candidates ≈ true matches (output-bound). */
  val qPrefixJaccard: Q = Q(
    "q_prefix_jaccard",
    """WITH sh AS (
         SELECT DISTINCT doc_id, shingle FROM (
           SELECT doc_id,
                  unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
           FROM (SELECT doc_id,
                        regexp_split_to_array(trim(lower(text)), '\s+') AS toks
                 FROM documents))),
       sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS i
                 FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                 GROUP BY 1, 2)
       SELECT id_a, id_b,
              CAST((20000 * i + (sa.n + sb.n - i)) // (2 * (sa.n + sb.n - i))
                   AS DOUBLE) / 10000 AS jaccard
       FROM inter
       JOIN sizes sa ON sa.doc_id = id_a
       JOIN sizes sb ON sb.doc_id = id_b
       WHERE 5 * i >= 3 * (sa.n + sb.n - i)
       ORDER BY id_a, id_b""") { (s, d) =>
    prefixJaccardPairs(Tables.documents(s, d)).orderBy("id_a", "id_b")
  }

  /** Engine behind q_prefix_jaccard, factored out so PrefixJaccardSpec can
    * pin row-identity against the naive-candidate ngramJaccardPairs. */
  private[operators] def prefixJaccardPairs(docs: DataFrame): DataFrame = {
    val members = dupClasses(docs)
    val repDocs = repDocsOf(docs, members)
    val (repPairs, shingled) = prefixRepJaccardPairs(repDocs, 3, 5)
    expandDupPairs(members, repPairs,
      intraReps = shingled, valueCol = "jaccard", intraValue = lit(1.0))
  }

  /** Prefix-filtered exact Jaccard REP pairs at a rational threshold
    * t = p/q (0 < p ≤ q): candidates from the rarity-ordered prefix join
    * (lossless — see [[qPrefixJaccard]]'s scaladoc), verification as one
    * broadcast array merge per candidate, threshold arithmetic entirely
    * integer (q·i ≥ p·(nx+ny−i)). Returns (pairs(id_a, id_b, jaccard),
    * shingled reps) over the already-collapsed repDocs frame.
    *
    * Shared by q_prefix_jaccard (t = 3/5) and the dedup-group edge
    * builder (t = 1/2, Pipeline.dedupGroupsFrame): at 100 TB the edge
    * list of a duplication-heavy corpus is the #1 cost of the whole
    * dedup tier, and the naive shingle-join form pays candidates × full
    * shingle sets through the shuffle (the shape the r6 sf1 probe
    * measured at 73 s vs ~2 s; at the 100-replica adversarial probe it
    * ran 50+ MINUTES vs minutes for this form). */
  private[operators] def prefixRepJaccardPairs(
      repDocs: DataFrame, p: Int, q: Int): (DataFrame, DataFrame) = {
    val (pairs, shingled, _) =
      prefixRepJaccardPairsCapped(repDocs, p, q, Long.MaxValue)
    (pairs, shingled)
  }

  /** [[prefixRepJaccardPairs]] with an OPTIONAL per-shingle df cap
    * (VERDICT r8 #6) — the production knob against boilerplate floods: a
    * shingle shared by `df` documents contributes up to df·(df−1)/2
    * candidate rows to the prefix join, so one boilerplate block
    * replicated across a crawl can blow the edge build even when every
    * candidate FAILS verification (the q_substring_best_match df≤64
    * stop-fingerprint insight applied to the edge builder). Shingles
    * with df > dfCap are excluded from CANDIDATE GENERATION only (the
    * post-slice prefix filter; verification still merges full arrays),
    * and the third return value reports the drop — one row
    * `(capped_shingles, dropped_pair_slots)` where the slot count
    * Σ df·(df−1)/2 upper-bounds the candidate mass the cap removed (the
    * no-silent-caps rule: a capped run always SAYS what it skipped).
    *
    * Recall contract: a pair is missed only if EVERY shared prefix
    * shingle is capped — i.e. the pair is related exclusively through
    * ≥ dfCap-fold boilerplate. The exact form stays the ground-truth
    * default (dfCap = MaxValue ⇒ zero drops, identical plan); capped
    * output is row-identical on non-flooded corpora (CappedEdgesSpec)
    * and the q_dedup_groups_capped oracle self-certifies zero overflow
    * on the gate corpora via its summary row. */
  private[operators] def prefixRepJaccardPairsCapped(
      repDocs: DataFrame, p: Int, q: Int, dfCap: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    // everything runs over sorted distinct 64-bit shingle HASHES, one
    // per-row kernel pass (WordShingleHashes): 8-byte join keys instead of
    // ~30-byte strings through the df aggregate, the prefix build and the
    // candidate join, and verification becomes a codegen'd two-pointer
    // merge. Collision risk is quantified in the kernel's scaladoc
    // (~1e-15 per candidate pair); the string-form oracle re-checks every
    // run.
    val hashed = repDocs.select(col("doc_id"),
      shingleHashes(col("text")).as("harr"))
    val sh = hashed.select(col("doc_id"), explode(col("harr")).as("shingle"))
    val sizes = hashed.select(col("doc_id"), size(col("harr")).as("n"))
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    // ⌈p·n/q⌉ = ⌊(p·n + q − 1)/q⌋ in exact integer arithmetic (p·n+q−1 ≤
    // ~3e5·q per doc, so the double division below floor() is exact to
    // well past the integer boundary)
    val ceilPnQ = floor((col("n") * p + lit(q - 1)) / lit(q)).cast("int")
    // per-doc prefix: sort the doc's own shingles rarest-first (struct
    // sort: df, then hash — total and deterministic), slice, re-explode.
    // One hash aggregate per doc; no window, no global sort.
    val prefix = sh.join(dfreq, "shingle")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("shingle")))).as("ord"),
        count(lit(1)).cast("int").as("n"))
      .select(col("doc_id"), col("n"),
        explode(slice(col("ord"), lit(1), col("n") - ceilPnQ + 1)).as("p"))
      // df cap: boilerplate shingles leave candidate generation here —
      // AFTER the slice, so prefix lengths (and thus the uncapped form's
      // plan) are unchanged; dfCap = MaxValue keeps every row
      .filter(col("p.df") <= dfCap)
      .select(col("doc_id"), col("n"), col("p.shingle").as("shingle"))
    val cand = prefix.as("x")
      .join(prefix.as("y"),
        col("x.shingle") === col("y.shingle") &&
          col("x.doc_id") < col("y.doc_id") &&
          least(col("x.n"), col("y.n")) * q >=
            greatest(col("x.n"), col("y.n")) * p)
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        (col("x.n") + col("y.n")).as("nab"))
      .distinct()
    // integer DIV, not `/` (ADVICE r9): float division of df*(df-1) is
    // exact only below 2^53 (~df 9.5e7) — an extreme-df shingle would
    // make the accounting drift from the oracle's exact integer form
    val overflow = dfreq.filter(col("df") > dfCap)
      .agg(count(lit(1)).as("capped_shingles"),
        coalesce(sum(expr("df * (df - 1) DIV 2")), lit(0L))
          .cast("long").as("dropped_pair_slots"))
    (mergeVerifiedPairs(hashed, cand, p, q),
      sizes.filter(col("n") > 0).select("doc_id"),
      overflow)
  }

  /** Co-occurrence-candidate exact Jaccard REP pairs at rational threshold
    * t = p/q — the LOW-threshold sibling of [[prefixRepJaccardPairs]]:
    * at t = 1/20 the prefix is n − ⌈n/20⌉ + 1 ≈ 0.95·n shingles, so the
    * df aggregate + per-doc rarity sort would cost more than the ≤5% of
    * candidates they prune. Candidates are every pair sharing ≥1 64-bit
    * shingle hash (that IS the listing's semantics); the lossless length
    * filter (J ≤ min/max < p/q) applies on the aggregated pair frame —
    * at t = 1/20 it prunes only ≥20× length disparities, too few to earn
    * a per-join-row predicate or an n column on every exploded row.
    *
    * Verification FUSES into the candidate aggregate: the co-occurrence
    * join emits one row per SHARED distinct hash per pair, so
    * count(*) per (id_a, id_b) is already the exact intersection size —
    * one shuffle with full map-side combine, no per-candidate array
    * payload, no broadcast of the rep-array dim. The two-pointer merge
    * tail ([[mergeVerifiedPairs]]) only wins when candidates come from a
    * source CHEAPER than the co-occurrence join (the rarity prefix at
    * t ≥ 1/2, LSH bands); here the join is the candidate source, so a
    * distinct + merge pass re-traverses the same volume and then pays the
    * arrays on top — same-box idle sf1: 10.5 s (distinct + merge) vs
    * 6.9 s (fused count). Returns (pairs, shingled reps) over the
    * already-collapsed repDocs frame. */
  private[operators] def coOccurRepJaccardPairs(
      repDocs: DataFrame, p: Int, q: Int): (DataFrame, DataFrame) = {
    val hashed = repDocs.select(col("doc_id"),
      shingleHashes(col("text")).as("harr"))
    val sh = hashed.select(col("doc_id"), explode(col("harr")).as("shingle"))
    // per-doc set sizes stay OUT of the exploded join (8-byte rows, not
    // 16): the frame is one row per rep, broadcast onto the aggregated
    // pair frame below. The min/max length filter is applied there too —
    // at t = 1/20 it prunes only ≥20× length disparities, far too few to
    // earn a per-join-row predicate.
    val sizes = hashed.select(col("doc_id"), size(col("harr")).as("n"))
    val inter = sh.as("x")
      .join(sh.as("y"), col("x.shingle") === col("y.shingle") &&
        col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(count(lit(1)).as("i"))
    val union = col("sa.n") + col("sb.n") - col("i")
    val repPairs = inter
      .join(broadcast(sizes.as("sa")), col("id_a") === col("sa.doc_id"))
      .join(broadcast(sizes.as("sb")), col("id_b") === col("sb.doc_id"))
      .filter(col("i") * q >= union * p)
      .select(col("id_a"), col("id_b"),
        ExactSum.intRatio(col("i"), union, 4).as("jaccard"))
    (repPairs, sizes.filter(col("n") > 0).select("doc_id"))
  }

  /** Shared verify tail of the hashed pair generators — exact
    * verification, Vernica-style: each candidate pair `(id_a, id_b, nab)`
    * joins the two per-doc sorted hash ARRAYS (one row per doc, never
    * re-exploded) and the intersection is one codegen'd two-pointer
    * merge — O(candidates) rows, O(|x|+|y|) primitive compares each, zero
    * allocation. The r6 sf1 probe measured the explode-and-rejoin
    * alternative at 73 s vs ~2 s for merge-based verification; the r7
    * sf10 adversarial probe (6.4M intra-class candidates) additionally
    * showed string-array `array_intersect` saturating all cores on
    * per-row hash-set builds, which this long-merge form removes.
    * The array dim broadcasts (O(distinct texts × shingles) ≪
    * candidates): both verify joins then run map-side and the candidate
    * frame — the big side — never shuffles. At corpus scales where the
    * dim outgrows broadcast, these degrade to hash joins keyed by doc_id;
    * the payload (the pair's two arrays) is inherent to merge-based
    * verification. */
  private def mergeVerifiedPairs(hashed: DataFrame, cand: DataFrame,
      p: Int, q: Int): DataFrame = {
    val shArr = broadcast(hashed.select(col("doc_id"), col("harr")))
    val inter = cand
      .join(shArr.select(col("doc_id").as("id_a"), col("harr").as("sa")), "id_a")
      .join(shArr.select(col("doc_id").as("id_b"), col("harr").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"), col("nab"),
        sortedIntersectSize(col("sa"), col("sb")).as("i"))
    val union = col("nab") - col("i")
    inter
      .filter(col("i") * q >= union * p)
      .select(col("id_a"), col("id_b"),
        ExactSum.intRatio(col("i"), union, 4).as("jaccard"))
  }

  /** Sorted distinct xxhash64 shingle hashes (see
    * graft.functions.WordShingleHashes). */
  private[operators] def shingleHashes(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.WordShingleHashes(ColumnBridge.expression(text), 3))
  }

  /** Codegen'd two-pointer intersection size of two sorted long arrays. */
  private[operators] def sortedIntersectSize(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.SortedLongIntersectSize(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Sorted-neighborhood near-dup candidates (Hernández & Stolfo 1995 —
    * the record-linkage classic): sort documents by a normalized text
    * prefix inside (language, key-block) blocks and score each document
    * against its next w−1=3 neighbors in that order with exact 3-gram
    * Jaccard. A third candidate-generation PARADIGM next to the hash
    * family (exact/fingerprint) and the banding family (MinHash / SimHash
    * / prefix filter): sort-based blocking, which catches shared-prefix
    * boilerplate and ordered exports that hash bands treat as unrelated.
    * Misses across block boundaries are the method's documented contract
    * (that's what blocking means), traded for a fixed w·n candidate count.
    *
    * Scale design (100 TB, reworked per VERDICT r6 #3): the r6 form
    * windowed by (lang, block) — a hash partition per block, so one
    * boilerplate prefix ("<!doctype", "copyright") flooding a block made
    * its sort single-reducer. Now the corpus is RANGE-partitioned on the
    * full (lang, blk, k, doc_id) sort key — the trailing unique doc_id
    * means Spark's sampled range partitioner balances partitions no
    * matter how many documents share a block or even an identical 32-char
    * key — and neighbors are read off the partition-local sorted runs:
    *  - within-partition pairs: a 4-row sliding buffer per partition
    *    (mapPartitions — O(1) memory, no window state);
    *  - partition-crossing pairs: every pair with global gap ≤ 3 that
    *    spans a cut has both ends among its partition's first/last 3 rows
    *    (gap ≤ 3 forces it), so a 6-rows-per-partition boundary STRIP plus
    *    exact global ranks (partition-size prefix sums over an
    *    npart-sized frame) recovers them with a tiny gap equi-join.
    * The union is exactly the single-sorted-run semantics — pair content
    * is independent of where the sampled range boundaries fall, which the
    * determinism fuzz gate exercises across (cores, partitions) configs.
    * The Jaccard score is per-row array arithmetic on the paired shingle
    * sets; the fraction is an integer ratio (ExactSum.intRatio); ties
    * order by doc_id, so the output is engine-exact — the DuckDB oracle
    * keeps the plain one-window form and greenness proves equivalence.
    * NULL lang coalesces to '' on both engines (ADVICE r6: Spark's window
    * grouped NULL langs while DuckDB's self-join dropped them). */
  val qSnmPairs: Q = Q(
    "q_snm_pairs",
    """WITH t AS (SELECT doc_id, coalesce(lang, '') AS lang,
                         coalesce(substr(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), 1, 32), '') AS k,
                         regexp_split_to_array(trim(lower(text)), '\s+') AS toks
                  FROM documents),
       sh AS (SELECT doc_id, count(DISTINCT shingle) AS n FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
                FROM t) GROUP BY doc_id),
       shd AS (SELECT DISTINCT doc_id, shingle FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
                FROM t)),
       r AS (SELECT doc_id, lang, substr(k, 1, 4) AS blk, k,
                    row_number() OVER (PARTITION BY lang, substr(k, 1, 4)
                                       ORDER BY k, doc_id) AS rn
             FROM t),
       cand AS (SELECT a.doc_id AS da, b.doc_id AS db
                FROM r a JOIN r b
                  ON a.lang = b.lang AND a.blk = b.blk
                 AND b.rn - a.rn BETWEEN 1 AND 3),
       inter AS (SELECT c.da, c.db, count(*) AS i
                 FROM cand c
                 JOIN shd x ON x.doc_id = c.da
                 JOIN shd y ON y.doc_id = c.db AND y.shingle = x.shingle
                 GROUP BY 1, 2),
       scored AS (SELECT c.da, c.db,
                         coalesce(i.i, 0) AS i,
                         coalesce(sa.n, 0) + coalesce(sb.n, 0) - coalesce(i.i, 0) AS u
                  FROM cand c
                  LEFT JOIN inter i ON i.da = c.da AND i.db = c.db
                  LEFT JOIN sh sa ON sa.doc_id = c.da
                  LEFT JOIN sh sb ON sb.doc_id = c.db)
       SELECT least(da, db) AS id_a, greatest(da, db) AS id_b,
              CAST((20000 * i + u) // (2 * u) AS DOUBLE) / 10000 AS jaccard
       FROM scored WHERE u > 0
       ORDER BY id_a, id_b""") { (s, d) =>
    snmPairsFrom(s, Tables.documents(s, d))
  }

  /** The range-sorted SNM base: one row per document with its block key
    * and shingle set, range-partitioned + locally sorted on the FULL sort
    * key. Exposed for SnmSpec's flooded-block balance assertion. */
  private[graft] def snmSorted(s: org.apache.spark.sql.SparkSession,
      docs: DataFrame): org.apache.spark.sql.Dataset[SnmDoc] = {
    import s.implicits._
    val nt = regexp_replace(trim(lower(col("text"))), "\\s+", " ")
    // shingle-less (or NULL) texts carry an EMPTY set, not NULL: they must
    // stay in the sort order and pair with neighbors at J = 0 exactly as
    // the oracle's coalesce(n, 0) does
    // NULL text → key '' (not NULL): Spark default-sorts NULLs first and
    // DuckDB last, so a NULL key would silently diverge the neighborhoods
    // shingle payload rides the range sort as sorted distinct 64-bit
    // HASHES (WordShingleHashes), not strings: ~4x less sort/shuffle
    // payload and the neighbor score becomes the codegen'd two-pointer
    // merge instead of per-row string-set intersection (r8; same
    // ~1e-15/pair collision risk as the prefix builder, and the string-
    // form DuckDB oracle re-checks every run)
    docs.select(
      col("doc_id"),
      coalesce(col("lang"), lit("")).as("lang"),
      coalesce(substring(nt, 1, 32), lit("")).as("k"),
      coalesce(shingleHashes(col("text")), array().cast("array<bigint>")).as("sh"))
      .withColumn("blk", substring(col("k"), 1, 4))
      .as[SnmDoc]
      .repartitionByRange(col("lang"), col("blk"), col("k"), col("doc_id"))
      .sortWithinPartitions(col("lang"), col("blk"), col("k"), col("doc_id"))
  }

  private[graft] def snmPairsFrom(s: org.apache.spark.sql.SparkSession,
      docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    // one range sort, checkpointed: both the within-partition pass and
    // the boundary-strip pass read the same sorted runs. localCheckpoint
    // is executor-local and non-fault-tolerant — at the 100 TB design
    // point substitute a reliable checkpoint (or persist DISK_ONLY with
    // replication), as Pipeline's connected-components scaladoc notes:
    // an executor loss here would otherwise fail the whole job and the
    // corpus is double-materialized in block storage (ADVICE r7)
    val sorted = snmSorted(s, docs).localCheckpoint()
    // within-partition neighbor pairs: 4-row sliding buffer, O(1) memory
    val within = sorted.mapPartitions { it =>
      val buf = scala.collection.mutable.Queue.empty[SnmDoc]
      it.flatMap { r =>
        val out = buf.iterator
          .filter(p => p.lang == r.lang && p.blk == r.blk)
          .map(p => (p.doc_id, r.doc_id, p.sh, r.sh)).toList
        buf.enqueue(r)
        if (buf.size > 3) buf.dequeue()
        out
      }
    }.toDF("da", "db", "sa", "sb")
    // one partition → no cuts to cross: skip the whole strip pass (its
    // four tiny stages were the one r7 sf0.1 regression; at test scales
    // AQE often coalesces the range sort to a single partition)
    if (sorted.rdd.getNumPartitions <= 1) return snmScore(within)
    // boundary strip: first/last 3 rows of every partition + its size.
    // Any pair with global gap <= 3 that crosses a cut has both ends in
    // the strip (the gap bound forces last-3 / first-3 membership), and
    // rows of any partition lying wholly between the ends are in their
    // partition's first-3 too — so the strip plus exact global ranks
    // reconstructs every crossing pair.
    val strip = s.createDataset(
      sorted.rdd.mapPartitionsWithIndex { (pi, it) =>
        val first = scala.collection.mutable.ArrayBuffer.empty[(Long, SnmDoc)]
        val last = scala.collection.mutable.Queue.empty[(Long, SnmDoc)]
        var n = 0L
        it.foreach { r =>
          n += 1
          if (n <= 3) first += ((n, r))
          last.enqueue((n, r))
          if (last.size > 3) last.dequeue()
        }
        (first ++ last).distinctBy(_._1).iterator
          .map { case (rk, r) => (pi, n, rk, r) }
      })
      .toDF("pidx", "n", "rk", "r")
    // exact global rank = prefix-sum of partition sizes + local rank; the
    // cumulative window runs over an npart-sized frame, not the corpus
    val off = strip.select(col("pidx"), col("n")).distinct()
      .withColumn("off",
        coalesce(sum("n").over(
          Window.orderBy("pidx").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("pidx", "off")
    val st = strip.join(broadcast(off), "pidx")
      .select(col("pidx"), (col("off") + col("rk")).as("grn"),
        col("r.doc_id").as("id"), col("r.lang").as("lang"),
        col("r.blk").as("blk"), col("r.sh").as("sh"))
    val crossing = st
      .select(col("pidx").as("pa"), col("id").as("da"), col("lang").as("la"),
        col("blk").as("ba"), col("sh").as("sa"),
        explode(array(col("grn") + 1, col("grn") + 2, col("grn") + 3))
          .as("tgt"))
      .join(st.select(col("pidx").as("pb"), col("grn").as("tgt"),
        col("id").as("db"), col("lang").as("lb"), col("blk").as("bb"),
        col("sh").as("sb")), "tgt")
      .filter(col("pa") =!= col("pb") &&
        col("la") === col("lb") && col("ba") === col("bb"))
      .select(col("da"), col("db"), col("sa"), col("sb"))
    snmScore(within.union(crossing))
  }

  /** Exact-Jaccard scoring of SNM neighbor pairs `(da, db, sa, sb)` —
    * the two-pointer merge over the sorted hash arrays the rows already
    * carry. */
  private def snmScore(pairs: DataFrame): DataFrame = {
    val i = sortedIntersectSize(col("sa"), col("sb"))
    val u = size(col("sa")) + size(col("sb")) - i
    pairs
      .select(least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"), i.as("i"), u.as("u"))
      .filter(col("u") > 0)
      .select(col("id_a"), col("id_b"),
        ExactSum.intRatio(col("i"), col("u"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  val all: Seq[Q] = Seq(
    qDedupExact, qDedupFingerprint, qMinhashSignatures, qMinhashDedup,
    qMinhashDedupSmall,
    qSimhash, qSimhashPairs, qNgramJaccard, qSubstringOverlap,
    qSubstringBestMatch, qRetainedSpans, qEmbeddingNearDup, qPrefixJaccard,
    qSnmPairs)
}

/** One sorted-neighborhood row: document id, coalesced language, 4-char
  * block key, 32-char sort key and the distinct 3-gram shingle set.
  * Top-level so Spark derives a product encoder for the mapPartitions
  * passes in [[Dedup.snmPairsFrom]]. */
private[graft] case class SnmDoc(doc_id: Long, lang: String, k: String,
    sh: Array[Long], blk: String)
