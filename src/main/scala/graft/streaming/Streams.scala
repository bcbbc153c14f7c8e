package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming over the events fixture (SURVEY.md §2.8 — promised
  * by the reference: `SETUP_GUIDE_WIN.md:472` "Try streaming",
  * `README.md:71` "batch, streaming … same engine").
  *
  * Batch and streaming share the SAME transformation code here — the
  * `windowedCounts` / `sessionize` functions take any Dataset, exactly
  * Spark's unified-engine contract. The driver-facing queries run the
  * stream with `Trigger.AvailableNow` to a memory sink and return the
  * result as a DataFrame, so streaming correctness goes through the same
  * DuckDB oracle as batch queries.
  *
  * Scale notes: windowed aggregation state is bounded by the watermark
  * (10 min lateness → state for at most ~2 windows per key group lives in
  * the state store); sessionization uses per-key GroupState with event-time
  *timeout so idle keys age out instead of accumulating.
  */
object Streams {

  /** events schema with ts as parquet physically stored it — the fixture
    * has shipped as both TIMESTAMP(NANOS) (readable only as raw int64
    * nanos) and TIMESTAMP(MICROS) NTZ (see Tables.events). A streaming
    * source needs the schema up front, so probe it with a one-off batch
    * footer read and normalize ts to a session-zone TIMESTAMP the same way
    * the batch loader does — declaring the WRONG physical type here would
    * silently read micros as nanos and compress a month of event time
    * 1000-fold. */
  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Long), StructType]

  private[graft] def rawSchema(spark: SparkSession, sfDir: String): StructType = {
    // one footer probe per fixture FILE per JVM (r12): the probe is a
    // driver-side parquet footer read, and q_stream_dedup alone paid it
    // twice per run (two stream legs). Keyed on the file's path, size and
    // mtime, so a fixture rewritten in place is probed again
    val fixture = java.nio.file.Paths.get(sfDir, "events.parquet")
    val key = (fixture.toAbsolutePath.toString, Files.size(fixture),
      Files.getLastModifiedTime(fixture).toMillis)
    schemaCache.getOrElseUpdate(key, {
      val tsType = spark.read.parquet(fixture.toString)
        .schema("ts").dataType
      StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", tsType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("props", StringType)))
    })
  }

  /** File-based stream over the events parquet: each file = a micro-batch
    * (the snapshot-log streaming pattern: commits arrive as new files).
    * The file source requires a DIRECTORY, so the fixture file is exposed
    * through a per-sfDir symlink dir. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = rawSchema(spark, sfDir)
    val dir = streamDirFor(sfDir)
    val raw = spark.readStream
      .schema(schema)
      .parquet(dir)
    schema("ts").dataType match {
      // integer DIV: `/` is double division and drifts ±1us at e18 nanos
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampType => raw
      // NTZ → session-zone TIMESTAMP. The cast reinterprets the wall-clock
      // value in the SESSION zone, so it only preserves the instant when
      // that zone is UTC (all pinned entry points — Bench/Verify/specs —
      // set it). Fail loudly rather than silently shifting event times.
      case _ =>
        val tz = spark.conf.get("spark.sql.session.timeZone")
        // any UTC-equivalent zone preserves instants — compare normalized
        // rules, not the string, so Etc/UTC / GMT / +00:00 sessions pass
        val isUtc = scala.util.Try(
          java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC)
          .getOrElse(false)
        require(isUtc,
          s"eventsStream requires spark.sql.session.timeZone=UTC to read the " +
            s"NTZ events fixture without shifting instants; session has '$tz'")
        raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  private val streamDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def streamDirFor(sfDir: String): String =
    streamDirs.getOrElseUpdate(sfDir, {
      val d = Files.createTempDirectory("graft-events-stream")
      Files.createSymbolicLink(d.resolve("events.parquet"),
        java.nio.file.Paths.get(sfDir, "events.parquet"))
      d.toString
    })

  /** Tumbling-window counts with a 10-minute watermark — the canonical
    * windowed streaming aggregation. Works on batch and stream alike. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value").cast("decimal(12,2)")), 2)
        .cast("double").as("total_value"))
      .select(
        col("window.start").cast("date").as("day"),
        hour(col("window.start")).as("hr"),
        col("event_type"), col("n"), col("total_value"))

  /** Sliding-window (1h window, 30m slide) event rates. */
  def slidingRates(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n"))

  /** Native session windows (gap-based): events within 30 min of each
    * other merge into one session per user. Declarative counterpart of
    * `sessionize` below — Spark's SessionWindow state operator handles
    * the merging; watermark bounds state like any windowed agg. Start is
    * the first event's time, end is last event + gap (end-exclusive — an
    * event at exactly start+gap opens a NEW session, which the oracle's
    * `>= gap` island test mirrors). */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"), round(sum(col("value").cast("decimal(12,2)")), 2)
        .cast("double").as("total_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("sess_start_us"),
        unix_micros(col("session_window.end")).as("sess_end_us"),
        col("n"), col("total_value"))

  case class Evt(user_id: Long, tsMicros: Long, value: Double)
  case class Session(user_id: Long, n_events: Int, total_value: Double,
      start_micros: Long, end_micros: Long)

  /** Session state machine: events within `gapMinutes` of each other extend
    * the session; a gap (or event-time timeout) closes and emits it. */
  def sessionize(events: Dataset[Evt], gapMinutes: Int = 30)(
      implicit enc: org.apache.spark.sql.Encoder[Session],
      enc2: org.apache.spark.sql.Encoder[Long]): Dataset[Session] = {
    val gapMicros = gapMinutes * 60L * 1000000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Session, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evts: Iterator[Evt], state: GroupState[Session]) =>
          // per-batch: fold sorted events into sessions, emit closed ones
          val sorted = evts.toSeq.sortBy(_.tsMicros)
          var cur = state.getOption
          val closed = Seq.newBuilder[Session]
          sorted.foreach { e =>
            cur match {
              case Some(s) if e.tsMicros - s.end_micros <= gapMicros =>
                cur = Some(s.copy(n_events = s.n_events + 1,
                  total_value = s.total_value + e.value,
                  end_micros = e.tsMicros))
              case Some(s) =>
                closed += s
                cur = Some(Session(user, 1, e.value, e.tsMicros, e.tsMicros))
              case None =>
                cur = Some(Session(user, 1, e.value, e.tsMicros, e.tsMicros))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
      }
  }

  /** Run a streaming DataFrame to completion into a memory sink and return
    * the final result table. */
  /** Stream-static enrichment join + windowed aggregation: each micro-batch
    * joins against the (broadcast) static dimension — the standard "enrich
    * events with reference data" shape. The static side is planned once
    * per batch, never shuffles the stream, and needs no state: only the
    * post-join windowed agg is stateful (watermark-bounded). */
  def enrichedSegmentCounts(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .join(broadcast(dim), events("user_id") === dim("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum(col("value").cast("decimal(12,2)")), 2)
        .cast("double").as("total_value"))
      .select(
        col("window.start").cast("date").as("day"),
        hour(col("window.start")).as("hr"),
        col("c_mktsegment").as("segment"), col("n"), col("total_value"))

  /** Stream-stream interval self-join: view events matched to the same
    * user's purchase events within the next 6 hours. Both sides carry
    * watermarks and the join condition bounds event time on both ends, so
    * the join state is evictable — the property that keeps a stream-stream
    * join's state finite at any ingest rate (unbounded-condition joins
    * accumulate forever). Inner matches emit immediately (append mode). */
  def viewToPurchase(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val buys = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    views.join(buys,
      col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") < col("v_ts") + expr("INTERVAL 6 HOURS"))
      .select(col("v_user").as("user_id"), col("view_id"), col("purchase_id"))
  }

  def runToMemory(spark: SparkSession, stream: DataFrame, name: String,
      mode: String = "complete"): DataFrame = {
    // Stateful operators allocate one state store PER shuffle partition
    // PER operator (a stream-stream join holds four) and pay commit +
    // snapshot overhead on each per micro-batch. That cost is fixed, not
    // data-driven, so the state-partition count should track stateful-key
    // cardinality — not the relational shuffle default. Pinned around the
    // stream start only: the value is captured into the checkpoint at
    // planning, so batch queries and the restore below are unaffected.
    // (Measured: q_stream_join 8.5s → ~2s at sf0.1, identical results.)
    // Parameterized (r12): state-partition count is a deployment-scale
    // knob — production sizes it to stateful-key cardinality and state
    // bytes per partition, NOT to a constant. Local default re-measured
    // this round across {2, 4, 8, 16, 32}: total task time scales
    // superlinearly with the partition count on batch-sized state (the
    // per-partition store init + commit + snapshot is the cost, the data
    // is not) — q_stream_join 2.6 s @4 vs 4.7 s @8 vs 6+ s @32 — and 4
    // was the family-wide minimum, so 4 replaces r2's 8.
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val stateKey = "graft.stream.state-partitions"
    val stateParts = graft.lake.GraftWriter.longSetting(stateKey,
      spark.conf.get(stateKey,
        sys.env.getOrElse("SPARK_GRAFT_STREAM_STATE_PARTS", "4")))
    spark.conf.set(key, stateParts.toString)
    val q = try stream.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory(s"graft-ck-$name").toString)
      .start()
    finally spark.conf.set(key, prev)
    q.awaitTermination()
    // The memory sink pins its rows in a DRIVER buffer for as long as the
    // temp view exists; across a 140-query bench run those dead sinks
    // accumulate into GC pressure that the r8 sf10 sweep measured as a
    // 12-60× "slowdown" of whichever streaming query ran late (the
    // operator itself re-measured 15 s in a fresh JVM vs 241 s mid-sweep).
    // Copy the result off the sink into a LOCAL relation (r12; was
    // localCheckpoint): the rows already live in the driver, so the
    // executeCollect below runs NO distributed job, where the checkpoint
    // paid a 32-task job + block-manager round-trip to push driver rows
    // out to executors only to read them back. The LocalRelation frame is
    // plain driver memory owned by the returned plan — dropped with it,
    // same GC story the checkpoint had, one job fewer per streaming
    // query. The memory sink remains what it is — the ORACLE HARNESS;
    // production streams land in lake tables (streamIntoLakeTable).
    val t = spark.table(name)
    val rows = t.collect() // LocalTableScan: driver-side, no job
    spark.catalog.dropTempView(name)
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), t.schema)
  }

  /** Stream into a Graft lake table via foreachBatch: each micro-batch
    * appends one snapshot — the "Structured Streaming with Iceberg"
    * pattern the reference promises (`SETUP_GUIDE_WIN.md:472`). */
  def streamIntoLakeTable(
      spark: SparkSession,
      stream: DataFrame,
      store: graft.lake.SnapshotStore,
      checkpoint: String): Unit = {
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.lake.GraftWriter.insert(spark, store, batch, overwrite = false)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
  }

  /** Streaming CDC UPSERT into a lake table: each micro-batch lands as one
    * merge-on-read upsert commit (append + equality-delete of the batch's
    * keys — `graft.lake.Upsert`), so per-batch cost is O(batch) with no
    * read or rewrite of existing data. This is the Flink/Iceberg
    * continuous-ingestion shape: a 100 TB table absorbs a keyed changelog
    * at the stream's rate, and `rewrite_deletes` folds the accumulated
    * keys back into data files off the hot path. Within a batch, later
    * rows win per key (changelog order), enforced here with a
    * last-by-key dedup before the commit. */
  def upsertStreamIntoLakeTable(
      spark: SparkSession,
      stream: DataFrame,
      store: graft.lake.SnapshotStore,
      keys: Seq[String],
      orderCol: String,
      checkpoint: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(col(orderCol).desc)
        // probe the RAW batch: lastPerKey is empty iff batch is, and
        // probing the windowed frame would run the dedup pipeline twice
        if (!batch.isEmpty) {
          val lastPerKey = batch
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
          graft.lake.Upsert.into(spark, store, lastPerKey, keys)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
  }

  /** Streaming cross-batch exact dedup into a lake-resident fingerprint
    * index — the continuous-ingestion twin of `q_lake_ingest_dedup`: each
    * micro-batch admits only documents whose normalized-text fingerprint
    * neither the seed corpus nor any PREVIOUS batch admitted (per-batch
    * self-dedup cannot see history). Within a batch the lowest doc_id
    * wins a fingerprint; admitted (fp, doc_id) rows land as one O(batch)
    * append commit, which makes the index table itself the dedup state —
    * restart-safe via the checkpoint + snapshot log, no state store.
    *
    * Join shape is the scalable one from the batch twin: the index scan
    * streams while the micro-batch's fingerprints broadcast into a
    * semi-join, so a 100 TB index absorbs batches at the stream's rate
    * (at that scale the index is fp-bucketed and the probe is
    * storage-partitioned). */
  def dedupIngestIntoLakeTable(
      spark: SparkSession,
      stream: DataFrame, // needs doc_id + text columns
      store: graft.lake.SnapshotStore,
      checkpoint: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // the SAME null-guarded fingerprint as the batch twin
          // (q_lake_ingest_dedup) — see TextOps.normalizedFp
          val fps = batch.select(
            graft.operators.TextOps.normalizedFp(col("text")).as("fp"),
            col("doc_id"))
          val w = Window.partitionBy("fp").orderBy("doc_id")
          val firstPerFp = fps.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
          val head = store.head().getOrElse(throw new IllegalStateException(
            s"table not initialized: ${store.tableDir}"))
          val admitted =
            if (head.files.isEmpty) firstPerFp
            else {
              val index = graft.lake.GraftTable.liveRows(spark, store, head,
                head.files)
              val dup = index
                .join(broadcast(firstPerFp.select("fp")), Seq("fp"), "left_semi")
                .select("fp").distinct()
              firstPerFp.join(broadcast(dup), Seq("fp"), "left_anti")
            }
          if (!admitted.isEmpty)
            graft.lake.GraftWriter.insert(spark, store,
              admitted.select("fp", "doc_id"), overwrite = false)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
  }

  /** Streaming cross-batch NEAR-dup ingest — the continuous twin of
    * Ingest.ingestBatchNearDup, exactly as [[dedupIngestIntoLakeTable]]
    * twins the exact-fingerprint ingestBatch: each micro-batch runs the
    * full quality → exact-dedup → band-index near-dup check → intra-batch
    * collapse → corpus + band appends pipeline against the named lake
    * tables. The band-index table is the dedup state, so restarts resume
    * from the checkpoint + snapshot log with no state store; per-batch
    * corpus-side work stays O(batch) (the index scan streams against the
    * broadcast batch bands — see the batch twin's scaladoc). */
  def nearDupIngestIntoLakeTables(
      spark: SparkSession,
      stream: DataFrame, // needs doc_id + text columns
      corpusTable: String,
      bandTable: String,
      checkpoint: String): Unit = {
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.operators.Ingest.ingestBatchNearDup(
            spark, batch, corpusTable, bandTable)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
  }

  /** Streaming EMBEDDING-space ingest — the continuous twin of
    * SemanticIngest.ingestBatchSemantic, exactly as
    * [[nearDupIngestIntoLakeTables]] twins the MinHash ingest: each
    * micro-batch assigns map-only against the persisted centroids
    * (bootstrap-trained on the first non-empty batch), rejects near-dups
    * through the lake-resident cluster index, collapses intra-batch, and
    * appends survivors corpus-before-index. The centroid + index tables
    * are the dedup state, so restarts resume from the checkpoint +
    * snapshot log with no state store; per-batch corpus-side work stays
    * O(batch) (the index scan streams against the broadcast batch). */
  def semanticIngestIntoLakeTables(
      spark: SparkSession,
      stream: DataFrame, // needs vec_id + embedding columns
      corpusTable: String,
      centroidTable: String,
      indexTable: String,
      checkpoint: String): Unit = {
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.operators.SemanticIngest.ingestBatchSemantic(
            spark, batch, corpusTable, centroidTable, indexTable)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
  }

  /** Streaming MEDIA ingest — the continuous twin of
    * MediaIngest.ingestBatchMedia, completing the streaming side of the
    * ingest triptych: each micro-batch gates, exact-dedups, rejects
    * perceptual near-dups (DHash64 Hamming ≤ 3) through the lake-resident
    * band index, collapses intra-batch, and appends survivors
    * corpus-before-index. The index table is the dedup state; restarts
    * resume from the checkpoint + snapshot log with no state store. */
  def mediaIngestIntoLakeTables(
      spark: SparkSession,
      stream: DataFrame, // needs media_id + payload columns
      corpusTable: String,
      indexTable: String,
      checkpoint: String): Unit = {
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.operators.MediaIngest.ingestBatchMedia(
            spark, batch, corpusTable, indexTable)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
  }
}
