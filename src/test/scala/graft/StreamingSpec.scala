package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.lake.SnapshotStore
import graft.streaming.Streams
import graft.streaming.Streams.{Evt, Session}

/** Streaming semantics tests (SURVEY.md §2.8, §5.2.2): MemoryStream-driven
  * sessionization, batch/stream parity of the windowed agg, and streaming
  * appends into a Graft lake table (one snapshot per micro-batch). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def micros(minute: Int): Long = minute * 60L * 1000000L

  test("sessionization splits on gap and accumulates within gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val sessions = Streams.sessionize(input.toDS(), gapMinutes = 30)
    val ck = Files.createTempDirectory("ck-sess").toString
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_out")
      .option("checkpointLocation", ck).start()
    // batch 1: two events 10min apart (same session)
    input.addData(Evt(1, micros(0), 1.0), Evt(1, micros(10), 2.0))
    q.processAllAvailable()
    // batch 2: event 60min later → closes session 1, opens session 2
    input.addData(Evt(1, micros(70), 5.0))
    q.processAllAvailable()
    val closed = spark.table("sess_out").as[Session].collect()
    q.stop()
    assert(closed.length == 1)
    assert(closed.head.n_events == 2)
    assert(closed.head.total_value == 3.0)
    assert(closed.head.end_micros == micros(10))
  }

  test("the events schema probe follows a fixture rewritten at the same path") {
    val dir = Files.createTempDirectory("graft-events-fixture")
    def writeFixture(tsType: String): Unit = {
      val out = Files.createTempDirectory("graft-events-out")
      spark.range(3).selectExpr("id AS event_id",
          s"CAST(TIMESTAMP '2024-01-02 03:04:05' AS $tsType) AS ts",
          "id AS user_id", "'view' AS event_type", "1.0D AS value",
          "'{}' AS props")
        .coalesce(1).write.mode("overwrite").parquet(out.resolve("p").toString)
      val part = Files.list(out.resolve("p")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val fixture = dir.resolve("events.parquet")
      val before = if (Files.exists(fixture))
        Some(Files.getLastModifiedTime(fixture).toMillis) else None
      Files.copy(part, fixture, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // a rewrite within the clock's resolution still moves the mtime
      before.foreach(t => Files.setLastModifiedTime(fixture,
        java.nio.file.attribute.FileTime.fromMillis(t + 2000)))
    }
    writeFixture("TIMESTAMP")
    assert(Streams.rawSchema(spark, dir.toString)("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    writeFixture("TIMESTAMP_NTZ")
    assert(Streams.rawSchema(spark, dir.toString)("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
  }

  test("windowed aggregation: stream result equals batch result") {
    val streamed = StreamingOpsAccess.runWindow(spark, sf)
    val batch = Tables.events(spark, sf)
      .groupBy(col("ts").cast("date").as("day"), hour(col("ts")).as("hr"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("session windows: stream result equals the batch run of the same code") {
    val streamed = Streams.runToMemory(spark,
      Streams.sessionWindows(Streams.eventsStream(spark, sf)),
      s"sess_spec_${System.nanoTime()}")
    val batch = Streams.sessionWindows(Tables.events(spark, sf))
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    // sessions are disjoint per user: no overlapping [start, end) ranges
    val s1 = streamed.select(col("user_id").as("u1"),
      col("sess_start_us").as("start1"), col("sess_end_us").as("end1"))
    val s2 = streamed.select(col("user_id").as("u2"),
      col("sess_start_us").as("start2"))
    val overlaps = s1.join(s2, col("u1") === col("u2") &&
      col("start1") < col("start2") && col("start2") < col("end1"))
    assert(overlaps.isEmpty, "overlapping sessions for one user")
  }

  test("native readStream.table over a lake table: incremental snapshots, " +
      "rewrites skipped, checkpoint resume") {
    val wh = Files.createTempDirectory("ss-wh").toString
    spark.conf.set("spark.sql.catalog.sspec", classOf[graft.lake.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.sspec.warehouse", wh)
    spark.sql("CREATE NAMESPACE sspec.db")
    spark.sql("CREATE TABLE sspec.db.ev (id INT, v STRING) USING graft")
    spark.sql("INSERT INTO sspec.db.ev VALUES (1,'a'),(2,'b')")
    // foreachBatch sink: supports checkpoint recovery (the memory sink
    // does not, by design — it refuses restart)
    val ck = Files.createTempDirectory("ss-ck").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    def start() = spark.readStream.table("sspec.db.ev")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("id").collect().foreach(r => seen.add(r.getInt(0)))
        ()
      }
      .option("checkpointLocation", ck).start()
    val q = start()
    q.processAllAvailable()
    assert(seen.size == 2) // initial replay of (1, 2)
    spark.sql("INSERT INTO sspec.db.ev VALUES (3,'c')")
    q.processAllAvailable()
    assert(seen.size == 3) // only the new append
    // compaction rewrites files but must not re-emit rows
    graft.lake.Maintenance.compact(spark,
      new SnapshotStore(Paths.get(wh, "db", "ev")))
    spark.sql("INSERT INTO sspec.db.ev VALUES (4,'d')")
    q.processAllAvailable()
    assert(seen.size == 4)
    q.stop()
    // restart from the same checkpoint: no reprocessing, tail continues
    spark.sql("INSERT INTO sspec.db.ev VALUES (5,'e')")
    val q2 = start()
    q2.processAllAvailable()
    assert(seen.size == 5)
    assert(seen.iterator().asScala.toSet == Set(1, 2, 3, 4, 5))
    q2.stop()
  }

  test("streaming appends into a lake table create one snapshot per batch") {
    val dir = Files.createTempDirectory("graft-stream-lake")
    val store = new SnapshotStore(dir.resolve("t"))
    store.init()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    store.commit(_ => graft.lake.Snapshot(1, None, 1L, "create",
      schema.json, Nil, Map.empty, Nil, Map.empty))

    implicit val sqlCtx = spark.sqlContext
    val ck = Files.createTempDirectory("graft-ck-lake").toString
    val input = MemoryStream[(Long, Double)]
    input.addData((1L, 1.0), (2L, 2.0))
    val stream = input.toDF().toDF("user_id", "value")
    Streams.streamIntoLakeTable(spark, stream, store, ck)
    assert(store.head().get.totalRows == 2)
    assert(store.head().get.operation == "append")
    // second batch, SAME checkpoint → resumes, appends only the new data
    input.addData((3L, 3.0))
    Streams.streamIntoLakeTable(spark, stream, store, ck)
    assert(store.head().get.totalRows == 3)
    assert(store.listVersions().size >= 3)
  }

  test("streaming CDC upsert: each batch lands as one O(batch) upsert commit") {
    val dir = Files.createTempDirectory("graft-stream-upsert")
    val store = new SnapshotStore(dir.resolve("t"))
    store.init()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("seq_no",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    store.commit(_ => graft.lake.Snapshot(1, None, 1L, "create",
      schema.json, Nil, Map.empty, Nil, Map.empty))

    implicit val sqlCtx = spark.sqlContext
    val ck = Files.createTempDirectory("graft-ck-upsert").toString
    val input = MemoryStream[(Long, Long, Double)]
    def readAll(): Map[Long, (Long, Double)] = {
      val head = store.head().get
      val df = graft.lake.GraftTable.liveRows(spark, store, head, head.files)
      df.select("user_id", "seq_no", "value").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    }
    // batch 1: two keys; key 1 appears TWICE — later seq_no must win
    input.addData((1L, 1L, 1.0), (1L, 2L, 1.5), (2L, 1L, 2.0))
    val stream = input.toDF().toDF("user_id", "seq_no", "value")
    Streams.upsertStreamIntoLakeTable(spark, stream, store,
      keys = Seq("user_id"), orderCol = "seq_no", ck)
    assert(readAll() == Map(1L -> (2L, 1.5), 2L -> (1L, 2.0)))
    assert(store.head().get.operation == "upsert")
    // batch 2: update key 2, add key 3 — key 1 untouched
    input.addData((2L, 5L, 2.5), (3L, 1L, 3.0))
    Streams.upsertStreamIntoLakeTable(spark, stream, store,
      keys = Seq("user_id"), orderCol = "seq_no", ck)
    assert(readAll() == Map(1L -> (2L, 1.5), 2L -> (5L, 2.5), 3L -> (1L, 3.0)))
    // deletes accumulated — rewrite folds them; content unchanged
    graft.lake.Maintenance.rewriteDeletes(spark, store)
    assert(store.head().get.deleteFiles.isEmpty)
    assert(readAll() == Map(1L -> (2L, 1.5), 2L -> (5L, 2.5), 3L -> (1L, 3.0)))
  }

  test("streaming ingest dedup admits each fingerprint exactly once across batches") {
    val dir = Files.createTempDirectory("graft-stream-dedup-ingest")
    val store = new SnapshotStore(dir.resolve("t"))
    store.init()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))
    store.commit(_ => graft.lake.Snapshot(1, None, 1L, "create",
      schema.json, Nil, Map.empty, Nil, Map.empty))

    implicit val sqlCtx = spark.sqlContext
    val ck = Files.createTempDirectory("graft-ck-dedup-ingest").toString
    val input = MemoryStream[(Long, String)]
    def indexDocs(): Set[Long] = {
      val head = store.head().get
      graft.lake.SchemaNames.readLogicalWithProvenance(spark, store, head.schema,
        head.files)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val stream = input.toDF().toDF("doc_id", "text")
    // batch 1: doc 2 duplicates doc 1 modulo case/whitespace (same
    // fingerprint — lowest doc_id wins); doc 3 is distinct
    input.addData((1L, "the cat sat"), (2L, "The  CAT   sat"), (3L, "dogs"))
    Streams.dedupIngestIntoLakeTable(spark, stream, store, ck)
    assert(indexDocs() == Set(1L, 3L))
    val v1 = store.head().get.version
    // batch 2: doc 4 re-sends batch-1 content (cross-batch dup, must not
    // re-admit), doc 5 is new
    input.addData((4L, "the cat sat"), (5L, "birds"))
    Streams.dedupIngestIntoLakeTable(spark, stream, store, ck)
    assert(indexDocs() == Set(1L, 3L, 5L))
    assert(store.head().get.version == v1 + 1, "one commit per batch")
    // batch 3: all duplicates — nothing admitted, NO empty commit
    input.addData((6L, "dogs"), (7L, "birds"))
    Streams.dedupIngestIntoLakeTable(spark, stream, store, ck)
    assert(indexDocs() == Set(1L, 3L, 5L))
    assert(store.head().get.version == v1 + 1,
      "an all-duplicate batch must not commit")
  }

  test("streaming ingest dedup classes NULL-text docs once, not forever") {
    val dir = Files.createTempDirectory("graft-stream-dedup-null")
    val store = new SnapshotStore(dir.resolve("t"))
    store.init()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))
    store.commit(_ => graft.lake.Snapshot(1, None, 1L, "create",
      schema.json, Nil, Map.empty, Nil, Map.empty))

    implicit val sqlCtx = spark.sqlContext
    val ck = Files.createTempDirectory("graft-ck-dedup-null").toString
    val input = MemoryStream[(Long, Option[String])]
    val stream = input.toDF().toDF("doc_id", "text")
    def index(): Map[String, Long] = {
      val head = store.head().get
      graft.lake.SchemaNames.readLogicalWithProvenance(spark, store, head.schema,
        head.files)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    // md5(NULL) is NULL and equi-joins drop NULL keys — without the
    // sentinel a NULL-text doc would be re-admitted by EVERY batch
    input.addData((1L, None), (2L, Some("real text")))
    Streams.dedupIngestIntoLakeTable(spark, stream, store, ck)
    assert(index().get("__null__") == Some(1L))
    input.addData((3L, None)) // cross-batch NULL dup: must not re-admit
    Streams.dedupIngestIntoLakeTable(spark, stream, store, ck)
    assert(index().values.toSet == Set(1L, 2L),
      "a later NULL-text doc must dedup against the sentinel class")
  }

  test("streaming NEAR-dup ingest rejects near-duplicates across micro-batches") {
    val Cat = "ndstreamcat"
    if (spark.conf.getOption(s"spark.sql.catalog.$Cat").isEmpty) {
      spark.conf.set(s"spark.sql.catalog.$Cat",
        classOf[graft.lake.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$Cat.warehouse",
        Files.createTempDirectory("graft-wh-ndstream").toString)
    }
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.ing")
    val (c, b) = (s"$Cat.ing.corpus", s"$Cat.ing.bands")
    spark.sql(s"CREATE TABLE $c (doc_id BIGINT, text STRING) USING graft")
    spark.sql(
      s"CREATE TABLE $b (band_idx INT, band_hash BIGINT, doc_id BIGINT) USING graft")
    def words(tag: String, k: Int) = (1 to k).map(i => s"$tag$i").mkString(" ")
    val baseA = words("alpha", 40)
    val nearA = words("alpha", 39) + " zzz"
    val baseB = words("beta", 40)

    implicit val sqlCtx = spark.sqlContext
    val ck = Files.createTempDirectory("graft-ck-ndingest").toString
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    def corpusIds() =
      spark.table(c).select("doc_id").collect().map(_.getLong(0)).toSet
    // batch 1: doc 2 is a near-dup of doc 1 → intra-batch collapse
    input.addData((1L, baseA), (2L, nearA))
    Streams.nearDupIngestIntoLakeTables(spark, stream, c, b, ck)
    assert(corpusIds() == Set(1L))
    // batch 2: doc 3 near-dups ADMITTED doc 1 via the band index; doc 4 new
    input.addData((3L, nearA), (4L, baseB))
    Streams.nearDupIngestIntoLakeTables(spark, stream, c, b, ck)
    assert(corpusIds() == Set(1L, 4L),
      "a near-dup of an earlier batch's admission must be rejected")
  }
}

/** Small accessor so the spec reuses the exact driver-facing query. */
object StreamingOpsAccess {
  def runWindow(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.operators.StreamingOps.qStreamWindow.fn(s, d)
}
