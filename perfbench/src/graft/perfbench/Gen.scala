package graft.perfbench

import java.time.LocalDate

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generators for the benchmark's inputs: TPC-H-shaped `customer`,
  * `orders` and `lineitem` (exact decimal money columns, so every aggregate
  * compares exactly), and the text / embedding / event corpus the declared
  * pipeline queries read. The same seed and scale give the same rows. */
object Gen {
  val Epoch: LocalDate = LocalDate.of(1992, 1, 1)
  val Cutoff: LocalDate = LocalDate.of(1995, 6, 17)
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  final case class Tpch(customers: Int, orders: Int, lineitems: Int)

  private def dec(cents: Long): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(cents, 2)

  def tpch(spark: SparkSession, seed: Long, scale: Double, dir: String): Tpch = {
    val rnd = new java.util.SplittableRandom(seed * 7919L + 11L)
    val nCust = math.max(50, (150000 * scale).toInt)
    val nOrd = math.max(500, (1500000 * scale).toInt)
    val cust = (1 to nCust).map { k =>
      Row(k.toLong, f"Customer#$k%09d", Segments(rnd.nextInt(Segments.size)),
        rnd.nextInt(25), dec(rnd.nextLong(-99999L, 999999L)))
    }
    val li = Array.newBuilder[Row]
    val ord = (1 to nOrd).map { k =>
      val od = Epoch.plusDays(rnd.nextInt(2405))
      val lines = 1 + rnd.nextInt(7)
      var total = 0L
      var open = 0
      (1 to lines).foreach { ln =>
        val qty = 1 + rnd.nextInt(50)
        val price = qty * rnd.nextLong(90000L, 200000L) / 100L
        val sd = od.plusDays(1 + rnd.nextInt(121))
        val flag = if (sd.isAfter(Cutoff)) "N" else if (rnd.nextBoolean()) "R" else "A"
        val status = if (sd.isAfter(Cutoff)) "O" else "F"
        if (status == "O") open += 1
        total += price
        li += Row(k.toLong, ln, rnd.nextLong(1L, 200000L), qty, dec(price),
          dec(rnd.nextInt(11)), dec(rnd.nextInt(9)), flag, status,
          java.sql.Date.valueOf(sd))
      }
      val st = if (open == 0) "F" else if (open == lines) "O" else "P"
      Row(k.toLong, 1L + rnd.nextInt(nCust), st, dec(total),
        java.sql.Date.valueOf(od), 0)
    }
    val lis = li.result()
    write(spark, cust, CustomerSchema, s"$dir/customer.parquet")
    write(spark, ord, OrdersSchema, s"$dir/orders.parquet")
    write(spark, lis.toSeq, LineitemSchema, s"$dir/lineitem.parquet")
    Tpch(nCust, nOrd, lis.length)
  }

  /** One parquet FILE per table at `path`, the layout of the corpus the
    * declared queries are written for (the streaming source links it). */
  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
      path: String): Unit = {
    val tmp = java.nio.file.Paths.get(path + ".parts")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = graft.lake.LocalMetaIO.list(tmp)
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no parquet part under $tmp"))
    java.nio.file.Files.move(part, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    graft.lake.LocalMetaIO.deleteTree(tmp)
  }

  val CustomerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_mktsegment", StringType), StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DecimalType(12, 2))))
  val OrdersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DecimalType(12, 2)),
    StructField("o_orderdate", DateType), StructField("o_shippriority", IntegerType)))
  val LineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType), StructField("l_quantity", IntegerType),
    StructField("l_extendedprice", DecimalType(12, 2)),
    StructField("l_discount", DecimalType(4, 2)), StructField("l_tax", DecimalType(4, 2)),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType)))

  def ddl(schema: StructType): String =
    schema.fields.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")

  private val Vocab = Seq("the", "a", "data", "table", "scan", "join", "agg",
    "row", "column", "query", "spark", "stream", "batch", "window", "merge",
    "sort", "hash", "key", "value", "part", "line", "order", "customer",
    "group", "filter", "vector", "fast", "slow", "big", "small", "lake",
    "snapshot", "commit", "file", "delete", "index", "token", "model",
    "engine", "cache", "plan", "shuffle", "partition", "schema", "metric",
    "trace", "layer", "split", "bloom", "prune")
  private val Langs = Seq("en", "en", "en", "de", "fr", "es", "zh")

  /** `documents` with a share of exact and near duplicates (a copy with a
    * few words changed), `embeddings` clustered around ten labels, and
    * `events` over 30 days for 150 users. */
  def corpus(spark: SparkSession, seed: Long, docs: Int, events: Int,
      dir: String): Unit = {
    val rnd = new java.util.SplittableRandom(seed * 104729L + 3L)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val docRows = (0 until docs).map { i =>
      val r = rnd.nextDouble()
      val text =
        if (i > 10 && r < 0.08) texts(rnd.nextInt(texts.size))
        else if (i > 10 && r < 0.2) {
          val w = texts(rnd.nextInt(texts.size)).split(' ')
          (0 until 1 + rnd.nextInt(3)).foreach(_ => w(rnd.nextInt(w.length)) =
            Vocab(rnd.nextInt(Vocab.size)))
          w.mkString(" ")
        } else if (r > 0.98) "!!! ??? ### " * (3 + rnd.nextInt(5))
        else Seq.fill(12 + rnd.nextInt(70))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
      texts += text
      Row(i.toLong, text, Langs(rnd.nextInt(Langs.size)), s"src${i % 20}",
        text.length.toLong)
    }
    write(spark, docRows, StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))),
      s"$dir/documents.parquet")

    val centers = Array.fill(10, 64)(rnd.nextDouble() * 2 - 1)
    val vecRows = (0 until docs).map { i =>
      val label = rnd.nextInt(10)
      val v = centers(label).map(c => (c * 0.3 + (rnd.nextDouble() - 0.5) * 0.2).toFloat)
      Row(i.toLong, v.toSeq, label)
    }
    write(spark, vecRows, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))), s"$dir/embeddings.parquet")

    val types = Seq("click", "signup", "error", "view", "purchase")
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val evRows = (0 until events).map { i =>
      val ts = t0.plusSeconds((i.toLong * 30 * 86400L) / events + rnd.nextInt(60))
      Row(i.toLong, ts, rnd.nextLong(0L, 150L), types(rnd.nextInt(types.size)),
        rnd.nextInt(2000) / 100.0, s"""{"k": ${rnd.nextInt(100)}}""")
    }
    write(spark, evRows, StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampNTZType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType))), s"$dir/events.parquet")
  }
}
