package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.lake._

/** A/B timing harness for the COW rewrite READ path: loads sf1 lineitem
  * (6M rows, 11 cols) into a lake table, then times UPDATE and MERGE
  * statements that rewrite every file — the read side is the variable
  * under test (parquet-mr Group reader vs Spark's vectorized reader);
  * the write side is identical. Prints one JSON line per op.
  *
  * Usage: Test/runMain graft.CowBenchMain /tmp/sf1
  */
object CowBenchMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/tmp/sf1"
    val wh = Files.createTempDirectory("graft-cowbench-wh").toString
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.cb", classOf[GraftCatalog].getName)
      .config("spark.sql.catalog.cb.warehouse", wh)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def sql(q: String) = spark.sql(q)

    sql("CREATE NAMESPACE cb.d")
    // WIDE table: lineitem plus 30 derived columns (~41 total) — the shape
    // where per-row/per-field reader overhead dominates decode cost
    val base = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val wide = (1 to 30).foldLeft(base) { (df, i) =>
      df.withColumn(f"x$i%02d",
        org.apache.spark.sql.functions.col("l_extendedprice") * i)
    }
    wide.createOrReplaceTempView("src")
    sql("""CREATE TABLE cb.d.li USING iceberg AS SELECT * FROM src""")
    val n = sql("SELECT count(*) FROM cb.d.li").collect().head.getLong(0)

    // min-of-3: this host's ambient load swings single measurements 2-3x;
    // the minimum is the least-contended estimate (same policy as Bench)
    def time(label: String)(op: => Unit): Unit = {
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        op
        (System.nanoTime() - t0) / 1e9
      }
      val all = secs.map(s => f"$s%.2f").mkString("[", ",", "]")
      println(f"""{"op":"$label","sec":${secs.min}%.2f,"all":$all,"rows":$n}""")
    }

    // PURE READ of the COW path (no write side): plan the row-level scan
    // directly and drain every partition's reader on a thread pool — this
    // is the component the reader swap targets; update/merge below give
    // the end-to-end context where the write side dilutes it
    time("cow_read_scan") {
      val store = new SnapshotStore(java.nio.file.Paths.get(wh, "d", "li"))
      val snap = store.head().get
      val scan = new LakeScan(snap, store,
        org.apache.spark.sql.types.StructType(
          snap.schema.fields :+ org.apache.spark.sql.types.StructField(
            "_file", org.apache.spark.sql.types.StringType)),
        Array.empty, fileFilter = true)
      val parts = scan.planInputPartitions()
      // one factory per partition, mirroring real execution (each Spark
      // task deserializes its OWN factory copy; a single shared instance
      // is outside the DSv2 contract and races inside Spark's parquet
      // factory)
      val factories = parts.map(_ => scan.createReaderFactory())
      val pool = java.util.concurrent.Executors.newFixedThreadPool(32,
        (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
      try {
        val rows = new java.util.concurrent.atomic.AtomicLong()
        val tasks = parts.toSeq.zip(factories).map { case (p, factory) =>
          pool.submit(new Runnable {
            override def run(): Unit = {
              if (factory.supportColumnarReads(p)) {
                val r = factory.createColumnarReader(p)
                try {
                  var c = 0L
                  while (r.next()) c += r.get().numRows()
                  rows.addAndGet(c)
                } finally r.close()
              } else {
                val r = factory.createReader(p)
                try {
                  var c = 0L
                  while (r.next()) { r.get(); c += 1 }
                  rows.addAndGet(c)
                } finally r.close()
              }
            }
          })
        }
        tasks.foreach(_.get())
        require(rows.get() == n, s"read ${rows.get()} of $n rows")
      } finally pool.shutdown()
    }

    // touches every file (no runtime group filtering escape): pure
    // full-table COW rewrite, read+write
    time("update_all_files") {
      sql("UPDATE cb.d.li SET l_quantity = l_quantity + 1 WHERE l_orderkey % 10 = 0")
    }
    // MERGE rewrite: upsert-style with a 10%-of-rows source
    sql("SELECT * FROM src WHERE l_orderkey % 10 = 1")
      .createOrReplaceTempView("delta")
    time("merge_all_files") {
      sql("""MERGE INTO cb.d.li t USING delta s
             ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
               AND t.l_partkey = s.l_partkey AND t.l_suppkey = s.l_suppkey
             WHEN MATCHED THEN UPDATE SET l_tax = s.l_tax + 0.01
             WHEN NOT MATCHED THEN INSERT *""")
    }
    val check = sql("SELECT count(*) FROM cb.d.li").collect().head.getLong(0)
    println(s"""{"final_rows":$check}""")
    spark.stop()
  }
}
