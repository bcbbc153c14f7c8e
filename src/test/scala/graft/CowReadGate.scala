package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.lake._

/** Standing regression gate for the vectorized COW-read bridge
  * (VERDICT r5 #6): r5 measured the vectorized row-level scan 3.2× the
  * parquet-mr row path in isolation, but only via the manual
  * CowBenchMain — nothing failed if the bridge silently fell back to row
  * reads. This gate drains the SAME row-level LakeScan twice over a wide
  * table — once with `spark.sql.parquet.enableVectorizedReader=true`
  * (the shipping path) and once with it off (the old row path) — and
  * EXITS 2 unless (a) the shipping path actually produces columnar
  * readers and (b) it is ≥ 1.3× the row path (min-of-3 each; the 1.3
  * floor leaves ambient-load headroom under the isolated 3.2×).
  *
  * Run by tools/sf1_gate.sh:
  *   java -cp target/scala-2.13/classes:target/scala-2.13/test-classes:...
  *        graft.CowReadGate /tmp/sf1
  */
object CowReadGate {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1")
    val wh = Files.createTempDirectory("graft-cowgate-wh").toString
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.cg", classOf[GraftCatalog].getName)
      .config("spark.sql.catalog.cg.warehouse", wh)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    spark.sql("CREATE NAMESPACE cg.d")
    // the CowBenchMain shape: lineitem + 30 derived columns — wide enough
    // that per-field reader overhead dominates decode cost
    val base = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val wide = (1 to 30).foldLeft(base) { (df, i) =>
      df.withColumn(f"x$i%02d",
        org.apache.spark.sql.functions.col("l_extendedprice") * i)
    }
    wide.createOrReplaceTempView("src")
    spark.sql("CREATE TABLE cg.d.li USING iceberg AS SELECT * FROM src")
    val n = spark.sql("SELECT count(*) FROM cg.d.li").collect().head.getLong(0)

    val store = new SnapshotStore(java.nio.file.Paths.get(wh, "d", "li"))
    val snap = store.head().get
    val schema = org.apache.spark.sql.types.StructType(
      snap.schema.fields :+ org.apache.spark.sql.types.StructField(
        "_file", org.apache.spark.sql.types.StringType))

    /** Drain the row-level scan once; returns (seconds, sawColumnar). */
    def drain(vectorized: Boolean): (Double, Boolean) = {
      spark.conf.set("spark.sql.parquet.enableVectorizedReader",
        vectorized.toString)
      val t0 = System.nanoTime()
      val scan = new LakeScan(snap, store, schema, Array.empty, fileFilter = true)
      val parts = scan.planInputPartitions()
      val factories = parts.map(_ => scan.createReaderFactory())
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        cpus.toInt, (r: Runnable) => {
          val t = new Thread(r); t.setDaemon(true); t })
      val sawColumnar = new java.util.concurrent.atomic.AtomicBoolean(false)
      try {
        val rows = new java.util.concurrent.atomic.AtomicLong()
        parts.toSeq.zip(factories).map { case (p, factory) =>
          pool.submit(new Runnable {
            override def run(): Unit =
              if (factory.supportColumnarReads(p)) {
                sawColumnar.set(true)
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
          })
        }.foreach(_.get())
        require(rows.get() == n, s"read ${rows.get()} of $n rows")
      } finally pool.shutdown()
      ((System.nanoTime() - t0) / 1e9, sawColumnar.get())
    }

    drain(vectorized = true) // warmup (footer cache, JIT)
    // Interleaved (vec, row) pairs: this host's ambient load swings 1→20+
    // within minutes, and a phased min-of-3-then-min-of-3 once recorded the
    // vec block on a spike (ratio 0.57 in-gate vs 1.46 isolated minutes
    // later). Adjacent runs see near-identical load, so the gate judges the
    // BEST same-conditions pair: a silent fallback to the row path shows
    // ratio ≈ 1.0 in every pair, while a working bridge clears 1.3 in at
    // least one.
    val pairs = (1 to 3).map { _ =>
      val v = drain(vectorized = true)
      val r = drain(vectorized = false)
      (v, r)
    }
    val vecSec = pairs.map(_._1._1).min
    val rowSec = pairs.map(_._2._1).min
    val columnar = pairs.forall(_._1._2)
    val ratio = pairs.map(p => p._2._1 / p._1._1).max
    val ok = columnar && ratio >= 1.3
    println(f"""{"probe":"cow_read","rows":$n,"vectorized_sec":$vecSec%.2f,""" +
      f""""row_sec":$rowSec%.2f,"ratio":$ratio%.2f,"columnar":$columnar,""" +
      s""""pass":$ok}""")
    spark.stop()
    if (!ok) sys.exit(2)
  }
}
