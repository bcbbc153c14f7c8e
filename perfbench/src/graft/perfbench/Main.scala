package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, V1ScanWrapper}

/** What one op reports: whether it succeeded, how many times the client
  * re-ran it after a "concurrent commit" abort, and, for ops whose output
  * is checked after the run, the key and the result to check (canonical
  * text, or the rows themselves). */
final case class Outcome(ok: Boolean, reruns: Int = 0, error: String = "",
    checkKey: String = "", result: String = "", rows: Array[Row] = Array.empty)

/** An op: its class and its body. */
final case class Step(cls: String, run: () => Outcome)

/** One workload: set-up into a fresh location `rep`, then a closed loop of
  * `clients` threads, each asking `next` for its next op until the run's
  * time is up; `verify` checks every recorded op's output after the run. */
trait Workload {
  def clients: Int
  /** Timed set-ups per run, after one untimed set-up that warms the JVM;
    * `setup_s` is their median and the last one serves the measured ops. */
  def setupReps: Int = 3
  def setup(rep: Int): Unit
  def next(client: Int): Step
  /** Checks the ops' recorded results and the final state; returns the
    * ids of ops whose output was wrong plus failed final-state checks. */
  def verify(ops: Seq[Done]): Verdict
  /** Whether `client` may stop once the run's time is up: true between
    * any two ops, unless the workload's unit of work spans several ops. */
  def atBoundary(client: Int): Boolean = true
  /** Workload figures printed next to the metrics (share of rows, sizes). */
  def facts(): Map[String, Double] = Map.empty
}

final case class Verdict(badOps: Set[Long], failedChecks: Seq[String])

final case class Done(op: Op, ms: Double, outcome: Outcome)

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, out: Path, work: Path, scale: Double, cores: Int,
    corruptExpected: Boolean)

object Main {

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", Paths.get(m("out")), Paths.get(m("work")),
      m.getOrElse("scale", "1").toDouble,
      m.getOrElse("cores", Runtime.getRuntime.availableProcessors().toString).toInt,
      m.getOrElse("corrupt-expected", "0") == "1")
  }

  def session(a: Args): SparkSession = {
    val catalogClass =
      if (a.trace) classOf[TracedCatalog].getName
      else classOf[graft.lake.GraftCatalog].getName
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.lake.GraftSqlExtensions")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // the pipeline's declared lake queries use the catalog named `graft`;
      // naming it here keeps their warehouse inside the run's directory
      .config("spark.sql.catalog.graft", catalogClass)
      .config("spark.sql.catalog.graft.warehouse", a.work.resolve("wh-graft").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def phase(what: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s: $what")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    Trace.on = a.trace
    val spark = session(a)
    phase("session up")
    val listener = new OpListener
    if (a.trace) spark.sparkContext.addSparkListener(listener)
    val w: Workload = a.workload match {
      case "lake_query" => new LakeQuery(spark, a)
      case "lake_write" => new LakeWrite(spark, a)
      case "pipeline" => new PipelineWork(spark, a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    phase("inputs generated")
    try run(spark, a, w, listener)
    finally spark.stop()
  }

  private def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)

  def run(spark: SparkSession, a: Args, w: Workload, listener: OpListener): Unit = {
    val setupTimes = (0 to w.setupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    phase(s"set up ${setupTimes.map(t => f"$t%.2f").mkString(" ")} s (the first untimed)")

    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val ids = new AtomicLong()
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val cpu0 = Host.jiffies()
    val load0 = Host.loadavg()
    val cpuNs0 = Host.processCpuNs()
    val wall0 = System.nanoTime()
    val errors = new AtomicInteger()
    // each client's own measured wall: clients stop at their own block
    // boundaries, so one idle at the end must not dilute the throughput
    val clientOps = new Array[Int](w.clients)
    val clientWallS = new Array[Double](w.clients)
    val threads = (0 until w.clients).map { c =>
      val t = new Thread(() => {
        while (System.nanoTime() < deadline || !w.atBoundary(c)) {
          val step = w.next(c)
          val op = new Op(ids.incrementAndGet(), step.cls)
          spark.sparkContext.setLocalProperty(Trace.OpProperty, op.id.toString)
          Trace.begin(op)
          op.startMs = System.currentTimeMillis()
          val t0 = System.nanoTime()
          op.startNs = t0
          val out =
            try step.run()
            catch { case e: Throwable => Outcome(ok = false, error = Errors.describe(e)) }
          val ms = (System.nanoTime() - t0) / 1e6
          op.endMs = System.currentTimeMillis()
          Trace.end(op)
          spark.sparkContext.setLocalProperty(Trace.OpProperty, null)
          if (a.trace) Trace.record(op.id, s"op:${op.cls}", t0, t0 + (ms * 1e6).toLong)
          if (!out.ok && errors.incrementAndGet() <= 5)
            System.err.println(s"[perfbench] op ${op.id} ${op.cls} failed: ${out.error}")
          done.add(Done(op, ms, out))
          clientOps(c) += 1
        }
        clientWallS(c) = (System.nanoTime() - wall0) / 1e9
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    val wallS = (System.nanoTime() - wall0) / 1e9
    val cpuS = (Host.processCpuNs() - cpuNs0) / 1e9
    val steal = Host.stealShare(cpu0, Host.jiffies())
    val load = (load0 + Host.loadavg()) / 2
    val ops = done.asScala.toSeq.sortBy(_.op.id)

    phase(s"measured ${ops.size} ops")
    val verdict = w.verify(ops)
    phase("verified")
    val bad = ops.filter(d => !d.outcome.ok || verdict.badOps.contains(d.op.id))
    val attempted = ops.size + verdict.failedChecks.size
    val failed = bad.size + verdict.failedChecks.size
    verdict.failedChecks.foreach(c => System.err.println(s"[perfbench] check failed: $c"))
    bad.take(5).foreach(d => System.err.println(
      s"[perfbench] wrong or failed op ${d.op.id} (${d.op.cls}) ${d.outcome.error.take(300)}"))

    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    val lat = ops.map(_.ms)
    e2e("setup_s") = (median(setupTimes.tail), "s")
    e2e("ops_per_s") = ((0 until w.clients).map(c => clientOps(c) / clientWallS(c)).sum, "1/s")
    // a geometric mean: every op counts by the ratio its own latency
    // changes, so speeding up any op class (or any one pipeline query)
    // shows; per-class p50/p90 are printed, not gated
    e2e("gmean_latency_ms") = (Stats.gmean(lat), "ms")
    e2e("heap_live_mb") = (Host.liveHeapMb(), "MB")

    // the per-class figures, printed by name for reading; the
    // JSON line carries the declared, workload-independent metrics
    val byClass = ops.groupBy(_.op.cls).toSeq.sortBy(_._1)
    val info = mutable.LinkedHashMap.empty[String, (Double, String)]
    byClass.foreach { case (cls, ds) =>
      val l = ds.map(_.ms)
      info(s"${cls}_n") = (ds.size.toDouble, "count")
      info(s"${cls}_p50_ms") = (Stats.quantile(l, 0.5), "ms")
      info(s"${cls}_p90_ms") = (Stats.quantile(l, 0.9), "ms")
    }
    info("peak_rss_mb") = (Host.peakRssMb(), "MB")
    info("failed_share") = (if (attempted > 0) failed.toDouble / attempted else 0.0, "share")
    info("statement_reruns") = (ops.map(_.outcome.reruns).sum.toDouble, "count")
    info("host.steal_share") = (steal, "share")
    info("host.loadavg") = (load, "load")
    w.facts().foreach { case (k, v) => info(k) = (v, "") }

    val layers =
      if (!a.trace) Map.empty[String, (Double, String)]
      else Layers.compute(spark, a, ops, listener, wallS, steal, load, info)

    Report.write(a, correct = failed == 0, attempted, failed, e2e, info,
      layers, setupTimes, ops, wall0, cpuS)
  }

  def canon(rows: Array[Row]): String =
    rows.map(r => r.toSeq.map(v => if (v == null) "NULL" else v.toString).mkString("|"))
      .mkString("\n")

  /** Run a query op split into planning (`executedPlan`) and execution
    * (`collect`), recording the scan's file pruning from its plan. */
  def query(spark: SparkSession, sql: String): Array[Row] =
    queryDf(spark.sql(sql))

  def queryDf(build: => DataFrame): Array[Row] = {
    val df = Trace.span("plan", "plan.ms") {
      val d = build
      d.queryExecution.executedPlan
      d
    }
    if (Trace.on) {
      Trace.count("plan.query_ops")
      // graft scans describe their pruning as `files=kept/total`
      val m = "files=(\\d+)/(\\d+)".r
      df.queryExecution.optimizedPlan.collectWithSubqueries {
        case DataSourceV2ScanRelation(_, w: V1ScanWrapper, _, _, _) => w.v1Scan.description()
        case r: DataSourceV2ScanRelation => r.scan.description()
      }.flatMap(m.findFirstMatchIn).foreach { x =>
        Trace.count("plan.files_kept", x.group(1).toDouble)
        Trace.count("plan.files_total", x.group(2).toDouble)
      }
    }
    val rows = Trace.span("exec", "exec.ms")(df.collect())
    Trace.count("rows.out", rows.length)
    rows
  }
}

object Errors {
  def chain(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq
  def describe(e: Throwable): String =
    chain(e).map(x => s"${x.getClass.getSimpleName}: ${x.getMessage}").mkString(" <- ")
  def isConcurrentCommit(e: Throwable): Boolean =
    chain(e).exists(x => Option(x.getMessage).exists(_.contains("concurrent commit")))
}

object Mix {
  /** Fisher-Yates shuffle driven by the workload's seeded generator. */
  def shuffled[T](rnd: java.util.SplittableRandom, xs: Seq[T]): Seq[T] = {
    val b = xs.toBuffer
    (b.size - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1)
      val t = b(i); b(i) = b(j); b(j) = t
    }
    b.toSeq
  }
}

object Stats {
  /** Geometric mean of positive values; 0 for an empty sample. */
  def gmean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-3))).sum / xs.size)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
