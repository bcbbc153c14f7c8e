package graft.perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Per-layer figures of a traced run, per op, from the op counters
  * (catalog, metadata IO, commit, plan, write), the Spark listener and the
  * workload's own facts. Also writes the spans and the per-class split
  * (`<metric>.<class>`) next to the run's result. */
object Layers {

  def compute(spark: SparkSession, a: Args, ops: Seq[Done],
      listener: OpListener, wallS: Double, steal: Double, load: Double,
      info: mutable.LinkedHashMap[String, (Double, String)])
      : Map[String, (Double, String)] = {
    org.apache.spark.perfbenchbridge.ListenerDrain(spark.sparkContext)
    val cores = a.cores
    def facts(k: String) = info.get(k).map(_._1).getOrElse(0.0)

    def figures(ds: Seq[Done], withUnattributed: Boolean)
        : mutable.LinkedHashMap[String, (Double, String)] = {
      val n = math.max(ds.size, 1).toDouble
      def sum(k: String): Double = ds.map(_.op.get(k)).sum +
        (if (withUnattributed) Trace.unattributed.get(k) else 0.0)
      def acc(d: Done) = listener.byOp.get(d.op.id)
      def lsum(f: OpListener#Acc => Long): Double =
        ds.flatMap(acc).map(x => f(x).toDouble).sum
      val wallMs = ds.map(_.ms).sum
      // planning: the executedPlan span for query ops; for command and
      // pipeline ops the time before their first Spark job
      val planMs = ds.map { d =>
        if (d.op.get("plan.query_ops") > 0) d.op.get("plan.ms")
        else acc(d).flatMap(_.jobSpans.map(_._1).minOption)
          .map(j => math.max(0.0, math.min(d.ms, (j - d.op.startMs).toDouble)))
          .getOrElse(d.ms)
      }
      val gapMs = ds.map { d =>
        val spans = acc(d).map(_.jobSpans.toSeq).getOrElse(Nil)
          .map { case (s, e, _) => (math.max(s, d.op.startMs), math.min(e, d.op.endMs)) }
          .filter { case (s, e) => e > s }.sortBy(_._1)
        var busy = 0L
        var cur = Long.MinValue
        spans.foreach { case (s, e) =>
          val from = math.max(s, cur)
          if (e > from) busy += e - from
          cur = math.max(cur, e)
        }
        math.max(0.0, d.ms - busy)
      }
      val attempts = sum("commit.attempts")
      val commits = attempts - sum("commit.lost_races")
      val queryDs = ds.filter(_.op.get("plan.query_ops") > 0)
      val rowsOut = queryDs.map(_.op.get("rows.out")).sum
      val rowsRead = queryDs.flatMap(acc).map(_.rowsRead.toDouble).sum
      val filesTotal = sum("plan.files_total")
      def per(x: Double) = x / n
      def ratio(x: Double, y: Double) = if (y > 0) x / y else 0.0
      val dmlBytes = ds.filter(_.op.get("rows.changed") > 0).map { d =>
        d.op.get("write.bytes") + acc(d).map(_.bytesWritten.toDouble).getOrElse(0.0)
      }.sum
      val m = mutable.LinkedHashMap.empty[String, (Double, String)]
      m("catalog.load_table_calls") = (per(sum("catalog.load_table_calls")), "count")
      m("catalog.load_table_ms") = (per(sum("catalog.load_table_ms")), "ms")
      m("meta.io_reads") = (per(sum("meta.io_reads")), "count")
      m("meta.io_read_ms") = (per(sum("meta.io_read_ms")), "ms")
      m("meta.io_lists") = (per(sum("meta.io_lists")), "count")
      m("meta.io_probes") = (per(sum("meta.io_probes")), "count")
      m("meta.chunk_reads") = (per(sum("meta.chunk_reads")), "count")
      m("meta.io_writes") = (per(sum("meta.io_writes")), "count")
      m("commit.commits") = (per(commits), "count")
      m("commit.attempts_per_commit") = (ratio(attempts, commits), "count")
      m("commit.lost_races") = (per(sum("commit.lost_races")), "count")
      m("commit.put_share") = (ratio(sum("commit.put_ms"), wallMs), "share")
      m("commit.statement_reruns") = (per(sum("commit.statement_reruns")), "count")
      m("plan.ms") = (per(planMs.sum), "ms")
      m("plan.files_kept_share") = (ratio(sum("plan.files_kept"), filesTotal), "share")
      m("exec.ms") = (per(wallMs - planMs.sum), "ms")
      m("scan.bytes_read") = (per(lsum(_.bytesRead)), "B")
      m("scan.rows_read_per_row_out") = (ratio(rowsRead, rowsOut), "ratio")
      m("scan.delete_files_live") = (facts("delete_files_live"), "count")
      m("write.files_per_commit") = (ratio(sum("write.files"), commits), "count")
      m("write.bytes_per_row_added") =
        (ratio(ds.filter(_.op.get("rows.added") > 0).map(_.op.get("write.bytes")).sum,
          sum("rows.added")), "B/row")
      m("write.bytes_rewritten_per_row_changed") =
        (ratio(dmlBytes, sum("rows.changed")), "B/row")
      m("storage.bytes_per_live_row") = (facts("bytes_per_live_row"), "B/row")
      m("maint.compact_share") = (ratio(sum("maint.compact_ms"), wallMs), "share")
      m("maint.expire_share") = (ratio(sum("maint.expire_ms"), wallMs), "share")
      m("maint.files_rewritten") =
        (per(ds.filter(_.op.cls == "maint").map(_.op.get("write.files")).sum), "count")
      m("spark.jobs") = (per(lsum(_.jobs)), "count")
      m("spark.stages") = (per(lsum(_.stages)), "count")
      m("spark.tasks") = (per(lsum(_.tasks)), "count")
      m("spark.task_ms") = (per(lsum(_.taskMs)), "ms")
      m("spark.gc_ms") = (per(lsum(_.gcMs)), "ms")
      m("spark.shuffle_bytes") = (per(lsum(_.shuffleBytes)), "B")
      m("spark.spill_bytes") = (per(lsum(_.spillBytes)), "B")
      m("spark.core_busy_share") = (ratio(lsum(_.taskMs), wallMs * cores), "share")
      m("spark.driver_gap_ms") = (per(gapMs.sum), "ms")
      m("ckpt.live_rdds_after_op") = (per(sum("ckpt.live_rdds")), "count")
      m
    }

    val all = figures(ops, withUnattributed = true)
    all("host.steal_share") = (steal, "share")
    all("host.loadavg") = (load, "load")
    // the traced run's own end-to-end figures: minus the untraced run's of
    // the same seed, they are the tracing overhead
    all("trace.gmean_latency_ms") = (Stats.gmean(ops.map(_.ms)), "ms")
    all("trace.ops_per_s") = (ops.size / wallS, "1/s")
    val spans = Trace.spans.asScala.toSeq
    all("trace.spans_per_op") = (spans.size.toDouble / math.max(ops.size, 1), "count")

    val perClass = ops.groupBy(_.op.cls).toSeq.sortBy(_._1).flatMap {
      case (cls, ds) => figures(ds, withUnattributed = false).map {
        case (k, v) => s"$k.$cls" -> v
      }
    }
    // Spark jobs as spans of their op, moved from the listener's wall clock
    // onto the op's nanosecond clock
    for (d <- ops; acc <- listener.byOp.get(d.op.id); (s, e, job) <- acc.jobSpans)
      Trace.record(d.op.id, "spark-job", d.op.startNs + (s - d.op.startMs) * 1000000L,
        d.op.startNs + (e - d.op.startMs) * 1000000L, s"job $job")
    writeSpans(a, ops, Trace.spans.asScala.toSeq)
    val split = a.out.resolveSibling(a.out.getFileName.toString + ".classes.json")
    Files.writeString(split, Report.obj(perClass.map { case (k, (v, u)) =>
      k -> Report.metric(v, u) }))
    all.toMap
  }

  private def writeSpans(a: Args, ops: Seq[Done], spans: Seq[Span]): Unit = {
    val cls = ops.map(d => d.op.id -> d.op.cls).toMap
    val p = a.out.resolveSibling(a.out.getFileName.toString + ".spans.jsonl")
    val sb = new StringBuilder
    spans.sortBy(s => (s.op, s.startNs)).foreach { s =>
      sb ++= Report.obj(Seq(
        "op" -> s.op.toString, "class" -> Report.str(cls.getOrElse(s.op, "")),
        "span" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Report.str(s.name), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString, "detail" -> Report.str(s.detail)))
      sb += '\n'
    }
    Files.writeString(p, sb.toString)
  }
}

object Report {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  def metric(v: Double, unit: String): String =
    obj(Seq("value" -> num(v), "unit" -> str(unit)))
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def write(a: Args, correct: Boolean, attempted: Int, failed: Int,
      e2e: collection.Map[String, (Double, String)],
      info: collection.Map[String, (Double, String)],
      layers: collection.Map[String, (Double, String)],
      setupTimes: Seq[Double], ops: Seq[Done], wall0: Long, cpuS: Double): Unit = {
    val metrics = if (a.trace) layers else e2e
    def ms(m: collection.Map[String, (Double, String)]) =
      obj(m.toSeq.map { case (k, (v, u)) => k -> metric(v, u) })
    val json = obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> ms(metrics),
      "workload" -> str(a.workload),
      "seed" -> a.seed.toString,
      "trace" -> (if (a.trace) "1" else "0"),
      "end_to_end" -> ms(e2e),
      "info" -> ms(info),
      "setup_runs_s" -> setupTimes.map(num).mkString("[", ", ", "]"),
      "cpu_s" -> num(cpuS),
      // every op: class, start (ms into the measured window), latency ms
      "ops" -> ops.map(d => s"[${str(d.op.cls)}, ${num((d.op.startNs - wall0) / 1e6)}, " +
        s"${num(d.ms)}]").mkString("[", ", ", "]")))
    Files.writeString(a.out, json + "\n")
  }
}
