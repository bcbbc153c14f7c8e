package graft.perfbench

import java.nio.file.{FileAlreadyExistsException, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.connector.catalog.{Identifier, Table}

import graft.lake.{GraftCatalog, LocalMetaIO, MetaIO}

/** One timed operation of a workload, with the counters a traced run
  * records for it. */
final class Op(val id: Long, val cls: String) {
  @volatile var startMs: Long = 0L
  @volatile var startNs: Long = 0L
  @volatile var endMs: Long = 0L
  private val counters = new ConcurrentHashMap[String, java.lang.Double]()
  def add(name: String, v: Double): Unit =
    counters.merge(name, v, (a, b) => a + b)
  def get(name: String): Double =
    Option(counters.get(name)).map(_.doubleValue).getOrElse(0.0)
}

final case class Span(op: Long, id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long, detail: String)

/** Spans and counters recorded from outside the program, at the calls into
  * each layer's public seams. Everything stays in memory until the run
  * ends. With `on = false` (the untraced run) every hook is a no-op and
  * none of the wrappers below is installed. */
object Trace {
  @volatile var on: Boolean = false
  val OpProperty = "perfbench.op"

  private val spanIds = new AtomicLong()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Op]()
  private val parents = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val active = new ConcurrentHashMap[Long, Op]()
  /** Counters from threads no op owns (metadata pool workers) while more
    * than one op was in flight. */
  val unattributed = new Op(-1L, "none")

  def begin(op: Op): Unit = {
    current.set(op)
    parents.set(Nil)
    active.put(op.id, op)
  }
  def end(op: Op): Unit = {
    active.remove(op.id)
    current.remove()
  }

  /** The op the calling thread works for: its own, or — on a helper
    * thread — the one op in flight, when exactly one is. */
  def owner: Option[Op] = Option(current.get()).orElse {
    val it = active.values().iterator()
    if (!it.hasNext) None
    else {
      val o = it.next()
      if (it.hasNext) Some(unattributed) else Some(o)
    }
  }

  def count(name: String, v: Double = 1.0): Unit =
    if (on) owner.foreach(_.add(name, v))

  /** Time `body` as a child span of the calling thread's innermost span,
    * adding its milliseconds to counter `msCounter` when one is given. */
  def span[T](name: String, msCounter: String = null, detail: => String = "")(
      body: => T): T =
    if (!on) body
    else owner match {
      case Some(o) =>
        val id = spanIds.incrementAndGet()
        val parent = parents.get().headOption.getOrElse(0L)
        parents.set(id :: parents.get())
        val t0 = System.nanoTime()
        try body
        finally {
          val t1 = System.nanoTime()
          parents.set(parents.get().drop(1))
          if (msCounter != null) o.add(msCounter, (t1 - t0) / 1e6)
          spans.add(Span(o.id, id, parent, name, t0, t1, detail))
        }
      case _ => body
    }

  def record(op: Long, name: String, startNs: Long, endNs: Long,
      detail: String = ""): Unit =
    spans.add(Span(op, spanIds.incrementAndGet(), 0L, name, startNs, endNs,
      detail))
}

/** Counting delegate over the local metadata store: every call into the
  * `MetaIO` seam under `SnapshotStore` is counted (and timed for reads and
  * the commit's conditional create) against the op that made it. */
final class CountingMetaIO(d: MetaIO) extends MetaIO {
  private def isVersion(p: Path): Boolean =
    p.getFileName.toString.matches("v\\d+\\.json")
  private def isData(p: Path): Boolean =
    Option(p.getParent).exists(_.getFileName.toString == "data")

  override def readString(p: Path): String = {
    Trace.count("meta.io_reads")
    if (p.toString.contains("/metadata/manifests/"))
      Trace.count("meta.chunk_reads")
    Trace.span("meta-io", "meta.io_read_ms", s"read ${p.getFileName}")(
      d.readString(p))
  }
  override def createExclusive(p: Path, content: String): Unit = {
    Trace.count("meta.io_writes")
    if (!isVersion(p)) d.createExclusive(p, content)
    else {
      Trace.count("commit.attempts")
      try Trace.span("meta-io", "commit.put_ms", s"put ${p.getFileName}")(
        d.createExclusive(p, content))
      catch {
        case e: FileAlreadyExistsException =>
          Trace.count("commit.lost_races"); throw e
      }
    }
  }
  override def replaceAtomic(p: Path, content: String): Unit = {
    Trace.count("meta.io_writes"); d.replaceAtomic(p, content)
  }
  override def write(p: Path, content: String): Unit = {
    Trace.count("meta.io_writes"); d.write(p, content)
  }
  override def writeBytes(p: Path, bytes: Array[Byte]): Unit = {
    Trace.count("meta.io_writes"); d.writeBytes(p, bytes)
  }
  override def publish(src: Path, dst: Path): Unit = {
    Trace.count("meta.io_writes")
    if (isData(dst)) {
      Trace.count("write.files")
      Trace.count("write.bytes", scala.util.Try(d.size(src)).getOrElse(0L).toDouble)
    }
    d.publish(src, dst)
  }
  override def list(dir: Path): Seq[Path] = { Trace.count("meta.io_lists"); d.list(dir) }
  override def listTree(root: Path): Seq[Path] = {
    Trace.count("meta.io_lists"); d.listTree(root)
  }
  override def isDirectory(p: Path): Boolean = { Trace.count("meta.io_probes"); d.isDirectory(p) }
  override def isFile(p: Path): Boolean = { Trace.count("meta.io_probes"); d.isFile(p) }
  override def exists(p: Path): Boolean = { Trace.count("meta.io_probes"); d.exists(p) }
  override def mkdirs(p: Path): Unit = { Trace.count("meta.io_writes"); d.mkdirs(p) }
  override def size(p: Path): Long = { Trace.count("meta.io_probes"); d.size(p) }
  override def delete(p: Path): Boolean = { Trace.count("meta.io_writes"); d.delete(p) }
  override def deleteTree(root: Path): Unit = {
    Trace.count("meta.io_writes"); d.deleteTree(root)
  }
}

object CountingMetaIO {
  lazy val local = new CountingMetaIO(LocalMetaIO)
}

/** The catalog of a traced run: the `io` seam swapped for the counting
  * delegate (as an object-store catalog swaps it for its backend) and
  * `loadTable` timed. */
class TracedCatalog extends GraftCatalog {
  override protected val io: MetaIO = CountingMetaIO.local

  private def timed(what: String)(body: => Table): Table = {
    Trace.count("catalog.load_table_calls")
    Trace.span("catalog", "catalog.load_table_ms", what)(body)
  }
  override def loadTable(ident: Identifier): Table =
    timed(ident.toString)(super.loadTable(ident))
  override def loadTable(ident: Identifier, version: String): Table =
    timed(s"$ident@$version")(super.loadTable(ident, version))
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    timed(s"$ident@ts$timestamp")(super.loadTable(ident, timestamp))
}

/** Spark-side counters per op, keyed by the op id every job of the op
  * carries as a local property. Aggregated on the listener bus thread;
  * read only after the bus has drained. */
final class OpListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var taskMs, gcMs, shuffleBytes, spillBytes, bytesRead, rowsRead,
        bytesWritten = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long, Int)] // wall ms, job id
  }
  val byOp = mutable.HashMap.empty[Long, Acc]
  private val jobOp = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageOp = mutable.HashMap.empty[Int, Long]

  private def opOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(Trace.OpProperty)))
      .map(_.toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    opOf(e.properties).foreach { op =>
      jobOp(e.jobId) = op
      jobStart(e.jobId) = e.time
      byOp.getOrElseUpdate(op, new Acc).jobs += 1
    }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobOp.remove(e.jobId).foreach { op =>
      val t0 = jobStart.remove(e.jobId).getOrElse(e.time)
      byOp.getOrElseUpdate(op, new Acc).jobSpans += ((t0, e.time, e.jobId))
    }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    opOf(e.properties).foreach { op =>
      stageOp(e.stageInfo.stageId) = op
      byOp.getOrElseUpdate(op, new Acc).stages += 1
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageOp.get(e.stageId).foreach { op =>
      val a = byOp.getOrElseUpdate(op, new Acc)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.bytesRead += m.inputMetrics.bytesRead
        a.rowsRead += m.inputMetrics.recordsRead
        a.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
}

/** Load of the host while a run measured: steal share from `/proc/stat`
  * (as `graft.Bench` annotates its passes) and the 1-minute loadavg. */
object Host {
  def jiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().find(_.startsWith("cpu ")).getOrElse("")
        finally src.close()
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  /** Heap still in use after a full collection, in MB: what the run left
    * reachable (caches, metadata, blocks no one freed). */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1048576.0
  }

  /** CPU time of all this JVM's threads so far, in ns. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => 0L
    }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }
}
