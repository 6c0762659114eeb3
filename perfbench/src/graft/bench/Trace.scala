package graft.bench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the enclosing span's id
  * (0 at the top); spans of one request or pass share `request`. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, request: String)

/** Spark work attributed to one span through its job group. */
final class LayerCounts {
  var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleBytes = 0L; var rowsRead = 0L; var bytesWritten = 0L
  var scans = 0L; var exchanges = 0L
  def add(o: LayerCounts): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleBytes += o.shuffleBytes; rowsRead += o.rowsRead
    bytesWritten += o.bytesWritten; scans += o.scans; exchanges += o.exchanges
  }
}

object Trace {

  /** Self time per span: its duration minus the union of the intervals
    * its direct children cover (children may overlap each other, and a
    * child is clipped to its parent). */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }

  /** Scan and exchange operators of an executed plan, looking through
    * adaptive wrappers, query stages and subqueries. */
  def planShape(plan: SparkPlan): (Long, Long) = {
    var scans = 0L; var exchanges = 0L
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _: ReusedExchangeExec => exchanges += 1
        case e: Exchange => exchanges += 1; e.children.foreach(walk)
        case s @ (_: FileSourceScanExec | _: BatchScanExec) => scans += 1
        case other => other.children.foreach(walk)
      }
      if (!p.isInstanceOf[AdaptiveSparkPlanExec] && !p.isInstanceOf[QueryStageExec])
        p.subqueries.foreach(walk)
    }
    walk(plan)
    (scans, exchanges)
  }
}

/** Span recorder. Disabled, `span` only runs its body: the untraced
  * run pays no job-group or bookkeeping cost. Enabled, each span sets a
  * Spark job group `bench-<id>` for its duration, so the listener can
  * add up the task metrics of the jobs it started. */
final class Tracer(sc: SparkContext, var enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val stack = mutable.Stack[Long]()
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = new ConcurrentHashMap[Long, LayerCounts]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val groupPrefix = "bench-"

  private def countsOf(span: Long): LayerCounts =
    counts.computeIfAbsent(span, _ => new LayerCounts)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(groupPrefix)).foreach { g =>
          val span = g.stripPrefix(groupPrefix).toLong
          countsOf(span).synchronized(countsOf(span).jobs += 1)
          e.stageInfos.foreach(si => stageSpan.put(si.stageId, span))
        }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.get(e.stageId)
      if (span != 0L && e.taskMetrics != null) {
        val c = countsOf(span); val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          c.rowsRead += m.inputMetrics.recordsRead
          c.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  /** Plan shapes of the SQL actions run while a span was innermost;
    * the listener bus is drained at span end, so every action's event
    * has arrived before the next span starts. */
  private val pending = mutable.ArrayBuffer.empty[QueryExecution]
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      pending.synchronized(pending += qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def span[A](name: String, request: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0L)
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      stack.push(id)
      sc.setJobGroup(s"$groupPrefix$id", name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
        spans += Span(id, name, t0, t1, parent, request)
        org.apache.spark.graftbench.BusBridge.drain(sc)
        val qes = pending.synchronized { val q = pending.toList; pending.clear(); q }
        val c = countsOf(id)
        qes.foreach { qe =>
          val (s, x) = Trace.planShape(qe.executedPlan)
          c.scans += s; c.exchanges += x
        }
      }
    }

  /** Counts of each span including every descendant. */
  def inclusiveCounts: Map[Long, LayerCounts] = {
    val kids = spans.groupBy(_.parent)
    val memo = mutable.Map.empty[Long, LayerCounts]
    def total(id: Long): LayerCounts = memo.getOrElseUpdate(id, {
      val t = new LayerCounts
      Option(counts.get(id)).foreach(t.add)
      kids.getOrElse(id, Nil).foreach(k => t.add(total(k.id)))
      t
    })
    spans.map(s => s.id -> total(s.id)).toMap
  }

  /** Spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        f""""parent":${s.parent},"request":"${s.request}"}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Block-manager storage peak of cached data: current bytes held per
  * RDD block (memory plus disk), summed, with the running maximum.
  * Broadcast pieces are left out: they are freed only after the driver
  * collects garbage, so their peak follows GC timing, not the program.
  * Registered in every run, traced or not — it only reacts to block
  * updates. */
final class StorageListener extends SparkListener {
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  private val current = new AtomicLong(0)
  private val peakBytes = new AtomicLong(0)
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = info.memSize + info.diskSize
      val key = info.blockId.name
      val old = Option(blocks.put(key, size)).map(_.longValue).getOrElse(0L)
      if (size == 0L) blocks.remove(key)
      val now = current.addAndGet(size - old)
      peakBytes.accumulateAndGet(now, (a, b) => math.max(a, b))
    }
  }
  def peak: Long = peakBytes.get
  def reset(): Unit = peakBytes.set(current.get)
}
