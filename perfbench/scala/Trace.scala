package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval of the client thread. `op` is the operation it
  * belongs to (-1 outside any operation); `parent` indexes the
  * enclosing span (-1 for a root). Times are epoch nanoseconds. */
final case class Span(name: String, start: Long, end: Long, parent: Int, op: Int)

/** Counters of one job group (one operation phase). */
final class Agg {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, deserMs, spill = 0L
  var shRead, shWrite, inBytes, inRows, outBytes, waitMs = 0L
}

/** Everything the traced run records: client-thread spans, Spark
  * listener counters keyed by job group, and per-query Catalyst
  * telemetry from a [[QueryExecutionListener]]. Spans live in memory
  * and are written once when the run ends. */
final class Tracer(spark: SparkSession) {
  private val epoch0 = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Epoch nanoseconds from a monotonic reading. */
  def epochNs(mono: Long): Long = epoch0 + mono

  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var currentOp = -1
  var overheadNs = 0L

  def withOp[T](op: Int)(body: => T): T = {
    val prev = currentOp
    currentOp = op
    try body finally currentOp = prev
  }

  def span[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val idx = spans.size
    spans += Span(name, t0, t0, if (stack.isEmpty) -1 else stack.top, currentOp)
    stack.push(idx)
    try body
    finally {
      stack.pop()
      val t1 = System.nanoTime()
      spans(idx) = spans(idx).copy(end = t1)
      overheadNs += System.nanoTime() - t1
    }
  }

  // ---- Spark listener side (listener-bus thread) ----
  final class JobRec(val group: String, val start: Long, var end: Long)
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[(Int, Int), java.lang.Long]()
  val aggs = new ConcurrentHashMap[String, Agg]()
  private val lastEvent = new AtomicLong(System.nanoTime())
  /** Time spent inside the listener callbacks, on the bus thread. */
  val callbackNs = new AtomicLong(0L)
  private def cb(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    lastEvent.set(t0)
    try body finally callbackNs.addAndGet(System.nanoTime() - t0)
  }
  private def agg(g: String): Agg = aggs.computeIfAbsent(g, _ => new Agg)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = cb {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, new JobRec(g, e.time, -1L))
      e.stageIds.foreach(s => stageGroup.put(s, g))
      agg(g).synchronized { agg(g).jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = cb {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = cb {
      val si = e.stageInfo
      val at: Long = si.submissionTime.getOrElse(System.currentTimeMillis())
      stageSubmit.put((si.stageId, si.attemptNumber()), at)
      val g = stageGroup.getOrDefault(si.stageId, "")
      agg(g).synchronized { agg(g).stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = cb {
      val g = stageGroup.getOrDefault(e.stageId, "")
      val m = e.taskMetrics
      val a = agg(g)
      val sub = stageSubmit.get((e.stageId, e.stageAttemptId))
      a.synchronized {
        a.tasks += 1
        if (sub != null) a.waitMs += math.max(0L, e.taskInfo.launchTime - sub)
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.deserMs += m.executorDeserializeTime
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.shRead += m.shuffleReadMetrics.totalBytesRead
          a.shWrite += m.shuffleWriteMetrics.bytesWritten
          a.inBytes += m.inputMetrics.bytesRead
          a.inRows += m.inputMetrics.recordsRead
          a.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  // ---- Catalyst side ----
  /** One finished query execution: its planning start (epoch ms),
    * phase durations, Exchange count and the cache builders it read. */
  final class QeRec(val startMs: Long, val analysisMs: Long, val optMs: Long,
      val planMs: Long, val exchanges: Int, val scans: Seq[Int], val nested: Seq[Int])
  val qes = new java.util.concurrent.ConcurrentLinkedQueue[QeRec]()

  private def walk(p: SparkPlan, f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, f)
      case q: QueryStageExec => walk(q.plan, f)
      case _ =>
    }
    p.children.foreach(walk(_, f))
    p.subqueries.foreach(walk(_, f))
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = cb {
      try {
        val ph = qe.tracker.phases
        def d(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
        val start = ph.values.map(_.startTimeMs).minOption
          .getOrElse(System.currentTimeMillis())
        var ex = 0
        val scans = mutable.ArrayBuffer[Int]()
        val nested = mutable.ArrayBuffer[Int]()
        walk(qe.executedPlan, {
          case _: ReusedExchangeExec =>
          case _: Exchange => ex += 1
          case s: InMemoryTableScanExec =>
            scans += System.identityHashCode(s.relation.cacheBuilder)
            s.relation.cachedPlan.foreach {
              case n: InMemoryTableScanExec =>
                nested += System.identityHashCode(n.relation.cacheBuilder)
              case _ =>
            }
          case _ =>
        })
        qes.add(new QeRec(start, d("analysis"), d("optimization"), d("planning"),
          ex, scans.toSeq, nested.toSeq))
      } catch { case _: Throwable => () }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qel)

  /** Wait until every started job has ended and the bus has been quiet
    * for a moment, so the counters are complete. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 20L * 1000000000L
    def busy = jobs.values().asScala.exists(_.end < 0) ||
      System.nanoTime() - lastEvent.get() < 300L * 1000000L
    while (busy && System.nanoTime() < deadline) Thread.sleep(50)
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }
}
