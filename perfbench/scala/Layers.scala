package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.json4s._

/** Folds a [[Tracer]]'s raw records into per-operation layer figures.
  * Jobs carry their operation in the job group (`pb-<op>-c` for the
  * constructor, `pb-<op>-x` for the rest); untagged jobs and query
  * executions are attributed by time to the operation running then. */
object Layers {

  private def opOfGroup(g: String): Option[Int] = g.split("-") match {
    case Array("pb", op, _) => op.toIntOption
    case _ => None
  }

  /** Length of the union of [lo, hi) intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total, end = 0L
    var start = Long.MinValue
    iv.sortBy(_._1).foreach { case (lo, hi) =>
      if (lo > end || start == Long.MinValue) {
        if (start != Long.MinValue) total += end - start
        start = lo; end = hi
      } else end = math.max(end, hi)
    }
    if (start != Long.MinValue) total += end - start
    total
  }

  def perOp(t: Tracer, ops: Seq[Op]): Map[Int, Map[String, JValue]] = {
    val ms = (mono: Long) => t.epochNs(mono) / 1000000L
    val windows = ops.map(o => (o.id, ms(o.t0), ms(o.t1)))
    def opAt(tMs: Long): Option[Int] =
      windows.find { case (_, lo, hi) => tMs >= lo && tMs <= hi }.map(_._1)

    val jobsByOp = mutable.Map[Int, mutable.ArrayBuffer[t.JobRec]]()
    t.jobs.values().asScala.foreach { j =>
      val op = opOfGroup(j.group).orElse(
        if (j.group.isEmpty) opAt(j.start) else None)
      op.foreach(o => jobsByOp.getOrElseUpdate(o, mutable.ArrayBuffer()) += j)
    }
    val aggsByOp = t.aggs.asScala.toSeq.flatMap { case (g, a) => opOfGroup(g).map(_ -> a) }
      .groupMap(_._1)(_._2)
    // cache frames: the first operation whose plan scans a builder
    // built it; a later operation's scan of it is a reuse
    val builtBy = mutable.Map[Int, Int]()
    val qesByOp = mutable.Map[Int, mutable.ArrayBuffer[t.QeRec]]()
    t.qes.asScala.toSeq.sortBy(_.startMs).foreach { q =>
      opAt(q.startMs).foreach(o =>
        qesByOp.getOrElseUpdate(o, mutable.ArrayBuffer()) += q)
    }
    // construct/exec spans give the execute window of each op
    val execSpan = t.spans.filter(s => s.name == "exec" || s.name.startsWith("op."))
      .groupBy(_.op)

    ops.map { op =>
      val aggs = aggsByOp.getOrElse(op.id, Nil)
      def sumA(f: Agg => Long): Long = aggs.map(f).sum
      val jobs = jobsByOp.getOrElse(op.id, Nil).toSeq
      val qes = qesByOp.getOrElse(op.id, Nil).toSeq
      var builds, scans, reused = 0
      qes.foreach { q =>
        (q.nested ++ q.scans).foreach { b =>
          scans += 1
          builtBy.get(b) match {
            case None => builtBy(b) = op.id; builds += 1
            case Some(o) if o != op.id => reused += 1
            case _ =>
          }
        }
      }
      // execute window: the `exec` child span of a query, else the op
      val spans = execSpan.getOrElse(op.id, Nil)
      val ex = spans.find(_.name == "exec").orElse(spans.headOption)
      val gap = ex.map { s =>
        val lo = ms(s.start); val hi = ms(s.end)
        val iv = jobs.filter(j => j.group.endsWith("-x") || j.group.isEmpty)
          .map(j => (math.max(lo, j.start), math.min(hi, if (j.end < 0) hi else j.end)))
          .filter(x => x._2 > x._1)
        (hi - lo - covered(iv)) / 1000.0
      }.getOrElse(0.0)
      val constructJobs = jobs.count(_.group.endsWith("-c"))
      op.id -> Map[String, JValue](
        "entry.construct_jobs" -> JInt(constructJobs),
        "catalyst.analysis_s" -> JDouble(qes.map(_.analysisMs).sum / 1000.0),
        "catalyst.optimization_s" -> JDouble(qes.map(_.optMs).sum / 1000.0),
        "catalyst.planning_s" -> JDouble(qes.map(_.planMs).sum / 1000.0),
        "catalyst.exchanges" -> JInt(qes.map(_.exchanges).sum),
        "scheduler.jobs" -> JInt(jobs.size),
        "scheduler.stages" -> JLong(sumA(_.stages)),
        "scheduler.tasks" -> JLong(sumA(_.tasks)),
        "scheduler.driver_gap_s" -> JDouble(math.max(0.0, gap)),
        "scheduler.task_wait_s" -> JDouble(sumA(_.waitMs) / 1000.0),
        "executor.run_s" -> JDouble(sumA(_.runMs) / 1000.0),
        "executor.cpu_s" -> JDouble(sumA(_.cpuNs) / 1e9),
        "executor.gc_s" -> JDouble(sumA(_.gcMs) / 1000.0),
        "executor.deser_s" -> JDouble(sumA(_.deserMs) / 1000.0),
        "executor.spill_bytes" -> JLong(sumA(_.spill)),
        "shuffle.read_bytes" -> JLong(sumA(_.shRead)),
        "shuffle.write_bytes" -> JLong(sumA(_.shWrite)),
        "sources.input_bytes" -> JLong(sumA(_.inBytes)),
        "sources.input_rows" -> JLong(sumA(_.inRows)),
        "stores.bytes_written" -> JLong(sumA(_.outBytes)),
        "cache.builds" -> JInt(builds),
        "cache.scans" -> JInt(scans),
        "cache.reused_scans" -> JInt(reused))
    }.toMap
  }

  /** Self time per span name (duration minus the time covered by its
    * children), the span count, and the tracer's own bookkeeping cost. */
  def spanSummary(t: Tracer): JValue = {
    val children = t.spans.zipWithIndex.filter(_._1.parent >= 0).groupBy(_._1.parent)
    val self = mutable.LinkedHashMap[String, (Long, Long, Int)]()
    t.spans.zipWithIndex.foreach { case (s, i) =>
      val kids = children.getOrElse(i, Nil).map(k => (k._1.start, k._1.end))
      val dur = s.end - s.start
      val own = dur - covered(kids.toSeq)
      val (d0, s0, n0) = self.getOrElse(s.name, (0L, 0L, 0))
      self(s.name) = (d0 + dur, s0 + own, n0 + 1)
    }
    JObject(
      "spans" -> JInt(t.spans.size),
      "bookkeeping_s" -> JDouble(t.overheadNs / 1e9),
      "callbacks_s" -> JDouble(t.callbackNs.get / 1e9),
      "by_name" -> JObject(self.toList.map { case (k, (d, s, n)) =>
        k -> JObject("total_s" -> JDouble(d / 1e9), "self_s" -> JDouble(s / 1e9),
          "count" -> JInt(n))
      }))
  }

  def spansJson(t: Tracer): JValue = JArray(t.spans.toList.map { s =>
    JObject("name" -> JString(s.name), "start_ns" -> JLong(t.epochNs(s.start)),
      "end_ns" -> JLong(t.epochNs(s.end)), "parent" -> JInt(s.parent),
      "op" -> JInt(s.op))
  })
}
