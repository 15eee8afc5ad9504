package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.{Bench, CacheRegistry, SparkEntry}

/** One timed operation of a run. `t0`/`t1` are monotonic nanoseconds;
  * `constructNs` is the part spent in the query's constructor. */
final class Op(val id: Int, val kind: String, val name: String) {
  var t0, t1, constructNs = 0L
  var ok = true
  var rows = -1L
  var err = ""
  var ids: Seq[Long] = Nil
  val extra = mutable.LinkedHashMap[String, JValue]()
  def seconds: Double = (t1 - t0) / 1e9
}

/** The JVM side of the benchmark: runs one workload over inputs the
  * launcher generated from the seed (`--plan`), and writes what it
  * observed (`--out`). Correctness is judged by the launcher.
  *
  * Usage: perfbench.Main --workload W --plan F --out F --spans F
  *   --sf DIR --scratch DIR --cpus N --seconds S --trace 0|1 */
object Main {
  implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val plan = parse(new String(Files.readAllBytes(Paths.get(a("plan"))), UTF_8))
    val sf = a("sf")
    val scratch = a("scratch")
    val storeRoot = s"$scratch/stores"
    val cpus = a("cpus")
    val traced = a("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.graft.store.root", storeRoot)
      // a traced run must not lose listener events on a busy bus
      .config("spark.scheduler.listenerbus.eventqueue.capacity",
        if (traced) "200000" else "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val run = new Run(spark, sf, storeRoot, scratch, tracer,
      a("seconds").toDouble)
    val out = try run.execute(a("workload"), plan)
    finally {
      CacheRegistry.clear(spark)
      tracer.foreach(_.stop())
      spark.stop()
    }
    Files.write(Paths.get(a("out")), compact(render(out)).getBytes(UTF_8))
    tracer.foreach(t => Files.write(Paths.get(a("spans")),
      compact(render(Layers.spansJson(t))).getBytes(UTF_8)))
    println(s"mark exit ${System.currentTimeMillis()}")
  }
}

final class Run(spark: SparkSession, sf: String, storeRoot: String,
    scratch: String, tracer: Option[Tracer], seconds: Double) {
  implicit val formats: Formats = DefaultFormats
  private val sc = spark.sparkContext
  val ops = mutable.ArrayBuffer[Op]()
  private val setupMarks = mutable.LinkedHashMap[String, Double]()
  private val checks = mutable.ArrayBuffer[JValue]()
  /** Workload-specific observations for the launcher. */
  val extra = mutable.LinkedHashMap[String, JValue]()
  private var peakCacheBytes = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  def now: Long = System.nanoTime()
  private def span[T](name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))

  /** Tag every job the block launches with `group`; driver threads the
    * library starts inherit the tag. */
  private def grouped[T](group: String)(body: => T): T = {
    val prev = sc.getLocalProperty(JobGroup)
    sc.setLocalProperty(JobGroup, group)
    try body finally sc.setLocalProperty(JobGroup, prev)
  }
  private val JobGroup = "spark.jobGroup.id"

  def check(name: String, ok: Boolean, detail: String): Unit =
    checks += JObject("name" -> JString(name), "ok" -> JBool(ok),
      "detail" -> JString(detail))

  /** Time one operation. The body gets the op and may record rows, ids
    * or extra fields; an exception marks it failed. */
  def timed(kind: String, name: String)(body: Op => Unit): Op = {
    val op = new Op(ops.size, kind, name)
    ops += op
    val run = () => {
      op.t0 = now
      try span(s"op.$kind")(grouped(s"pb-${op.id}-x")(body(op)))
      catch {
        case e: Throwable =>
          op.ok = false
          op.err = (e.getClass.getSimpleName + ": " + e.getMessage).take(300)
      }
      op.t1 = now
    }
    tracer.fold(run())(_.withOp(op.id)(run()))
    sampleCache()
    println(f"op ${op.id} ${op.kind} ${op.name} ${op.seconds}%.3f s ok=${op.ok} ${op.err}")
    op
  }

  /** A query as `Bench` times it: construct, then count. */
  def query(name: String): Op = timed("query", name) { op =>
    val fn = SparkEntry.queries(name)
    val c0 = now
    val df = span("entry.construct")(grouped(s"pb-${op.id}-c")(fn(spark, sf)))
    op.constructNs = now - c0
    op.rows = span("exec")(df.count())
  }

  private def sampleCache(): Unit = {
    val b = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    peakCacheBytes = math.max(peakCacheBytes, b)
  }

  def mark(name: String): Unit = {
    setupMarks(name) = System.currentTimeMillis().toDouble
    println(s"mark $name ${System.currentTimeMillis()}")
  }

  // ---------------- workloads ----------------

  def execute(workload: String, plan: JValue): JValue = {
    mark("session_ready")
    // the store builds and the warm-up round warm the JVM for store_churn
    if (workload != "store_churn") Warm.up(spark, sf)
    mark("warm_done")
    workload match {
      case "sql_surface" => sqlSurface(plan)
      case "llm_pipeline" => llmPipeline(plan)
      case "store_churn" => new Churn(this, spark, sf, storeRoot).run(plan)
      case "derive" => derive(plan)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    mark("workload_done")
    // what the run's stores hold on disk at the end
    val root = Paths.get(storeRoot)
    val files = if (!Files.exists(root)) Nil else
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    extra("store_bytes") = JLong(files.map(Files.size).sum)
    extra("store_files") = JLong(files.size.toLong)
    val boxPost = if (tracer.isDefined) Warm.probes(spark, scratch) else (0.0, 0.0)
    tracer.foreach(_.drain())
    result(boxPost)
  }

  private var boxPre: (Double, Double) = (0, 0)
  private var gcAtStart = 0L

  /** End of set-up: record the time, run the box probes (untimed, and
    * only when traced: they cost more than a store build) and reset the
    * JVM peak counters for the timed section. */
  def setupDone(): Unit = {
    mark("setup_end")
    if (tracer.isDefined) boxPre = Warm.probes(spark, scratch)
    heapPools.foreach(_.resetPeakUsage())
    gcAtStart = gcMs
    mark("timed_start")
  }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Cache and store state that a `sql_surface` query must not touch. */
  private def cacheOrStoreInUse: Boolean =
    sc.getPersistentRDDs.nonEmpty || !spark.sharedState.cacheManager.isEmpty ||
      Option(new File(storeRoot).list()).exists(_.nonEmpty)

  private def sqlSurface(plan: JValue): Unit = {
    val warm = (plan \ "warm").extract[List[String]]
    warm.foreach(q => grouped("pb-warm")(SparkEntry.queries(q)(spark, sf).count()))
    setupDone()
    val passes = (plan \ "passes").extract[List[List[String]]]
    val t0 = now
    var pass = 0
    while (pass < passes.size && (pass == 0 || (now - t0) / 1e9 < seconds)) {
      passes(pass).foreach { q =>
        val op = query(q)
        op.extra("pass") = JInt(pass)
        if (cacheOrStoreInUse) {
          op.ok = false
          op.err = "workload drift: query persisted a frame or built a store"
        }
      }
      pass += 1
    }
  }

  private def llmPipeline(plan: JValue): Unit = {
    setupDone()
    (plan \ "queries").extract[List[String]].foreach { q =>
      query(q)
      Bench.releaseAfter.getOrElse(q, Nil)
        .foreach(p => CacheRegistry.releaseByPrefix(spark, p))
    }
  }

  /** One traced sorted pass over every query, for deriving the
    * workload split: which queries persist a frame or build a store. */
  private def derive(plan: JValue): Unit = {
    setupDone()
    def storeCount = Option(new File(storeRoot).list()).fold(0)(_.length)
    SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      val (rdds, stores) = (sc.getPersistentRDDs.keySet, storeCount)
      val op = query(q)
      op.extra("persisted") = JInt((sc.getPersistentRDDs.keySet -- rdds).size)
      op.extra("stores") = JInt(storeCount - stores)
      Bench.releaseAfter.getOrElse(q, Nil)
        .foreach(p => CacheRegistry.releaseByPrefix(spark, p))
    }
  }

  // ---------------- output ----------------

  private def result(boxPost: (Double, Double)): JValue = {
    val layers = tracer.map(t => Layers.perOp(t, ops.toSeq)).getOrElse(Map.empty)
    val opsJ = ops.map { op =>
      val base = List(
        "id" -> JInt(op.id), "kind" -> JString(op.kind),
        "name" -> JString(op.name), "s" -> JDouble(op.seconds),
        "construct_s" -> JDouble(op.constructNs / 1e9),
        "ok" -> JBool(op.ok), "rows" -> JInt(op.rows),
        "err" -> JString(op.err), "ids" -> JArray(op.ids.map(JLong(_)).toList))
      JObject(base ++ op.extra.toList ++
        layers.get(op.id).map(_.toList).getOrElse(Nil))
    }
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    JObject(
      "jvm_start_ms" -> JLong(jvmStart),
      "marks_ms" -> JObject(setupMarks.toList.map { case (k, v) => k -> JDouble(v) }),
      "box" -> JObject("wu" -> JArray(List(JDouble(boxPre._1), JDouble(boxPost._1))),
        "wio" -> JArray(List(JDouble(boxPre._2), JDouble(boxPost._2)))),
      "jvm" -> JObject("peak_heap_mb" -> JDouble(heapPeak / 1048576.0),
        "gc_s" -> JDouble((gcMs - gcAtStart) / 1000.0)),
      "cache_peak_bytes" -> JLong(peakCacheBytes),
      "checks" -> JArray(checks.toList),
      "extra" -> JObject(extra.toList),
      "ops" -> JArray(opsJ.toList),
      "trace" -> tracer.map(t => Layers.spanSummary(t)).getOrElse(JNull))
  }
}
