package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Search, Similarity, Stores, TextDedup}

/** Pins the Spark job count of every store lifecycle operation:
  * write, append, Seq delete, frame delete, compact and
  * `maintain(execute = true)` for each store family that has the op,
  * plus the coordinated `appendAll` and frame `takedownAll` over the
  * search, dedup and ANN stores. These ops run no query a
  * [[JobShapeSpec]] pin covers, so a change to the generic store core
  * that added a read-back, an undeclared schema read or an un-gated
  * broadcast would otherwise go unnoticed. Counts are exact: the inputs
  * are pinned before counting, so each count is the op's own jobs over
  * sf0.001 (the [[JobShapeSpec]] listener-and-drain measurement).
  */
class StoreLifecycleJobSpec extends SparkTestBase {

  /** The sf0.001 fixture tables (FIXTURES.md), under the home dir. */
  private val dir = s"${sys.props("user.home")}/testdata/sf0.001"

  /** Jobs scheduled by `body`, listener drained to quiescence. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // let the previous op's queued listener events dispatch before the
    // counting listener joins the bus
    Thread.sleep(1000)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      drain(jobs)
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Listener events arrive asynchronously — poll until quiet. */
  private def drain(jobs: AtomicInteger): Unit = {
    var settled = 0
    var last = -1
    while (settled < 4) {
      Thread.sleep(250)
      val now = jobs.get
      if (now == last) settled += 1 else { settled = 0; last = now }
    }
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-lifecycle-jobs").toString

  /** doc_id, text, emb over the whole sf0.001 corpus, pinned. */
  private lazy val corpus: DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .join(spark.read.parquet(s"$dir/embeddings.parquet"),
        col("doc_id") === col("vec_id"), "left")
      .select(col("doc_id"), col("text"), col("embedding").as("emb"))
      .localCheckpoint()

  // the base store holds ids < 400; appends add 400..449, the
  // coordinated append 450..499; deletes take a few base ids
  private def slice(lo: Long, hi: Long): DataFrame =
    corpus.filter(col("doc_id") >= lo && col("doc_id") < hi)
      .localCheckpoint()
  private lazy val base = slice(0L, 400L)
  private lazy val delta = slice(400L, 450L)
  private lazy val coordDelta = slice(450L, 500L)
  private val seqIds = Seq(3L, 7L)
  private def frameIds: DataFrame = {
    import spark.implicits._
    Seq(11L, 13L, 17L).toDF("doc_id").localCheckpoint()
  }

  private def vecs(df: DataFrame): DataFrame =
    Similarity.int8CodedVectors(df.filter(col("emb").isNotNull),
      "doc_id", "emb").localCheckpoint()

  /** Measure each (op, body) in order, then assert every count at once
    * so one failure reports the whole family's table. */
  private def pinAll(family: String,
      steps: Seq[(String, Int, () => Unit)]): Unit = {
    val measured = steps.map { case (op, want, body) =>
      (op, want, jobsOf(body()))
    }
    measured.foreach { case (op, _, n) => info(s"$family $op: $n jobs") }
    val off = measured.filter { case (_, want, n) => n != want }
    assert(off.isEmpty, s"$family lifecycle job counts moved: " +
      off.map { case (op, want, n) => s"$op $n (pinned $want)" }
        .mkString(", "))
  }

  test("search store lifecycle job counts") {
    val d = tmp()
    val docs = base.select("doc_id", "text")
    val add = delta.select("doc_id", "text")
    val ids = frameIds
    pinAll("search", Seq(
      ("write", 4, () => Search.searchIndexWrite(docs, d)),
      ("append", 5, () => Search.searchIndexAppend(add, d)),
      ("seq delete", 2, () => Search.searchIndexDelete(spark, d, seqIds)),
      ("frame delete", 5, () => Search.searchIndexDelete(spark, d, ids)),
      ("compact", 6, () => Search.searchIndexCompact(spark, d)),
      ("append 2", 6, () => Search.searchIndexAppend(
        coordDelta.select("doc_id", "text"), d)),
      ("maintain", 9, () => Search.searchIndexMaintain(spark, d,
        maxFiles = 1, execute = true))))
  }

  test("dedup store lifecycle job counts") {
    val d = tmp()
    val docs = base.select("doc_id", "text")
    val add = delta.select("doc_id", "text")
    val ids = frameIds
    pinAll("dedup", Seq(
      ("write", 2, () => TextDedup.dedupIndexWrite(docs, d)),
      ("append", 2, () => TextDedup.dedupIndexAppend(add, d)),
      ("seq delete", 1, () => TextDedup.dedupIndexDelete(spark, d, seqIds)),
      ("frame delete", 3, () => TextDedup.dedupIndexDelete(spark, d, ids)),
      ("compact", 3, () => TextDedup.dedupIndexCompact(spark, d)),
      ("append 2", 2, () => TextDedup.dedupIndexAppend(
        coordDelta.select("doc_id", "text"), d)),
      ("maintain", 7, () => TextDedup.dedupIndexMaintain(spark, d,
        maxFiles = 1, execute = true))))
  }

  test("ANN store lifecycle job counts") {
    val d = tmp()
    val codes = vecs(base)
    val add = vecs(delta)
    val add2 = vecs(coordDelta)
    val ids = frameIds.select(col("doc_id").as("vec_id"))
    pinAll("ann", Seq(
      ("write", 9, () => Similarity.ivfPqIndexWrite(codes, d, kIvf = 4,
        m = 4, subDim = 16, k = 8)),
      ("append", 7, () => Similarity.ivfPqIndexAppend(add, d, 4, 16)),
      ("seq delete", 1, () => Similarity.ivfPqIndexDelete(spark, d, seqIds)),
      ("frame delete", 3, () => Similarity.ivfPqIndexDelete(spark, d, ids)),
      ("compact", 3, () => Similarity.ivfPqIndexCompact(spark, d)),
      ("append 2", 7, () => Similarity.ivfPqIndexAppend(add2, d, 4, 16)),
      // kIvf comes from the manifest, not a count() over cents/ — two
      // jobs under AQE (the partial-aggregate shuffle stage and the
      // result stage), so 12 before the manifest read
      ("maintain", 10, () => Similarity.ivfPqIndexMaintain(spark, d,
        maxFiles = 1, execute = true))))
  }

  test("audit store lifecycle job counts") {
    val d = tmp()
    val pairs = TextDedup.chainJaccardPairs(spark, dir).localCheckpoint()
    val cand = TextDedup.chainCandidatePairs(spark, dir).localCheckpoint()
    def part(df: DataFrame, lo: Long, hi: Long): DataFrame =
      df.filter(col("doc_i") >= lo && col("doc_i") < hi).localCheckpoint()
    val (p0, c0) = (part(pairs, 0L, 400L), part(cand, 0L, 400L))
    val (p1, c1) = (part(pairs, 400L, 500L), part(cand, 400L, 500L))
    val ids = frameIds
    pinAll("audit", Seq(
      ("write", 4, () => TextDedup.auditStoreWrite(p0, c0, d)),
      ("append", 4, () => TextDedup.auditStoreAppend(p1, c1, d)),
      ("seq delete", 3, () => TextDedup.auditStoreDelete(spark, d, seqIds)),
      ("frame delete", 3, () => TextDedup.auditStoreDelete(spark, d, ids)),
      ("compact", 6, () => TextDedup.auditStoreCompact(spark, d))))
  }

  test("coordinated appendAll and frame takedownAll job counts") {
    val (sd, dd, ad) = (tmp(), tmp(), tmp())
    Search.searchIndexWrite(base.select("doc_id", "text"), sd)
    TextDedup.dedupIndexWrite(base.select("doc_id", "text"), dd)
    Similarity.ivfPqIndexWrite(vecs(base), ad, kIvf = 4, m = 4,
      subDim = 16, k = 8)
    val stores = Seq(Stores.SearchStore(sd), Stores.DedupStore(dd),
      Stores.AnnStore(ad))
    val ids = frameIds
    pinAll("coordinated", Seq(
      ("appendAll", 14, () => Stores.appendAll(delta, "b1", stores)),
      ("takedownAll frame", 8, () => Stores.takedownAll(spark, ids,
        stores))))
  }
}
