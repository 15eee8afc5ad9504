package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import graft.Graft

/** The `store_churn` workload: search, dedup and ANN stores built from
  * a seeded share of the corpus, then rounds of a coordinated append,
  * a coordinated takedown, serves of every kind and periodic
  * maintenance, all through the `Graft` facade. What the stores report
  * (serve ids, version stamps, stats views, fsck) is recorded for the
  * launcher to check against its own ledger. */
final class Churn(run: Run, spark: SparkSession, sf: String, root: String) {
  implicit val formats: Formats = DefaultFormats

  private val searchDir = s"$root/search"
  private val dedupDir = s"$root/dedup"
  private val annDir = s"$root/ann"
  private val dirs = Seq(searchDir, dedupDir, annDir)
  private val stores = Seq(Graft.SearchStore(searchDir),
    Graft.DedupStore(dedupDir), Graft.AnnStore(annDir))

  /** doc_id, text, emb — every document with its embedding, LEFT
    * joined as q187 does, so documents without a vector still reach
    * the text stores. */
  private val corpus: DataFrame =
    spark.read.parquet(s"$sf/documents.parquet")
      .join(spark.read.parquet(s"$sf/embeddings.parquet"),
        col("doc_id") === col("vec_id"), "left")
      .select(col("doc_id"), col("text"), col("embedding").as("emb"))
  private val vectors = corpus.filter(col("emb").isNotNull)

  private def of(ids: Seq[Long]): DataFrame =
    corpus.filter(col("doc_id").isin(ids: _*))

  private def longs(v: JValue): List[Long] = v.extract[List[Long]]

  def run(plan: JValue): Unit = {
    val g = plan \ "geometry"
    val kIvf = (g \ "kIvf").extract[Int]
    val m = (g \ "m").extract[Int]
    val subDim = (g \ "subDim").extract[Int]
    val nprobe = (g \ "nprobe").extract[Int]
    val init = of(longs(plan \ "init"))
    run.mark("builds_start")
    // three stores in three directories from one parquet-backed frame:
    // independent, so built concurrently
    concurrently(
      () => Graft.searchIndexWrite(init.select("doc_id", "text"), searchDir),
      () => Graft.dedupIndexWrite(init.select("doc_id", "text"), dedupDir),
      () => Graft.annIndexWrite(init.filter(col("emb").isNotNull), "doc_id",
        "emb", annDir, kIvf = kIvf, m = m, subDim = subDim, k = 8))

    // the first round is a warm-up: untimed, its operations kinds are
    // prefixed "warm.", and set-up ends after it
    var mutations = 0
    (plan \ "rounds").children.zipWithIndex.foreach { case (r, i) =>
      val pre = if (i == 0) "warm." else ""
      if (i == 1) run.setupDone()
      val append = longs(r \ "append")
      run.timed(s"${pre}append", s"round$i") { _ =>
        Graft.appendAll(of(append), s"round$i", stores)
      }
      mutations += 1
      recordVersions(s"append round$i", mutations)
      val down = longs(r \ "takedown")
      run.timed(s"${pre}takedown", s"round$i") { _ =>
        Graft.takedownAll(spark, of(down).select("doc_id"), stores)
      }
      mutations += 1
      recordVersions(s"takedown round$i", mutations)
      (r \ "serves").children.foreach { sv =>
        val kind = (sv \ "kind").extract[String]
        run.timed(s"${pre}serve.$kind", s"round$i") { op =>
          kind match {
            case "search" =>
              op.ids = Graft.searchIndexServe(spark, searchDir,
                (sv \ "terms").extract[List[String]]).select("doc_id")
                .collect().map(_.getLong(0)).toSeq
            case "ann" =>
              op.ids = Graft.annIndexServe(vectors, "doc_id", "emb", annDir,
                (sv \ "qid").extract[Long], nprobe, m, subDim)
                .select("vec_id").collect().map(_.getLong(0)).toSeq
            case "dedup" =>
              val rows = Graft.dedupIndexServe(
                of(longs(sv \ "ids")).select("doc_id", "text"), dedupDir)
                .select("doc_id", "status").collect()
              op.rows = rows.length
              op.extra("rejected") = JInt(rows.count(_.getString(1) == "reject"))
            case "rag" =>
              op.ids = Graft.ragServeDisk(vectors, "doc_id", "emb", annDir,
                searchDir, (sv \ "terms").extract[List[String]],
                (sv \ "qid").extract[Long], nprobe, m, subDim)
                .select("doc_id").collect().map(_.getLong(0)).toSeq
          }
          if (kind != "dedup") op.rows = op.ids.size
        }
      }
      if ((r \ "maintain").extract[Boolean]) {
        run.timed(s"${pre}maintain", s"round$i") { op =>
          // the appends so far leave more files in a partition than
          // the limit, so maintenance compacts
          val maxFiles = (r \ "max_files").extract[Int]
          val compacted = Seq(
            Graft.searchIndexMaintain(spark, searchDir, maxFiles, execute = true),
            Graft.dedupIndexMaintain(spark, dedupDir, maxFiles, execute = true),
            Graft.annIndexMaintain(spark, annDir, maxFiles, execute = true))
            .map(_.filter(col("action") === "compact").count())
          op.extra("compactions") = JInt(compacted.count(_ > 0))
        }
      }
    }
    run.mark("rounds_done")
    recordStats("end")
    run.extra("fsck") = JObject(dirs.toList.map { d =>
      val rows = Graft.storeFsck(spark, d, execute = false).collect()
      new File(d).getName -> JArray(rows.toList.map(r =>
        JObject(r.schema.fieldNames.toList.zip(r.toSeq.toList)
          .map { case (c, v) => c -> JString(String.valueOf(v)) })))
    })
    run.mark("checks_done")
  }

  /** Run the steps on fresh threads, wait for all of them, then rethrow
    * the first failure. */
  private def concurrently(steps: (() => Unit)*): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = steps.map(step => new Thread(() =>
      try step() catch { case e: Throwable => errors.add(e) }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  /** Version stamps after a mutation: all three equal the count of
    * mutations applied so far. */
  private def recordVersions(after: String, expected: Int): Unit = {
    val vs = Graft.storeVersions(spark, dirs).collect().map(_.getLong(1)).toSeq
    run.check(s"versions after $after", vs.forall(_ == expected),
      s"stamps=${vs.mkString(",")} expected=$expected")
  }

  /** Live counts from the stats views, checked by the launcher. */
  private def recordStats(at: String): Unit = {
    val ann = Graft.annIndexStats(spark, annDir)
      .agg(sum("n_vecs")).collect()(0).getLong(0)
    val bands = Graft.dedupIndexStats(spark, dedupDir)
      .select("n_docs").collect().map(_.getLong(0)).toSeq
    val postings = Graft.searchIndexStats(spark, searchDir)
      .agg(sum("n_postings")).collect()(0).getLong(0)
    run.extra(s"stats_$at") = JObject("ann_live" -> JLong(ann),
      "dedup_band_docs" -> JArray(bands.map(JLong(_)).toList),
      "search_postings" -> JLong(postings))
  }
}

