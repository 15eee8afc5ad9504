package graft.operators

import org.apache.spark.sql.functions._

import graft.{Graft, SparkTestBase}

/** Pins the EXECUTABLE crash repair (r16 verdict ask #3) under the
  * GENERATIONAL store layout: every crash window the lifecycle
  * scaladoc documents is reconstructed on disk, [[Stores.storeFsck]]
  * classifies and repairs it, and the repaired store serves
  * byte-identically to its pre-crash results.
  *
  * The generational compact has exactly TWO crash windows, both pure
  * directory hygiene (the pointer flip is atomic and only publishes
  * fully-written generations):
  *
  *  - '''torn scratch''' — the compact died BEFORE its commit flip:
  *    next-generation artifacts sit above the pointer, the store is
  *    fully intact. Repair: delete the scratch (a compact re-run
  *    overwrites it anyway).
  *  - '''expired generations''' — the compact died AFTER the flip,
  *    mid-vacuum: artifacts below the grace generation linger.
  *    Repair: delete them (the next compact's vacuum would too).
  *
  * Crash states are constructed the honest way: torn scratch is REAL
  * compacted data harvested from a twin store built from the same
  * frozen derivation; the mid-vacuum state is the store's own
  * generation-0 artifacts moved aside before the second compact (which
  * would have vacuumed them) and restored after — exactly the bytes a
  * crashed vacuum leaves. */
class StoreFsckSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-fsck").toString

  private val corpus = Seq(
    (0L, "alpha beta gamma delta epsilon"),
    (1L, "beta gamma delta epsilon zeta"),
    (2L, "alpha alpha beta zeta eta"),
    (3L, "gamma delta epsilon eta theta"),
    (4L, "alpha beta beta theta iota"),
    (5L, "rare alpha beta gamma iota"))
  private val deleted = Seq(2L, 5L)
  private def docsDf = corpus.toDF("doc_id", "text")

  private def mv(dir: String, from: String, to: String): Unit =
    assert(new java.io.File(dir, from)
      .renameTo(new java.io.File(dir, to)), s"rename $from -> $to")
  private def mvAcross(fromDir: String, name: String, toDir: String,
      toName: String): Unit =
    assert(new java.io.File(fromDir, name)
      .renameTo(new java.io.File(toDir, toName)),
      s"rename $fromDir/$name -> $toDir/$toName")
  private def exists(dir: String, name: String): Boolean =
    new java.io.File(dir, name).exists

  private def serveAll(idx: String): Seq[String] =
    Search.searchIndexServe(spark, idx, Seq("alpha", "beta"), topK = 100)
      .collect().map(_.toString).toSeq

  private def fsckMap(idx: String,
      execute: Boolean = true): Map[String, (String, String)] =
    Graft.storeFsck(spark, idx, execute).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap

  test("search fsck deletes a torn compact scratch (crash pre-flip); " +
      "the store never stopped serving and a re-run compact converges") {
    val idx = tmp(); val twin = tmp()
    for (d <- Seq(idx, twin)) {
      Search.searchIndexWrite(docsDf, d)
      Search.searchIndexDelete(spark, d, deleted)
    }
    val expected = serveAll(idx)
    // REAL next-generation scratch: the twin ran the full compact; its
    // committed g1 artifacts become idx's torn pre-flip scratch
    Search.searchIndexCompact(spark, twin)
    for (k <- Seq("postings-g1", "docs-g1", "stats-g1"))
      mvAcross(twin, k, idx, k)
    assert(graft.operators.Stores.currentGen(spark, idx) == 0L,
      "fixture: the pointer never flipped")
    assert(serveAll(idx) == expected,
      "torn scratch must not affect serving — the store is intact")
    val report = fsckMap(idx)
    assert(report.keys.count(_.startsWith("torn scratch")) == 3,
      s"fsck must name each torn artifact: $report")
    for (k <- Seq("postings-g1", "docs-g1", "stats-g1"))
      assert(!exists(idx, k), s"torn $k must be deleted")
    assert(serveAll(idx) == expected, "serving unchanged after fsck")
    // the interrupted compact re-runs cleanly on the repaired store
    Search.searchIndexCompact(spark, idx)
    assert(serveAll(idx) == expected, "the re-run compact converges")
    // and a second fsck is a clean no-op
    assert(fsckMap(idx).values.forall(_._2 == "none"),
      s"fsck must be idempotent on a healthy store: ${fsckMap(idx)}")
  }

  test("search fsck vacuums expired generations (crash mid-vacuum " +
      "after the second compact's flip); the grace generation stays") {
    val idx = tmp()
    Search.searchIndexWrite(docsDf, idx)
    Search.searchIndexDelete(spark, idx, deleted)
    Search.searchIndexCompact(spark, idx) // gen 1, grace gen 0
    val expected = serveAll(idx)
    // move the gen-0 artifacts aside so the second compact cannot
    // vacuum them, then restore — the exact bytes a vacuum crash leaves
    val aside = tmp()
    for (k <- Seq("postings", "docs", "stats", "tombstones"))
      mvAcross(idx, k, aside, k)
    Search.searchIndexCompact(spark, idx) // gen 2, grace gen 1
    for (k <- Seq("postings", "docs", "stats", "tombstones"))
      mvAcross(aside, k, idx, k)
    val report = fsckMap(idx)
    assert(report.keys.count(_.startsWith("expired")) == 4,
      s"fsck must name each expired artifact: $report")
    for (k <- Seq("postings", "docs", "stats", "tombstones"))
      assert(!exists(idx, k), s"expired gen-0 $k must be vacuumed")
    // the grace generation (g1) is reported present and left alone
    assert(report("generation")._1.contains("grace g1 present"),
      s"the grace generation must be reported, not touched: $report")
    assert(exists(idx, "postings-g1"), "grace artifacts must survive fsck")
    assert(serveAll(idx) == expected, "serving unchanged throughout")
  }

  test("classify-only mode reports the windows without touching the " +
      "store") {
    val idx = tmp(); val twin = tmp()
    for (d <- Seq(idx, twin)) Search.searchIndexWrite(docsDf, d)
    Search.searchIndexCompact(spark, twin)
    mvAcross(twin, "postings-g1", idx, "postings-g1")
    val report = fsckMap(idx, execute = false)
    val torn = report.collect {
      case (k, v) if k.startsWith("torn scratch") => v._2 }
    assert(torn == Seq("would delete"),
      s"classification must name the pending repair: $report")
    assert(exists(idx, "postings-g1"),
      "execute=false must leave the crash state untouched")
  }

  test("search fsck repairs BOTH append-crash windows: orphaned " +
      "postings reclaimed, stale stats re-derived") {
    val idx = tmp()
    Search.searchIndexWrite(docsDf, idx)
    val expected = serveAll(idx)
    // window 1: postings landed, docs never did (orphan) — written
    // under its true term bucket, as a real torn append would land
    Seq((999999L, "alpha", 3)).toDF("doc_id", "term", "tf")
      .withColumn("bkt", pmod(xxhash64(col("term")), lit(8L)).cast("int"))
      .repartition(1)
      .write.mode("append").partitionBy("bkt").parquet(s"$idx/postings")
    // window 2: stats overwritten behind docs/ (the crash-after-docs
    // shape: stats no longer equals the docs aggregate)
    Search.writeSearchStats(spark, idx,
      graft.operators.Stores.currentGen(spark, idx), 1L, 1L)
    val report = fsckMap(idx)
    assert(report("stats")._2.startsWith("re-derived"),
      s"stale stats must be re-derived from docs/: $report")
    assert(report("orphan-postings")._2.startsWith("compacted"),
      s"orphans must be reclaimed by compaction: $report")
    assert(serveAll(idx) == expected,
      "the repaired store must serve exactly the clean-store results")
    // the repair compacted into generation 1 — the orphan is gone there
    val orphan = spark.read
      .schema("doc_id BIGINT, term STRING, tf INT, bkt INT")
      .parquet(s"$idx/postings-g1")
      .filter(col("doc_id") === 999999L).count()
    assert(orphan == 0, "the orphan row must be physically gone")
  }

  test("duplicate ids are reported, never silently rewritten — the " +
      "repair needs the source batch") {
    val idx = tmp()
    val (a, b) = corpus.splitAt(4)
    Search.searchIndexWrite(a.toDF("doc_id", "text"), idx)
    Search.searchIndexAppend(b.toDF("doc_id", "text"), idx)
    // violate the unique-id contract: replay the append (the ingest
    // at-least-once window)
    Search.searchIndexAppend(b.toDF("doc_id", "text"), idx)
    val rows = fsckMap(idx)
    assert(rows("dup-ids")._1.contains(s"${b.size} ids"),
      s"fsck must count the replayed ids: ${rows("dup-ids")}")
    assert(rows("dup-ids")._2.startsWith("report-only"),
      "dup repair needs the source — fsck must not guess")
    val dupRows = spark.read.schema("doc_id BIGINT, dl INT")
      .parquet(s"$idx/docs")
      .groupBy("doc_id").count().filter(col("count") > 1).count()
    assert(dupRows == b.size.toLong,
      "report-only: the duplicate rows must still be present")
  }

  test("dedup fsck deletes a torn compact scratch; verdicts unchanged") {
    val idx = tmp(); val twin = tmp()
    for (d <- Seq(idx, twin)) {
      TextDedup.dedupIndexWrite(docsDf, d)
      TextDedup.dedupIndexDelete(spark, d, deleted)
    }
    def verdicts(d: String): Seq[String] =
      TextDedup.dedupIndexServe(
          Seq((100L, corpus(2)._2), (101L, "wholly novel text run"))
            .toDF("doc_id", "text"), d)
        .collect().map(_.toString).toSeq
    val expected = verdicts(idx)
    TextDedup.dedupIndexCompact(spark, twin)
    mvAcross(twin, "bands-g1", idx, "bands-g1") // torn pre-flip scratch
    val report = fsckMap(idx)
    assert(report.keys.exists(_.startsWith("torn scratch bands-g1")),
      s"fsck must name the torn scratch: $report")
    assert(!exists(idx, "bands-g1"), "torn scratch must be deleted")
    assert(verdicts(idx) == expected,
      "the dedup store must serve its pre-crash verdicts throughout")
  }

  test("audit fsck dispatches on pairs/, clears a crashed mutation " +
      "lock, deletes a torn compact scratch, reports dup pairs") {
    import spark.implicits._
    def pairRows(ps: (Long, Long)*) =
      ps.toSeq.toDF("doc_i", "doc_j")
        .select(col("doc_i"), col("doc_j"), lit(4L).as("n_common"),
          lit(6).as("n_i"), lit(6).as("n_j"), lit(0.5).as("jaccard"))
    val idx = tmp(); val twin = tmp()
    for (d <- Seq(idx, twin)) {
      TextDedup.auditStoreWrite(pairRows((1L, 2L), (3L, 4L)),
        Seq((1L, 2L), (3L, 4L)).toDF("doc_i", "doc_j"), d)
      TextDedup.auditStoreDelete(spark, d, Seq(3L))
    }
    TextDedup.auditStoreCompact(spark, twin)
    mvAcross(twin, "pairs-g1", idx, "pairs-g1") // torn pre-flip scratch
    assert(new java.io.File(idx, "mutation-lock").createNewFile(),
      "plant a crashed mutation's lock")
    val report = fsckMap(idx)
    assert(report.contains("mutation-lock") &&
        !exists(idx, "mutation-lock"),
      s"fsck must report and clear the crashed lock: $report")
    assert(report.keys.exists(_.startsWith("torn scratch pairs-g1")),
      s"fsck must name the torn scratch: $report")
    assert(!exists(idx, "pairs-g1"), "torn scratch must be deleted")
    assert(TextDedup.residentAuditPairs(spark, idx)
        .select("doc_i", "doc_j").as[(Long, Long)].collect().toSeq
      == Seq((1L, 2L)),
      "the store must serve its pre-crash pair set throughout")
    // a replayed append doubles a pair: report-only, named
    TextDedup.auditStoreAppend(pairRows((1L, 2L)),
      Seq.empty[(Long, Long)].toDF("doc_i", "doc_j"), idx)
    val dup = fsckMap(idx)
    assert(dup.get("dup-pairs").exists(_._1.contains("1 pairs")),
      s"fsck must report the duplicated pair: $dup")
    // the r20 advice gaps: (a) a replayed CAND delta is reported too —
    // duplicate candidates skew n_cand/precision like duplicate pairs
    // skew recall
    TextDedup.auditStoreAppend(
      pairRows(), Seq((1L, 2L)).toDF("doc_i", "doc_j"), idx)
    val dup2 = fsckMap(idx)
    assert(dup2.get("dup-cands").exists(_._1.contains("1 candidates")),
      s"fsck must report the duplicated candidate: $dup2")
    // (b) a generation with pairs present but cand missing (crash
    // between the two writeAuditSet calls) reports incomplete instead
    // of healthy
    mv(idx, "cand", "cand-hidden")
    val torn = fsckMap(idx)
    assert(torn.get("datasets").exists(_._1.contains("incomplete")),
      s"fsck must flag a missing cand dataset: $torn")
    mv(idx, "cand-hidden", "cand")
  }

  test("an audit append that fails after its pairs land is reported " +
      "as a torn append until a rebuild; a later append cannot hide it") {
    def pairRows(ps: (Long, Long)*) =
      ps.toSeq.toDF("doc_i", "doc_j")
        .select(col("doc_i"), col("doc_j"), lit(4L).as("n_common"),
          lit(6).as("n_i"), lit(6).as("n_j"), lit(0.5).as("jaccard"))
    def cands(ps: (Long, Long)*) = ps.toSeq.toDF("doc_i", "doc_j")
    def torn(idx: String): Map[String, (String, String)] =
      fsckMap(idx, execute = false).filter(_._1.startsWith("torn append"))
    val idx = tmp()
    TextDedup.auditStoreWrite(pairRows((1L, 2L)), cands((1L, 2L)), idx)
    // the cand delta fails inside its write job, after the pairs landed
    val failing = cands((5L, 6L)).select(col("doc_i"),
      when(col("doc_j") >= 0L, raise_error(lit("cand delta lost")))
        .otherwise(col("doc_j")).cast("long").as("doc_j"))
    intercept[Exception](
      TextDedup.auditStoreAppend(pairRows((5L, 6L)), failing, idx))
    assert(TextDedup.residentAuditPairs(spark, idx).count() == 2L,
      "fixture: the pairs delta landed, the cand delta did not")
    val report = torn(idx)
    assert(report.size == 1 &&
        report.head._2._1.contains("op=auditStoreAppend") &&
        report.head._2._2.startsWith("report-only"),
      s"fsck must report the torn append: ${fsckMap(idx, execute = false)}")
    // report-only: execute = true repairs nothing here
    fsckMap(idx)
    assert(torn(idx).keySet == report.keySet)
    TextDedup.auditStoreAppend(pairRows((7L, 8L)), cands((7L, 8L)), idx)
    assert(torn(idx).keySet == report.keySet,
      "a later successful append must not hide the torn one")
    TextDedup.auditStoreWrite(pairRows((1L, 2L)), cands((1L, 2L)), idx)
    assert(torn(idx).isEmpty, "a rebuild clears the torn-append marker")
  }

  test("replayRepair of a torn append's batch clears that batch's " +
      "pending marker; another batch's stays reported") {
    def torn(idx: String): Map[String, (String, String)] =
      fsckMap(idx, execute = false).filter(_._1.startsWith("torn append"))
    val idx = tmp()
    val store = Seq(Graft.ChunkSearchStore(idx))
    val (seed, delta) = corpus.splitAt(4)
    Search.searchIndexWrite(Search.chunkCorpus(seed.toDF("doc_id", "text")),
      idx, idCol = "chunk_id", textCol = "chunk_text")
    // an unpackable doc id passes the batch pin, then the chunker's
    // raise_error fails the postings write after the pending marker
    def tear(batch: Seq[(Long, String)], batchId: String): Unit =
      intercept[Exception](Graft.appendAll(
        (batch :+ ((Search.MaxChunkDocId, "omega"))).toDF("doc_id", "text"),
        batchId, store))
    tear(delta, "b1")
    val b1 = torn(idx)
    assert(b1.size == 1 && b1.head._2._1.contains("op=searchIndexAppend") &&
        b1.head._2._1.contains("batch=b1"),
      s"fsck must report the torn append: ${fsckMap(idx, execute = false)}")
    tear(Seq((7L, "kappa lambda")), "b2")
    assert(torn(idx).size == 2)
    Graft.replayRepair(delta.toDF("doc_id", "text"), "b1", store)
    val after = torn(idx)
    assert(after.size == 1 && (after.keySet & b1.keySet).isEmpty,
      s"the repaired batch's marker must go, b2's stay: $after")
    assert(Search.searchIndexServe(spark, idx, Seq("rare"), topK = 10)
      .count() == 1, "the repaired batch is served")
  }

  test("ANN fsck deletes a torn compact scratch; the served top-k is " +
      "unchanged") {
    def codesDf =
      ((0L to 1L).map(i => (i, Seq(0.0, 0.0, 0.0, 1.0 + i))) ++
        (2L to 6L).map(i => (i, Seq(-90.0, -90.0, -90.0, -90.0 - i % 3))) ++
        (7L to 12L).map(i => (i, Seq(80.0, 80.0, 80.0, 80.0 + i % 4))))
        .toDF("vec_id", "emb")
    val idx = tmp(); val twin = tmp()
    for (d <- Seq(idx, twin)) {
      Graft.annIndexWrite(codesDf, "vec_id", "emb", d,
        kIvf = 2, m = 2, subDim = 2, k = 3)
      Graft.annIndexDelete(spark, d, Seq(9L))
    }
    def serve(d: String): Seq[String] =
      Graft.annIndexServe(codesDf, "vec_id", "emb", d, queryId = 8L,
          nprobe = 2, m = 2, subDim = 2, coarseK = 50, topK = 5)
        .collect().map(_.toString).toSeq
    val expected = serve(idx)
    assert(!expected.exists(_.startsWith("[9,")),
      "fixture: vec 9 must be tombstoned out pre-crash")
    Graft.annIndexCompact(spark, twin)
    mvAcross(twin, "enc-g1", idx, "enc-g1") // torn pre-flip scratch
    val report = fsckMap(idx)
    assert(report.keys.exists(_.startsWith("torn scratch enc-g1")),
      s"fsck must name the torn scratch: $report")
    assert(!exists(idx, "enc-g1"), "torn scratch must be deleted")
    assert(serve(idx) == expected,
      "the ANN store must serve its pre-crash top-k throughout")
  }

  test("the generation commit is max-of-markers: a crashed retire's " +
      "stale marker never rolls the pointer back, and fsck tidies it") {
    val idx = tmp()
    Search.searchIndexWrite(docsDf, idx)
    Search.searchIndexCompact(spark, idx) // commits gen-1
    Search.searchIndexCompact(spark, idx) // commits gen-2, retires gen-1
    assert(graft.operators.Stores.currentGen(spark, idx) == 2L)
    val expected = serveAll(idx)
    // simulate a crash mid-retire: the non-max marker survives
    new java.io.File(idx, "gen-1").createNewFile()
    assert(graft.operators.Stores.currentGen(spark, idx) == 2L,
      "readers take the MAX marker — a stale extra can never roll the " +
        "pointer back (the atomicity the single-pointer-file lacked)")
    assert(serveAll(idx) == expected, "serving unaffected")
    val report = fsckMap(idx)
    assert(report.contains("stale marker gen-1")
        && report("stale marker gen-1")._2 == "deleted",
      s"fsck must tidy the crashed retire's marker: $report")
    assert(!exists(idx, "gen-1") && exists(idx, "gen-2"))
    assert(fsckMap(idx).values.forall(_._2 == "none"),
      "fsck idempotent after the tidy")
  }

  test("fsck deletes torn sidecar temps (crash inside a temp-write + " +
      "rename) — the r17 advice window") {
    val idx = tmp()
    Search.searchIndexWrite(docsDf, idx)
    // a crash between writeMetaSidecar's temp write and its rename
    // leaves these exact names; none matches the generation or marker
    // patterns, so pre-r18 fsck never saw them
    for (n <- Seq("manifest-tmp", "corpus-version-tmp", "stats-tmp"))
      assert(new java.io.File(idx, n).createNewFile(), n)
    val report = Stores.searchIndexFsck(spark, idx, execute = false)
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq
    for (n <- Seq("manifest-tmp", "corpus-version-tmp", "stats-tmp"))
      assert(report.contains((s"torn sidecar temp $n", "would delete")),
        s"classify-only must report $n: $report")
    assert(Seq("manifest-tmp", "corpus-version-tmp", "stats-tmp")
      .forall(exists(idx, _)), "classify-only must not touch the store")
    Stores.searchIndexFsck(spark, idx)
    assert(Seq("manifest-tmp", "corpus-version-tmp", "stats-tmp")
      .forall(!exists(idx, _)), "execute must delete the torn temps")
    // a generational stats temp (stats-g3-tmp) is also recognized; an
    // unrelated name is NOT swept (fsck only touches what it can name)
    assert(new java.io.File(idx, "stats-g3-tmp").createNewFile())
    assert(new java.io.File(idx, "unrelated-file").createNewFile())
    Stores.searchIndexFsck(spark, idx)
    assert(!exists(idx, "stats-g3-tmp") && exists(idx, "unrelated-file"))
    assert(serveAll(idx).nonEmpty, "the store still serves")
  }

  test("a rebuild over a dir carrying PRE-GENERATIONAL leftovers " +
      "sweeps them (the r17 advice one-time-migration hygiene)") {
    val idx = tmp()
    Search.searchIndexWrite(docsDf, idx)
    // plant the old rename-swap layout's scratch names
    for (n <- Seq("postings-retired", "docs-compact"))
      assert(new java.io.File(idx, n).mkdir(), n)
    assert(new java.io.File(idx, "compact-inflight").createNewFile())
    Search.searchIndexWrite(docsDf, idx)
    assert(Seq("postings-retired", "docs-compact", "compact-inflight")
      .forall(!exists(idx, _)),
      "the rebuild must leave a clean directory — no legacy scratch")
    assert(serveAll(idx).nonEmpty)
  }

  test("storeFsck refuses a directory that is not a graft store") {
    val e = intercept[IllegalArgumentException](
      Graft.storeFsck(spark, tmp()))
    assert(e.getMessage.contains("not a graft store"), e.getMessage)
  }

  test("takedownAll + purgeAll leaves NO byte of the document in ANY " +
      "generation (the takedown-compliance pair, executable)") {
    val search = tmp(); val dedup = tmp()
    Search.searchIndexWrite(docsDf, search)
    TextDedup.dedupIndexWrite(docsDf, dedup)
    val stores = Seq(Stores.SearchStore(search), Stores.DedupStore(dedup))
    Graft.takedownAll(spark, Seq(2L), stores)
    // one compact alone is NOT a purge: the grace generation still
    // holds the bytes (the purge-note state, pinned from the unsafe
    // side before the safe one)
    Search.searchIndexCompact(spark, search)
    def idInAnyParquet(dir: String): Boolean = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(dir)).exists { f =>
        val cols = spark.read.parquet(f.toString).columns
        val idCol = if (cols.contains("doc_id")) "doc_id" else cols.head
        spark.read.parquet(f.toString)
          .filter(col(idCol) === 2L).count() > 0
      }
    }
    assert(idInAnyParquet(search),
      "fixture: after ONE compact the grace generation still holds the " +
        "deleted doc's bytes — the state purgeAll exists to clear")
    Graft.purgeAll(spark, stores)
    assert(!idInAnyParquet(search) && !idInAnyParquet(dedup),
      "after purgeAll no parquet file under either store may carry the " +
        "taken-down doc id, in any generation")
    // serving is unchanged and the stores stay aligned
    assert(!serveAll(search).exists(_.startsWith("[2,")),
      "the purged store serves without the doc")
    Stores.requireAlignedVersions(spark, stores.map(_.dir))
    ()
  }
}
