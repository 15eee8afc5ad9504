package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkTestBase}

/** Pins the ON-DISK search index (`searchIndexWrite` /
  * `searchIndexServe`): q115-parity of the disk-served BM25 top-k, the
  * term-bucket partition pruning the 100 TB story rests on, the
  * manifest guard, and the matched-docs-only serving contract. */
class SearchIndexSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-searchidx").toString

  test("q185 equals q115 row for row (disk serve == in-memory BM25)") {
    Stores.resetStoreMemos(spark)
    val a = SparkEntry.queries("q185_bm25_disk")(spark, sf)
      .collect().map(_.toString).toSeq
    val b = SparkEntry.queries("q115_bm25_topk")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(a.nonEmpty && a == b,
      s"disk-served BM25 must equal the in-memory top-k:\n$a\nvs\n$b")
  }

  test("the postings scan statically prunes to the query terms' buckets") {
    // the PLAN — not runtime stats — must carry the bucket restriction
    // as a partition filter over literal bkt values: that is the
    // guarantee that only |query terms| directory families of a
    // 100 TB postings store are ever listed
    Stores.resetStoreMemos(spark)
    val plan = SparkEntry.queries("q185_bm25_disk")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pf = plan.linesIterator
      .filter(_.contains("PartitionFilters"))
      .find(_.contains("bkt"))
    assert(pf.isDefined,
      s"the postings scan must carry a bkt partition filter:\n$plan")
    assert(pf.get.contains("bkt#") && pf.get.toLowerCase.contains("in"),
      s"the filter must be a literal IN over bucket values: ${pf.get}")
    // and the term equality reaches the parquet scan as a pushed filter
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      "the term IN-list must push into the parquet scan")
  }

  test("driver-side term buckets equal the write path's column " +
      "expression (the serve's no-job pruning rests on this)") {
    // the serve computes each term's bucket on the DRIVER (no Spark
    // job per construction, r19); the write stamps buckets per row
    // with pmod(xxhash64(term), n). The two must agree for every term
    // and bucket count or the serve prunes to the WRONG directories —
    // silently empty results, the worst failure a pruned serve has.
    val terms = Seq("hash", "scan", "filter", "alpha", "Ω-unicode",
      "", "a", "supercalifragilistic", "bkt=0")
    for (n <- Seq(1, 2, 8, 13, 1024)) {
      val fromExpr = terms.toDF("term")
        .select(col("term"),
          pmod(xxhash64(col("term")), lit(n.toLong)).cast("int").as("bkt"))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      val fromDriver = terms.map(t => t -> Search.termBucket(t, n)).toMap
      assert(fromDriver == fromExpr,
        s"driver/expression bucket drift at nBuckets=$n:\n" +
          s"  driver: $fromDriver\n  expr:   $fromExpr")
    }
  }

  test("serve reads only matched docs; a query of absent terms is empty") {
    val docs = Seq(
      (0L, "alpha beta gamma"), (1L, "alpha alpha delta"),
      (2L, "epsilon zeta eta"), (3L, "beta beta beta alpha"))
      .toDF("doc_id", "text")
    val idx = tmp()
    Search.searchIndexWrite(docs, idx, nBuckets = 4)
    val hits = Search.searchIndexServe(spark, idx, Seq("alpha", "beta"))
      .select("doc_id").as[Long].collect().toSet
    assert(hits == Set(0L, 1L, 3L),
      s"docs matching >= 1 term serve; doc 2 matches none: $hits")
    val none = Search.searchIndexServe(spark, idx, Seq("omega"))
    assert(none.count() == 0, "a vocabulary miss serves empty, not error")
    // scores agree with the in-memory scorer on the same corpus
    val mem = Search.bm25Score(docs, "doc_id", "text",
        Seq("alpha", "beta"))
      .filter(col("tf1") + col("tf2") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .collect().map(_.toString).toSeq
    val disk = Search.searchIndexServe(spark, idx, Seq("alpha", "beta"))
      .collect().map(_.toString).toSeq
    assert(disk == mem, s"hand corpus parity:\n$disk\nvs\n$mem")
  }

  test("the manifest rejects a mismatched tokenizer; bucket count is " +
      "read from the index, not assumed") {
    val docs = Seq((0L, "alpha beta"), (1L, "beta gamma"))
      .toDF("doc_id", "text")
    val idx = tmp()
    Search.searchIndexWrite(docs, idx, nBuckets = 16)
    // serving works at whatever bucket count the index was written with
    assert(Search.searchIndexServe(spark, idx, Seq("beta")).count() == 2)
    Stores.writeMetaSidecar(spark, s"$idx/manifest",
      Seq("n_buckets" -> "16", "tokenizer" -> "bpe"))
    val e = intercept[IllegalArgumentException](
      Search.searchIndexServe(spark, idx, Seq("beta")))
    assert(e.getMessage.contains("bpe"),
      s"the error must name the stored tokenizer: ${e.getMessage}")
  }

  // ─── lifecycle parity (r15 verdict ask #2) ───

  /** A deterministic 12-doc corpus with enough term spread that BM25
    * scores discriminate: 'alpha' mid-frequency, 'beta' common, 'rare'
    * in one doc. */
  private val corpus: Seq[(Long, String)] = Seq(
    (0L, "alpha beta gamma delta epsilon"),
    (1L, "beta gamma delta epsilon zeta"),
    (2L, "alpha alpha beta zeta eta"),
    (3L, "gamma delta epsilon eta theta"),
    (4L, "alpha beta beta theta iota"),
    (5L, "rare alpha beta gamma iota"),
    (6L, "beta delta zeta iota kappa"),
    (7L, "alpha gamma epsilon kappa mu"),
    (8L, "beta beta gamma mu nu"),
    (9L, "alpha delta eta nu xi"),
    (10L, "beta epsilon zeta xi omicron"),
    (11L, "alpha alpha gamma kappa omicron"))

  private def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  private def serveAll(idx: String, terms: Seq[String] = Seq("alpha", "beta"))
      : Seq[String] =
    Search.searchIndexServe(spark, idx, terms, topK = 100)
      .collect().map(_.toString).toSeq

  test("append ≡ rebuild: postings, docs, AND the reconciled stats") {
    val (a, b) = corpus.splitAt(7)
    val appended = tmp(); val rebuilt = tmp()
    Search.searchIndexWrite(df(a), appended)
    Search.searchIndexAppend(df(b), appended)
    Search.searchIndexWrite(df(corpus), rebuilt)
    val got = serveAll(appended)
    assert(got.nonEmpty && got == serveAll(rebuilt),
      s"append must serve like the rebuild:\n$got\nvs\n${serveAll(rebuilt)}")
    // the invariant the append doc promises: stats ≡ agg(docs/)
    val st = Search.readSearchStats(spark, appended,
      graft.operators.Stores.currentGen(spark, appended))
    assert(st == ((corpus.size.toLong,
      corpus.map(_._2.split(" ").length.toLong).sum)),
      s"stats sidecar must equal the docs aggregate: $st")
  }

  test("delete subtracts from ranking, df AND corpus stats; idempotent") {
    val idx = tmp(); val survivors = tmp()
    Search.searchIndexWrite(df(corpus), idx)
    val dead = Seq(2L, 4L, 11L) // heavy 'alpha' docs — df1/n/sdl all move
    Search.searchIndexDelete(spark, idx, dead)
    Search.searchIndexWrite(
      df(corpus.filterNot(r => dead.contains(r._1))), survivors)
    val got = serveAll(idx)
    assert(got.nonEmpty && got == serveAll(survivors),
      "a tombstoned serve must equal the survivor rebuild — ranking, " +
        s"df and (n, sum_dl) all corrected:\n$got\nvs\n${serveAll(survivors)}")
    // a RETRIED delete must not double-subtract the stats correction
    Search.searchIndexDelete(spark, idx, dead)
    assert(serveAll(idx) == serveAll(survivors),
      "delete must be idempotent (tombstone dedup guards the correction)")
  }

  test("compact: serve-identical, next generation committed, prior " +
      "generation kept as the serve grace") {
    val idx = tmp()
    Search.searchIndexWrite(df(corpus.take(8)), idx, nBuckets = 4)
    Search.searchIndexAppend(df(corpus.drop(8)), idx)
    Search.searchIndexDelete(spark, idx, Seq(0L, 8L))
    val before = serveAll(idx)
    Search.searchIndexCompact(spark, idx)
    assert(serveAll(idx) == before, "compaction must not change serving")
    assert(graft.operators.Stores.currentGen(spark, idx) == 1L,
      "compaction commits by flipping the generation pointer")
    assert(!new java.io.File(s"$idx/tombstones-g1").exists,
      "the new generation starts with an empty tombstone set")
    // the pre-compact generation survives as the serve grace — its
    // datasets (including the folded tombstones) stay on disk until
    // the NEXT compact vacuums them
    for (kept <- Seq("postings", "docs", "tombstones"))
      assert(new java.io.File(s"$idx/$kept").exists,
        s"grace generation artifact $kept must survive one compact")
    // physically gone in the NEW generation: no tombstoned doc
    val ids = spark.read.schema("doc_id BIGINT, term STRING, tf INT, bkt INT")
      .parquet(s"$idx/postings-g1").select("doc_id")
      .union(spark.read.schema("doc_id BIGINT, dl INT")
        .parquet(s"$idx/docs-g1").select("doc_id"))
      .distinct().as[Long].collect().toSet
    assert(!ids.contains(0L) && !ids.contains(8L), s"dead rows remain: $ids")
    // a SECOND compact vacuums generation 0 entirely
    Search.searchIndexCompact(spark, idx)
    assert(graft.operators.Stores.currentGen(spark, idx) == 2L)
    for (gone <- Seq("postings", "docs", "stats", "tombstones"))
      assert(!new java.io.File(s"$idx/$gone").exists,
        s"generation 0 artifact $gone must be vacuumed by the 2nd compact")
    assert(serveAll(idx) == before, "serving unchanged across two compacts")
  }

  test("snapshot isolation: a serve constructed BEFORE a compact still " +
      "actions correctly after it (one generation of grace)") {
    val idx = tmp()
    Search.searchIndexWrite(df(corpus), idx, nBuckets = 4)
    Search.searchIndexDelete(spark, idx, Seq(2L))
    // construct the plans against generation 0, then compact underneath
    // (two instances: a collected Dataset's materialized stages are
    // AQE-reused on re-collect, so the limit case below needs a plan
    // whose FIRST action happens after the second compact)
    val pinned = Search.searchIndexServe(spark, idx,
      Seq("alpha", "beta"), topK = 100)
    val pinnedLate = Search.searchIndexServe(spark, idx,
      Seq("alpha", "beta"), topK = 100)
    val expect = serveAll(idx)
    Search.searchIndexCompact(spark, idx)
    // the old rename-swap layout broke here (planned paths vanished);
    // the generational layout keeps g0 on disk as the grace
    assert(pinned.collect().map(_.toString).toSeq == expect,
      "a pre-compact serve must keep reading its pinned generation")
    // and a serve constructed AFTER the flip reads the new generation
    assert(serveAll(idx) == expect, "post-compact serve unchanged")
    // the HONEST LIMIT, pinned: the grace is exactly ONE generation
    // deep — a second compact vacuums g0, and a g0-pinned plan whose
    // first action comes after it finds its files gone (the documented
    // retry case, now the only one left)
    Search.searchIndexCompact(spark, idx)
    assert(!new java.io.File(s"$idx/postings").exists,
      "the second compact vacuums the pinned generation")
    intercept[Exception](pinnedLate.collect())
    assert(serveAll(idx) == expect,
      "a freshly constructed serve is unaffected")
  }

  test("stats report: live rows per bucket, fragmentation visible, " +
      "all-tombstoned bucket still reports") {
    val idx = tmp()
    Search.searchIndexWrite(df(corpus.take(6)), idx, nBuckets = 2)
    Search.searchIndexAppend(df(corpus.slice(6, 9)), idx)
    val frag = Search.searchIndexStats(spark, idx)
      .as[(Int, Long, Long, Int)].collect().toSeq
    assert(frag.map(_._1) == Seq(0, 1), s"bucket listing: $frag")
    assert(frag.exists(_._4 > 1), s"appends must show as extra files: $frag")
    val totalPostings = corpus.take(9)
      .map(_._2.split(" ").distinct.length.toLong).sum
    assert(frag.map(_._2).sum == totalPostings,
      s"per-bucket live rows must sum to the corpus postings: $frag")
    // tombstone everything: buckets still report, at zero live rows
    Search.searchIndexDelete(spark, idx, corpus.take(9).map(_._1))
    val emptied = Search.searchIndexStats(spark, idx)
      .as[(Int, Long, Long, Int)].collect().toSeq
    assert(emptied.map(_._1) == Seq(0, 1) &&
      emptied.forall(r => r._2 == 0L && r._3 == 0L && r._4 > 0),
      s"an all-tombstoned bucket reports (0 rows, 0 terms, >0 files): $emptied")
  }

  test("maintain: composed audit — build, 3 appends, delete, " +
      "maintain(execute) serves exactly like a fresh rebuild") {
    val idx = tmp()
    Search.searchIndexWrite(df(corpus.take(3)), idx, nBuckets = 2)
    for (wave <- Seq(corpus.slice(3, 6), corpus.slice(6, 9),
        corpus.slice(9, 12)))
      Search.searchIndexAppend(df(wave), idx)
    Search.searchIndexDelete(spark, idx, Seq(1L, 5L))
    // decision table: 4 write generations in 2 buckets → files > 3
    val report = Search.searchIndexMaintain(spark, idx, maxFiles = 3)
      .as[(Int, Long, Int, Long, String)].collect().toSeq
    assert(report.exists(_._5 == "compact"),
      s"fragmentation past maxFiles must decide compact: $report")
    assert(report.forall(_._4 >= 0L) && report.map(_._4).sum > 0,
      s"the tombstoned-row column must be populated: $report")
    // execute: the maintained store serves like a fresh rebuild
    Search.searchIndexMaintain(spark, idx, maxFiles = 3, execute = true)
    val fresh = tmp()
    Search.searchIndexWrite(
      df(corpus.filterNot(r => Seq(1L, 5L).contains(r._1))), fresh)
    val got = serveAll(idx)
    assert(got.nonEmpty && got == serveAll(fresh),
      s"maintained ≡ fresh rebuild:\n$got\nvs\n${serveAll(fresh)}")
    val after = Search.searchIndexMaintain(spark, idx, maxFiles = 3)
      .as[(Int, Long, Int, Long, String)].collect().toSeq
    assert(after.forall(r => r._5 == "ok" && r._3 == 1 && r._4 == 0L),
      s"a maintained store decides ok at one file per bucket: $after")
  }

  test("includeZeroMatches serves the exact global top-k where the " +
      "default diverges (the serve caveat's escape hatch)") {
    val docs = Seq((0L, "beta gamma"), (1L, "alpha beta"),
      (2L, "gamma delta"), (3L, "delta epsilon")).toDF("doc_id", "text")
    val idx = tmp()
    Search.searchIndexWrite(docs, idx, nBuckets = 4)
    // 'alpha' matches ONE doc; a top-3 needs two zero-score pads
    assert(Search.searchIndexServe(spark, idx, Seq("alpha"), topK = 3)
      .count() == 1, "default mode returns matched docs only")
    val global = Search.bm25Score(docs, "doc_id", "text", Seq("alpha"))
      .orderBy(col("score").desc, col("doc_id")).limit(3)
      .collect().map(_.toString).toSeq
    val padded = Search.searchIndexServe(spark, idx, Seq("alpha"),
        topK = 3, includeZeroMatches = true)
      .collect().map(_.toString).toSeq
    assert(padded == global,
      s"zero-union mode must equal the global scorer:\n$padded\nvs\n$global")
    // a FULL vocabulary miss: the pruned scan is empty, so the df
    // aggregates would be NULL without their coalesce — zero-union
    // mode must still return the global scorer's exact 0.0 scores,
    // not NULL-scored rows (self-review catch, round 16)
    val missGlobal = Search.bm25Score(docs, "doc_id", "text", Seq("omega"))
      .orderBy(col("score").desc, col("doc_id")).limit(3)
      .collect().map(_.toString).toSeq
    val missPadded = Search.searchIndexServe(spark, idx, Seq("omega"),
        topK = 3, includeZeroMatches = true)
      .collect().map(_.toString).toSeq
    assert(missPadded == missGlobal && missPadded.forall(_.contains("0.0")),
      s"vocabulary-miss zero-union must score exact 0.0:\n$missPadded" +
        s"\nvs\n$missGlobal")
  }

  test("an EMPTY write bootstraps a store appends can grow (the " +
      "streaming-ingest start state: stats (0,0), never null)") {
    val idx = tmp()
    Search.searchIndexWrite(spark.emptyDataFrame
      .select(lit(0L).as("doc_id"), lit("").as("text")).limit(0), idx)
    val st0 = Search.readSearchStats(spark, idx,
      graft.operators.Stores.currentGen(spark, idx))
    assert(st0 == ((0L, 0L)),
      s"empty-corpus stats must be (0, 0) — a NULL sum would NPE the " +
        s"first incremental append: $st0")
    Search.searchIndexAppend(df(corpus.take(4)), idx)
    val fresh = tmp()
    Search.searchIndexWrite(df(corpus.take(4)), fresh)
    assert(serveAll(idx) == serveAll(fresh),
      "empty-write + append must serve like a direct write")
  }

  test("bucket pruning survives the tombstone branch of the serve plan") {
    // deletes add an anti-join and a stats correction to the plan —
    // neither may cost the scan its plan-time PartitionFilters (the
    // 100 TB guarantee); pin the pruned shape on a tombstoned store
    val idx = tmp()
    Search.searchIndexWrite(df(corpus), idx)
    Search.searchIndexDelete(spark, idx, Seq(2L))
    val plan = Search.searchIndexServe(spark, idx, Seq("alpha", "beta"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pf = plan.linesIterator
      .filter(_.contains("PartitionFilters")).find(_.contains("bkt"))
    assert(pf.isDefined && pf.get.toLowerCase.contains("in"),
      s"tombstoned serve must keep the literal bkt partition filter:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      "the term IN-list must still push into the pruned scan")
  }

  test("compact reclaims ORPHANED postings (the append-crash window: " +
      "postings landed, docs did not — df transiently inflated, " +
      "unreachable by delete)") {
    val idx = tmp(); val fresh = tmp()
    Search.searchIndexWrite(df(corpus), idx)
    Search.searchIndexWrite(df(corpus), fresh)
    // simulate the crash: one postings row for a doc docs/ never saw
    Seq((999999L, "alpha", 3)).toDF("doc_id", "term", "tf")
      .withColumn("bkt", pmod(xxhash64(col("term")), lit(8L)).cast("int"))
      .repartition(1)
      .write.mode("append").partitionBy("bkt").parquet(s"$idx/postings")
    // the orphan cannot rank (no dl row) — but df1 now counts it, so
    // every alpha score shifts off the clean store's
    val dirty = serveAll(idx)
    assert(!dirty.exists(_.startsWith("[999999")),
      "an orphan must never rank")
    assert(dirty != serveAll(fresh),
      "the orphan inflates df — scores must visibly differ pre-compact " +
        "(this is the wound the repair exists for)")
    Search.searchIndexCompact(spark, idx)
    assert(serveAll(idx) == serveAll(fresh),
      "compaction must reclaim the orphan and restore clean-store scores")
    val ids = spark.read.schema("doc_id BIGINT, term STRING, tf INT, bkt INT")
      .parquet(s"$idx/postings-g1").select("doc_id")
      .distinct().as[Long].collect().toSet
    assert(!ids.contains(999999L), "the orphan row must be physically gone")
  }

  test("a compact crashed pre-flip leaves the store INTACT plus torn " +
      "scratch above the pointer (the generational crash contract)") {
    // simulate the only pre-commit crash window the generational
    // compact has: next-generation scratch fully or partially written,
    // pointer never flipped — the store must serve exactly as before,
    // and the torn state must be visible from the directory alone
    val idx = tmp()
    Search.searchIndexWrite(df(corpus.take(6)), idx, nBuckets = 2)
    val before = serveAll(idx)
    new java.io.File(s"$idx/postings-g1/bkt=0").mkdirs()
    new java.io.File(s"$idx/docs-g1").mkdirs()
    assert(graft.operators.Stores.currentGen(spark, idx) == 0L,
      "the pointer is the commit — a crash before it leaves gen 0")
    assert(serveAll(idx) == before,
      "torn scratch above the pointer must not affect serving")
    // a compact RE-RUN overwrites the torn scratch and converges
    Search.searchIndexCompact(spark, idx)
    assert(graft.operators.Stores.currentGen(spark, idx) == 1L)
    assert(serveAll(idx) == before,
      "the re-run compact must serve identically")
  }

  test("rebuild over a used dir clears stale sidecar state") {
    val idx = tmp()
    Search.searchIndexWrite(df(corpus.take(4)), idx)
    Search.searchIndexDelete(spark, idx, Seq(0L))
    Search.searchIndexCompact(spark, idx) // leaves gen=1 + grace gen 0
    new java.io.File(s"$idx/ingested/batch-0").mkdirs()
    Search.searchIndexWrite(df(corpus.take(4)), idx)
    for (side <- Seq("tombstones", "ingested", "gen-1", "postings-g1",
        "docs-g1", "stats-g1", "tombstones-g1"))
      assert(!new java.io.File(s"$idx/$side").exists,
        s"a rebuild must clear stale $side")
    // the reused id 0 serves (a stale tombstone — or a stale gen
    // pointer shadowing the fresh write — would mask it silently)
    assert(Search.searchIndexServe(spark, idx, Seq("alpha"))
      .filter(col("doc_id") === 0L).count() == 1)
  }

  test("q187's composed serve keeps BOTH partition prunings on the " +
      "MUTATED, COMPACTED stores (bkt IN on postings, cell on enc)") {
    // the lifecycle must not cost the serving plan its shape: after
    // write -> appendAll -> takedownAll -> compact, the generation-1
    // scans still carry the same plan-time PartitionFilters the
    // pristine q186 stores do
    Stores.resetStoreMemos(spark)
    val plan = SparkEntry.queries("q187_coord_takedown")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pfs = plan.linesIterator.filter(_.contains("PartitionFilters"))
      .toSeq
    assert(pfs.exists(l => l.contains("bkt#")
        && l.toLowerCase.contains("in")),
      s"the lexical leg must keep its bucket pruning:\n${pfs.mkString("\n")}")
    assert(pfs.exists(l => l.contains("cell#")),
      s"the semantic leg must keep its cell pruning:\n${pfs.mkString("\n")}")
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      "the term IN-list must still push into the postings scan")
  }

  test("q186 equals q170 row for row (three-store disk serve == " +
      "in-memory RAG pipeline)") {
    Stores.resetStoreMemos(spark)
    val a = SparkEntry.queries("q186_rag_fuse_disk")(spark, sf)
      .collect().map(_.toString).toSeq
    val b = SparkEntry.queries("q170_rag_fuse")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(a.nonEmpty && a == b,
      s"disk-served RAG fusion must equal the in-memory pipeline:\n$a\nvs\n$b")
  }
}
