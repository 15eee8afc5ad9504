package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkTestBase}

/** Pins the ON-DISK LSH AUDIT (PAIR) STORE (`auditStoreWrite` /
  * `Append` / `Delete` / `Compact` / the resident reads): store-fed ≡
  * recompute (q188 ≡ q117 — the r19 verdict's #1 "Done" clause), the
  * round-trip fidelity of both persisted sets against the registry
  * caches they snapshot, the append ≡ rebuild contract, doc-level
  * tombstone semantics on EITHER endpoint, the compaction lifecycle,
  * the geometry manifest, and the bucket layout. The pair-store twin
  * of DedupIndexSpec. */
class AuditStoreSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-auditstore").toString

  private def pairRows(ps: (Long, Long)*): DataFrame =
    ps.toSeq.toDF("doc_i", "doc_j")
      .select(col("doc_i"), col("doc_j"),
        lit(5L).as("n_common"), lit(7).as("n_i"), lit(7).as("n_j"),
        lit(0.5556).as("jaccard"))

  private def candRows(ps: (Long, Long)*): DataFrame =
    ps.toSeq.toDF("doc_i", "doc_j")

  private def residentPairKeys(idx: String): Seq[(Long, Long)] =
    TextDedup.residentAuditPairs(spark, idx)
      .select("doc_i", "doc_j").as[(Long, Long)].collect().toSeq.sorted

  private def residentCandKeys(idx: String): Seq[(Long, Long)] =
    TextDedup.residentAuditCands(spark, idx)
      .select("doc_i", "doc_j").as[(Long, Long)].collect().toSeq.sorted

  test("q188 and q117 (both store-fed since r21) equal the pure chain " +
      "recompute row for row") {
    // clear the REGISTRY too, not just the store memo: an earlier
    // suite in this shared session may have warmed the
    // jaccard-pairs/lsh-cand frames against a previous (now-orphaned)
    // store — without the clear, q117's leg would serve those frames
    // and never read the store this test builds, making its half of
    // the pin vacuous
    graft.CacheRegistry.clear(spark)
    Stores.resetStoreMemos(spark)
    val a = SparkEntry.queries("q188_disk_lsh_audit")(spark, sf)
      .collect().toSeq
    val b = SparkEntry.queries("q117_lsh_recall")(spark, sf)
      .collect().toSeq
    // the recompute reference: the SAME audit math over the chain-
    // computed pair/candidate sets, bypassing the store entirely —
    // with the r21 rewiring this is the one comparison that still
    // pins store-fed ≡ recompute end to end
    val c = TextDedup.lshAuditPlan(TextDedup.quotaSample(spark, sf, 50),
      TextDedup.chainJaccardPairs(spark, sf).select("doc_i", "doc_j"),
      TextDedup.chainCandidatePairs(spark, sf)).collect().toSeq
    assert(a == c, s"store-fed q188 must equal the chain recompute:\n$a\nvs\n$c")
    assert(b == c, s"store-fed q117 must equal the chain recompute:\n$b\nvs\n$c")
    // the fixture must exercise real candidates or the pin is vacuous
    assert(a.head.getInt(1) > 0, s"fixture has no LSH candidates: $a")
  }

  test("both persisted sets round-trip the chain computations exactly") {
    Stores.resetStoreMemos(spark)
    val idx = TextDedup.diskAuditDir(spark, sf)
    val gotPairs = TextDedup.residentAuditPairs(spark, idx)
      .as[(Long, Long, Long, Int, Int, Double)].collect().toSeq.sorted
    // the chain plans, NOT the q42/q44 queries: those read through the
    // store since r21, so only the raw chain keeps this non-circular
    val wantPairs = TextDedup.chainJaccardPairs(spark, sf)
      .select(col("doc_i"), col("doc_j"), col("n_common").cast("long"),
        col("n_i").cast("int"), col("n_j").cast("int"),
        col("jaccard").cast("double"))
      .as[(Long, Long, Long, Int, Int, Double)].collect().toSeq.sorted
    assert(gotPairs.nonEmpty && gotPairs == wantPairs,
      "the persisted verified pair set must equal the chain-computed " +
        s"pairs:\n$gotPairs\nvs\n$wantPairs")
    val gotCands = residentCandKeys(idx)
    val wantCands = TextDedup.chainCandidatePairs(spark, sf)
      .select("doc_i", "doc_j").as[(Long, Long)].collect().toSeq.sorted
    assert(gotCands.nonEmpty && gotCands == wantCands,
      "the persisted candidate set must equal the chain-computed candidates")
  }

  test("the decision layer runs OFF THE STORE: connected components " +
      "over the persisted pair set equal the chain's dup clusters") {
    // the 100 TB claim made executable: a NEW session (no chain
    // caches) labels duplicate clusters from the store's pair
    // endpoints alone — same converged labels as the in-memory
    // dup-cc cache the q89/q173/q174/q175 consumers read
    Stores.resetStoreMemos(spark)
    val idx = TextDedup.diskAuditDir(spark, sf)
    val fromStore = TextDedup.connectedComponents(
        TextDedup.residentAuditPairs(spark, idx)
          .select(col("doc_i").as("src"), col("doc_j").as("dst")))
      .as[(Long, Long)].collect().toSeq.sorted
    // the chain recompute, not dupClusters: the dup-cc cache reads
    // through this very store since r21
    val fromChain = TextDedup.connectedComponents(
        TextDedup.chainJaccardPairs(spark, sf)
          .select(col("doc_i").as("src"), col("doc_j").as("dst")))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(fromStore.nonEmpty && fromStore == fromChain,
      "store-fed connected components must equal the chain's labels")
  }

  test("a point membership probe prunes to ONE bucket partition") {
    Stores.resetStoreMemos(spark)
    val idx = TextDedup.diskAuditDir(spark, sf)
    val some = TextDedup.residentAuditPairs(spark, idx)
      .select("doc_i", "doc_j").as[(Long, Long)].head()
    // "was (i, j) verified?" — the bk predicate a point probe derives
    // from doc_i reaches the scan as a partition filter, so the read
    // touches one bucket directory regardless of store size
    val probe = spark.read
      .schema("doc_i BIGINT, doc_j BIGINT, n_common BIGINT, n_i INT, " +
        "n_j INT, jaccard DOUBLE, bk INT")
      .parquet(s"$idx/pairs")
      .filter(col("bk") === pmod(xxhash64(lit(some._1)), lit(8)).cast("int")
        && col("doc_i") === some._1 && col("doc_j") === some._2)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
        !plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
          .trim.isEmpty,
      s"the bk predicate must reach the scan as a partition filter:\n$plan")
    assert(probe.count() == 1L, "the probe finds exactly the pair")
  }

  test("an in-place corpus overwrite is picked up WITHOUT a manual " +
      "memo reset (corpus-version-keyed memo, r22), and the evicted " +
      "store directory is deleted") {
    graft.CacheRegistry.clear(spark)
    Stores.resetStoreMemos(spark)
    val corpus = java.nio.file.Files
      .createTempDirectory("graft-corpus").toString
    // the two tables the six store builds read, copied from the
    // fixture (filtered by `keep` on the id column)
    def writeCorpus(keep: Column => Column): Unit =
      Seq("documents" -> "doc_id", "embeddings" -> "vec_id").foreach {
        case (t, id) => spark.read.parquet(s"$sf/$t.parquet")
          .filter(keep(col(id))).coalesce(1)
          .write.mode("overwrite").parquet(s"$corpus/$t.parquet")
      }
    def stores(): Map[String, String] = Map(
      "ann" -> Similarity.diskIndexDir(spark, corpus),
      "search" -> Search.diskSearchDir(spark, corpus),
      "chunk search" -> Search.diskChunkSearchDir(spark, corpus),
      "coordinated pair" -> new java.io.File(
        Search.coordStoreDirs(spark, corpus)._1).getParent,
      "dedup" -> TextDedup.diskDedupDir(spark, corpus),
      "audit" -> TextDedup.diskAuditDir(spark, corpus))
    def served(idx: String): Seq[Long] =
      Search.searchIndexServe(spark, idx, Seq("hash", "scan", "filter"),
        topK = 1000).select("doc_id").as[Long].collect().toSeq
    writeCorpus(_ => lit(true))
    val before = stores()
    val pairs1 = residentPairKeys(before("audit"))
    assert(pairs1.nonEmpty, "fixture: the corpus has verified pairs")
    // drop the id residue class of the first pair's doc_i, so the
    // rewrite removes at least one verified pair
    val k = pairs1.head._1 % 4
    def dropped(id: Long): Boolean = id % 4 == k
    assert(served(before("search")).exists(dropped),
      "fixture: the search serve returns a doc of the dropped slice")
    // overwrite BOTH tables IN PLACE (fresh part files). The standing
    // discipline for the other derived caches still applies
    // (CacheRegistry.clear, which invalidates Tables too) — but NO
    // memo reset: each store's memo must detect the changed corpus
    // fingerprint by itself.
    writeCorpus(id => pmod(id, lit(4L)) =!= k)
    graft.CacheRegistry.clear(spark)
    val after = stores()
    val kept = before.filter { case (kind, idx1) => after(kind) == idx1 }
    assert(kept.isEmpty, "a changed corpus must build a fresh store; " +
      s"still serving the old one: ${kept.keys.toSeq.sorted.mkString(", ")}")
    val left = before.filter { case (_, idx1) => new java.io.File(idx1).exists }
    assert(left.isEmpty, "the evicted stale store directory must be " +
      s"deleted: ${left.keys.toSeq.sorted.mkString(", ")}")
    assert(!served(after("search")).exists(dropped),
      "the fresh search store must not serve a dropped doc")
    val pairs2 = residentPairKeys(after("audit"))
    val want = TextDedup.chainJaccardPairs(spark, corpus)
      .select("doc_i", "doc_j").as[(Long, Long)].collect().toSeq.sorted
    assert(pairs2 == want && pairs2 != pairs1,
      "the fresh store must hold the NEW corpus's pairs")
    assert(!pairs2.exists(p => dropped(p._1) || dropped(p._2)))
    graft.CacheRegistry.clear(spark)
    Stores.resetStoreMemos(spark)
  }

  test("resetStoreMemos drops dependent frames and deletes the stores") {
    graft.CacheRegistry.clear(spark)
    Stores.resetStoreMemos(spark)
    // warm the store AND a dependent registry frame through the
    // public read path
    val nBefore = SparkEntry.queries("q42_jaccard_pairs")(spark, sf).count()
    val idx = TextDedup.diskAuditDir(spark, sf)
    assert(new java.io.File(idx).exists)
    assert(graft.CacheRegistry.liveCount(spark) > 0)
    Stores.resetStoreMemos(spark)
    assert(!new java.io.File(idx).exists,
      "the reset must delete the evicted store")
    // the dependent frames are gone: a fresh q42 construction builds
    // a NEW store (fresh memo) rather than scanning the deleted dir
    val again = SparkEntry.queries("q42_jaccard_pairs")(spark, sf)
    assert(again.count() == nBefore,
      "a rebuilt store serves the same pairs")
    graft.CacheRegistry.clear(spark)
    Stores.resetStoreMemos(spark)
  }

  test("append serves identically to a full rebuild and bumps the stamp") {
    val a = Seq((1L, 2L), (3L, 4L))
    val b = Seq((5L, 6L), (1L, 7L))
    val incr = tmp(); val full = tmp()
    TextDedup.auditStoreWrite(pairRows(a: _*), candRows(a: _*), incr)
    assert(Stores.storeVersion(spark, incr) == 0L)
    TextDedup.auditStoreAppend(pairRows(b: _*), candRows(b: _*), incr)
    assert(Stores.storeVersion(spark, incr) == 1L,
      "append must bump the corpus-version stamp")
    TextDedup.auditStoreWrite(pairRows((a ++ b): _*),
      candRows((a ++ b): _*), full)
    assert(residentPairKeys(incr) == residentPairKeys(full)
        && residentCandKeys(incr) == residentCandKeys(full),
      "write+append must serve identically to the full rebuild")
    assert(residentPairKeys(incr) == (a ++ b).sorted)
  }

  test("a tombstoned doc drops pairs on EITHER endpoint; compact " +
      "applies physically and preserves the serve") {
    val ps = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 6L))
    val idx = tmp()
    TextDedup.auditStoreWrite(pairRows(ps: _*), candRows(ps: _*), idx)
    TextDedup.auditStoreDelete(spark, idx, Seq(2L))
    val after = Seq((3L, 9L), (5L, 6L))
    assert(residentPairKeys(idx) == after,
      "doc 2's takedown must drop (1,2) [doc_j side] AND (2,3) " +
        s"[doc_i side]: ${residentPairKeys(idx)}")
    assert(residentCandKeys(idx) == after)
    val vBefore = Stores.storeVersion(spark, idx)
    TextDedup.auditStoreCompact(spark, idx)
    assert(residentPairKeys(idx) == after && residentCandKeys(idx) == after,
      "compact must preserve the resident sets")
    assert(Stores.currentGen(spark, idx) == 1L,
      "compact must flip the generation pointer")
    // physical application: the new generation's raw pairs dataset
    // (no tombstone subtraction) holds only the live rows
    val raw = spark.read
      .schema("doc_i BIGINT, doc_j BIGINT, n_common BIGINT, n_i INT, " +
        "n_j INT, jaccard DOUBLE, bk INT")
      .parquet(s"$idx/pairs-g1")
      .select("doc_i", "doc_j").as[(Long, Long)].collect().toSeq.sorted
    assert(raw == after, s"compact must drop tombstoned rows physically: $raw")
    assert(Stores.storeVersion(spark, idx) == vBefore,
      "compact is a physical reorganization — it must NOT bump the " +
        "corpus-version stamp (serves see identical content)")
  }

  test("the manifest rejects a store written under a different geometry") {
    val idx = tmp()
    TextDedup.auditStoreWrite(pairRows((1L, 2L)), candRows((1L, 2L)), idx)
    Stores.writeMetaSidecar(spark, s"$idx/manifest", Seq(
      "shingle_k" -> "3", "n_hashes" -> "8", "bands" -> "5",
      "rows_per_band" -> "2", "buckets" -> "8"))
    val e = intercept[IllegalArgumentException] {
      TextDedup.residentAuditPairs(spark, idx)
    }
    assert(e.getMessage.contains("band space"),
      s"geometry mismatch must fail loudly: ${e.getMessage}")
  }

  test("bucket layout: hash-partitioned dirs, one file per bucket " +
      "per mutation") {
    val ps = (0L until 64L).map(i => (i, i + 1000L))
    val idx = tmp()
    TextDedup.auditStoreWrite(pairRows(ps: _*), candRows(ps: _*), idx)
    val root = new java.io.File(s"$idx/pairs")
    val bks = root.listFiles().filter(_.getName.startsWith("bk="))
    assert(bks.nonEmpty && bks.length <= 8,
      s"expected ≤8 bk= partition dirs: ${bks.map(_.getName).toSeq}")
    assert(bks.forall(
        _.listFiles().count(_.getName.endsWith(".parquet")) == 1),
      "the write must land exactly one file per bucket")
  }

  test("rebuild over a used dir clears stale tombstones") {
    val idx = tmp()
    TextDedup.auditStoreWrite(pairRows((1L, 2L)), candRows((1L, 2L)), idx)
    TextDedup.auditStoreDelete(spark, idx, Seq(1L))
    assert(residentPairKeys(idx).isEmpty)
    TextDedup.auditStoreWrite(pairRows((1L, 2L)), candRows((1L, 2L)), idx)
    assert(residentPairKeys(idx) == Seq((1L, 2L)),
      "a rebuild must not inherit the prior life's tombstones")
    assert(Stores.storeVersion(spark, idx) == 0L,
      "a rebuild starts a fresh coordination epoch")
  }
}
