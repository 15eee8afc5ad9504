package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{CacheRegistry, QueryDef, Tables}
import graft.functions.VectorFunctions._

/** Similarity search over the `embeddings` table (SURVEY.md §2C):
  * brute-force cosine top-k as the correctness baseline, random-hyperplane
  * LSH bucketing as the scale path, and a k-NN self-join.
  *
  * Scale notes (100 TB posture):
  *  - q46 broadcast the single query vector — the corpus is scanned once,
  *    top-k via TakeOrderedAndProject (per-partition heap-k + driver
  *    merge, no global sort);
  *  - q47 is the ANN path: 4 integer-deterministic hyperplanes → 16
  *    buckets; at cluster scale the bucket id becomes the shuffle /
  *    partition key so a query only ever touches its bucket's corpus
  *    slice (more planes = smaller slices; tune to corpus size); the
  *    query multi-probes its own + all hamming-1 buckets, recovering
  *    the recall a near-boundary vector would otherwise lose;
  *  - q48 brute-force k-NN join is intentionally the oracle-checkable
  *    baseline; at 100 TB replace the pair generator with the q47 bucket
  *    join (identical downstream window) — the top-3-per-vector window
  *    shape is unchanged;
  *  - all dots/norms in double with strict left-to-right accumulation
  *    (VectorFunctions), so the DuckDB oracle computes bit-equal values.
  */
object Similarity {
  private def T(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  /** Sentinel salt value: size the LSH salt per bucket from the data
    * (see [[lshNearDupPairs]]). */
  private[graft] val AutoSalt = 0

  /** Auto-salt target: pair comparisons per tile — roughly one
    * task-second of cosine work; a bucket whose |b|² pair space exceeds
    * this splits into ceil(|b|²/target) shuffle-key tiles. */
  private[graft] val AutoSaltTilePairs = 4000000L

  /** Auto-salt clamp: tiles are task-parallelism, not asymptotics —
    * past a few× the core count more salt only buys build-side
    * replication (the same reasoning as ScaleProbe's manual cap 16,
    * with headroom for bigger executor fleets). */
  private[graft] val AutoSaltMax = 64

  /** Shared physical discipline of every SALTED pair join — the ONE
    * definition both `lshNearDupPairs` (bucket, __h) and
    * `TextDedup.bandedPairsTiled` (band, bv, __h) call, written after
    * tools.SkewProbe measured both failure modes on the minhash twin:
    * (a) the probe side repartitions by the full tile key with an
    * EXPLICIT count — a bare repartition is advisory, and AQE's
    * byte-based coalescing merges byte-LIGHT tiles straight back onto
    * one task (a 10k-row bucket of 8-dim vectors is ~1 MB yet hides
    * 50M cosines); (b) the join is merge-hinted by the caller —
    * broadcasting a salt-replicated build side makes every task
    * rebuild a hash map over every replica (measured strictly worse
    * than either regime). salt == 1 / tilePairs == Long.MaxValue paths
    * keep their pristine broadcast-eligible plan. */
  private[operators] def saltedProbeSide(
      probe: DataFrame, tileKey: Seq[String]): DataFrame =
    probe.repartition(
      probe.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      tileKey.map(col): _*)

  /** The ONE per-bucket salt-sizing rule (`ceil(|b|²/tilePairs)`
    * clamped to [1, [[AutoSaltMax]]], |b|² squared in DOUBLE — the
    * long square overflows past |b| ≈ 3.04e9): shared by the
    * hyperplane auto-salt histogram and the minhash occupancy window
    * so the two sites cannot drift. `n` is the bucket's row count. */
  private[operators] def tileSalt(n: Column, tilePairs: Long): Column =
    least(greatest(ceil(n.cast("double") * n / lit(tilePairs.toDouble)),
      lit(1L)), lit(AutoSaltMax.toLong)).cast("int")

  /** embeddings with double-cast vector, norm, label, and int8 absmax
    * codes (`codes` is NULL for a zero vector — no direction to
    * quantize). ONE persisted frame per (session, dir):
    * q45/q46/q47/q48/q73/q90/q93 read (vec_id, v, nrm), q142/q158 read
    * the codes — the cache is columnar, so each consumer's
    * InMemoryTableScan prunes to the columns it names, and the
    * full-precision corpus is stored once, not once per derived frame.
    * Re-decoding + re-normalizing the parquet per query was the
    * dominant cost of the cheap ANN queries. The code rule is the ONE
    * shared [[graft.functions.VectorFunctions.int8Code]] definition
    * (bit-identical to q106's report and the DuckDB oracles). */
  private[graft] def vectors(s: SparkSession, dir: String): DataFrame =
    CacheRegistry.cached(s, s"vectors:$dir") {
      T(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          toDouble(col("embedding")).as("v"))
        .withColumn("nrm", norm(col("v")))
        .withColumn("absmax", absMax(col("v")))
        .withColumn("codes",
          when(col("absmax") > 0, int8Code(col("v"), col("absmax"))))
        .drop("absmax")
    }

  /** Adapter for the table-agnostic facade entries: rename and
    * double-cast an arbitrary (`idCol`, `vecCol`) frame into the
    * (vec_id, v, nrm) shape the vector operators consume. Ids must be
    * integral — [[semDedup]]'s seed rule (vec_id < k) and every pair
    * operator's (i < j) canonicalization ORDER by them. */
  private[graft] def asVectors(
      df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    require({
      import org.apache.spark.sql.types._
      Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(df.schema(idCol).dataType)
    }, s"idCol '$idCol' must be an integral type — ids order the seed " +
      "rule and pair canonicalization")
    df.select(col(idCol).cast("long").as("vec_id"),
        toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
  }

  /** [[asVectors]] plus the int8 absmax codes (the q106/q142 code
    * rule; zero vectors have no direction and are dropped) —
    * (vec_id, v, nrm, codes), the shared prep every quantized ANN
    * entry point runs before PQ/IVF encoding. Lives here (not on the
    * facade) so the coordination layer can feed an [[AnnStore]]
    * append without reaching back into `graft.Graft`. */
  private[graft] def int8CodedVectors(
      df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    import graft.functions.VectorFunctions._
    asVectors(df, idCol, vecCol)
      .withColumn("absmax", absMax(col("v")))
      .filter(col("absmax") > 0)
      .withColumn("codes", int8Code(col("v"), col("absmax")))
      .drop("absmax")
  }

  /** Hyperplane-LSH near-dup pair search over a [[vectors]]-shaped
    * frame (vec_id, v, nrm): bucket by `planes` deterministic random
    * hyperplanes (2^planes buckets), compare only within a bucket, keep
    * pairs with cosine ≥ `threshold`. Returns (vec_i, vec_j, bucket,
    * cos_sim rounded 4 dp), vec_i < vec_j, unordered.
    *
    * TWO scale knobs, for two different enemies:
    *  - `planes` vs corpus SIZE: per-bucket cost is Σ|bucket|², so grow
    *    the plane count with the corpus (≈ +1 plane per doubling) to
    *    hold MEAN occupancy flat (recall is the documented tradeoff).
    *  - `salt` vs bucket SKEW: similar vectors co-bucket BY DESIGN, so
    *    a dense cluster defeats the occupancy math no matter how many
    *    planes (measured in tools.ScaleProbe at 30×: max bucket 17% of
    *    the corpus, and 16× more buckets only halved Σ|bucket|²) — and
    *    one hot bucket serializes its whole |b|² pair space on one
    *    task. Salting splits each bucket's pair space into salt×salt
    *    tiles — (a-replica, b-hash) becomes part of the shuffle key —
    *    restoring parallelism at the cost of replicating the left side
    *    `salt`×. A PURE PHYSICAL rewrite: the returned pair set is
    *    identical for every salt (spec-pinned in SimilaritySpec).
    *
    * `salt = AutoSalt` (0, the default) sizes the salt PER BUCKET from
    * the data, inside the plan: a tiny occupancy histogram (≤ 2^planes
    * rows, map-side combined) broadcasts back onto the bucketed frame
    * and each bucket gets salt ceil(|b|²/[[AutoSaltTilePairs]]) clamped
    * to [1, [[AutoSaltMax]]] — so a hot bucket's |b|² pair space tiles
    * down to ~task-sized chunks while cold buckets pay ZERO build-side
    * replication (a global salt taxes every bucket for one bucket's
    * skew). The decision happens at EXECUTION time from the real
    * occupancy — no constructor-time probe job (the q42 lesson), no
    * caller-supplied skew knowledge — and the returned pair set is
    * identical to every manual salt (spec-pinned in GraftFacadeSpec;
    * `tilePairs` overrides the per-tile target so a spec can force
    * multi-tile buckets on a small fixture).
    *
    * q93 is this at planes=4, salt=1 (fixture-scaled; its oracle
    * reproduces the bucketing exactly; salt=1 keeps the metered plan
    * byte-identical to the declared one). */
  private[graft] def lshNearDupPairs(vs: DataFrame, planes: Int,
      threshold: Double, salt: Int = AutoSalt,
      tilePairs: Long = AutoSaltTilePairs): DataFrame = {
    require(salt >= 0, "salt must be >= 1, or AutoSalt (0) for " +
      "data-adaptive per-bucket sizing")
    require(tilePairs >= 1, "tilePairs must be >= 1")
    val b = vs.withColumn("bucket", lshBucket(col("v"), planes))
    val pairs =
      if (salt == 1)
        b.as("a").join(b.as("b"),
          col("a.bucket") === col("b.bucket")
            && col("a.vec_id") < col("b.vec_id"))
      else if (salt > 1) {
        val probe = saltedProbeSide(
          b.withColumn("__h", pmod(xxhash64(col("vec_id")), lit(salt))),
          Seq("bucket", "__h"))
        val build = b.withColumn("__h",
          explode(array((0 until salt).map(lit(_)): _*)))
        build.as("a").hint("merge").join(probe.as("b"),
          col("a.bucket") === col("b.bucket")
            && col("a.__h") === col("b.__h")
            && col("a.vec_id") < col("b.vec_id"))
      } else {
        // AutoSalt: per-bucket tiling sized by the bucket's own pair
        // space. |b|² in double cannot overflow (|b| ≤ ~9e15 before
        // the square leaves the exact-long range that matters here —
        // the clamp to AutoSaltMax fires long before precision does).
        val hist = b.groupBy(col("bucket"))
          .agg(count(lit(1)).as("__n"))
          .select(col("bucket"), tileSalt(col("__n"), tilePairs).as("__s"))
        val bs = b.join(broadcast(hist), "bucket")
        val probe = saltedProbeSide(bs.withColumn("__h",
          pmod(xxhash64(col("vec_id")), col("__s"))), Seq("bucket", "__h"))
        val build = bs.withColumn("__h",
          explode(sequence(lit(0), col("__s") - 1)))
        build.as("a").hint("merge").join(probe.as("b"),
          col("a.bucket") === col("b.bucket")
            && col("a.__h") === col("b.__h")
            && col("a.vec_id") < col("b.vec_id"))
      }
    pairs
      .select(col("a.vec_id").as("vec_i"), col("b.vec_id").as("vec_j"),
        col("a.bucket").as("bucket"),
        cosineFast(col("a.v"), col("b.v")).as("raw"))
      .filter(col("raw") >= threshold)
      .select(col("vec_i"), col("vec_j"), col("bucket"),
        round(col("raw"), 4).as("cos_sim"))
  }

  /** SemDeDup (Abbas et al. 2023) over a [[vectors]]-shaped frame:
    * assign every vector to its nearest of `k` seed centroids (seeds =
    * the k SMALLEST ids present — kmeans' seed rule, so a sparse or
    * offset id space can never silently produce an empty seed set and
    * drop every row through the assignment join; on dense 0-based ids
    * this is exactly `vec_id < k`, which q161's oracle pins), then mark
    * a vector a duplicate when its cosine to ANY earlier (lower vec_id)
    * vector of the SAME cluster reaches `threshold` — the paper's
    * one-sweep keep-first rule. Returns (vec_id, cluster,
    * max_prior_sim, keep), unordered.
    *
    * `k` is THE scale knob: the pair join costs Σ|C|², so K grows with
    * the corpus to hold |C| fixed (the growth law tools.ScaleProbe
    * measures); the join's shuffle key IS the cluster id. q161 is this
    * at k=8 with its DuckDB oracle. */
  private[graft] def semDedup(vs: DataFrame, k: Int,
      threshold: Double): DataFrame = {
    val cents = vs.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cl"), col("v").as("c"))
    // one broadcast argmin round — kmeans' assignment dataflow: only
    // n pre-reduced rows shuffle, never the n×K expansion
    val assigned = vs.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        struct(graft.plans.L2DistanceSq.l2DistSq(col("v"), col("c"))
          .as("dist"), col("cl")).as("dc"))
      .groupBy("vec_id").agg(min(col("dc")).as("m"))
      .select(col("vec_id"), col("m.cl").as("cl"))
    val x = vs.select(col("vec_id"), col("v"), col("nrm"))
      .join(assigned, "vec_id")
    val prior = x.as("a")
      .join(x.as("b"),
        col("a.cl") === col("b.cl") && col("b.vec_id") < col("a.vec_id"))
      .select(col("a.vec_id").as("j"),
        round(cosineFast(col("a.v"), col("b.v")), 4).as("cs"))
      .groupBy("j").agg(max(col("cs")).as("max_prior_sim"))
    x.join(prior, col("vec_id") === col("j"), "left")
      .select(col("vec_id"), col("cl").as("cluster"),
        col("max_prior_sim"),
        (col("max_prior_sim").isNull || col("max_prior_sim") < threshold)
          .as("keep"))
  }

  /** The quantized slice of [[vectors]]: rows with defined int8 codes
    * (zero vectors excluded). Not a second cache — a filter over the
    * shared frame. */
  private[operators] def int8Codes(s: SparkSession, dir: String): DataFrame =
    vectors(s, dir).filter(col("codes").isNotNull)

  /** ±1 sign matrix for the JL projection (q136), a pure function of
    * (in-dim i, out-dim j): parity of the first 15 hex chars of
    * md5("i_j") — the exact construction the DuckDB oracle replays with
    * `('0x' || substr(md5(i || '_' || j), 1, 15))::BIGINT % 2`. Computed
    * driver-side (it is a CONSTANT, outDims×inDims ≤ a few KB, not data)
    * and baked into the plan as literals so the projection itself is a
    * shuffle-free narrow map. */
  private[operators] def jlSignMatrix(
      outDims: Int, inDims: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDims, inDims) { (j, i) =>
      val hex = md.digest(s"${i}_${j}".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 0) 1.0
      else -1.0
    }
  }

  /** Lloyd's k-means over an (id: LONG, v: ARRAY<DOUBLE>) frame —
    * the reusable operator behind q135. Deterministic by construction:
    * seeds are the `k` lowest ids, assignment ties break to the lowest
    * cluster id, and each re-estimated centroid is the per-dim mean
    * ROUNDED to 6 decimals so the next iteration is a pure function of
    * values any engine reproduces (no float-reduction-order leakage).
    *
    * Dataflow (per iteration, at any corpus size): assignment is a
    * broadcast of the k-row model + a map-side-combinable
    * min(struct(dist, cl)) argmin — only n pre-reduced rows shuffle,
    * never the n×k expansion, and nothing sorts; re-estimation is one
    * (cl, dim)-keyed aggregate whose reduce state is k×D cells
    * regardless of row count. The k-row centroid frame is eagerly
    * localCheckpointed each round, so lineage (and optimizer time)
    * stays O(1) in the iteration count — same discipline as PageRank
    * (GraphOps) and connected components (TextDedup).
    *
    * A cluster that loses every member keeps its previous centroid
    * (the model never shrinks below k rows; the cluster may still end
    * empty in the returned assignment).
    *
    * Returns (id, cl, dist): final assignment + squared L2 distance to
    * the final (rounded) centroid. */
  def kmeans(points: DataFrame, k: Int, iters: Int): DataFrame = {
    val vs = points.select(col("id"), col("v"))
    def assign(cents: DataFrame): DataFrame =
      vs.crossJoin(broadcast(cents))
        .select(col("id"), col("cl"),
          graft.plans.L2DistanceSq.l2DistSq(col("v"), col("c")).as("dist"))
        .groupBy("id")
        .agg(min(struct(col("dist"), col("cl"))).as("m"))
        .select(col("id"), col("m.cl").as("cl"), col("m.dist").as("dist"))
    var cents = vs.orderBy("id").limit(k)
      .select(col("id").as("cl"), col("v").as("c"))
      .localCheckpoint()
    var it = 0
    while (it < iters - 1) {
      val re = vs.join(assign(cents).select("id", "cl"), "id")
        .select(col("cl"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("cl", "i").agg(round(avg("x"), 6).as("cx"))
        .groupBy("cl")
        .agg(transform(sort_array(collect_list(struct(col("i"), col("cx")))),
          e => e.getField("cx")).as("c"))
      // a cluster that lost every member (possible with duplicate seed
      // points: ties all go to the lowest cl) produces no re-estimated
      // row; keep its previous centroid instead of silently shrinking
      // the model below k — standard Lloyd practice
      cents = re
        .unionByName(cents.join(re.select("cl"), Seq("cl"), "left_anti"))
        .localCheckpoint()
      it += 1
    }
    assign(cents)
  }

  /** The (vec_id, s, sc) subvector split every PQ stage consumes: each
    * `m`·`subDim`-long code array explodes into `m` `subDim`-long
    * integer subvectors. The m·subDim contract is a MUST, not a
    * comment: a mismatched split would silently compare
    * empty/truncated subvectors and return plausible-looking wrong
    * neighbors — assert_true rides the slice expression so column
    * pruning can never drop the check. */
  private def pqSubSlice(m: Int, subDim: Int)(s0: Column): Column =
    when(assert_true(size(col("codes")) === m * subDim,
      lit(s"pqAnn: codes length must be m*subDim = ${m * subDim}"))
      .isNull,
      slice(col("codes"), s0 * subDim + 1, lit(subDim)))

  private[graft] def pqSubvectors(codes: DataFrame, m: Int,
      subDim: Int): DataFrame =
    codes.select(col("vec_id"),
        explode(array((0 until m).map(lit(_)): _*)).as("s"), col("codes"))
      .select(col("vec_id"), col("s"),
        pqSubSlice(m, subDim)(col("s")).as("sc"))

  /** Integer squared-L2 between two equal-length integer arrays — the
    * ONE distance every PQ stage (codebook argmin, LUT, training) uses,
    * so the stages cannot drift numerically. */
  private def pqDist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)

  /** Deterministic seed codebooks (cs, cb_id, cbv): the subvectors of
    * the `k` SMALLEST ids present — the semDedup/kmeans seed rule, so
    * offset or sparse id spaces can never silently produce an empty
    * codebook; on dense 0-based ids this is exactly vec_id < k, which
    * q178's oracle pins. [[pqTrainCodebooks]] is the opt-in trained
    * alternative behind the same (cs, cb_id, cbv) shape. */
  private[graft] def pqSeedCodebooks(codes: DataFrame, m: Int,
      subDim: Int, k: Int): DataFrame =
    codes.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cb_id"),
        explode(array((0 until m).map(lit(_)): _*)).as("cs"), col("codes"))
      .select(col("cs"), col("cb_id"),
        pqSubSlice(m, subDim)(col("cs")).as("cbv"))

  /** Encode every vector as `m` codebook ids (argmin integer L2, ties
    * to the lowest id): one broadcast join + map-side-combinable
    * argmin — the kmeans assign dataflow; only n·m pre-reduced rows
    * shuffle. Returns (vec_id, s, code). At scale this frame IS the PQ
    * index: build it once ([[pqEncodings]] registry-caches it per
    * (session, dir)) and every query's ADC pass scans the 4-id
    * encodings instead of re-deriving them from the corpus.
    *
    * Incremental contract (spec-pinned in OperatorSpec): under a
    * FROZEN `codebooks` frame, encode(old ∪ new) = encode(old) ∪
    * encode(new) — so daily ingest encodes only the delta and APPENDS
    * to the index. The freeze is load-bearing: the default seed rule
    * re-derives codebooks from the k smallest ids of whatever frame it
    * sees, so an unfrozen "incremental" encode of a batch containing
    * new low ids would silently code the delta in a different space
    * than the index it joins. */
  private[graft] def pqEncode(codes: DataFrame, m: Int, subDim: Int,
      k: Int, codebooks: Option[DataFrame] = None): DataFrame = {
    val sub = pqSubvectors(codes, m, subDim)
    val cb = codebooks.getOrElse(pqSeedCodebooks(codes, m, subDim, k))
    // scaleHint, not a bare broadcast: inside a one-partition store
    // bootstrap the hint's BroadcastExchange job is pure scheduler
    // floor (Stores.TinyBootstrapConf); everywhere else the model
    // frame broadcasts as before
    sub.join(Stores.scaleHint(cb), col("s") === col("cs"))
      .groupBy("vec_id", "s")
      .agg(min(struct(pqDist2(col("sc"), col("cbv")).as("d"),
        col("cb_id").as("cb"))).as("m0"))
      .select(col("vec_id"), col("s"), col("m0.cb").as("code"))
  }

  /** Product-quantization ANN over an int8-coded [[vectors]]-shaped
    * frame (vec_id, v, nrm, codes): split each `m`·`subDim`-long code
    * array into `m` subvectors, build a deterministic seed codebook per
    * subspace ([[pqSeedCodebooks]]; `codebooks` opts into
    * [[pqTrainCodebooks]]' trained ones), encode every vector as `m`
    * codebook ids (argmin integer L2, ties to the lowest id — or read
    * the precomputed [[pqEncodings]] index via `enc`), then answer
    * query `queryId` by the standard asymmetric distance: a K×M
    * integer lookup table of query-to-codebook subspace distances,
    * summed over each vector's ids — the corpus-wide pass touches ONLY
    * the m-id encodings. Top-`coarseK` by ADC (ascending, vec_id
    * tiebreak), exact-cosine rerank, top-`topK`. Returns (vec_id, adc,
    * cos_sim 4 dp).
    *
    * `codes` arrays must be exactly m·subDim long (the int8Codes frame
    * at 64 dims with m=4, subDim=16) — ENFORCED in-plan via an
    * assert_true riding the slice, so a mismatch fails the job instead
    * of silently ranking on truncated subvectors. A `queryId` absent
    * from the frame returns an EMPTY result (the LUT join has nothing
    * to probe with) — callers distinguishing "no neighbors" from "no
    * such query" should validate the id upstream. Integer end-to-end
    * until the rerank, so a SQL oracle reproduces every stage
    * bit-for-bit. Backs q178_pq_ann; exactness on a seeds-only corpus
    * is pinned in OperatorSpec. */
  private[graft] def pqAnn(codes: DataFrame, queryId: Long, m: Int,
      subDim: Int, k: Int, coarseK: Int, topK: Int,
      enc: Option[DataFrame] = None,
      codebooks: Option[DataFrame] = None): DataFrame =
    pqAnnSearch(codes, None, queryId, m, subDim, k, coarseK, topK, enc,
      codebooks)

  /** [[pqAnn]] with an optional IVF-style search restriction:
    * `restrict` is a (vec_id, cell) frame naming the encodings the ADC
    * pass may scan (the vectors of the query's probed coarse cells);
    * vec_id must be UNIQUE in it — a duplicated id would double-count
    * that vector's ADC terms (every caller derives it from a per-id
    * argmin, which guarantees uniqueness); `cell` is carried into the
    * output — (vec_id, cell, adc, cos_sim).
    * Codebooks, encodings, and the LUT still derive from the FULL
    * `codes` corpus (training is global — restricting it would make
    * the code space query-dependent). With `restrict = None` this IS
    * pqAnn, plan-identically.
    *
    * `encIdx` serves the search from a PRECOMPUTED (vec_id, s, code)
    * index ([[pqEncodings]] — values must match what [[pqEncode]]
    * would derive from `codes` with the same (m, subDim, k,
    * `codebooks`); the registry cache guarantees that by construction)
    * instead of re-encoding the corpus per query — the amortization a
    * served index needs: per query only the LUT (K×M rows), the probe
    * list, and the ADC scan over the m-id encodings remain. Backs
    * q179_ivfpq_ann. */
  private[graft] def pqAnnSearch(codes: DataFrame,
      restrict: Option[DataFrame], queryId: Long, m: Int,
      subDim: Int, k: Int, coarseK: Int, topK: Int,
      encIdx: Option[DataFrame] = None,
      codebooks: Option[DataFrame] = None): DataFrame = {
    require(m >= 1 && subDim >= 1 && k >= 1 && coarseK >= 1 && topK >= 1,
      "pqAnn: m, subDim, k, coarseK, topK must all be >= 1")
    val dist2 = pqDist2 _
    val sub = pqSubvectors(codes, m, subDim)
    val cb = codebooks.getOrElse(pqSeedCodebooks(codes, m, subDim, k))
    val encAll = encIdx.getOrElse(pqEncode(codes, m, subDim, k, codebooks))
    // the restriction joins keyed on vec_id — at scale the assignment
    // frame is the IVF index, co-partitionable with the encodings
    val enc = restrict.fold(encAll)(r => encAll.join(r, "vec_id"))
    val carry = if (restrict.isDefined) Seq("cell") else Nil
    val q = sub.filter(col("vec_id") === queryId)
      .select(col("s").as("qs_s"), col("sc").as("qs"))
    val lut = cb.join(broadcast(q), col("cs") === col("qs_s"))
      .select(col("cs"), col("cb_id"), dist2(col("qs"), col("cbv")).as("qd"))
    adcRerank(codes, enc, lut, queryId, carry, coarseK, topK)
  }

  /** The ADC scan + exact-cosine rerank tail every PQ search serves
    * through — ONE implementation shared by the in-memory path
    * ([[pqAnnSearch]], so q178–q181) and the on-disk partition-pruned
    * path ([[ivfPqIndexServe]]), for the same reason training calls
    * [[pqEncode]]: two inlined copies of the ranking stages could
    * drift onto different tie rules or distances and return different
    * neighbors for the same index with no error. `enc` rows are
    * (vec_id, s, code [, carry...]); `lut` rows are (cs, cb_id, qd).
    * Returns (vec_id [, carry...], adc, cos_sim) top-`topK` by exact
    * cosine over the ADC top-`coarseK`. */
  private def adcRerank(codes: DataFrame, enc: DataFrame, lut: DataFrame,
      queryId: Long, carry: Seq[String], coarseK: Int,
      topK: Int): DataFrame = {
    val adc = enc.filter(col("vec_id") =!= queryId)
      .join(broadcast(lut),
        col("s") === col("cs") && col("code") === col("cb_id"))
      .groupBy(("vec_id" +: carry).map(col): _*)
      .agg(sum(col("qd")).as("adc"))
      .orderBy(col("adc").asc, col("vec_id")).limit(coarseK)
    val qv = codes.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), col("nrm").as("qnrm"))
    // the rerank probe list is ≤ coarseK rows BY CONSTRUCTION —
    // broadcast it explicitly instead of leaving a static shuffle
    // join for AQE to convert at runtime
    broadcast(adc)
      .join(codes.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .crossJoin(broadcast(qv))
      .select((col("vec_id") +: carry.map(col)) ++
        Seq(col("adc"),
          round(cosineFast(col("v"), col("qv")), 4).as("cos_sim")): _*)
      .orderBy(col("cos_sim").desc, col("vec_id")).limit(topK)
  }

  /** IVF-PQ (q73 × q178 — the Faiss layout) over an int8-coded
    * [[vectors]]-shaped frame: `kIvf` deterministic seed cells (the
    * kIvf smallest ids present, their FLOAT vectors as centroids)
    * partition the corpus via a broadcast-argmin assignment; query
    * `queryId` probes its `nprobe` nearest cells (L2, ties to the
    * lowest cell id) and the PQ asymmetric-distance scan runs ONLY
    * over those cells' encodings — two-level pruning (cell partition
    * prune, then m-id codes) before the exact-cosine rerank of the ADC
    * top-`coarseK`. Returns (vec_id, cell, adc, cos_sim). Recall vs an
    * exact scan is the documented tradeoff of both levels; codebooks
    * stay global. At 100 TB the cell is the partition key, so the scan
    * prunes to nprobe/kIvf of the corpus before reading anything.
    * Backs q179_ivfpq_ann.
    *
    * `codebooks`/`centroids` must match the model `encIdx`/`cellIdx`
    * were built with (the [[ivfPqAnnBatch]] contract); served callers
    * pass [[pqBooks]]/[[ivfCentroidIdx]] so no per-query
    * corpus-TakeOrdered re-derives the tiny model frames. */
  private[graft] def ivfPqAnn(codes: DataFrame, queryId: Long, kIvf: Int,
      nprobe: Int, m: Int, subDim: Int, k: Int, coarseK: Int,
      topK: Int, encIdx: Option[DataFrame] = None,
      cellIdx: Option[DataFrame] = None,
      codebooks: Option[DataFrame] = None,
      centroids: Option[DataFrame] = None): DataFrame = {
    require(kIvf >= 1 && nprobe >= 1 && nprobe <= kIvf,
      "ivfPqAnn: need 1 <= nprobe <= kIvf")
    val assigned = cellIdx.getOrElse(ivfAssign(codes, kIvf, centroids))
    val qv = codes.filter(col("vec_id") === queryId)
      .select(col("v").as("qv0"))
    val probed = centroids.getOrElse(ivfCentroids(codes, kIvf))
      .crossJoin(broadcast(qv))
      .select(col("cl"),
        graft.plans.L2DistanceSq.l2DistSq(col("c"), col("qv0")).as("d"))
      .orderBy(col("d").asc, col("cl")).limit(nprobe)
      .select(col("cl").as("pcell"))
    val restrict = assigned
      .join(broadcast(probed), col("cell") === col("pcell"))
      .select(col("vec_id"), col("cell"))
    pqAnnSearch(codes, Some(restrict), queryId, m, subDim, k, coarseK,
      topK, encIdx, codebooks)
  }

  /** The `kIvf` deterministic IVF coarse centroids (cl, c): the kIvf
    * smallest ids present, their FLOAT vectors — the same seed rule as
    * the PQ codebooks, one level up. */
  private[graft] def ivfCentroids(codes: DataFrame, kIvf: Int): DataFrame =
    codes.orderBy("vec_id").limit(kIvf)
      .select(col("vec_id").as("cl"), col("v").as("c"))

  /** IVF cell assignment (vec_id, cell): every vector's nearest coarse
    * centroid — the kmeans/semDedup broadcast-argmin shape (only n
    * pre-reduced rows shuffle). At scale this frame is the OTHER half
    * of the serving index ([[ivfCells]] registry-caches it): cell is
    * the partition key, so a query's ADC scan physically reads
    * nprobe/kIvf of the corpus.
    *
    * Same incremental contract as [[pqEncode]] (spec-pinned): under a
    * FROZEN `centroids` frame, assign(old ∪ new) = assign(old) ∪
    * assign(new) — ingest assigns only the delta and appends; the
    * default seed centroids re-derive from whatever frame they see,
    * so the freeze is what keeps a delta's cells consistent with the
    * index it joins. */
  private[graft] def ivfAssign(codes: DataFrame, kIvf: Int,
      centroids: Option[DataFrame] = None): DataFrame =
    codes.crossJoin(Stores.scaleHint(
        centroids.getOrElse(ivfCentroids(codes, kIvf))))
      .select(col("vec_id"),
        struct(graft.plans.L2DistanceSq.l2DistSq(col("v"), col("c"))
          .as("dist"), col("cl")).as("dc"))
      .groupBy("vec_id").agg(min(col("dc")).as("m0"))
      .select(col("vec_id"), col("m0.cl").as("cell"))

  /** The materialized PQ index for the bench inventory's standard
    * configuration (m=4, subDim=16, k=8 over [[int8Codes]]): ONE
    * persisted (vec_id, s, code) frame per (session, dir), shared by
    * q178/q179/q180/q181 — the r13 design gap closed: a served ANN
    * query reads the precomputed encodings instead of re-encoding the
    * corpus (encode cost is paid once per corpus, not once per query).
    * 3 small integers per row × m rows per vector — at 100 TB this is
    * the index you'd persist as a cell-partitioned table.
    *
    * Staleness contract (same as every registry cache): keyed by
    * (session, dir) — if the parquet under `dir` is rewritten, release
    * the index (`CacheRegistry.releaseByPrefix(s, "pq-enc")`, likewise
    * "ivf-cell") alongside `Tables.invalidate`, or the next search
    * serves encodings of the dead corpus. ScaleProbe's per-multiplier
    * `CacheRegistry.clear` is the working example. */
  private[graft] def pqEncodings(s: SparkSession, dir: String): DataFrame =
    CacheRegistry.cached(s, s"pq-enc:$dir") {
      pqEncode(int8Codes(s, dir), m = 4, subDim = 16, k = 8)
    }

  /** The materialized IVF cell assignment for the standard kIvf=4
    * configuration over [[int8Codes]]: ONE persisted (vec_id, cell)
    * frame per (session, dir), shared by q179/q180/q181. */
  private[graft] def ivfCells(s: SparkSession, dir: String): DataFrame =
    CacheRegistry.cached(s, s"ivf-cell:$dir") {
      ivfAssign(int8Codes(s, dir), kIvf = 4)
    }

  /** The model half of the serving index: the k·m-row PQ codebooks for
    * the standard configuration, registry-cached so a served query's
    * LUT reads a k·m-row resident frame instead of re-deriving the
    * codebooks with a corpus-wide TakeOrdered pass per query — the
    * last corpus-proportional work the encodings cache left in the
    * q178–q181 serving path. Same staleness contract as [[pqEncodings]]
    * (prefix "pq-book"). Values are BY CONSTRUCTION the codebooks
    * [[pqEncodings]] encoded with (same seed rule, same inputs). */
  private[graft] def pqBooks(s: SparkSession, dir: String): DataFrame =
    CacheRegistry.cached(s, s"pq-book:$dir") {
      pqSeedCodebooks(int8Codes(s, dir), m = 4, subDim = 16, k = 8)
    }

  /** The kIvf-row coarse centroids, registry-cached for the same
    * reason as [[pqBooks]]: the probe list is a kIvf-row argmin — it
    * should not pay a corpus TakeOrdered per query to get the
    * centroids. Prefix "ivf-cent"; matches [[ivfCells]]' assignment by
    * construction. */
  private[graft] def ivfCentroidIdx(s: SparkSession, dir: String): DataFrame =
    CacheRegistry.cached(s, s"ivf-cent:$dir") {
      ivfCentroids(int8Codes(s, dir), kIvf = 4)
    }

  /** The ON-DISK serving index for the bench inventory's standard
    * configuration, built once per corpus dir into a process-temp
    * directory from the SAME registry-cached model frames as
    * q178–q181 (so disk serving is result-identical to the in-memory
    * index by construction — the frozen-model write path). A plain
    * process memo rather than a CacheRegistry frame: the artifact is
    * a DIRECTORY holding zero executor memory, so the release ledger
    * has nothing to release; staleness follows the JVM (a corpus
    * rewrite in a live session needs a fresh process or a manual
    * remove, the same contract as `Tables.invalidate` documents).
    * q182 absorbs the build in its timed section — the bench analogue
    * of the cache-build absorption discipline. */
  private val diskIdxDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Reset [[diskIndexDir]]'s process memo. The release-plan
    * derivations ([[graft.Bench.deriveReleasePlan]] /
    * `deriveFirstConsumers`) replay plan construction and must see
    * the COLD-JVM lifecycle the real bench runs: with a warm memo
    * q182 skips its index build, never touches the pq-book/ivf-cent
    * model frames, and the derived ledger mis-attributes them — the
    * same warm-replay trap the CacheRegistry derivation documents,
    * resurfacing through a memo the registry's clear cannot reach.
    * The index directories themselves are process-temp; the OS owns
    * their cleanup. */
  private[graft] def resetDiskIndexMemo(): Unit = diskIdxDirs.clear()

  private[graft] def diskIndexDir(s: SparkSession, dir: String): String =
    diskIdxDirs.computeIfAbsent(dir, _ => {
      val out = Stores.storeScratchDir(s, "graft-annidx-q182")
      val codes = int8Codes(s, dir)
      // bootstrap shuffles sized from the vectors being indexed
      // (Stores.withBootstrapShuffle — the CC-loop discipline)
      Stores.withBootstrapShuffle(s, Seq(codes)) {
        ivfPqIndexWrite(codes, out, kIvf = 4, m = 4,
          subDim = 16, k = 8, codebooks = Some(pqBooks(s, dir)),
          centroids = Some(ivfCentroidIdx(s, dir)))
      }
      out
    })

  /** The read schema of the on-disk encodings dataset — declared
    * EXPLICITLY on every read because `cell` is a partition DIRECTORY
    * key: inference would type small cell ids as INT locally and LONG
    * at scale, silently changing the served schema (and breaking the
    * static `isin(Long)` partition filter) with corpus size. */
  private val IvfPqEncSchema = "vec_id BIGINT, s INT, code BIGINT, cell BIGINT"

  /** Declared read schemas of the two MODEL frames — the
    * [[IvfPqEncSchema]] rationale extended to books/ and cents/:
    * every serve/append construction reads both, and an undeclared
    * parquet read runs a schema-inference Spark job per call (~0.1–
    * 0.4 s of scheduler floor that was pure overhead on each of the
    * q182/q186/q187 serve constructions and inside every store
    * bootstrap — 5 of q187's 47 first-touch jobs, measured by
    * tools.JobTrace). The WRITE normalizes the frames to these exact
    * types, so the store format is pinned at the writer and the
    * declared reads can never mis-type a user-supplied model frame. */
  private val IvfPqBooksSchema = "cs INT, cb_id BIGINT, cbv ARRAY<BIGINT>"
  private val IvfPqCentsSchema = "cl BIGINT, c ARRAY<DOUBLE>"

  /** The ANN store family: the cell-partitioned encodings and the
    * vec-id tombstone set a compact folds into the next generation. The
    * model frames (books/cents), manifest, ingest ledger and
    * corpus-version stamp are store-life state — compaction never
    * retrains, so they stay unversioned. */
  private[graft] object AnnFamily extends Stores.StoreFamily(
      name = "ivfPqIndex", genKinds = Seq("enc", "tombstones"),
      datasets = Seq("enc"), partCol = "cell", idCol = "vec_id") {

    /** The index's kIvf cells, from the manifest sidecar (a driver-side
      * FS read); counting cents/ — two Spark jobs under AQE — only for
      * a pre-manifest store. */
    def partitions(s: SparkSession, dir: String): Int =
      Stores.readMetaSidecar(s, s"$dir/manifest").map(_("kIvf").toInt)
        .getOrElse(s.read.schema(IvfPqCentsSchema)
          .parquet(s"$dir/cents").count().toInt)

    def schema(kind: String): String = IvfPqEncSchema

    def liveRows(s: SparkSession, dir: String, g: Long,
        kind: String): DataFrame =
      minusTombstones(s, dir, g, read(s, dir, "enc", g))

    /** One encoding row per vector: the `s = 0` slice. */
    override def maintainRows(s: SparkSession, dir: String,
        g: Long): DataFrame =
      read(s, dir, "enc", g).filter(col("s") === 0)

    /** Per-cell (cell, n_vecs, files, share_bp): live vectors per cell
      * (tombstones subtracted — counted on the `s = 0` encoding row, one
      * per vector, instead of a DISTINCT over all m rows), parquet files
      * under the cell's directory (driver-side listing — kIvf
      * directories, not data), and the cell's integer basis points of
      * all live vectors. A skewed cell is a straggler partition every
      * probe of it must scan, and small-file accretion under a cell
      * directory is [[ivfPqIndexCompact]]'s trigger. */
    override def stats(s: SparkSession, dir: String): DataFrame = {
      val g = Stores.currentGen(s, dir)
      lazy val counts = minusTombstones(s, dir, g, maintainRows(s, dir, g))
        .groupBy("cell").agg(count(lit(1)).as("live"))
      withFiles(s, dir, g, counts)
        .crossJoin(broadcast(
          counts.agg(coalesce(sum(col("live")), lit(0L)).as("tot"))))
        .select(col("cell"),
          coalesce(col("live"), lit(0L)).as("n_vecs"), col("files"),
          // floor to integer basis points (SQL `/` is true division);
          // an all-deleted index reports 0 bp, not a division by zero
          when(col("tot") > 0,
            floor(coalesce(col("live"), lit(0L)) * 10000L / col("tot"))
              .cast("long")).otherwise(lit(0L)).as("share_bp"))
        .orderBy("cell")
    }

    val dupChecks: Seq[Stores.DupCheck] = Seq(Stores.DupCheck("enc",
      Seq("vec_id", "s"), Some("vec_id"), "dup-ids", "ids",
      s"report-only: ${Stores.ReplayRepair}"))

    val appendRepair: String = Stores.ReplayRepair

    /** The doc batch's int8-coded vectors, under the frozen (m, subDim)
      * geometry the store's own manifest records. */
    override def appendDocs(pinned: DataFrame, dir: String, idCol: String,
        textCol: String, vecCol: String): Unit = {
      val g = Stores.readMetaSidecar(pinned.sparkSession, s"$dir/manifest")
        .getOrElse(throw new IllegalStateException(
          s"appendAll: ANN store $dir has no manifest — cannot " +
            "recover its frozen (m, subDim) geometry; append " +
            "directly with ivfPqIndexAppend or rebuild"))
      ivfPqIndexAppend(int8CodedVectors(pinned, idCol, vecCol),
        dir, g("m").toInt, g("subDim").toInt)
    }
  }

  /** Write the IVF-PQ serving index as an ON-DISK parquet dataset
    * PARTITIONED BY CELL — the physical layout every "at 100 TB the
    * cell is the partition key" note in this file describes, made
    * executable: a served query's encodings scan lists and reads ONLY
    * its nprobe probed cells' directories (static partition pruning —
    * see [[ivfPqIndexServe]]), so nprobe/kIvf of the index is touched
    * before any work runs. Layout under `outDir`:
    *
    *   - `enc/cell=<id>/…`  (vec_id, s, code) — the ADC scan side,
    *     one directory per coarse cell
    *   - `books/`  (cs, cb_id, cbv) — the K×M PQ codebooks
    *   - `cents/`  (cl, c) — the kIvf coarse centroids
    *
    * The model frames are written FIRST and the encodings are derived
    * from the frames READ BACK off disk, so what the index directory
    * carries is bit-for-bit the model its encodings were built with —
    * the [[ivfPqAnnBatch]] same-code-space contract enforced by
    * construction rather than by caller care. `codebooks`/`centroids`
    * opt into a trained or frozen model ([[pqTrainCodebooks]]; a prior
    * index's frames); the defaults write the seed model, matching
    * [[pqEncodings]]/[[ivfCells]]. The manifest records the geometry
    * (m, subDim, kIvf, k): serve/append/ingest validate caller knobs
    * against it instead of silently ranking in the wrong code space.
    * Rebuild-safe ([[Stores.StoreFamily.write]]): a stale tombstone
    * set would otherwise mask freshly written rows whose ids were
    * reused, and a stale ingest ledger would make a new stream skip its
    * first batches. */
  private[graft] def ivfPqIndexWrite(codes: DataFrame, outDir: String,
      kIvf: Int, m: Int, subDim: Int, k: Int,
      codebooks: Option[DataFrame] = None,
      centroids: Option[DataFrame] = None): Unit = {
    require(kIvf >= 1 && m >= 1 && subDim >= 1 && k >= 1,
      "ivfPqIndexWrite: kIvf, m, subDim, k must all be >= 1")
    val s = codes.sparkSession
    AnnFamily.write(s, outDir, Seq("m" -> m.toString,
        "subDim" -> subDim.toString, "kIvf" -> kIvf.toString,
        "k" -> k.toString)) {
      // normalize the model frames to the DECLARED store types at the
      // writer (IvfPqBooksSchema/IvfPqCentsSchema) — every later read
      // declares its schema instead of paying an inference job.
      // SEQUENTIAL on purpose — do NOT Stores.inParallel these two:
      // both lineages share the un-materialized `codes` subtree, whose
      // int8 prep holds lambda higher-order functions (transform/
      // array_max lambda variables — shared single mutable value
      // holders on the analyzed tree), and over a LOCAL input frame
      // (any facade caller's Seq.toDF) the optimizer evaluates that
      // shared subtree interpreted on the driver
      // (ConvertToLocalRelation) — two planning threads race the lambda
      // holders and both model writes land corrupted rows (observed:
      // out-of-int8 codebook cells, cross-row element bleed in cents;
      // GraftFacadeSpec's round-trip catches it). Parquet- or
      // cache-backed inputs never hit that path, but this writer is the
      // facade's (`Graft.annIndexWrite`) — the input is the user's.
      // See the [[Stores.inParallel]] safety contract.
      codebooks.getOrElse(pqSeedCodebooks(codes, m, subDim, k))
        .select(col("cs").cast("int").as("cs"),
          col("cb_id").cast("long").as("cb_id"),
          col("cbv").cast("array<bigint>").as("cbv"))
        .write.mode("overwrite").parquet(s"$outDir/books")
      centroids.getOrElse(ivfCentroids(codes, kIvf))
        .select(col("cl").cast("long").as("cl"),
          col("c").cast("array<double>").as("c"))
        .write.mode("overwrite").parquet(s"$outDir/cents")
      val books = s.read.schema(IvfPqBooksSchema).parquet(s"$outDir/books")
      val cents = s.read.schema(IvfPqCentsSchema).parquet(s"$outDir/cents")
      AnnFamily.writeParts(pqEncode(codes, m, subDim, k, Some(books))
          .join(ivfAssign(codes, kIvf, Some(cents)), "vec_id"),
        s"$outDir/enc", kIvf, "overwrite")
    }
  }

  /** Append a DELTA of vectors to an existing on-disk index — the
    * [[pqEncode]]/[[ivfAssign]] frozen-model incremental contract
    * applied to the disk layout: the delta is encoded and assigned
    * against the model frames READ FROM THE INDEX (never re-derived
    * from the delta, whose ids would reseed a different code space),
    * then appended under the same cell directories. Spec-pinned:
    * append(old index, delta) serves identically to a full rebuild
    * over old ∪ delta. Caller contract: delta vec_ids must be NEW
    * (an id already in the index would double-count its ADC terms). */
  private[graft] def ivfPqIndexAppend(delta: DataFrame, indexDir: String,
      m: Int, subDim: Int): Unit = {
    val s = delta.sparkSession
    AnnFamily.append(s, indexDir) { (g, nCells) =>
      checkIndexManifest(s, indexDir, m, subDim)
      val books = s.read.schema(IvfPqBooksSchema).parquet(s"$indexDir/books")
      val cents = s.read.schema(IvfPqCentsSchema).parquet(s"$indexDir/cents")
      // k/kIvf parameters are seed-rule knobs — irrelevant under a
      // provided (frozen) model, which is the whole point here
      AnnFamily.writeParts(pqEncode(delta, m, subDim, k = 1, Some(books))
          .join(ivfAssign(delta, kIvf = 1, Some(cents)), "vec_id"),
        AnnFamily.at(indexDir, "enc", g), nCells, "append")
    }
  }

  /** Serve one ANN query from the ON-DISK index: probe the `nprobe`
    * nearest coarse cells, then run the shared [[adcRerank]] stages
    * over an encodings scan that STATICALLY prunes to the probed
    * cells' directories. The probe list is read driver-side ON
    * PURPOSE (for a PRUNED serve, an eager nprobe-row argmin over the
    * kIvf-row centroid frame — same class as the pinned
    * eager-by-design constructors; an EXHAUSTIVE serve, nprobe ≥ the
    * manifest's kIvf, skips the job and lists the store's cell
    * directories instead — r19): literal cell values are what turn
    * the filter into a plan-time `PartitionFilters: [cell IN (…)]`
    * the scan never lists other directories for — the on-disk analogue of the broadcast
    * probed-cell join, and the difference between reading nprobe/kIvf
    * of a 100 TB index and reading all of it. (The join-based
    * alternative, dynamic partition pruning, prunes at RUNTIME and is
    * plan-fragile; a serving path wants the guarantee in the plan.)
    * `codes` supplies the query vector and the full-precision rerank
    * side — at scale, the corpus table the index was built from.
    * Outstanding tombstones are subtracted ([[minusTombstones]]).
    * Returns (vec_id, cell, adc, cos_sim) top-`topK`, identical to
    * [[ivfPqAnn]] over the same model (spec-pinned).
    *
    * `allowed` (a one-`vec_id`-column frame, typically a metadata
    * predicate evaluated on the corpus table) opts into FILTERED
    * search with PRE-filter semantics: candidates are restricted
    * BEFORE the ADC top-`coarseK`, so the returned top-k is exact
    * with respect to the predicate — a post-filtered unrestricted
    * top-k would silently return fewer than k survivors whenever the
    * true neighbors are mostly disallowed (the classic filtered-ANN
    * recall hole). The restriction is a semi-join against the
    * partition-pruned encodings scan, deliberately NOT hint-pinned:
    * unlike every model-frame join in this file, the allow-list's
    * size is caller data (a rare license tag vs half the corpus), so
    * the build side is left to AQE's runtime stats. Spec-pinned:
    * filtering the full index ≡ serving an index built over only the
    * allowed vectors under the same frozen model — absent rows and
    * filtered rows rank identically. */
  private[graft] def ivfPqIndexServe(codes: DataFrame, indexDir: String,
      queryId: Long, nprobe: Int, m: Int, subDim: Int, coarseK: Int,
      topK: Int, allowed: Option[DataFrame] = None): DataFrame = {
    require(nprobe >= 1 && m >= 1 && subDim >= 1 && coarseK >= 1 &&
      topK >= 1, "ivfPqIndexServe: all knobs must be >= 1")
    val s = codes.sparkSession
    val manifestKIvf = checkIndexManifest(s, indexDir, m, subDim, nprobe)
    val books = s.read.schema(IvfPqBooksSchema).parquet(s"$indexDir/books")
    val qv = codes.filter(col("vec_id") === queryId)
      .select(col("v").as("qv0"))
    // generation pinned ONCE at construction — the snapshot contract
    // ([[Stores.currentGen]]): this plan's files survive one further
    // compact (the vacuum grace)
    val gServe = Stores.currentGen(s, indexDir)
    // EXHAUSTIVE serves (nprobe ≥ the manifest's kIvf — the setting
    // the oracle-exact composed serves q186/q187 run) probe every
    // cell by definition, so the nprobe-row argmin job has nothing to
    // decide: the probed-cell list IS the store's partition-directory
    // listing, read driver-side with no Spark job (one scheduler
    // round-trip per serve construction saved — the r18 verdict's
    // absorbed-serve-cost cut). The plan keeps the same literal
    // `PartitionFilters: [cell IN (…)]` shape either way. Pruned
    // serves (nprobe < kIvf, the production setting) still run the
    // eager argmin over the kIvf-row centroid frame — that job is the
    // pruning guarantee, not overhead.
    val probedCells: Seq[Long] =
      if (manifestKIvf.exists(nprobe >= _)) listCellDirs(s, indexDir, gServe)
      else s.read.schema(IvfPqCentsSchema).parquet(s"$indexDir/cents")
        .crossJoin(broadcast(qv))
        .select(col("cl"),
          graft.plans.L2DistanceSq.l2DistSq(col("c"), col("qv0")).as("d"))
        .orderBy(col("d").asc, col("cl")).limit(nprobe)
        .select("cl").collect().toSeq.map(_.getLong(0))
    val enc = servedEnc(s, indexDir, gServe, probedCells, allowed)
    val q = pqSubvectors(codes.filter(col("vec_id") === queryId),
        m, subDim)
      .select(col("s").as("qs_s"), col("sc").as("qs"))
    val lut = books.join(broadcast(q), col("cs") === col("qs_s"))
      .select(col("cs"), col("cb_id"),
        pqDist2(col("qs"), col("cbv")).as("qd"))
    adcRerank(codes, enc, lut, queryId, Seq("cell"), coarseK, topK)
  }

  /** Batch IVF-PQ: a SET of query vectors (the quantizable ids <
    * `qMax`) against the corpus (ids >= `qMax`) through the SAME
    * materialized index single-query [[ivfPqAnn]] serves from — the
    * amortization demonstrated, not implied: the per-corpus work
    * (`enc` = [[pqEncodings]], `cells` = [[ivfCells]]) is read, not
    * rebuilt, and the whole batch rides ONE pass over the encodings
    * (the per-query fan-out — probed-cell list and K×M LUTs — lives on
    * broadcast frames, never re-scans the index). Per query: probe the
    * `nprobe` nearest of `kIvf` cells (L2, ties to the lowest cell),
    * ADC-rank that slice of the encodings, window top-`coarseK`,
    * exact-cosine rerank, top-`topK`. Returns (q_id, vec_id, cell,
    * adc, cos_sim, rn) ordered by (q_id, rn). Backs q180_ivfpq_batch.
    * At 100 TB this is the serving shape: cell-partitioned encodings
    * scanned once per BATCH, never once per query.
    *
    * `codebooks`/`centroids` MUST be the model `enc`/`cells` were
    * built with (trained index ⇒ trained codebooks here — a seed-space
    * LUT against trained codes sums meaningless distances and returns
    * plausible-looking wrong neighbors); defaults re-derive the seed
    * model from `codes`, matching a seed-built index.
    *
    * `allowedPairs` (a (q_id, vec_id) frame) is PER-QUERY filtered
    * search — each query restricted to ITS OWN allow set (real
    * serving batches carry one predicate per request, not one per
    * batch): the semi-join lands at candidate formation, before the
    * per-query ADC window, so every query's top-k has the single
    * filtered path's pre-filter semantics (spec-pinned equal to it,
    * query by query). A query with no allowed pairs returns no rows. */
  private[graft] def ivfPqAnnBatch(codes: DataFrame, enc: DataFrame,
      cells: DataFrame, qMax: Long, kIvf: Int, nprobe: Int, m: Int,
      subDim: Int, k: Int, coarseK: Int, topK: Int,
      codebooks: Option[DataFrame] = None,
      centroids: Option[DataFrame] = None,
      allowedPairs: Option[DataFrame] = None): DataFrame = {
    require(kIvf >= 1 && nprobe >= 1 && nprobe <= kIvf,
      "ivfPqAnnBatch: need 1 <= nprobe <= kIvf")
    require(m >= 1 && subDim >= 1 && k >= 1,
      "ivfPqAnnBatch: m, subDim, k must all be >= 1")
    require(qMax >= 1 && coarseK >= 1 && topK >= 1,
      "ivfPqAnnBatch: qMax, coarseK, topK must all be >= 1")
    val cents = centroids.getOrElse(ivfCentroids(codes, kIvf))
    val qs = codes.filter(col("vec_id") < qMax)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    // per-query probed cells: bottom-nprobe by (L2, cl); the window
    // sees |batch|×kIvf rows — batch-bounded, never corpus-bounded
    val wProbe = Window.partitionBy("q_id").orderBy(col("d").asc, col("cl"))
    val probed = qs.crossJoin(broadcast(cents))
      .select(col("q_id"), col("cl"),
        graft.plans.L2DistanceSq.l2DistSq(col("c"), col("qv")).as("d"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("q_id").as("pq"), col("cl").as("pcell"))
    // per-query LUTs: K×M integer rows per query
    val qsub = pqSubvectors(codes.filter(col("vec_id") < qMax), m, subDim)
      .select(col("vec_id").as("q_id"), col("s").as("qs_s"),
        col("sc").as("qs"))
    // the LUT's codebooks MUST be the ones `enc` was encoded with —
    // a trained index joined against a seed-space LUT would sum
    // meaningless distances and return plausible-looking wrong
    // neighbors with no error (same contract as pqAnnSearch)
    val lut = codebooks.getOrElse(pqSeedCodebooks(codes, m, subDim, k))
      .join(broadcast(qsub), col("cs") === col("qs_s"))
      .select(col("q_id"), col("cs"), col("cb_id"),
        pqDist2(col("qs"), col("cbv")).as("qd"))
    val cand = enc.filter(col("vec_id") >= qMax)
      .join(cells, "vec_id")
      .join(broadcast(probed), col("cell") === col("pcell"))
      .join(broadcast(lut),
        col("pq") === col("q_id") && col("s") === col("cs")
          && col("code") === col("cb_id"))
    // per-query pre-filter: like the single path's allow-list, the
    // join strategy is left to AQE — the pairs frame's size is caller
    // data (|batch| tenant sets vs per-request survivor lists)
    val adcg = allowedPairs.fold(cand)(ap =>
        cand.join(ap.select(col("q_id"), col("vec_id")),
          Seq("q_id", "vec_id"), "leftsemi"))
      .groupBy("q_id", "vec_id", "cell")
      .agg(sum(col("qd")).as("adc"))
    val wAdc = Window.partitionBy("q_id")
      .orderBy(col("adc").asc, col("vec_id"))
    val coarse = adcg.withColumn("crn", row_number().over(wAdc))
      .filter(col("crn") <= coarseK).drop("crn")
    // rerank probe list ≤ |batch|·coarseK rows by construction —
    // broadcast explicitly, same discipline as pqAnnSearch
    val wTop = Window.partitionBy("q_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    broadcast(coarse)
      .join(codes.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .join(broadcast(qs), "q_id")
      .select(col("q_id"), col("vec_id"), col("cell"), col("adc"),
        round(cosineFast(col("v"), col("qv")), 4).as("cos_sim"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= topK)
      .select(col("q_id"), col("vec_id"), col("cell"), col("adc"),
        col("cos_sim"), col("rn").cast("int").as("rn"))
      .orderBy("q_id", "rn")
  }

  /** Batch-serve a query SET from the ON-DISK index — the
    * [[ivfPqAnnBatch]] one-pass shape over a STATICALLY
    * partition-pruned scan: the union of every query's probed cells
    * is collected as ≤ kIvf literal values (batch-size-INDEPENDENT —
    * the collect is over the distinct cells, never the per-query
    * lists) and becomes the encodings scan's partition filter; the
    * batch machinery then applies each query's own nprobe-cell
    * restriction per row on the pruned slice. The assignment frame is
    * the s=0 slice of the same pruned scan (every vector has an s=0
    * row; no dedup shuffle), and the model frames come off the index,
    * so the batch can never rank in a different code space than the
    * encodings were written in. Outstanding tombstones are subtracted
    * ([[minusTombstones]]). Returns [[ivfPqAnnBatch]]'s
    * (q_id, vec_id, cell, adc, cos_sim, rn). Construction-eager like
    * [[ivfPqIndexServe]] (the distinct-cells collect + a kIvf-row
    * count), by design. `allowed` restricts CANDIDATES for the whole
    * batch with the single-query path's pre-filter semantics (the
    * semi-join lands on the pruned scan before any ranking; query
    * vectors come from `codes` and need not be allowed themselves —
    * same as the single path, where the query is excluded from its
    * own candidates anyway). `allowedPairs` ((q_id, vec_id)) instead
    * restricts EACH query to its own set ([[ivfPqAnnBatch]]'s
    * per-query pre-filter); passing both applies both. */
  private[graft] def ivfPqIndexServeBatch(codes: DataFrame,
      indexDir: String, qMax: Long, nprobe: Int, m: Int, subDim: Int,
      coarseK: Int, topK: Int,
      allowed: Option[DataFrame] = None,
      allowedPairs: Option[DataFrame] = None): DataFrame = {
    require(qMax >= 1 && nprobe >= 1 && m >= 1 && subDim >= 1 &&
      coarseK >= 1 && topK >= 1,
      "ivfPqIndexServeBatch: all knobs must be >= 1")
    val s = codes.sparkSession
    val manifestKIvf = checkIndexManifest(s, indexDir, m, subDim, nprobe)
    val books = s.read.schema(IvfPqBooksSchema).parquet(s"$indexDir/books")
    val cents = s.read.schema(IvfPqCentsSchema).parquet(s"$indexDir/cents")
    // kIvf from the manifest (ONE sidecar round-trip, returned by the
    // geometry check): counting cents/ here billed every batch-serve
    // construction a Spark job for one int the write already
    // recorded. The count() fallback only runs for a pre-manifest
    // store.
    val kIvf = manifestKIvf.getOrElse(cents.count().toInt)
    val gServe = Stores.currentGen(s, indexDir)
    // exhaustive batches (nprobe ≥ kIvf) need every cell — the
    // partition filter is the store's own directory listing, no
    // probe job (the ivfPqIndexServe discipline); pruned batches
    // still run the per-query argmin + distinct-cells collect.
    val cellsNeeded: Seq[Long] =
      if (manifestKIvf.exists(nprobe >= _)) listCellDirs(s, indexDir, gServe)
      else {
        val qs = codes.filter(col("vec_id") < qMax)
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        val wProbe = Window.partitionBy("q_id")
          .orderBy(col("d").asc, col("cl"))
        qs.crossJoin(broadcast(cents))
          .select(col("q_id"), col("cl"),
            graft.plans.L2DistanceSq.l2DistSq(col("c"), col("qv")).as("d"))
          .withColumn("prn", row_number().over(wProbe))
          .filter(col("prn") <= nprobe)
          .select("cl").distinct().collect().map(_.getLong(0)).toSeq
      }
    val encDisk = servedEnc(s, indexDir, gServe, cellsNeeded, allowed)
    ivfPqAnnBatch(codes,
      encDisk.select("vec_id", "s", "code"),
      encDisk.filter(col("s") === 0).select("vec_id", "cell"),
      qMax, kIvf, nprobe, m, subDim, k = 1, coarseK, topK,
      codebooks = Some(books), centroids = Some(cents),
      allowedPairs = allowedPairs)
  }

  /** The generation-pinned encodings dataset's cell-directory
    * listing, driver-side (no Spark job) — THE probed-cell source for
    * EXHAUSTIVE serves (nprobe >= the manifest's kIvf): one shared
    * definition so the single and batch serve paths cannot drift on
    * the path shape or the `cell=` parse. */
  private def listCellDirs(s: SparkSession, indexDir: String,
      g: Long): Seq[Long] =
    AnnFamily.partitionDirs(s, indexDir, g).map(_._1).sorted

  /** Generation `g`'s live encodings in `cells` — a plan-time
    * `PartitionFilters: [cell IN (…)]` scan minus the tombstones —
    * restricted to the `allowed` vec ids when given (a semi-join left to
    * AQE: the allow-list's size is caller data). */
  private def servedEnc(s: SparkSession, indexDir: String, g: Long,
      cells: Seq[Long], allowed: Option[DataFrame]): DataFrame = {
    val live = minusTombstones(s, indexDir, g,
      AnnFamily.read(s, indexDir, "enc", g).filter(col("cell").isin(cells: _*)))
    allowed.fold(live)(a =>
      live.join(a.select(col("vec_id")), Seq("vec_id"), "leftsemi"))
  }

  /** Tombstone-aware view of an on-disk encodings scan: subtract the
    * index's logical-delete set (see [[ivfPqIndexDelete]]) as a
    * BROADCAST anti-join — the tombstone frame is ids-only and stays
    * small between compactions by contract, so the serve plan keeps
    * its partition-pruned scan shape and pays one broadcast hash
    * lookup per encoding row, never a shuffle (hinted through
    * [[Stores.scaleHint]], so one-partition bootstraps fold it into the
    * consuming job). No `tombstones/` directory means no deletes: the
    * scan is returned untouched (the common case — zero cost until the
    * first delete). */
  private def minusTombstones(s: SparkSession, indexDir: String,
      g: Long, enc: DataFrame): DataFrame =
    AnnFamily.tombIds(s, indexDir, g).fold(enc)(t =>
      enc.join(Stores.scaleHint(t), Seq("vec_id"), "left_anti"))

  /** Validate caller knobs against the index's own manifest row (see
    * [[ivfPqIndexWrite]]). A wrong `m`/`subDim` would not error — it
    * would slice the query into a DIFFERENT subvector geometry than
    * the encodings were written in and rank garbage with full
    * confidence, the worst failure mode a serving path can have — so
    * the mismatch dies here with both geometries named. `nprobe` is
    * checked against the indexed kIvf when the caller has one (the
    * in-memory twins validate it against their own knob; the disk
    * paths learn kIvf only from the manifest). A pre-manifest index
    * (no `manifest/` directory) skips validation for compatibility.
    * One tiny one-row read per construction — the serve paths are
    * construction-eager already, by design. */
  private def checkIndexManifest(s: SparkSession, indexDir: String,
      m: Int, subDim: Int, nprobe: Int = Int.MinValue): Option[Int] =
    Stores.readMetaSidecar(s, s"$indexDir/manifest").map { man =>
      val (im, isd, ik) =
        (man("m").toInt, man("subDim").toInt, man("kIvf").toInt)
      require(m == im && subDim == isd,
        s"index at $indexDir was written with m=$im subDim=$isd — " +
          s"got m=$m subDim=$subDim; a mismatched geometry would rank " +
          "in the wrong code space")
      require(nprobe == Int.MinValue || nprobe <= ik,
        s"nprobe=$nprobe exceeds the index's kIvf=$ik cells")
      // returned so serve constructions need ONE manifest round-trip
      ik
    }

  /** LOGICAL delete from an on-disk index: append the ids to the
    * index's `tombstones/` parquet set. Serving subtracts tombstones
    * with a broadcast anti-join ([[minusTombstones]]) — a deleted
    * vector stops surfacing immediately, at zero rewrite cost — and
    * the next [[ivfPqIndexCompact]] makes the delete PHYSICAL and
    * clears the set. This is the delete contract every append-only
    * columnar index uses at scale (a 100 TB cell directory cannot be
    * rewritten per delete): deletes are cheap and logical, space is
    * reclaimed by maintenance. Deleting an id not in the index is a
    * harmless no-op; deleting an id later re-appended would mask the
    * new rows too (ids are never reused by contract — the
    * [[ivfPqIndexAppend]] new-ids rule). */
  private[graft] def ivfPqIndexDelete(s: SparkSession, indexDir: String,
      ids: Seq[Long]): Unit = AnnFamily.delete(s, indexDir, ids)

  /** FRAME-shaped [[ivfPqIndexDelete]] (the no-collect takedown path):
    * `ids` carries one `vec_id`-castable column that never crosses the
    * driver. Absent ids are forgiven by the serve's anti-join exactly
    * as in the Seq form; an empty frame appends zero rows. */
  private[graft] def ivfPqIndexDelete(s: SparkSession, indexDir: String,
      ids: DataFrame): Unit = AnnFamily.delete(s, indexDir, ids)

  /** Compact into the NEXT GENERATION ([[Stores.StoreFamily.compact]]):
    * the encodings rewritten to ONE file per cell directory with
    * outstanding tombstones applied physically. Every
    * [[ivfPqIndexAppend]] (and each streaming micro-batch of
    * [[ivfPqIndexIngest]]) adds a file per touched cell, so a
    * long-lived index accretes small fragments whose per-file open/
    * footer cost eventually dominates the pruned serve scan — the
    * classic small-files decay every append-only layout meets;
    * compaction is the repair, and serve-equality across it is
    * spec-pinned. */
  private[graft] def ivfPqIndexCompact(s: SparkSession,
      indexDir: String): Unit = AnnFamily.compact(s, indexDir)

  /** CONTINUOUS ingestion into an on-disk index: each micro-batch of
    * `delta` (codes shape — vec_id, v, nrm, codes — new ids only) is
    * appended under the frozen-model contract ([[ivfPqIndexAppend]]),
    * guarded by the batch-id ledger ([[Stores.StoreFamily.ingest]]).
    * At 100 TB/day this is the serving-index maintenance loop: stream
    * in, appends accrete, compaction amortizes. */
  private[graft] def ivfPqIndexIngest(delta: DataFrame, indexDir: String,
      m: Int, subDim: Int, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // fail a geometry mismatch BEFORE the stream starts, not inside
    // the first micro-batch's error-handling path
    checkIndexManifest(delta.sparkSession, indexDir, m, subDim)
    AnnFamily.ingest(delta, indexDir, checkpointDir)(
      ivfPqIndexAppend(_, indexDir, m, subDim))
  }

  /** Trained PQ codebooks — the opt-in alternative to
    * [[pqSeedCodebooks]] behind the same (cs, cb_id, cbv) shape:
    * Lloyd's k-means per subspace over the integer subvectors, each
    * re-estimated centroid the per-dim mean ROUNDED to the nearest
    * integer (floor(mean + 0.5)) — codebooks stay INTEGER, so the ADC
    * pipeline stays integer end-to-end and engine-portable (the q135
    * kmeans rounding discipline, tightened from 6 dp to whole codes).
    * Seeds are the seed codebooks; cluster ids keep the seed ids; a
    * cluster that loses every member keeps its previous centroid.
    * Each round localCheckpoints the k·m-row model (the kmeans/
    * PageRank lineage discipline), so this is an EAGER constructor
    * like every iterative materializer: train once, pass the result to
    * [[pqAnn]]/[[pqAnnSearch]]/[[pqEncode]] via their `codebooks`
    * parameter. The metered q178/q179 keep the oracle-pinned seed
    * default; OperatorSpec measures the ADC-quality gain training
    * buys on a corpus whose seeds are deliberately degenerate. */
  private[graft] def pqTrainCodebooks(codes: DataFrame, m: Int,
      subDim: Int, k: Int, iters: Int): DataFrame = {
    require(iters >= 1, "pqTrainCodebooks: iters must be >= 1")
    val sub = pqSubvectors(codes, m, subDim)
    var cb = pqSeedCodebooks(codes, m, subDim, k).localCheckpoint()
    var it = 0
    while (it < iters) {
      // assignment IS pqEncode against the current model — the same
      // call the index build uses, so a future change to the encode
      // argmin (tie rule, distance) cannot leave training assigning
      // in a different rule than the index encodes
      val assigned = pqEncode(codes, m, subDim, k, Some(cb))
        .withColumnRenamed("code", "cb_id")
      // re-estimation: per-dim rounded integer mean, k×m×subDim reduce
      // state regardless of corpus size (the q86/q135 keyed-agg shape)
      val re = sub.join(assigned, Seq("vec_id", "s"))
        .select(col("s"), col("cb_id"),
          posexplode(col("sc")).as(Seq("i", "x")))
        .groupBy("s", "cb_id", "i")
        .agg(floor(avg("x") + 0.5).cast("long").as("cx"))
        .groupBy("s", "cb_id")
        .agg(transform(
          sort_array(collect_list(struct(col("i"), col("cx")))),
          e => e.getField("cx")).as("cbv"))
        .select(col("s").as("cs"), col("cb_id"), col("cbv"))
      cb = re.unionByName(
          cb.join(re.select("cs", "cb_id"), Seq("cs", "cb_id"), "left_anti"))
        .localCheckpoint()
      it += 1
    }
    cb
  }

  /** Lloyd-trained COARSE IVF centroids — [[pqTrainCodebooks]] one
    * level up: `iters` rounds of (assign via [[ivfAssign]] against the
    * current model — the SAME argmin the index assigns with, so
    * training can never converge under a different tie/distance rule
    * than serving uses) then per-dim mean re-estimation. Seeds (and
    * the returned `cl` ids) are [[ivfCentroids]]' kIvf lowest ids.
    * Returns (cl, c) — drop-in for every `centroids` parameter.
    *
    * Why it exists: seed centroids make CELL OCCUPANCY data-dependent
    * — a corpus whose low ids cluster leaves one mega-cell holding
    * nearly everything, and at scale the cell is the PARTITION, so a
    * mega-cell is a straggler scan that nprobe can't prune
    * (OperatorSpec constructs exactly this and measures the rebalance
    * training buys). Re-estimation is EXACT integer arithmetic in
    * fixed point (per-dim micro-units: floor(x·10⁶+0.5) summed as
    * LONG, divided by the exact count, scaled back) — double `avg` is
    * partition-order-dependent, so a retrain on the same corpus could
    * otherwise flip ties and re-cell vectors nondeterministically.
    * Long-sum bound: |x|·10⁶ per row, so a cell holds ~9·10¹²/|x|ₘₐₓ
    * vectors per dim before overflow — far past any real cell (cells
    * are sized to be scanned). Per round: one assignment pass + a
    * (cell, dim)-keyed aggregate with kIvf·d reduce state, corpus-size
    * independent. EAGER like [[pqTrainCodebooks]] (localCheckpoint per
    * round): train once per corpus, reuse across queries and index
    * builds. */
  private[graft] def ivfTrainCentroids(codes: DataFrame, kIvf: Int,
      iters: Int): DataFrame = {
    require(iters >= 1, "ivfTrainCentroids: iters must be >= 1")
    val Fix = 1e6
    var cents = ivfCentroids(codes, kIvf).localCheckpoint()
    var it = 0
    while (it < iters) {
      val assigned = ivfAssign(codes, kIvf, Some(cents))
      val re = codes.join(assigned, "vec_id")
        .select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("cell", "i")
        .agg(sum(floor(col("x") * Fix + 0.5).cast("long")).as("sx"),
          count(lit(1)).as("n"))
        .select(col("cell"), col("i"),
          (floor(col("sx").cast("double") / col("n") + 0.5) / Fix)
            .as("cx"))
        .groupBy("cell")
        .agg(transform(
          sort_array(collect_list(struct(col("i"), col("cx")))),
          e => e.getField("cx")).as("c"))
        .select(col("cell").as("cl"), col("c"))
      // a cell that lost every member keeps its previous centroid —
      // the model stays kIvf rows (pqTrainCodebooks' empty-cluster rule)
      cents = re.unionByName(
          cents.join(re.select("cl"), Seq("cl"), "left_anti"))
        .localCheckpoint()
      it += 1
    }
    cents
  }

  /** Per-cell health report of an on-disk ANN index — the ops view a
    * 100 TB index needs BEFORE a slow query does. Returns (cell, n_vecs,
    * files, share_bp) ordered by cell; see [[AnnFamily.stats]]. */
  private[graft] def ivfPqIndexStats(s: SparkSession,
      indexDir: String): DataFrame = AnnFamily.stats(s, indexDir)

  /** The index MAINTENANCE POLICY ([[Stores.StoreFamily.maintain]]):
    * per cell, (cell, n_vecs, files, tomb, share_bp, action) where
    * action is
    *
    *  - `retrain` — the cell's LIVE share exceeds `maxShareBp` (the
    *    mega-cell straggler: one cell holding most of the index makes
    *    nprobe pruning meaningless — [[ivfTrainCentroids]] + a
    *    frozen-model rebuild is the repair, which needs the corpus
    *    codes frame and is therefore a DECISION here, not an action);
    *  - `compact` — the cell's file count exceeds `maxFiles` (append/
    *    ingest small-file accretion: per-file open/footer cost starts
    *    taxing the pruned serve scan) OR its tombstoned-row share of
    *    the cell exceeds `maxTombBp` (dead rows the ADC scan still
    *    reads and the anti-join must subtract);
    *  - `ok` — neither.
    *
    * `execute = true` additionally runs [[ivfPqIndexCompact]] when any
    * cell decided `compact`. Retrain is never auto-executed: swapping
    * the coarse model re-encodes cell assignments and is a caller-owned
    * rebuild, not maintenance. Serve results are unchanged by an
    * executed compaction (spec-pinned in DiskIndexSpec's maintenance
    * leg, along with the decision table on a constructed
    * skewed/fragmented/tombstoned index). Defaults: maxFiles 8 (a few
    * ingest waves), maxTombBp 2000 (20% dead), maxShareBp 3×10000/kIvf
    * (3× the balanced share, kIvf read from the manifest). */
  private[graft] def ivfPqIndexMaintain(s: SparkSession,
      indexDir: String, maxFiles: Int = 8, maxTombBp: Long = 2000L,
      maxShareBp: Long = -1L, execute: Boolean = false): DataFrame = {
    val shareCap =
      if (maxShareBp > 0) maxShareBp
      else math.min(10000L,
        3L * 10000L / math.max(AnnFamily.partitions(s, indexDir), 1))
    AnnFamily.maintain(s, indexDir, maxFiles, maxTombBp, execute,
      keep = Seq("share_bp"), retrain = Some(col("share_bp") > shareCap))
  }

  /** Oracle CTE: embeddings as double arrays + norms. */
  private val oracleVec: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM e)""".stripMargin

  /** The single-query IVF-PQ oracle, shared VERBATIM by q179 (served
    * from the in-memory registry index) and q182 (served from the
    * on-disk cell-partitioned index), and by q183 with an allow
    * predicate spliced in ([[ivfPqOracleFiltered]]): the serving paths
    * are spec-pinned result-identical (DiskIndexSpec), so one replay
    * of the math — int8 codes, seed codebooks/centroids, coarse probe,
    * ADC, exact-cosine rerank — gates all of them. */
  private val ivfPqOracle: String =
    oracleVec +
      """,
        |a AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x)))
        |        AS absmax FROM e),
        |c AS (SELECT vec_id,
        |  list_transform(v, x -> CAST(floor(x * 127 / absmax + 0.5) AS BIGINT))
        |    AS codes FROM a WHERE absmax > 0),
        |cc AS (SELECT n.vec_id AS cl, n.v AS cv FROM n JOIN c USING (vec_id)
        |       WHERE n.vec_id < 4),
        |asgn AS (SELECT vec_id, cl AS cell FROM (
        |  SELECT n.vec_id, cc.cl,
        |    row_number() OVER (PARTITION BY n.vec_id
        |      ORDER BY list_sum([(n.v[i]-cc.cv[i])*(n.v[i]-cc.cv[i])
        |                         for i in range(1, len(n.v)+1)]), cc.cl)
        |      AS rn
        |  FROM n JOIN c USING (vec_id) CROSS JOIN cc) WHERE rn = 1),
        |qn AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0),
        |probed AS (SELECT cl FROM (
        |  SELECT cc.cl,
        |    list_sum([(cc.cv[i]-qn.qv[i])*(cc.cv[i]-qn.qv[i])
        |              for i in range(1, len(cc.cv)+1)]) AS d
        |  FROM cc, qn) ORDER BY d, cl LIMIT 2),
        |sub AS (SELECT vec_id, s,
        |  [c.codes[s*16+i] for i in range(1, 17)] AS sc
        |  FROM c CROSS JOIN (SELECT unnest(range(0, 4)) AS s)),
        |cb AS (SELECT s, vec_id AS cb_id, sc AS cbv FROM sub
        |       WHERE vec_id < 8),
        |enc AS (SELECT vec_id, s, cb_id AS code FROM (
        |  SELECT sub.vec_id, sub.s, cb.cb_id,
        |    row_number() OVER (PARTITION BY sub.vec_id, sub.s
        |      ORDER BY list_sum([(sub.sc[i]-cb.cbv[i])*(sub.sc[i]-cb.cbv[i])
        |                         for i in range(1, 17)]), cb.cb_id) AS rn
        |  FROM sub JOIN cb USING (s)) WHERE rn = 1),
        |q AS (SELECT s, sc AS qs FROM sub WHERE vec_id = 0),
        |lut AS (SELECT cb.s, cb.cb_id,
        |  CAST(list_sum([(q.qs[i]-cb.cbv[i])*(q.qs[i]-cb.cbv[i])
        |                 for i in range(1, 17)]) AS BIGINT) AS qd
        |  FROM cb JOIN q USING (s)),
        |adc AS (SELECT enc.vec_id, asgn.cell,
        |  CAST(sum(lut.qd) AS BIGINT) AS adc
        |  FROM enc JOIN lut ON enc.s = lut.s AND enc.code = lut.cb_id
        |  JOIN asgn ON enc.vec_id = asgn.vec_id
        |  WHERE enc.vec_id <> 0 AND asgn.cell IN (SELECT cl FROM probed)
        |  GROUP BY enc.vec_id, asgn.cell
        |  ORDER BY adc ASC, enc.vec_id LIMIT 20)
        |SELECT adc.vec_id, CAST(adc.cell AS BIGINT) AS cell, adc.adc,
        |  round(list_sum([n.v[i]*qn.qv[i] for i in range(1, len(n.v)+1)])
        |        / (n.nrm*qn.qnrm), 4) AS cos_sim
        |FROM adc JOIN n USING (vec_id), qn
        |ORDER BY cos_sim DESC, adc.vec_id LIMIT 10""".stripMargin

  /** [[ivfPqOracle]] with an allow predicate spliced into the adc
    * CTE's candidate filter — the oracle-side twin of
    * [[ivfPqIndexServe]]'s pre-filter semantics (the predicate
    * restricts candidates BEFORE the ADC top-coarseK, and the final
    * rerank sees only filtered survivors). Splicing instead of a
    * second oracle string keeps the ~50 lines of shared PQ math
    * replayed by q179/q182/q183 literally identical. */
  private def ivfPqOracleFiltered(pred: String): String = {
    val hook = "WHERE enc.vec_id <> 0"
    require(ivfPqOracle.indexOf(hook) == ivfPqOracle.lastIndexOf(hook)
      && ivfPqOracle.contains(hook), "ivfPqOracle candidate hook drifted")
    ivfPqOracle.replace(hook, s"$hook AND $pred")
  }

  val defs: Seq[QueryDef] = Seq(

    // ── brute-force cosine top-10 for query vector vec_id=0
    QueryDef(
      "q46_cosine_topk",
      oracleVec +
        """,
          |q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0)
          |SELECT vec_id,
          |  round(list_sum([n.v[i]*q.qv[i] for i in range(1, len(n.v)+1)])
          |        / (n.nrm*q.qnrm), 4) AS cos_sim
          |FROM n, q WHERE vec_id <> 0
          |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      val vs = vectors(s, dir)
      val q = vs.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("nrm").as("qnrm"))
      vs.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        // fused native expression (plans.CosineSimilarity): one codegen'd
        // loop per row; bit-identical to dot/(nrm*qnrm)
        .select(col("vec_id"),
          round(cosineFast(col("v"), col("qv")), 4).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },

    // ── ANN via random-hyperplane LSH: only the query's bucket is scanned
    QueryDef(
      "q47_ann_lsh",
      oracleVec +
        """,
          |b AS (SELECT vec_id, v, nrm,
          |  (CASE WHEN list_sum([v[i] * ((((0*73856093 + (i-1)*19349663) % 97) - 48)::DOUBLE) for i in range(1, len(v)+1)]) > 0 THEN 1 ELSE 0 END)
          |+ (CASE WHEN list_sum([v[i] * ((((1*73856093 + (i-1)*19349663) % 97) - 48)::DOUBLE) for i in range(1, len(v)+1)]) > 0 THEN 2 ELSE 0 END)
          |+ (CASE WHEN list_sum([v[i] * ((((2*73856093 + (i-1)*19349663) % 97) - 48)::DOUBLE) for i in range(1, len(v)+1)]) > 0 THEN 4 ELSE 0 END)
          |+ (CASE WHEN list_sum([v[i] * ((((3*73856093 + (i-1)*19349663) % 97) - 48)::DOUBLE) for i in range(1, len(v)+1)]) > 0 THEN 8 ELSE 0 END)
          |  AS bucket FROM n),
          |q AS (SELECT v AS qv, nrm AS qnrm, bucket AS qb FROM b WHERE vec_id = 0)
          |SELECT vec_id, CAST(b.bucket AS BIGINT) AS bucket,
          |  round(list_sum([b.v[i]*q.qv[i] for i in range(1, len(b.v)+1)])
          |        / (b.nrm*q.qnrm), 4) AS cos_sim
          |FROM b, q WHERE vec_id <> 0
          |  AND b.bucket IN (q.qb, xor(q.qb,1), xor(q.qb,2), xor(q.qb,4), xor(q.qb,8))
          |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      val vs = vectors(s, dir)
        .withColumn("bucket", lshBucket(col("v"), 4))
      // multi-probe: the query visits its own bucket plus the 4 hamming-1
      // buckets (one sign bit flipped) — the standard recall fix for a
      // near-boundary query vector. Exploding the probe set on the 1-row
      // query side keeps the corpus join an equality join on bucket (the
      // partition key at scale); each corpus vector matches at most one
      // probe, so no dedup pass is needed.
      val q = vs.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("nrm").as("qnrm"), col("bucket").as("qb"))
        .select(col("qv"), col("qnrm"), explode(array(
          col("qb") +: (0 until 4).map(p => col("qb").bitwiseXOR(lit(1L << p))): _*
        )).as("pb"))
      vs.filter(col("vec_id") =!= 0)
        .join(broadcast(q), col("bucket") === col("pb"))
        .select(col("vec_id"), col("bucket"),
          round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 4)
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },

    // ── IVF ANN: inverted-file index with deterministic seed centroids.
    //    Vectors partition by nearest centroid (L2², ties → lowest id);
    //    a query probes only its centroid's cell (nprobe=1). At cluster
    //    scale the cell id is the partition key — K grows with corpus
    //    size, per-cell scans stay constant. Both sides compute the
    //    assignment with the same explode → distance → rank-1 shape.
    QueryDef(
      "q73_ivf_ann",
      oracleVec +
        """,
          |cents AS (SELECT vec_id AS cid, v AS cv FROM n WHERE vec_id < 8),
          |d AS (SELECT n.vec_id, cents.cid,
          |  list_sum([(n.v[i]-cents.cv[i])*(n.v[i]-cents.cv[i])
          |            for i in range(1, len(n.v)+1)]) AS dist
          |  FROM n, cents),
          |assign AS (SELECT vec_id, cid FROM (
          |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
          |    ORDER BY dist, cid) AS rn FROM d) WHERE rn = 1),
          |q AS (SELECT n.v AS qv, n.nrm AS qnrm, a.cid AS qcid
          |  FROM n JOIN assign a ON n.vec_id = a.vec_id WHERE n.vec_id = 0)
          |SELECT n.vec_id AS vec_id, CAST(a.cid AS BIGINT) AS cell,
          |  round(list_sum([n.v[i]*q.qv[i] for i in range(1, len(n.v)+1)])
          |        / (n.nrm*q.qnrm), 4) AS cos_sim
          |FROM n JOIN assign a ON n.vec_id = a.vec_id, q
          |WHERE n.vec_id <> 0 AND a.cid = q.qcid
          |ORDER BY cos_sim DESC, n.vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      val vs = vectors(s, dir)
      val cents = vs.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val dist = vs.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cid"),
          // fused native expression (plans.L2DistanceSq): bit-identical
          // to the zip_with/aggregate fold and the oracle's list_sum
          graft.plans.L2DistanceSq.l2DistSq(col("v"), col("cv")).as("dist"))
      // argmin via min(struct(dist, cid)) — lexicographic struct order is
      // (nearest, ties → lowest id), and it partial-aggregates map-side:
      // the corpus-wide n×K expansion never crosses the wire (a window
      // rank would shuffle and sort all n×K rows)
      val assign = dist.groupBy("vec_id")
        .agg(min(struct(col("dist"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cid"))
      val assigned = vs.join(assign, "vec_id")
      val q = assigned.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("nrm").as("qnrm"), col("cid").as("qcid"))
      assigned.filter(col("vec_id") =!= 0)
        .join(broadcast(q), col("cid") === col("qcid"))
        .select(col("vec_id"), col("cid").cast("long").as("cell"),
          round(cosineFast(col("v"), col("qv")), 4).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },

    // ── batch ANN through the IVF index: the production shape — a SET of
    //    query vectors (vec_id < 5) against the corpus (vec_id >= 5), each
    //    probing only its own cell. One equality join on cell carries the
    //    whole batch (cell = partition key at scale; queries broadcast);
    //    per-query top-3 via window, ties broken by vec_id.
    QueryDef(
      "q90_ann_batch",
      oracleVec +
        """,
          |cents AS (SELECT vec_id AS cid, v AS cv FROM n WHERE vec_id < 8),
          |d AS (SELECT n.vec_id, cents.cid,
          |  list_sum([(n.v[i]-cents.cv[i])*(n.v[i]-cents.cv[i])
          |            for i in range(1, len(n.v)+1)]) AS dist
          |  FROM n, cents),
          |assign AS (SELECT vec_id, cid FROM (
          |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
          |    ORDER BY dist, cid) AS rn FROM d) WHERE rn = 1),
          |q AS (SELECT n.vec_id AS q_id, n.v AS qv, n.nrm AS qnrm, a.cid AS qcid
          |  FROM n JOIN assign a ON n.vec_id = a.vec_id WHERE n.vec_id < 5),
          |c AS (SELECT q.q_id, n.vec_id,
          |  round(list_sum([n.v[i]*q.qv[i] for i in range(1, len(n.v)+1)])
          |        / (n.nrm*q.qnrm), 4) AS cos_sim
          |  FROM n JOIN assign a ON n.vec_id = a.vec_id
          |  JOIN q ON a.cid = q.qcid WHERE n.vec_id >= 5)
          |SELECT q_id, vec_id, cos_sim, CAST(rn AS INTEGER) AS rn FROM (
          |  SELECT *, row_number() OVER (PARTITION BY q_id
          |    ORDER BY cos_sim DESC, vec_id) AS rn FROM c)
          |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin) { (s, dir) =>
      val vs = vectors(s, dir)
      val cents = vs.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val dist = vs.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cid"),
          graft.plans.L2DistanceSq.l2DistSq(col("v"), col("cv")).as("dist"))
      // same map-side-combinable argmin as q73/q135
      val assign = dist.groupBy("vec_id")
        .agg(min(struct(col("dist"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cid"))
      val assigned = vs.join(assign, "vec_id")
      val qs = assigned.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qnrm"), col("cid").as("qcid"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("cos_sim").desc, col("vec_id"))
      assigned.filter(col("vec_id") >= 5)
        .join(broadcast(qs), col("cid") === col("qcid"))
        .select(col("q_id"), col("vec_id"),
          round(cosineFast(col("v"), col("qv")), 4).as("cos_sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy("q_id", "rn")
    },

    // ── k-NN join: top-3 neighbors for every vector (bounded corpus)
    QueryDef(
      "q48_knn_join",
      oracleVec +
        """,
          |p AS (SELECT a.vec_id AS vec_i, b.vec_id AS vec_j,
          |  round(list_sum([a.v[i]*b.v[i] for i in range(1, len(a.v)+1)])
          |        / (a.nrm*b.nrm), 4) AS cos_sim
          |  FROM n a JOIN n b ON a.vec_id <> b.vec_id)
          |SELECT vec_i, vec_j, cos_sim, CAST(rn AS INTEGER) AS rn FROM (
          |  SELECT *, row_number() OVER (PARTITION BY vec_i
          |    ORDER BY cos_sim DESC, vec_j) AS rn FROM p)
          |WHERE rn <= 3 ORDER BY vec_i, rn""".stripMargin) { (s, dir) =>
      // broadcast block-kernel instead of the 60s-at-sf0.1 declarative
      // cross-join + window; numerically identical (see VectorKernel)
      VectorKernel.knnJoin(vectors(s, dir), 3)
    },

    // ── bucketed embedding near-dup: the sub-quadratic 100 TB path for
    //    q45's exact all-pairs — only pairs sharing an LSH bucket are
    //    compared, so the join intermediate is Σ|bucket|² instead of n².
    //    Deterministic hyperplanes make the bucketing itself part of the
    //    declared semantics, so the oracle reproduces it exactly (recall
    //    vs the exact q45 is the documented tradeoff; more planes or
    //    multi-probe tune it).
    QueryDef(
      "q93_lsh_near_dup",
      oracleVec +
        """,
          |b AS (SELECT vec_id, v, nrm,
          |  (CASE WHEN list_sum([v[i] * ((((0*73856093 + (i-1)*19349663) % 97) - 48)::DOUBLE) for i in range(1, len(v)+1)]) > 0 THEN 1 ELSE 0 END)
          |+ (CASE WHEN list_sum([v[i] * ((((1*73856093 + (i-1)*19349663) % 97) - 48)::DOUBLE) for i in range(1, len(v)+1)]) > 0 THEN 2 ELSE 0 END)
          |+ (CASE WHEN list_sum([v[i] * ((((2*73856093 + (i-1)*19349663) % 97) - 48)::DOUBLE) for i in range(1, len(v)+1)]) > 0 THEN 4 ELSE 0 END)
          |+ (CASE WHEN list_sum([v[i] * ((((3*73856093 + (i-1)*19349663) % 97) - 48)::DOUBLE) for i in range(1, len(v)+1)]) > 0 THEN 8 ELSE 0 END)
          |  AS bucket FROM n),
          |p AS (SELECT a.vec_id AS vec_i, b2.vec_id AS vec_j,
          |  a.bucket AS bucket,
          |  list_sum([a.v[i]*b2.v[i] for i in range(1, len(a.v)+1)])
          |    / (a.nrm*b2.nrm) AS cos_sim
          |  FROM b a JOIN b b2
          |    ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
          |SELECT vec_i, vec_j, CAST(bucket AS BIGINT) AS bucket,
          |  round(cos_sim, 4) AS cos_sim
          |FROM p WHERE cos_sim >= 0.45 ORDER BY vec_i, vec_j""".stripMargin) {
      (s, dir) =>
        // salt pinned to 1: keeps the metered plan byte-identical to
        // the declared one (the sf0.1 corpus has no hot cluster; the
        // facade default is AutoSalt for callers who can't know that)
        lshNearDupPairs(vectors(s, dir), planes = 4, threshold = 0.45,
            salt = 1)
          .orderBy("vec_i", "vec_j")
    },

    // ── k-means (Lloyd), K=4, 2 unrolled iterations, fully deterministic:
    //    centroids seed from vec_id < K; each assignment is a broadcast
    //    K-row cross join + per-point argmin (ties → lowest cluster id);
    //    the re-estimated centroid is the per-dim mean ROUNDED to 6
    //    decimals, which pins the iteration across engines up to means
    //    whose unrounded value lies within an ulp of a 0.5e-6 rounding
    //    boundary (reduction order could still flip those; none occur on
    //    this corpus — a raw float sum would leak ulps into EVERY next
    //    assignment instead). The operator carries a cluster's previous
    //    centroid forward if it loses every member (duplicate seed
    //    points); the oracle's cf CTE mirrors that carry-forward (c0
    //    rows absent from c1), so a regenerated corpus that empties a
    //    cluster stays hash-green — the degenerate-seed case is pinned
    //    in ModelPrepSpec. Data never leaves executors: the
    //    model (K×D cells) is re-assembled with the q86 keyed-aggregate
    //    shape and broadcast back — the same dataflow MLlib's k-means
    //    uses, minus the driver round-trip. At 100 TB per iteration:
    //    one narrow scan (assign) + one (cl, dim)-keyed shuffle whose
    //    reduce state is K×D regardless of row count.
    QueryDef(
      "q135_kmeans",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c0 AS (SELECT vec_id AS cl, v AS c FROM e WHERE vec_id < 4),
        |a1 AS (SELECT vec_id, cl FROM (
        |  SELECT e.vec_id, c0.cl, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_sum([(e.v[i]-c0.c[i])*(e.v[i]-c0.c[i])
        |                       for i in range(1, len(e.v)+1)]), c0.cl) AS rn
        |  FROM e CROSS JOIN c0) WHERE rn = 1),
        |d1 AS (SELECT a1.cl, generate_subscripts(e.v,1) AS i, unnest(e.v) AS x
        |       FROM e JOIN a1 USING (vec_id)),
        |c1 AS (SELECT cl, list(round(mx,6) ORDER BY i) AS c
        |       FROM (SELECT cl, i, avg(x) AS mx FROM d1 GROUP BY cl, i)
        |       GROUP BY cl),
        |cf AS (SELECT cl, c FROM c1
        |       UNION ALL
        |       SELECT c0.cl, c0.c FROM c0
        |       WHERE c0.cl NOT IN (SELECT cl FROM c1)),
        |a2 AS (SELECT vec_id, cl, dist FROM (
        |  SELECT e.vec_id, cf.cl,
        |    list_sum([(e.v[i]-cf.c[i])*(e.v[i]-cf.c[i])
        |              for i in range(1, len(e.v)+1)]) AS dist,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_sum([(e.v[i]-cf.c[i])*(e.v[i]-cf.c[i])
        |                         for i in range(1, len(e.v)+1)]), cf.cl) AS rn
        |  FROM e CROSS JOIN cf) WHERE rn = 1)
        |SELECT cl AS cluster, CAST(count(*) AS INTEGER) AS n_points,
        |  CAST(min(vec_id) AS BIGINT) AS min_vec_id,
        |  round(avg(dist), 4) AS mean_sqdist
        |FROM a2 GROUP BY cl ORDER BY cl""".stripMargin) { (s, dir) =>
      kmeans(vectors(s, dir)
          .select(col("vec_id").as("id"), col("v")), k = 4, iters = 2)
        .groupBy(col("cl").as("cluster"))
        .agg(count(lit(1)).cast("int").as("n_points"),
          min("id").as("min_vec_id"),
          round(avg("dist"), 4).as("mean_sqdist"))
        .orderBy("cluster")
    },

    // ── Johnson–Lindenstrauss random projection, 64 → 8 dims: the sign
    //    matrix is a deterministic function of (in-dim, out-dim) via md5,
    //    so both engines rebuild it exactly and reruns are reproducible
    //    (no RNG state to ship). The Spark side bakes the signs into
    //    literal arrays — the projection is a pure NARROW map (8 fused
    //    zip_with/aggregate folds per row, whole-stage codegen'd, zero
    //    shuffles), the shape a 100 TB embedding-sketch pass needs;
    //    the oracle rebuilds the same signs from md5 per (i,j).
    QueryDef(
      "q136_jl_projection",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |x AS (SELECT vec_id, generate_subscripts(v,1) AS i, unnest(v) AS xv
        |      FROM e),
        |jj AS (SELECT unnest(range(0,8)) AS j),
        |s AS (SELECT vec_id, j, xv,
        |        CASE WHEN ('0x' || substr(md5((i-1) || '_' || j), 1, 15))::BIGINT
        |                  % 2 = 0
        |             THEN 1.0 ELSE -1.0 END AS sg
        |      FROM x CROSS JOIN jj)
        |SELECT vec_id, CAST(j AS INTEGER) AS j, round(sum(xv * sg), 4) AS proj
        |FROM s GROUP BY vec_id, j ORDER BY vec_id, j""".stripMargin) { (s, dir) =>
      val signs = jlSignMatrix(outDims = 8, inDims = 64)
      val projections = signs.map { row =>
        aggregate(zip_with(col("v"), typedLit(row.toSeq), _ * _),
          lit(0.0), _ + _)
      }
      vectors(s, dir)
        .select(col("vec_id"), posexplode(array(projections.toIndexedSeq: _*))
          .as(Seq("j", "praw")))
        .select(col("vec_id"), col("j").cast("int").as("j"),
          round(col("praw"), 4).as("proj"))
        .orderBy("vec_id", "j")
    },

    // ── quantized coarse scan + exact rerank: the memory-bandwidth ANN
    //    pattern — the corpus sweep reads int8 codes (4× fewer bytes than
    //    float32, q106's symmetric absmax quantization), takes the top-50
    //    by INTEGER dot product (exact on any engine — no float drift in
    //    the recall-critical stage), and only the 50 survivors pay the
    //    full-precision cosine. At 100 TB the coarse scan is the only
    //    corpus-wide pass and it touches a quarter of the bytes; rerank
    //    cost is O(k), independent of corpus size.
    QueryDef(
      "q142_quantized_rerank",
      oracleVec +
        """,
          |a AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x)))
          |        AS absmax FROM e),
          |c AS (SELECT vec_id,
          |  list_transform(v, x -> CAST(floor(x * 127 / absmax + 0.5) AS BIGINT))
          |    AS codes FROM a WHERE absmax > 0),
          |q AS (SELECT c.codes AS qc, n.v AS qv, n.nrm AS qnrm
          |      FROM c JOIN n USING (vec_id) WHERE vec_id = 0),
          |coarse AS (SELECT c.vec_id,
          |  CAST(list_sum([c.codes[i]*q.qc[i] for i in range(1, len(c.codes)+1)])
          |       AS BIGINT) AS coarse
          |  FROM c, q WHERE c.vec_id <> 0
          |  ORDER BY coarse DESC, c.vec_id LIMIT 50)
          |SELECT co.vec_id, co.coarse,
          |  round(list_sum([n.v[i]*q.qv[i] for i in range(1, len(n.v)+1)])
          |        / (n.nrm*q.qnrm), 4) AS cos_sim
          |FROM coarse co JOIN n USING (vec_id), q
          |ORDER BY cos_sim DESC, co.vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      // absmax computed ONCE per row (q106's pattern), not inside the
      // element lambda; zero vectors are unquantizable (absmax = 0 →
      // division by zero, engine-dependent NaN/NULL) and have no
      // direction to match — excluded on both sides. The codes frame
      // is the registry-cached int8Codes shared with q158.
      val codes = int8Codes(s, dir)
      val q = codes.filter(col("vec_id") === 0)
        .select(col("codes").as("qc"), col("v").as("qv"),
          col("nrm").as("qnrm"))
      val coarse = codes.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("v"), col("nrm"),
          col("qv"), col("qnrm"),
          aggregate(zip_with(col("codes"), col("qc"), _ * _),
            lit(0L), _ + _).as("coarse"))
        .orderBy(col("coarse").desc, col("vec_id"))
        .limit(50)
      coarse
        .select(col("vec_id"), col("coarse"),
          round(cosineFast(col("v"), col("qv")), 4).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },

    // ── product-quantization ANN (Jégou et al. 2011), the missing end
    //    of the quantized-retrieval ladder (absmax int8 → PQ): the
    //    64-dim int8 code space splits into M=4 16-dim subvectors; each
    //    subspace gets a deterministic K=8 seed codebook (the
    //    subvectors of the 8 lowest vec_ids — integer-valued by
    //    construction, so every engine reproduces the codebooks
    //    bit-for-bit); every vector is ENCODED as 4 small codebook ids
    //    (argmin integer L2, ties to the lowest id — 64 int8 codes
    //    compress to 4 nibbles); the query builds a K×M lookup table of
    //    integer subspace distances and the corpus-wide pass scans ONLY
    //    the 4-id encodings, summing LUT entries (asymmetric distance).
    //    Top-50 by ADC, exact-cosine rerank, top-10 — q142's two-stage
    //    discipline with a 16× smaller corpus footprint than even int8.
    //    At 100 TB: codebooks+LUT broadcast (K×M rows); encoding is one
    //    broadcast-join argmin (map-side-combinable min(struct), the
    //    kmeans assign shape); the ADC scan reads M ids per vector;
    //    rerank cost is O(50) regardless of corpus size. All integer
    //    until the rerank — no float drift in the recall stage.
    //    FIXTURE ASSUMPTION (pinned in ModelPrepSpec): this oracle (and
    //    q179's) seeds codebooks/centroids with `WHERE vec_id < k` while
    //    the operator uses the k-smallest-QUANTIZABLE-ids rule — the two
    //    agree only while ids 0..7 all exist with absmax > 0 in the sf
    //    fixtures (same dense-id assumption as the semDedup/kmeans
    //    oracles).
    QueryDef(
      "q178_pq_ann",
      oracleVec +
        """,
          |a AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x)))
          |        AS absmax FROM e),
          |c AS (SELECT vec_id,
          |  list_transform(v, x -> CAST(floor(x * 127 / absmax + 0.5) AS BIGINT))
          |    AS codes FROM a WHERE absmax > 0),
          |sub AS (SELECT vec_id, s,
          |  [c.codes[s*16+i] for i in range(1, 17)] AS sc
          |  FROM c CROSS JOIN (SELECT unnest(range(0, 4)) AS s)),
          |cb AS (SELECT s, vec_id AS cb_id, sc AS cbv FROM sub
          |       WHERE vec_id < 8),
          |enc AS (SELECT vec_id, s, cb_id AS code FROM (
          |  SELECT sub.vec_id, sub.s, cb.cb_id,
          |    row_number() OVER (PARTITION BY sub.vec_id, sub.s
          |      ORDER BY list_sum([(sub.sc[i]-cb.cbv[i])*(sub.sc[i]-cb.cbv[i])
          |                         for i in range(1, 17)]), cb.cb_id) AS rn
          |  FROM sub JOIN cb USING (s)) WHERE rn = 1),
          |q AS (SELECT s, sc AS qs FROM sub WHERE vec_id = 0),
          |lut AS (SELECT cb.s, cb.cb_id,
          |  CAST(list_sum([(q.qs[i]-cb.cbv[i])*(q.qs[i]-cb.cbv[i])
          |                 for i in range(1, 17)]) AS BIGINT) AS qd
          |  FROM cb JOIN q USING (s)),
          |adc AS (SELECT enc.vec_id, CAST(sum(lut.qd) AS BIGINT) AS adc
          |  FROM enc JOIN lut ON enc.s = lut.s AND enc.code = lut.cb_id
          |  WHERE enc.vec_id <> 0 GROUP BY enc.vec_id
          |  ORDER BY adc ASC, enc.vec_id LIMIT 50),
          |qn AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0)
          |SELECT adc.vec_id, adc.adc,
          |  round(list_sum([n.v[i]*qn.qv[i] for i in range(1, len(n.v)+1)])
          |        / (n.nrm*qn.qnrm), 4) AS cos_sim
          |FROM adc JOIN n USING (vec_id), qn
          |ORDER BY cos_sim DESC, adc.vec_id LIMIT 10""".stripMargin) {
      (s, dir) =>
        // served from the materialized index: the ADC pass scans the
        // registry-cached encodings (built once per session+dir, shared
        // with q179/q180/q181) — result-identical to inline encoding,
        // which is what the oracle replays
        pqAnn(int8Codes(s, dir), queryId = 0L, m = 4, subDim = 16,
          k = 8, coarseK = 50, topK = 10, enc = Some(pqEncodings(s, dir)),
          codebooks = Some(pqBooks(s, dir)))
    },

    // ── IVF-PQ (the Faiss IVF-PQ layout, q73 × q178): a coarse
    //    quantizer of 4 deterministic seed cells partitions the
    //    corpus; the query probes its nprobe=2 NEAREST cells and the
    //    PQ asymmetric-distance scan touches ONLY those cells'
    //    encodings (at 100 TB: cell is the partition key, so the scan
    //    prunes to nprobe/K of the corpus BEFORE reading even the
    //    4-id codes — the two-level pruning every production ANN
    //    serves from); exact-cosine rerank of the ADC top-20. PQ
    //    codebooks stay GLOBAL (restricting training to probed cells
    //    would make the code space query-dependent). Recall vs q46's
    //    exact scan is the documented tradeoff of both levels.
    QueryDef(
      "q179_ivfpq_ann",
      ivfPqOracle) {
      (s, dir) =>
        // both halves of the serving index read from the registry:
        // encodings (pq-enc) and the cell assignment (ivf-cell)
        ivfPqAnn(int8Codes(s, dir), queryId = 0L, kIvf = 4, nprobe = 2,
          m = 4, subDim = 16, k = 8, coarseK = 20, topK = 10,
          encIdx = Some(pqEncodings(s, dir)),
          cellIdx = Some(ivfCells(s, dir)),
          codebooks = Some(pqBooks(s, dir)),
          centroids = Some(ivfCentroidIdx(s, dir)))
    },

    // ── batch ANN through the materialized IVF-PQ index (q90 × q179):
    //    the amortization q179's scaladoc promises, demonstrated — a
    //    SET of query vectors (quantizable ids < 5) rides ONE pass over
    //    the registry-cached encodings and cell assignment; the
    //    per-query fan-out (probed cells, K×M LUTs) is all broadcast.
    //    Per query: probe nprobe=2 of 4 cells, ADC top-20, exact
    //    rerank, top-3. At 100 TB: the index is built once and
    //    cell-partitioned; a query batch costs one pruned index scan,
    //    never a corpus re-encode per query.
    QueryDef(
      "q180_ivfpq_batch",
      oracleVec +
        """,
          |a AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x)))
          |        AS absmax FROM e),
          |c AS (SELECT vec_id,
          |  list_transform(v, x -> CAST(floor(x * 127 / absmax + 0.5) AS BIGINT))
          |    AS codes FROM a WHERE absmax > 0),
          |cc AS (SELECT n.vec_id AS cl, n.v AS cv FROM n JOIN c USING (vec_id)
          |       WHERE n.vec_id < 4),
          |asgn AS (SELECT vec_id, cl AS cell FROM (
          |  SELECT n.vec_id, cc.cl,
          |    row_number() OVER (PARTITION BY n.vec_id
          |      ORDER BY list_sum([(n.v[i]-cc.cv[i])*(n.v[i]-cc.cv[i])
          |                         for i in range(1, len(n.v)+1)]), cc.cl)
          |      AS rn
          |  FROM n JOIN c USING (vec_id) CROSS JOIN cc) WHERE rn = 1),
          |qs AS (SELECT n.vec_id AS q_id, n.v AS qv, n.nrm AS qnrm
          |       FROM n JOIN c USING (vec_id) WHERE n.vec_id < 5),
          |probed AS (SELECT q_id, cl AS pcell FROM (
          |  SELECT qs.q_id, cc.cl,
          |    row_number() OVER (PARTITION BY qs.q_id
          |      ORDER BY list_sum([(cc.cv[i]-qs.qv[i])*(cc.cv[i]-qs.qv[i])
          |                         for i in range(1, len(cc.cv)+1)]), cc.cl)
          |      AS prn
          |  FROM qs CROSS JOIN cc) WHERE prn <= 2),
          |sub AS (SELECT vec_id, s,
          |  [c.codes[s*16+i] for i in range(1, 17)] AS sc
          |  FROM c CROSS JOIN (SELECT unnest(range(0, 4)) AS s)),
          |cb AS (SELECT s, vec_id AS cb_id, sc AS cbv FROM sub
          |       WHERE vec_id < 8),
          |enc AS (SELECT vec_id, s, cb_id AS code FROM (
          |  SELECT sub.vec_id, sub.s, cb.cb_id,
          |    row_number() OVER (PARTITION BY sub.vec_id, sub.s
          |      ORDER BY list_sum([(sub.sc[i]-cb.cbv[i])*(sub.sc[i]-cb.cbv[i])
          |                         for i in range(1, 17)]), cb.cb_id) AS rn
          |  FROM sub JOIN cb USING (s)) WHERE rn = 1),
          |qsub AS (SELECT vec_id AS q_id, s, sc AS qsc FROM sub
          |        WHERE vec_id < 5),
          |lut AS (SELECT qsub.q_id, cb.s, cb.cb_id,
          |  CAST(list_sum([(qsub.qsc[i]-cb.cbv[i])*(qsub.qsc[i]-cb.cbv[i])
          |                 for i in range(1, 17)]) AS BIGINT) AS qd
          |  FROM cb JOIN qsub USING (s)),
          |adcg AS (SELECT l.q_id, enc.vec_id, asgn.cell,
          |  CAST(sum(l.qd) AS BIGINT) AS adc
          |  FROM enc JOIN asgn ON enc.vec_id = asgn.vec_id
          |  JOIN probed p ON asgn.cell = p.pcell
          |  JOIN lut l ON l.q_id = p.q_id AND enc.s = l.s
          |    AND enc.code = l.cb_id
          |  WHERE enc.vec_id >= 5 GROUP BY l.q_id, enc.vec_id, asgn.cell),
          |coarse AS (SELECT q_id, vec_id, cell, adc FROM (
          |  SELECT *, row_number() OVER (PARTITION BY q_id
          |    ORDER BY adc, vec_id) AS crn FROM adcg) WHERE crn <= 20),
          |r AS (SELECT co.q_id, co.vec_id, co.cell, co.adc,
          |  round(list_sum([n.v[i]*qs.qv[i] for i in range(1, len(n.v)+1)])
          |        / (n.nrm*qs.qnrm), 4) AS cos_sim
          |  FROM coarse co JOIN n ON co.vec_id = n.vec_id
          |  JOIN qs ON co.q_id = qs.q_id)
          |SELECT q_id, vec_id, CAST(cell AS BIGINT) AS cell, adc, cos_sim,
          |  CAST(rn AS INTEGER) AS rn FROM (
          |  SELECT *, row_number() OVER (PARTITION BY q_id
          |    ORDER BY cos_sim DESC, vec_id) AS rn FROM r)
          |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin) { (s, dir) =>
      ivfPqAnnBatch(int8Codes(s, dir), pqEncodings(s, dir),
        ivfCells(s, dir), qMax = 5L, kIvf = 4, nprobe = 2, m = 4,
        subDim = 16, k = 8, coarseK = 20, topK = 3,
        codebooks = Some(pqBooks(s, dir)),
        centroids = Some(ivfCentroidIdx(s, dir)))
    },

    // ── ANN recall audit (the q117/q144 discipline applied to the
    //    quantized ladder): recall@10 of the PQ (q178) and IVF-PQ
    //    (q179) searches against q46's exact top-10, as integer basis
    //    points — production approximations carry their own measured
    //    audit, so "how much recall does 16× compression cost" is a
    //    query result, not a narrative claim. Both sides are fully
    //    deterministic, so the oracle replays every stage. Rides the
    //    shared vectors + pq-enc + ivf-cell caches (the audit costs
    //    three pruned re-rankings, not three corpus re-encodes).
    //    MEASURED (r14, this query's own output): sf0.01 → pq 6000 bp,
    //    ivfpq 4000 bp; sf0.1 → pq 5000 bp, ivfpq 2000 bp. That is the
    //    price of 16× scan compression (pq) plus the nprobe/kIvf = 1/2
    //    cell prune (ivfpq) on SYNTHETIC near-uniform embeddings —
    //    seed codebooks have no cluster structure to exploit here, the
    //    worst case for PQ; corpora with real clusters (and trained
    //    codebooks via pqTrainCodebooks, which OperatorSpec shows
    //    lifting a degenerate corpus from 1/5 to 5/5) sit far higher.
    QueryDef(
      "q181_ann_recall",
      oracleVec +
        """,
          |a AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x)))
          |        AS absmax FROM e),
          |c AS (SELECT vec_id,
          |  list_transform(v, x -> CAST(floor(x * 127 / absmax + 0.5) AS BIGINT))
          |    AS codes FROM a WHERE absmax > 0),
          |qn AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0),
          |ex10 AS (SELECT vec_id FROM (
          |  SELECT n.vec_id,
          |    round(list_sum([n.v[i]*qn.qv[i] for i in range(1, len(n.v)+1)])
          |          / (n.nrm*qn.qnrm), 4) AS cos_sim
          |  FROM n, qn WHERE vec_id <> 0
          |  ORDER BY cos_sim DESC, vec_id LIMIT 10) tx),
          |sub AS (SELECT vec_id, s,
          |  [c.codes[s*16+i] for i in range(1, 17)] AS sc
          |  FROM c CROSS JOIN (SELECT unnest(range(0, 4)) AS s)),
          |cb AS (SELECT s, vec_id AS cb_id, sc AS cbv FROM sub
          |       WHERE vec_id < 8),
          |enc AS (SELECT vec_id, s, cb_id AS code FROM (
          |  SELECT sub.vec_id, sub.s, cb.cb_id,
          |    row_number() OVER (PARTITION BY sub.vec_id, sub.s
          |      ORDER BY list_sum([(sub.sc[i]-cb.cbv[i])*(sub.sc[i]-cb.cbv[i])
          |                         for i in range(1, 17)]), cb.cb_id) AS rn
          |  FROM sub JOIN cb USING (s)) WHERE rn = 1),
          |q AS (SELECT s, sc AS qsc FROM sub WHERE vec_id = 0),
          |lut AS (SELECT cb.s, cb.cb_id,
          |  CAST(list_sum([(q.qsc[i]-cb.cbv[i])*(q.qsc[i]-cb.cbv[i])
          |                 for i in range(1, 17)]) AS BIGINT) AS qd
          |  FROM cb JOIN q USING (s)),
          |adc50 AS (SELECT enc.vec_id, CAST(sum(lut.qd) AS BIGINT) AS adc
          |  FROM enc JOIN lut ON enc.s = lut.s AND enc.code = lut.cb_id
          |  WHERE enc.vec_id <> 0 GROUP BY enc.vec_id
          |  ORDER BY adc ASC, enc.vec_id LIMIT 50),
          |pq10 AS (SELECT vec_id FROM (
          |  SELECT adc50.vec_id,
          |    round(list_sum([n.v[i]*qn.qv[i] for i in range(1, len(n.v)+1)])
          |          / (n.nrm*qn.qnrm), 4) AS cos_sim
          |  FROM adc50 JOIN n USING (vec_id), qn
          |  ORDER BY cos_sim DESC, vec_id LIMIT 10) tp),
          |cc AS (SELECT n.vec_id AS cl, n.v AS cv FROM n JOIN c USING (vec_id)
          |       WHERE n.vec_id < 4),
          |asgn AS (SELECT vec_id, cl AS cell FROM (
          |  SELECT n.vec_id, cc.cl,
          |    row_number() OVER (PARTITION BY n.vec_id
          |      ORDER BY list_sum([(n.v[i]-cc.cv[i])*(n.v[i]-cc.cv[i])
          |                         for i in range(1, len(n.v)+1)]), cc.cl)
          |      AS rn
          |  FROM n JOIN c USING (vec_id) CROSS JOIN cc) WHERE rn = 1),
          |probed AS (SELECT cl FROM (
          |  SELECT cc.cl,
          |    list_sum([(cc.cv[i]-qn.qv[i])*(cc.cv[i]-qn.qv[i])
          |              for i in range(1, len(cc.cv)+1)]) AS d
          |  FROM cc, qn) td ORDER BY d, cl LIMIT 2),
          |adc20 AS (SELECT enc.vec_id, CAST(sum(lut.qd) AS BIGINT) AS adc
          |  FROM enc JOIN lut ON enc.s = lut.s AND enc.code = lut.cb_id
          |  JOIN asgn ON enc.vec_id = asgn.vec_id
          |  WHERE enc.vec_id <> 0 AND asgn.cell IN (SELECT cl FROM probed)
          |  GROUP BY enc.vec_id ORDER BY adc ASC, enc.vec_id LIMIT 20),
          |ivf10 AS (SELECT vec_id FROM (
          |  SELECT adc20.vec_id,
          |    round(list_sum([n.v[i]*qn.qv[i] for i in range(1, len(n.v)+1)])
          |          / (n.nrm*qn.qnrm), 4) AS cos_sim
          |  FROM adc20 JOIN n USING (vec_id), qn
          |  ORDER BY cos_sim DESC, vec_id LIMIT 10) ti)
          |SELECT method, hits, recall_bp FROM (
          |  SELECT 'pq' AS method, CAST(count(*) AS INTEGER) AS hits,
          |    CAST(count(*) * 1000 AS INTEGER) AS recall_bp
          |  FROM pq10 JOIN ex10 USING (vec_id)
          |  UNION ALL
          |  SELECT 'ivfpq' AS method, CAST(count(*) AS INTEGER) AS hits,
          |    CAST(count(*) * 1000 AS INTEGER) AS recall_bp
          |  FROM ivf10 JOIN ex10 USING (vec_id)) tu
          |ORDER BY method""".stripMargin) { (s, dir) =>
      val codes = int8Codes(s, dir)
      val encIdx = Some(pqEncodings(s, dir))
      val vs = vectors(s, dir)
      val q = vs.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("nrm").as("qnrm"))
      val exact = vs.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(cosineFast(col("v"), col("qv")), 4).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
        .select("vec_id")
      // recall@10 = |approx ∩ exact| / 10, as integer basis points
      def recallOf(approx: DataFrame, method: String): DataFrame =
        approx.select("vec_id").join(broadcast(exact), "vec_id")
          .agg(count(lit(1)).cast("int").as("hits"))
          .select(lit(method).as("method"), col("hits"),
            (col("hits") * 1000).as("recall_bp"))
      val books = Some(pqBooks(s, dir))
      recallOf(pqAnn(codes, 0L, 4, 16, 8, 50, 10, enc = encIdx,
          codebooks = books), "pq")
        .unionByName(recallOf(
          ivfPqAnn(codes, 0L, 4, 2, 4, 16, 8, 20, 10,
            encIdx = encIdx, cellIdx = Some(ivfCells(s, dir)),
            codebooks = books,
            centroids = Some(ivfCentroidIdx(s, dir))), "ivfpq"))
        .orderBy("method")
    },

    // ── IVF-PQ served from the ON-DISK index (q179 through the
    //    annIndexWrite/annIndexServe layout): the same query, answered
    //    by the cell-partitioned parquet index instead of the resident
    //    registry frames — the encodings scan statically prunes to the
    //    probed cells' directories (PartitionFilters with literal cell
    //    values), the manifest gates the geometry, tombstones would be
    //    subtracted. The index is built ONCE per corpus dir (q182's
    //    timed section absorbs the build, like every cache build in
    //    this inventory) from the registry model frames, so the result
    //    is bit-identical to q179 and the SAME oracle replays both —
    //    which puts the disk serving path under the driver's DuckDB
    //    gate every round, not just under its specs.
    QueryDef(
      "q182_ivfpq_disk",
      ivfPqOracle) { (s, dir) =>
      ivfPqIndexServe(int8Codes(s, dir), diskIndexDir(s, dir),
        queryId = 0L, nprobe = 2, m = 4, subDim = 16, coarseK = 20,
        topK = 10)
    },

    // ── FILTERED vector search (q182 under a metadata predicate):
    //    top-k among only the vectors whose corpus row passes
    //    label = 1 — the "search the licensed subset / one language"
    //    shape every retrieval pipeline needs. PRE-filter semantics:
    //    the allow-list semi-joins the partition-pruned encodings
    //    scan BEFORE the ADC top-coarseK (a post-filter of the
    //    unrestricted top-k would return the ~10% of it that happens
    //    to pass, not the subset's true top-k). The allow frame reads
    //    (vec_id, label) off the columnar vectors cache; the oracle
    //    splices the same predicate into the shared IVF-PQ replay.
    QueryDef(
      "q183_ivfpq_filtered",
      ivfPqOracleFiltered(
        "enc.vec_id IN (SELECT vec_id FROM embeddings WHERE label = 1)")) {
      (s, dir) =>
        val allowed = vectors(s, dir).filter(col("label") === 1)
          .select(col("vec_id"))
        ivfPqIndexServe(int8Codes(s, dir), diskIndexDir(s, dir),
          queryId = 0L, nprobe = 2, m = 4, subDim = 16, coarseK = 20,
          topK = 10, allowed = Some(allowed))
    },

    // ── per-label centroids: the aggregate-of-vectors building block
    //    (IVF/k-means training step). explode → (label, dim) partial
    //    avgs → re-assemble: one shuffle keyed by (label, dim), so at
    //    100 TB the reduce state is K×D cells regardless of row count.
    QueryDef(
      "q86_label_centroids",
      """WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
        |x AS (SELECT label, generate_subscripts(v, 1) AS dim, unnest(v) AS val
        |      FROM e),
        |c AS (SELECT label, dim, avg(val) AS cval FROM x GROUP BY label, dim)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_dims,
        |  round(sqrt(sum(cval * cval)), 4) AS centroid_norm
        |FROM c GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
      T(s, dir, "embeddings")
        .select(col("label"),
          posexplode(toDouble(col("embedding"))).as(Seq("dim0", "val")))
        .groupBy(col("label"), (col("dim0") + 1).as("dim"))
        .agg(avg("val").as("cval"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_dims"),
          round(sqrt(sum(col("cval") * col("cval"))), 4).as("centroid_norm"))
        .orderBy("label")
    },

    // ── hard-negative mining: the contrastive-training pair miner — for
    //    each query vector (deterministic md5 2% gate), the top-5 most
    //    similar vectors with a DIFFERENT label (same label = positive,
    //    so the highest-scoring other-label vectors are the hard
    //    negatives a metric-learning run wants). Similarity is the
    //    exact INTEGER dot product of q106's int8 absmax codes (the
    //    q142 coarse-stage discipline: 4× fewer scan bytes and zero
    //    float drift in the ranking). Per-query top-5 is a true
    //    AGGREGATE, not a window: (dot, vec_id) packs into one BIGINT —
    //    (dot + 2^21)·2^40 + (2^40−1 − vec_id), monotone in
    //    (dot desc, vec_id asc) since |dot| ≤ 127²·64 < 2^21 — and
    //    plans.TopKLongs keeps the 5 largest with O(5) state per query,
    //    map-side combinable (the oracle's row_number window is the
    //    naive reference). At 100 TB: queries broadcast (the gate keeps
    //    that side small), the corpus streams once from the shared
    //    int8Codes cache (q142's frame), k-long buffers shuffle — never
    //    the n×q expansion.
    QueryDef(
      "q158_hard_negatives",
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |a AS (SELECT vec_id, label, v,
        |        list_max(list_transform(v, x -> abs(x))) AS absmax FROM e),
        |c AS (SELECT vec_id, label,
        |  list_transform(v, x -> CAST(floor(x * 127 / absmax + 0.5) AS BIGINT))
        |    AS codes
        |  FROM a WHERE absmax > 0),
        |q AS (SELECT vec_id AS q_id, label AS q_label, codes AS qc FROM c
        |      WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
        |            % 50 = 0),
        |d AS (SELECT q.q_id, c.vec_id,
        |  CAST(list_sum([c.codes[i] * q.qc[i]
        |                 for i in range(1, len(c.codes) + 1)]) AS BIGINT) AS dot
        |  FROM c, q WHERE c.label <> q.q_label),
        |r AS (SELECT q_id, vec_id, dot,
        |  row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id)
        |    AS rank FROM d)
        |SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id, dot
        |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
      val codes = int8Codes(s, dir)
        .select(col("vec_id"), col("label"), col("codes"))
      val qs = codes
        .filter(graft.plans.HexWindowToLong.md5Bucket(col("vec_id"), 50) === 0)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("codes").as("qc"))
      codes.join(broadcast(qs), col("label") =!= col("q_label"))
        .select(col("q_id"),
          ((aggregate(zip_with(col("codes"), col("qc"), _ * _),
            lit(0L), _ + _) + lit(1L << 21)) * lit(1L << 40)
            + (lit((1L << 40) - 1) - col("vec_id"))).as("packed"))
        .groupBy("q_id")
        .agg(graft.plans.TopKLongs.topk(col("packed"), 5).as("top"))
        .select(col("q_id"),
          posexplode(split(col("top"), ",")).as(Seq("pos", "p")))
        .withColumn("p", col("p").cast("long"))
        .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
          (lit((1L << 40) - 1) - col("p") % lit(1L << 40)).as("vec_id"),
          (expr(s"p div ${1L << 40}") - lit(1L << 21)).as("dot"))
        .orderBy("q_id", "rank")
    },

    // ── SemDeDup (Abbas et al. 2023): semantic dedup by clustering the
    //    embedding space and comparing pairs only WITHIN a cluster — the
    //    clustering bounds the pair join (per-cluster |C|², never
    //    corpus²; at 100 TB, K grows with the corpus to hold |C| fixed,
    //    and the pair join's shuffle key IS the cluster id). Assignment
    //    is one broadcast-centroid argmin round (the q135 kmeans
    //    machinery, seeds = vec_id < 8); a doc is removed when its
    //    cosine to ANY earlier (lower vec_id) doc of the same cluster
    //    reaches the q45 near-dup threshold 0.45 — the paper's one-sweep
    //    keep-first rule, fully deterministic, no transitive chasing
    //    (threshold is fixture-scaled: synthetic embeddings never reach
    //    a real corpus' 0.95). Reports each doc's verdict with its
    //    max-prior-similarity evidence.
    QueryDef(
      "q161_semdedup",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c0 AS (SELECT vec_id AS cl, v AS c FROM e WHERE vec_id < 8),
        |a1 AS (SELECT vec_id, cl FROM (
        |  SELECT e.vec_id, c0.cl, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_sum([(e.v[i]-c0.c[i])*(e.v[i]-c0.c[i])
        |                       for i in range(1, len(e.v)+1)]), c0.cl) AS rn
        |  FROM e CROSS JOIN c0) WHERE rn = 1),
        |n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm
        |      FROM e),
        |x AS (SELECT a1.vec_id, a1.cl, n.v, n.nrm
        |      FROM a1 JOIN n USING (vec_id)),
        |p AS (SELECT a.vec_id AS j,
        |  max(round(list_sum([a.v[i]*b.v[i] for i in range(1, len(a.v)+1)])
        |            / (a.nrm*b.nrm), 4)) AS mx
        |  FROM x a JOIN x b ON a.cl = b.cl AND b.vec_id < a.vec_id
        |  GROUP BY a.vec_id)
        |SELECT x.vec_id, CAST(x.cl AS BIGINT) AS cluster,
        |  p.mx AS max_prior_sim,
        |  (p.mx IS NULL OR p.mx < 0.45) AS keep
        |FROM x LEFT JOIN p ON x.vec_id = p.j
        |ORDER BY x.vec_id""".stripMargin) { (s, dir) =>
      semDedup(vectors(s, dir), k = 8, threshold = 0.45).orderBy("vec_id")
    }
  )
}
