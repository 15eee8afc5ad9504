package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The on-disk retrieval stores and the one lifecycle they share. Four
  * store families persist retrieval state: search
  * (`Search.searchIndex*`), ANN IVF-PQ (`Similarity.ivfPqIndex*`),
  * dedup bands (`TextDedup.dedupIndex*`) and audit pairs
  * (`TextDedup.auditStore*`). Each family is a [[StoreFamily]] spec —
  * generation kinds, partition column, id column, live-dataset
  * readers, tombstone rule, manifest check and compact/fsck extras —
  * and the lifecycle is written once, over the spec: write, append,
  * Seq/frame/pinned delete, compact, the stats file listing, maintain,
  * the ledgered streaming ingest and fsck. A composed serving path like
  * [[graft.Graft.ragServeDisk]] adds the cross-store concerns below
  * once more than one store answers the same corpus.
  *
  *  1. '''Corpus-version stamps.''' Each store carries a one-line
  *     `corpus-version` sidecar file counting the mutations applied since
  *     its last rebuild (write ⇒ 0; every append / ingested batch /
  *     delete ⇒ +1; compaction is physical housekeeping, not a corpus
  *     change, and does not bump). Stores fed by the same coordinated
  *     pipeline therefore carry EQUAL stamps at every rest point, and
  *     a composed serve can demand alignment
  *     ([[requireAlignedVersions]]) instead of silently fusing two
  *     different corpus snapshots — the takedown-applied-to-one-store-
  *     but-not-the-other window that would otherwise serve a
  *     half-deleted document's chunks. Honest limits, documented not
  *     hidden: the stamp is a coordination GUARD, not a transaction
  *     log — it cannot say WHICH mutations diverged, and a crash
  *     between a mutation and its bump leaves the stamp one behind
  *     (the repair is the same takedown/append re-run the mutation
  *     itself needs, which restores both). A pre-stamp store (no
  *     `corpus-version` file) reads 0, aligning with fresh rebuilds.
  *
  *  2. '''Executable crash repair''' ([[storeFsck]]): every crash
  *     window of the lifecycle — torn compact scratch above the
  *     generation pointer, expired generations below the grace, an
  *     append that never completed, the search append's
  *     orphaned-postings and stale-stats windows — is detectable from
  *     the directory state alone. fsck reads the state, classifies the
  *     window, and runs the documented repair; `execute = false`
  *     classifies without touching the store. [[replayRepair]]
  *     executes the one recovery fsck cannot (it needs the source
  *     batch).
  *
  *  3. '''The single-writer contract, made loud'''
  *     ([[withStoreLock]]): every physical mutation in the four
  *     store families runs under an exclusive per-store
  *     `mutation-lock` sidecar, so a double-launched mutation fails
  *     immediately naming the holder instead of silently interleaving
  *     stats/version read-modify-writes or compact swaps. Composed
  *     ops (takedownAll, appendAll, ingest, maintain) serialize
  *     through the primitives they call; serves are lock-free reads.
  */
object Stores {

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Run a driver-coordinated store-bootstrap section with
    * `spark.sql.shuffle.partitions` sized from the section's INPUT
    * frames' optimizer statistics — the connected-components loop's
    * shuffle-sizing discipline (r17, `TextDedup.connectedComponents`)
    * applied to the other eager multi-action sections in the repo: a
    * store build/append/compact chain is ~10–30 small Spark actions
    * whose shuffles are bounded by the corpus slice being indexed, and
    * at test scale each action otherwise pays a 32-task stage over
    * kilobytes (the r17 probe decomposition: ~0.2–0.45 s per action of
    * scheduler floor, THE cost of the q182/q184–q187 absorbed builds).
    * One partition per 64 MB of estimated input bytes keeps a 100 TB
    * build at full session parallelism (the clamp is the session
    * setting — this can only shrink below it, never grow a small
    * session) and a bench-scale build at one task per stage.
    * Correctness-invariant: partition count changes physical
    * parallelism and output file counts only — every store artifact's
    * CONTENT is integer-exact aggregates/joins, so serves hash
    * identically (spec-pinned per store). Explicit `repartition(n,
    * col)` calls inside the section (the one-file-per-bucket/cell
    * writes) are unaffected.
    *
    * CONCURRENCY CONTRACT (r18 advice, restated; r19 advice #3's two
    * proposed deletions were ATTEMPTED in r20 and are both
    * structurally blocked in Spark 4, so the contract stays, now with
    * evidence): the override mutates SESSION-global conf for the
    * bootstrap body, and the store bootstraps sit behind
    * `computeIfAbsent` memos — safe because Bench/Verify/the metered
    * pipeline run queries SEQUENTIALLY on one session. (1) A
    * thread-local override (`SQLConf.withExistingConf` over a cloned
    * conf) does NOT work: classic Dataset actions plan and execute on
    * `SQLExecution.withThreadLocalCaptured` threads, which capture
    * the active session, local properties, and artifact state but
    * NOT `existingConf` — measured: every bootstrapped first-touch
    * job count regressed to its pre-cut level (q187 29 → 58) because
    * the planning threads read the untouched session conf. (2) A
    * cloned `spark.newSession()` does not work either: the bootstrap
    * bodies consume CacheRegistry frames bound to the original
    * session, and a Dataset executes under the conf of
    * `df.sparkSession`, not of whichever session wraps the call — a
    * clone would either fork the registry (rebuilding every shared
    * cache) or silently keep planning under the original session.
    * A deployment that serves queries CONCURRENTLY with store
    * bootstraps must therefore run bootstraps on their own session
    * WITH their own cache lifecycle, accepting the rebuild. */
  private[graft] def withBootstrapShuffle[A](s: SparkSession,
      inputs: Seq[DataFrame])(body: => A): A = {
    val est = inputs.map(
      _.queryExecution.optimizedPlan.stats.sizeInBytes).sum
    val sessionParts = s.sessionState.conf.numShufflePartitions
    val np = (BigInt(1).max(BigInt(sessionParts)
      .min(est / BootstrapBytesPerPartition + 1))).toInt
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, np.toString)
    // When the whole bootstrap input fits ONE partition, adaptive
    // execution has nothing to adapt — no skew to split, no partitions
    // to coalesce — but it still materializes every shuffle stage as
    // its own Spark JOB, and on a multi-action bootstrap that job
    // floor IS the cost (measured on q187: 74 jobs with AQE, 48
    // without, identical results — the scheduler round-trips the r17
    // probe decomposition priced at ~0.2–0.45 s each under load).
    // At scale np = the session setting and AQE stays on (skew joins,
    // runtime coalescing — the reasons it exists). Scoped to the
    // bootstrap body and restored in the finally, like the partition
    // override; serves constructed outside keep their session AQE.
    val aqeKey = "spark.sql.adaptive.enabled"
    val prevAqe = s.conf.get(aqeKey)
    // Same one-partition reasoning for AUTO-broadcast (r19): an
    // un-hinted tiny join inside a one-partition bootstrap gets
    // planned as a broadcast hash join, and every BroadcastExchange
    // runs as its OWN Spark job — pure scheduler floor when both
    // sides are one partition of kilobytes (tools.JobTrace attributed
    // ~4 of q187's first-touch jobs to these). Disabling the
    // threshold folds those joins into their consuming write jobs as
    // extra stages of the SAME job. Explicit broadcast() HINTS (the
    // model-frame joins — tiny at ANY scale) are unaffected: hints
    // override the threshold, which is exactly the split we want. At
    // scale np > 1 and the planner keeps its normal economics.
    val abtKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevAbt = s.conf.get(abtKey)
    // save-and-restore like the other keys, NOT a bare unset: a
    // bootstrap nested inside another one-partition bootstrap would
    // otherwise clear the outer body's flag on exit and silently
    // re-broadcast the rest of the outer section (no current nesting
    // exists; the restore keeps it from mattering if one appears)
    val prevTiny = s.conf.getOption(TinyBootstrapConf)
    if (np == 1) {
      s.conf.set(aqeKey, "false")
      s.conf.set(abtKey, "-1")
      s.conf.set(TinyBootstrapConf, "true")
    }
    try body finally {
      s.conf.set(key, prev)
      s.conf.set(aqeKey, prevAqe)
      s.conf.set(abtKey, prevAbt)
      prevTiny match {
        case Some(v) => s.conf.set(TinyBootstrapConf, v)
        case None => s.conf.unset(TinyBootstrapConf)
      }
    }
  }

  /** Conf flag raised while a ONE-PARTITION bootstrap body runs (see
    * [[withBootstrapShuffle]]). Explicit tiny-side broadcast() hints
    * consult it through [[scaleHint]]: a hint overrides the disabled
    * auto-broadcast threshold, so without this gate every model-frame
    * join inside a bootstrap still spawned its own BroadcastExchange
    * job — scheduler floor for a join the one-partition shuffle
    * planner folds into the consuming write job for free. */
  private[operators] val TinyBootstrapConf = "spark.graft.bootstrap.tiny"

  /** `broadcast(df)` everywhere EXCEPT inside a one-partition
    * bootstrap section, where the plain frame joins fold into the
    * consuming action (see [[TinyBootstrapConf]]). The hint is the
    * 100 TB-correct shape — model frames are K×M rows against a
    * corpus-sized probe — and stays on for every serve and every
    * at-scale build (np > 1 never raises the flag). Result-identical
    * either way: join strategy is physical only. */
  private[operators] def scaleHint(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get(TinyBootstrapConf, "false") == "true") df
    else broadcast(df)

  /** One shuffle partition per 64 MB of estimated bootstrap input —
    * the CC loop's constant, shared. */
  private val BootstrapBytesPerPartition = BigInt(64L * 1024 * 1024)

  /** Root directory for the process's on-disk store builds (r22, the
    * durable-location posture the store docs have promised since r15):
    * when set, every memoized store build (dedup/audit/search/ann/the
    * coordinated pair) creates its directory UNDER this root instead
    * of the JVM temp dir — pointing it at durable shared storage is
    * what lets a production deployment serve a store built by an
    * earlier session. Unset (the default, and what the bench runs
    * under) keeps the per-JVM temp-dir behavior byte-for-byte: stores
    * are rebuilt inside the first consumer's timed section every cold
    * run — the no-cross-run-caching bench contract. The conf is read
    * at store-build time, so one session can route different builds
    * by flipping it between bootstraps (tests do). */
  private[graft] val StoreRootConf = "spark.graft.store.root"

  /** Create a fresh store directory for `prefix` under
    * [[StoreRootConf]] (creating the root if needed) or the JVM temp
    * dir when unset — THE factory every store memo build goes
    * through. */
  private[graft] def storeScratchDir(s: SparkSession,
      prefix: String): String =
    s.conf.getOption(StoreRootConf).filter(_.nonEmpty) match {
      case Some(root) =>
        val p = java.nio.file.Paths.get(root)
        java.nio.file.Files.createDirectories(p)
        java.nio.file.Files.createTempDirectory(p, prefix).toString
      case None =>
        java.nio.file.Files.createTempDirectory(prefix).toString
    }

  /** Run two INDEPENDENT store actions concurrently (r22, guide §2.6
    * "overlap independent jobs"): a store bootstrap is a chain of
    * small sequential actions whose cost at bench scale is the
    * scheduler round-trip, not the data — and several adjacent pairs
    * (the two dataset writes inside one store write, the two stores'
    * builds/compacts of a coordinated lifecycle, the per-store steps
    * of appendAll/takedownAll) have no data or ordering dependency at
    * all: their artifacts live in different directories (or different
    * datasets of one store) and their crash windows are already
    * per-artifact. Submitting them from two driver threads lets the
    * scheduler run both job chains at once, halving the serial length
    * of the absorbed section without changing any action, artifact,
    * or crash contract. Shared upstream cached frames are safe under
    * concurrent materialization (BlockManager serializes per-block
    * compute; the CacheRegistry's putIfAbsent race note).
    *
    * Discipline: BOTH branches are awaited
    * (join-all) before any failure propagates — throwing on the first
    * while the other still runs would let its writes land after a
    * re-run had already started.
    *
    * FRESH threads per call, never a shared pool: Spark's job
    * attribution (local properties — job group/description, the
    * plan-audit construction tag) and the active session live in
    * InheritableThreadLocals, which a thread inherits from its
    * CREATOR at creation time. A pooled thread keeps whichever
    * caller's snapshot it was born under for its whole life —
    * measured: the first pool-using query's tag swallowed every later
    * bootstrap's constructor jobs in PlanConstructionSpec. A fresh
    * thread inherits the current caller's snapshot, so catalyst's
    * thread-local conf reads, UI labels, and spec attribution all see
    * exactly what a sequential call would. Thread creation is
    * microseconds against multi-job store builds.
    *
    * SAFETY CONTRACT (learned the hard way in r22): the two branches
    * must not share an UN-MATERIALIZED plan subtree that contains
    * lambda higher-order functions (transform/filter/aggregate/
    * zip_with — their lambda variables are single mutable value
    * holders on the shared analyzed tree) unless every shared leaf is
    * a parquet scan or an already-planned cached relation. Executor
    * tasks deserialize private plan copies, so distributed execution
    * never races — but over a LOCAL relation (any facade caller's
    * Seq.toDF) the optimizer evaluates projections interpreted on the
    * DRIVER (ConvertToLocalRelation), and two planning threads then
    * race the shared lambda holders: observed as corrupted rows in
    * BOTH branches' artifacts (the r22 ivfPqIndexWrite books∥cents
    * attempt, reverted). Safe shapes used by the current call sites:
    * branches over a localCheckpoint-pinned shared frame (takedown/
    * append batches), branches whose shared subtrees are registry
    * caches or corpus parquet (the audit pair write, the coordinated
    * q187 builds), and branches sharing only stateless expressions
    * (the search docs∥postings split/explode). */
  private[operators] def inParallel(s: SparkSession)(
      a: => Unit, b: => Unit): Unit =
    runConcurrently(s, Seq(() => a, () => b))

  /** [[inParallel]] for the coordinated per-store mutation loops: run
    * `body` once per store ref, all refs concurrently (store lists
    * are operator-sized, 2–4 refs), join-all before rethrowing the
    * first failure. */
  private def forAllStores(s: SparkSession, stores: Seq[StoreRef])(
      body: StoreRef => Unit): Unit =
    runConcurrently(s, stores.map(ref => () => body(ref)))

  private def runConcurrently(s: SparkSession,
      bodies: Seq[() => Unit]): Unit = {
    val firstErr =
      new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = bodies.map { b =>
      val t = new Thread(() => {
        try { SparkSession.setActiveSession(s); b() }
        catch { case e: Throwable => firstErr.compareAndSet(null, e) }
      })
      t.start()
      t
    }
    threads.foreach(_.join())
    val e = firstErr.get()
    if (e != null) throw e
  }

  /** Await an [[org.apache.spark.sql.Observation]]'s metrics row after
    * its action has returned — the store writes fold their one-row
    * stats aggregates into the write action itself (r18 verdict: fewer
    * absorbed bootstrap jobs) instead of running a separate read-back
    * job. The observation is delivered through a QueryExecutionListener
    * that fires ASYNCHRONOUSLY after the action returns, hence the
    * bounded wait; `None` (the listener never firing) sends callers to
    * their read-back fallback, so a Spark version that stopped
    * observing write commands would degrade to the pre-r19 job count,
    * never to wrong stats. Retry honesty: observed metrics are SQL
    * accumulators, which Spark applies once per successful task (a
    * speculative duplicate's update is dropped with its uncommitted
    * output), so the row matches the committed files; and if that
    * guarantee ever bent, [[searchIndexFsck]]'s independent
    * stats ≡ agg(docs/) check is the standing runtime net. Leak
    * closure (r19 advice): a timed-out Observation is DROPPED from
    * the session's ObservationManager map
    * ([[org.apache.spark.sql.graft.Bridge.dropObservation]]) before
    * returning None — without that, each timeout pinned one dead
    * entry (and its Observation) for the session's lifetime, so a
    * Spark build that stopped observing write commands would leak
    * one per store write. The drop also guards the stats contract's
    * edge: a metrics row arriving AFTER the fallback path has
    * already re-derived stats can no longer complete a stale entry. */
  private[operators] def awaitObserved(s: SparkSession,
      obs: org.apache.spark.sql.Observation,
      timeoutMs: Long = 30000L): Option[org.apache.spark.sql.Row] =
    try Some(scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(timeoutMs,
        java.util.concurrent.TimeUnit.MILLISECONDS)))
    catch {
      case _: java.util.concurrent.TimeoutException =>
        org.apache.spark.sql.graft.Bridge.dropObservation(s, obs)
        None
    }

  /** A store's corpus-version stamp; 0 for a pre-stamp store. The
    * stamp is a RAW one-line text sidecar file (`corpus-version`),
    * deliberately not a parquet dataset: every mutation reads and
    * rewrites it, and at a Spark-job-per-access cost the stamp would
    * tax every append/delete/ingest batch with two scheduler
    * round-trips for one long — a pure driver-side metadata op stays a
    * filesystem op (measured: the parquet form added ~0.2–0.4 s per
    * mutation to the metered disk-store queries). */
  private[graft] def storeVersion(s: SparkSession, dir: String): Long =
    readText(s, s"$dir/corpus-version").fold(0L)(_.trim.toLong)

  /** A raw sidecar file's text; None when absent. */
  private def readText(s: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = fsOf(s, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** Overwrite a store's stamp (writes call this with 0 — a rebuild
    * starts a new coordination epoch). Temp-write + rename keeps the
    * swap atomic on any Hadoop filesystem; the instant between the
    * delete and the rename reads 0, which can only UNDER-state the
    * version — a crashed bump therefore reads as a divergence (loud)
    * for a composed serve, never as a false alignment, unless every
    * peer store crashed inside the same instant (the re-run of the
    * interrupted mutation restores all stamps either way). */
  private[graft] def writeStoreVersion(s: SparkSession, dir: String,
      v: Long): Unit = writeText(s, s"$dir/corpus-version", v.toString)

  /** Replace a raw sidecar file via temp-write + rename, which keeps
    * the swap atomic on any Hadoop filesystem. */
  private def writeText(s: SparkSession, path: String,
      text: String): Unit = {
    val p = new Path(path)
    val tmp = new Path(s"$path-tmp")
    val fs = fsOf(s, p)
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    require(fs.rename(tmp, p), s"sidecar rename failed for $path")
  }

  /** version := version + 1 — every corpus MUTATION (append, ingested
    * batch via append, delete) bumps exactly once. */
  private[graft] def bumpStoreVersion(s: SparkSession, dir: String): Unit =
    writeStoreVersion(s, dir, storeVersion(s, dir) + 1)

  // ───────────────── generational datasets ─────────────────
  //
  // Compaction used to REPLACE each dataset in place (write scratch,
  // rename current→retired, rename scratch→current) — which made every
  // compact non-atomic across a store's datasets (the half-swapped
  // crash windows the old fsck classified) and broke any serve
  // constructed before the swap (its planned file paths vanished under
  // the rename — the documented "retry the serve" read-side contract).
  // Generations remove both: a compact writes the NEXT generation's
  // datasets at fresh `<kind>-g<N>` paths, then COMMITS everything with
  // one atomic pointer flip (the `gen` sidecar), and the PRIOR
  // generation survives until the NEXT compact vacuums it — so
  //   - compaction is atomic at the STORE level (postings+docs+stats+
  //     tombstone-set flip together; there is no half-swapped state),
  //   - a serve constructed before the flip keeps reading its pinned
  //     generation's files (snapshot isolation with ONE generation of
  //     grace — only a serve that outlives a FULL further compact
  //     cycle can break, the standard snapshot/vacuum tradeoff),
  //   - crash repair degenerates to directory hygiene: artifacts ABOVE
  //     the pointer are a torn scratch (compact died pre-flip; the
  //     store is intact), artifacts below pointer-1 are expired
  //     generations (compact died mid-vacuum) — both safe deletes,
  //     executed by fsck or by the next compact's own vacuum.
  // Disk cost: ≤ 2× live data between compacts (the grace generation).
  // Frozen store-life state (manifest, model frames, the `ingested/`
  // batch ledger, corpus-version) is NOT generational — batch ids and
  // geometry survive compaction by design.
  //
  // FORMAT SUPPORT, stated not implied: the generational layout is the
  // only on-disk store format this library reads, repairs, or rebuilds
  // over. A directory from the pre-generational rename-swap layout
  // (`*-retired`/`*-compact`/`compact-inflight` siblings) is not
  // recognized — fsck refuses it as "not a graft store" if its main
  // dataset was mid-swap — and needs a one-time rebuild (write from
  // the source corpus). We carry no dead legacy-repair code for a
  // format no released artifact ever wrote.

  /** A store's current dataset generation: the MAX `gen-<N>` commit
    * marker present (no markers reads 0), and generation-0 artifacts
    * live at their PLAIN legacy names (`postings/`, not
    * `postings-g0/`), so a store that has never compacted keeps the
    * flat layout byte-for-byte.
    *
    * Why max-of-markers instead of one mutable pointer file: a single
    * `gen` file updated by delete-then-rename has a window where the
    * pointer is ABSENT, and absent reads 0 — a crash (or a concurrent
    * lock-free serve construction) in that instant would silently
    * roll the store back to generation 0, after which fsck's
    * torn-scratch rule would DELETE every live generation as scratch
    * (r17 review). Under-stating is benign for the corpus-version
    * stamp (a divergence fails loudly) but destructive for the
    * generation pointer, so the pointer must never be observable in a
    * rolled-back state. A commit marker is one atomic create: readers
    * list `gen-*` and take the max, so every observable state is
    * either the old maximum (compact not yet committed) or the new
    * one — nothing in between. */
  private[graft] def currentGen(s: SparkSession, dir: String): Long = {
    val root = new Path(dir)
    val fs = fsOf(s, root)
    if (!fs.exists(root)) 0L
    else {
      val ns = genMarkers(fs, root)
      if (ns.isEmpty) 0L else ns.max
    }
  }

  private val GenMarkerPat = "^gen-(\\d+)$".r

  /** Torn sidecar temp files a crash inside writeMetaSidecar /
    * writeText can leave — every raw-sidecar name the four store
    * families write, with the generational stats variants and the
    * pending-append markers. */
  private val SidecarTmpPat =
    "^(corpus-version|manifest|stats(-g\\d+)?|append-pending-[0-9a-f]+)-tmp$".r

  /** A pending-append marker (see [[openPendingAppend]]). */
  private val PendingAppendPat = "^append-pending-[0-9a-f]+$".r

  private def genMarkers(fs: FileSystem, root: Path): Seq[Long] =
    fs.listStatus(root).toSeq.map(_.getPath.getName).collect {
      case GenMarkerPat(n) => n.toLong
    }

  /** Commit generation `g` — THE commit point of a compact: one
    * atomic marker create (see [[currentGen]]'s rationale), then
    * retire the older markers. Retiring can only remove NON-max
    * markers, so a crash mid-retire leaves harmless extras the next
    * commit (or fsck's healthy pass) retires again; a re-run over an
    * existing marker is a no-op. */
  private[graft] def writeGen(s: SparkSession, dir: String,
      g: Long): Unit = {
    val p = new Path(s"$dir/gen-$g")
    val fs = fsOf(s, p)
    if (!fs.exists(p)) fs.create(p, false).close()
    for (old <- genMarkers(fs, new Path(dir)) if old < g)
      fs.delete(new Path(s"$dir/gen-$old"), false)
  }

  /** A per-generation artifact's directory/file name. */
  private[graft] def genName(kind: String, g: Long): String =
    if (g == 0L) kind else s"$kind-g$g"

  /** Generations of `kind` present under `dir` (plain name = 0). */
  private[graft] def gensOf(s: SparkSession, dir: String,
      kind: String): Seq[Long] = {
    val root = new Path(dir)
    val fs = fsOf(s, root)
    if (!fs.exists(root)) Nil
    else {
      val pat = s"^${java.util.regex.Pattern.quote(kind)}-g(\\d+)$$".r
      fs.listStatus(root).toSeq.map(_.getPath.getName).collect {
        case n if n == kind => 0L
        case pat(g) => g.toLong
      }
    }
  }

  /** Delete every per-generation artifact of `kinds` with generation
    * BELOW `keepFrom` — the vacuum tail of a compact (keepFrom = the
    * pre-compact generation, which stays as the serve grace) and the
    * expired-generation repair of fsck. Idempotent. */
  private[graft] def vacuumGens(s: SparkSession, dir: String,
      kinds: Seq[String], keepFrom: Long): Unit = {
    val fs = fsOf(s, new Path(dir))
    for (kind <- kinds; g <- gensOf(s, dir, kind) if g < keepFrom)
      fs.delete(new Path(s"$dir/${genName(kind, g)}"), true)
  }

  /** Clear EVERY generation of `kinds`, the commit markers, the
    * pending-append markers and the ingest batch ledger — the rebuild
    * guard of [[StoreFamily.write]]: a fresh store life must not
    * inherit a prior life's generations, pointer, torn appends or
    * applied-batch ids. */
  private[graft] def clearStoreLife(s: SparkSession, dir: String,
      kinds: Seq[String]): Unit = {
    val root = new Path(dir)
    val fs = fsOf(s, root)
    vacuumGens(s, dir, kinds, keepFrom = Long.MaxValue)
    if (fs.exists(root))
      for (st <- fs.listStatus(root); n = st.getPath.getName
           if GenMarkerPat.matches(n) || PendingAppendPat.matches(n))
        fs.delete(st.getPath, false)
    fs.delete(new Path(s"$dir/ingested"), true)
    // sweep of PRE-GENERATIONAL leftovers: the old rename-swap
    // layout's `<kind>-retired`/`<kind>-compact` scratch and
    // `compact-inflight` marker match no generation pattern, so
    // without this a rebuild over such a dir kept them forever (the
    // documented "one-time rebuild" migration path must leave a clean
    // directory). Cheap existence checks; no released artifact ever
    // wrote these names, so this is hygiene for hand-migrated dirs,
    // not legacy-format support.
    for (kind <- kinds; suffix <- Seq("retired", "compact"))
      fs.delete(new Path(s"$dir/$kind-$suffix"), true)
    fs.delete(new Path(s"$dir/compact-inflight"), true)
  }

  /** Run one PHYSICAL store mutation under the store's advisory
    * single-writer lock — an exclusive `mutation-lock` sidecar created
    * before the mutation and deleted after it. Why it exists: none of
    * the stores' mutations are safe to interleave (two appends can
    * interleave the stats/version read-modify-write cycles, a compact
    * can swap directories out from under a concurrent append, two
    * writes can interleave their clear-then-write sequences), and an
    * implicit single-writer assumption lets a scheduler bug that
    * double-launches a mutation corrupt state silently. The lock makes
    * the contract loud: the second mutator fails immediately, naming
    * the holder.
    *
    * Honest limits, documented not hidden: (1) the lock is ADVISORY —
    * it guards the graft entry points, not the directory (an external
    * process writing into the store bypasses it, as it would any
    * non-ACID directory layout); (2) create-exclusive is atomic on
    * local filesystems and HDFS, but object stores without atomic
    * create-no-overwrite weaken it to best-effort; (3) a mutation that
    * CRASHES leaves its lock behind — deliberately, because the store
    * may now be in a crash window, and the lock blocks further
    * mutations until [[storeFsck]] (whose `execute = true` clears the
    * lock as part of classifying the store — running fsck asserts the
    * operator has quiesced it) or a manual delete after the holder is
    * confirmed dead. Serves never take the lock: reads are lock-free
    * by design, and under the generational layout they are SNAPSHOT
    * reads — a serve constructed before a compact keeps reading its
    * pinned generation (one compact cycle of grace); only a serve
    * that outlives a FULL further compact can fail and need a retry
    * (see [[currentGen]]). */
  private[graft] def withStoreLock[A](s: SparkSession, dir: String,
      op: String)(body: => A): A = {
    val p = new Path(s"$dir/mutation-lock")
    val fs = fsOf(s, p)
    val out = try fs.create(p, false)
      catch { case e: java.io.IOException =>
        // only an EXISTING lock reads as "held" — any other create
        // failure (permissions, disk) propagates as itself, not as a
        // misleading lock-conflict message
        if (!fs.exists(p)) throw e
        throw new IllegalStateException(
          s"store $dir is locked by another mutation (" +
            holderOf(s, p.toString, "unreadable lock") +
            s") — '$op' refused. If the holder crashed, run " +
            "Stores.storeFsck(dir) to classify the store and clear the " +
            "lock; never delete it while a mutation is live.")
      }
    try out.write(s"op=$op\nsince=${java.time.Instant.now()}"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    try body
    finally fs.delete(p, false)
  }

  /** "op=… since=…" of an (op, since) sidecar — a lock or a
    * pending-append marker. */
  private def holderOf(s: SparkSession, path: String,
      unreadable: String): String =
    readMetaSidecar(s, path).fold(unreadable)(m =>
      s"op=${m.getOrElse("op", "?")} since=${m.getOrElse("since", "?")}")

  /** The lock-present fsck row: reports (and with `execute` clears)
    * a `mutation-lock` left by a crashed mutation. First row of every
    * fsck, BEFORE any repair — the repairs themselves re-acquire the
    * lock through the ops they call. */
  private def fsckMutationLock(s: SparkSession, indexDir: String,
      execute: Boolean): Seq[FsckRow] = {
    val p = new Path(s"$indexDir/mutation-lock")
    val fs = fsOf(s, p)
    if (!fs.exists(p)) Nil
    else {
      val held = holderOf(s, p.toString, "unreadable")
      if (execute) fs.delete(p, false)
      Seq(("mutation-lock", s"held ($held) — crashed mutation or live " +
        "mutator (fsck assumes the store is quiesced)",
        if (execute) "cleared" else "would clear"))
    }
  }

  /** Open an append's pending marker: a sidecar
    * `append-pending-<id>` naming the op and its start, written before
    * the append touches any dataset and deleted only after the append
    * and its stamp bump complete. A crash or failure in between — an
    * audit append whose pairs landed but whose candidates did not, a
    * search append that wrote postings but not docs — leaves the
    * marker, and fsck reports the torn append instead of a healthy
    * store. Every append has its own id, so a later successful append
    * cannot hide an earlier torn one; a rebuild clears every marker
    * ([[clearStoreLife]]). Driver-side FS ops only — no Spark job. */
  private def openPendingAppend(s: SparkSession, dir: String,
      op: String): Path = {
    val name = "append-pending-" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    writeMetaSidecar(s, s"$dir/$name",
      Seq("op" -> op, "since" -> java.time.Instant.now().toString))
    new Path(s"$dir/$name")
  }

  /** One report-only row per pending-append marker: the append's delta
    * may be partly applied (or applied with its stamp bump lost), and
    * only the source batch can tell — `repair` is the family's fix. */
  private def fsckPendingAppends(s: SparkSession, dir: String,
      repair: String): Seq[FsckRow] = {
    val root = new Path(dir)
    val fs = fsOf(s, root)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(PendingAppendPat.matches).sorted.map(n =>
        (s"torn append $n",
          s"${holderOf(s, s"$dir/$n", "unreadable marker")} never " +
            "completed — its delta may be partly applied",
          s"report-only: $repair; delete the marker once repaired"))
  }

  /** Write a tiny metadata sidecar (a store's manifest / stats row) as
    * ONE raw text file of `k=v` lines — the corpus-version rationale
    * extended to every one-row sidecar: manifests are read at every
    * serve CONSTRUCTION and the search stats row is read+rewritten by
    * every append, and as one-row parquet datasets each access is a
    * full Spark job (~0.2–0.4 s of scheduler/planning per round-trip,
    * measured when the version stamp made the same move in r17); as a
    * raw file each is a driver-side FS op. Temp-write + rename keeps
    * the swap atomic on any Hadoop filesystem; an existing entry is
    * replaced. Keys must not contain '='; no newlines anywhere. */
  private[graft] def writeMetaSidecar(s: SparkSession, path: String,
      kvs: Seq[(String, String)]): Unit = {
    require(kvs.forall { case (k, v) =>
      !k.contains("=") && !(k + v).exists(c => c == '\n' || c == '\r') },
      s"writeMetaSidecar: keys must not contain '=' and no field may " +
        s"contain a newline — got $kvs")
    writeText(s, path, kvs.map { case (k, v) => s"$k=$v" }.mkString("\n"))
  }

  /** Read a [[writeMetaSidecar]] file as a key→value map; None when
    * absent (store families that allow pre-manifest stores skip
    * validation on None). */
  private[graft] def readMetaSidecar(s: SparkSession,
      path: String): Option[Map[String, String]] =
    readText(s, path).map(_.split("\n").iterator.filter(_.nonEmpty)
      .map { line =>
        val i = line.indexOf('=')
        require(i > 0, s"malformed sidecar line '$line' in $path")
        line.substring(0, i) -> line.substring(i + 1)
      }.toMap)

  // ───────────────── the store-family lifecycle ─────────────────

  /** One fsck report row: (check, state, action). */
  private[graft] type FsckRow = (String, String, String)

  /** A report-only fsck check for rows appended more than once: rows of
    * dataset `kind` sharing `key` are duplicates, counted as distinct
    * `distinctOn` ids when given, else as duplicate keys. `repair` names
    * the fix, which needs the source batch, so fsck never runs it. */
  private[graft] final case class DupCheck(kind: String, key: Seq[String],
      distinctOn: Option[String], label: String, noun: String,
      repair: String)

  /** The repair of a replayed or torn doc-store append. */
  private[operators] val ReplayRepair =
    "re-run the batch through Stores.replayRepair (delete + compact + " +
      "re-append, given the source batch), or rebuild"

  /** One store family's lifecycle spec. A family names its
    * per-generation artifacts (`genKinds` — what a compact republishes
    * under the next generation and later vacuums), its `datasets` (the
    * current generation must hold all of them; the first is partitioned
    * by `partCol` and is how [[storeFsck]] recognizes the family) and
    * the `idCol` its tombstones carry, and implements the hooks below:
    * the manifest check that yields the frozen partition count, the
    * declared read schemas, the live readers a compact rewrites, the
    * stats report and the fsck checks.
    *
    * The lifecycle is written once, here, over those hooks: write,
    * append, the Seq/frame/pinned deletes, compact, the stats file
    * listing, maintain, the ledgered ingest and fsck. Op names are
    * `name` + verb (`searchIndexAppend`, …): they label the store lock
    * and every error. */
  private[graft] abstract class StoreFamily(val name: String,
      val genKinds: Seq[String], val datasets: Seq[String],
      val partCol: String, val idCol: String) {

    /** Validate the store's manifest and return its frozen partition
      * count (recorded in the manifest, or the family's constant). */
    def partitions(s: SparkSession, dir: String): Int

    /** Declared read schema of dataset `kind`. */
    def schema(kind: String): String

    /** Live rows of dataset `kind` at generation `g` — tombstones
      * subtracted — in write shape: what a compact rewrites. */
    def liveRows(s: SparkSession, dir: String, g: Long,
        kind: String): DataFrame

    /** The per-partition health report: (partCol, live rows, …,
      * files), ordered by partition — what [[maintain]] decides over. */
    def stats(s: SparkSession, dir: String): DataFrame =
      throw new UnsupportedOperationException(s"$name has no stats report")

    /** The report-only duplicate checks fsck runs. */
    def dupChecks: Seq[DupCheck]

    /** The repair fsck names for an append that never completed. */
    def appendRepair: String

    /** The tombstone rows a delete of `ids` (one `idCol` long column)
      * appends: the ids themselves, funneled to one file — Seq batches
      * (`operatorSized`) coalesce, frame batches repartition after
      * whatever plan computes them. */
    def tombstoneRows(s: SparkSession, dir: String, g: Long,
        ids: DataFrame, operatorSized: Boolean): DataFrame =
      if (operatorSized) ids.coalesce(1) else ids.repartition(1)

    /** Write generation `ng`'s datasets from generation `g`'s live
      * rows, `n` partitions each. */
    def rewrite(s: SparkSession, dir: String, g: Long, ng: Long,
        n: Int): Unit =
      datasets.foreach(k =>
        writeParts(liveRows(s, dir, g, k), at(dir, k, ng), n, "overwrite"))

    /** Checks fsck runs once the current generation's datasets exist;
      * a repair may compact (the dup checks re-resolve the generation). */
    def fsckExtras(s: SparkSession, dir: String, g: Long,
        execute: Boolean): Seq[FsckRow] = Nil

    /** The rows [[maintain]] counts tombstoned rows over. */
    def maintainRows(s: SparkSession, dir: String, g: Long): DataFrame =
      read(s, dir, datasets.head, g)

    /** Append a doc batch (`idCol`, `textCol`, `vecCol` columns) — the
      * [[appendAll]] step of a doc store. */
    def appendDocs(pinned: DataFrame, dir: String, idCol: String,
        textCol: String, vecCol: String): Unit =
      throw new UnsupportedOperationException(s"$name is not a doc store")

    final def op(verb: String): String = name + verb

    /** Generation `g`'s path of artifact `kind`. */
    final def at(dir: String, kind: String, g: Long): String =
      s"$dir/${genName(kind, g)}"

    final def read(s: SparkSession, dir: String, kind: String,
        g: Long): DataFrame =
      s.read.schema(schema(kind)).parquet(at(dir, kind, g))

    /** Write `df` partitioned by `partCol` with one write task per
      * partition value, so every write, append and compact lands at
      * most one file per partition directory — small-file accretion
      * between compacts is bounded by appends × partitions touched. */
    final def writeParts(df: DataFrame, path: String, n: Int,
        mode: String): Unit =
      df.repartition(n, col(partCol))
        .write.mode(mode).partitionBy(partCol).parquet(path)

    /** Declared read schema of the tombstone set: the ids, plus any
      * state a delete captures with them. */
    def tombSchema: String = s"$idCol BIGINT"

    /** Generation `g`'s tombstoned ids (one `idCol` column); None before
      * the first delete. Tombstones are generational: a compact folds
      * the set into the next generation, which starts with none, while
      * the old set stays with its grace generation. */
    final def tombIds(s: SparkSession, dir: String,
        g: Long): Option[DataFrame] = {
      val p = new Path(at(dir, "tombstones", g))
      if (!exists(s, p)) None
      else {
        val t = s.read.schema(tombSchema).parquet(p.toString)
        Some(if (t.columns.length == 1) t else t.select(idCol))
      }
    }

    /** (Re)build the store: lock → clear the prior store life → manifest
      * → `body` writes the generation-0 datasets → a fresh
      * corpus-version stamp of 0 (a rebuild starts a new coordination
      * epoch). */
    final def write(s: SparkSession, dir: String,
        manifest: Seq[(String, String)])(body: => Unit): Unit =
      withStoreLock(s, dir, op("Write")) {
        clearStoreLife(s, dir, genKinds)
        writeMetaSidecar(s, s"$dir/manifest", manifest)
        body
        writeStoreVersion(s, dir, 0L)
      }

    /** Append a delta under the frozen geometry: lock → manifest check
      * → pending marker ([[openPendingAppend]]) → `body(g, n)` appends
      * into current generation `g` with `n` partitions → stamp bump →
      * marker removed. */
    final def append(s: SparkSession, dir: String)(
        body: (Long, Int) => Unit): Unit =
      withStoreLock(s, dir, op("Append")) {
        val n = partitions(s, dir)
        val g = currentGen(s, dir)
        val pending = openPendingAppend(s, dir, op("Append"))
        body(g, n)
        bumpStoreVersion(s, dir)
        fsOf(s, pending).delete(pending, false)
      }

    /** LOGICAL delete of an operator-sized id list: tombstones are
      * appended, serves subtract them immediately, [[compact]] reclaims
      * the space. */
    final def delete(s: SparkSession, dir: String, ids: Seq[Long]): Unit = {
      require(ids.nonEmpty, s"${op("Delete")}: ids must be non-empty")
      import s.implicits._
      deleteBody(s, dir, ids.distinct.toDF(idCol), operatorSized = true)
    }

    /** FRAME-shaped delete (the no-collect takedown path): the ids never
      * cross the driver. The caller's frame is validated
      * ([[requireLongIds]]) and pinned, so a non-deterministic ids plan
      * cannot tombstone one id set and report another; the pin is
      * released once the write has materialized. */
    final def delete(s: SparkSession, dir: String, ids: DataFrame): Unit = {
      val pinned = requireLongIds(ids, idCol, op("Delete")).localCheckpoint()
      try deleteBody(s, dir, pinned, operatorSized = false)
      finally
        org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(pinned)
    }

    /** [[delete]] for an ids frame the caller already validated and
      * pinned ([[takedownAll]]): skips the guard and pin, which would
      * re-materialize the batch once per store. */
    final def deletePinned(s: SparkSession, dir: String,
        ids: DataFrame): Unit =
      deleteBody(s, dir, ids, operatorSized = false)

    private def deleteBody(s: SparkSession, dir: String, ids: DataFrame,
        operatorSized: Boolean): Unit =
      withStoreLock(s, dir, op("Delete")) {
        val g = currentGen(s, dir)
        tombstoneRows(s, dir, g, ids, operatorSized)
          .write.mode("append").parquet(at(dir, "tombstones", g))
        bumpStoreVersion(s, dir)
      }

    /** Compact into the NEXT GENERATION: rewrite the live rows at fresh
      * `<kind>-g<N+1>` paths ([[rewrite]]), then COMMIT everything with
      * one atomic pointer flip ([[writeGen]]) — the datasets and the
      * now-empty tombstone set change together or not at all. The
      * pre-compact generation stays as the serve grace (a serve
      * constructed before the flip keeps reading its pinned
      * generation); this compact vacuums the generations before it.
      * Crash pre-flip leaves the store intact plus torn scratch; crash
      * post-flip leaves expired generations — both directory hygiene
      * fsck repairs. Compaction is physical housekeeping and never
      * bumps the corpus-version stamp.
      *
      * PURGE NOTE (takedown compliance): the grace generation still
      * carries the tombstoned rows' bytes, so the PHYSICAL purge of a
      * delete completes at the SECOND compact after it ([[purgeAll]]). */
    final def compact(s: SparkSession, dir: String): Unit =
      withStoreLock(s, dir, op("Compact")) {
        val n = partitions(s, dir)
        val g = currentGen(s, dir)
        val ng = g + 1
        rewrite(s, dir, g, ng, n)
        writeGen(s, dir, ng)
        vacuumGens(s, dir, genKinds, keepFrom = g)
      }

    /** The current main dataset's partition directories, driver-side:
      * (partition value, path). */
    final def partitionDirs(s: SparkSession, dir: String,
        g: Long): Seq[(Long, Path)] = {
      val root = new Path(at(dir, datasets.head, g))
      fsOf(s, root).listStatus(root).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(s"$partCol="))
        .map(st => (st.getPath.getName.stripPrefix(s"$partCol=").toLong,
          st.getPath))
    }

    /** `counts` (keyed by `partCol`) right of the per-partition parquet
      * file counts. The FS listing is the authoritative partition set: a
      * partition whose rows are all tombstoned still reports its files —
      * the pending-compaction state the report exists to surface. */
    final def withFiles(s: SparkSession, dir: String, g: Long,
        counts: => DataFrame): DataFrame = {
      val root = new Path(at(dir, datasets.head, g))
      val fs = fsOf(s, root)
      require(fs.exists(root) && fs.getFileStatus(root).isDirectory,
        s"${op("Stats")}: no ${datasets.head} dataset under $dir — not a " +
          s"store directory (${op("Write")} creates ${datasets.head}/)")
      val files = partitionDirs(s, dir, g).map { case (v, p) =>
        (v, fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet")))
      }
      import s.implicits._
      // the file-count frame carries the partition column's declared type
      broadcast(if (schema(datasets.head).contains(s"$partCol BIGINT"))
          files.toDF(partCol, "files")
        else files.map { case (v, n) => (v.toInt, n) }.toDF(partCol, "files"))
        .join(counts, Seq(partCol), "left")
    }

    /** The MAINTENANCE POLICY: per partition, (partCol, live rows,
      * files, tomb, `keep`…, action) where action is `compact` when the
      * partition's file count exceeds `maxFiles` (append/ingest
      * small-file accretion) or its tombstoned-row share exceeds
      * `maxTombBp` basis points (dead rows every serve still
      * subtracts), `retrain` first where the family's `retrain`
      * condition holds, else `ok`. `execute = true` runs [[compact]]
      * when any partition decides `compact` — compaction is whole-store
      * by construction, so one trigger suffices — and returns the
      * decided table. */
    final def maintain(s: SparkSession, dir: String, maxFiles: Int,
        maxTombBp: Long, execute: Boolean, keep: Seq[String] = Nil,
        retrain: Option[Column] = None): DataFrame = {
      require(maxFiles >= 1 && maxTombBp >= 0,
        s"${op("Maintain")}: maxFiles >= 1, maxTombBp >= 0")
      val g = currentGen(s, dir)
      // the stats report shows the LIVE view; the policy also needs the
      // dead rows, counted from the raw scan against the tombstones
      val raw = maintainRows(s, dir, g)
      val dead = tombIds(s, dir, g).fold(raw.filter(lit(false)))(t =>
        raw.join(broadcast(t), Seq(idCol), "left_semi"))
      val tomb = dead.groupBy(partCol).agg(count(lit(1)).as("tomb"))
      val st = stats(s, dir)
      val live = col(st.columns(1))
      val all = live + col("tomb")
      val compactIf = col("files") > maxFiles ||
        (all > 0 && col("tomb") * 10000L > lit(maxTombBp) * all)
      val report = st.join(tomb, Seq(partCol), "left")
        .select(Seq(col(partCol), live, col("files"),
          coalesce(col("tomb"), lit(0L)).as("tomb")) ++ keep.map(col): _*)
        .withColumn("action", retrain.fold(when(compactIf, "compact"))(r =>
          when(r, "retrain").when(compactIf, "compact")).otherwise("ok"))
        .orderBy(partCol)
      if (!execute) report
      else {
        // the report is partition-sized and about to drive a side
        // effect — materializing it is the op's documented shape
        val decided = report.collect()
        if (decided.exists(_.getAs[String]("action") == "compact"))
          compact(s, dir)
        s.createDataFrame(java.util.Arrays.asList(decided: _*), report.schema)
      }
    }

    /** CONTINUOUS ingestion: each micro-batch of `delta` is appended
      * with `appendBatch`, guarded by a batch-id LEDGER at
      * `ingested/batch-<id>/` — a marker written after the append makes
      * checkpoint replays skip already-applied batches, so a clean
      * stop/restart never double-appends. The honest crash window:
      * dying BETWEEN the append and its marker replays that one batch
      * at-least-once — the repair is a delete of the duplicate ids plus
      * [[compact]], or a rebuild ([[replayRepair]] runs it given the
      * batch); exactly-once would need the append and the marker in one
      * atomic commit, which this directory layout does not have. */
    final def ingest(delta: DataFrame, dir: String, checkpointDir: String)(
        appendBatch: DataFrame => Unit)
        : org.apache.spark.sql.streaming.StreamingQuery =
      delta.writeStream
        .option("checkpointLocation", checkpointDir)
        .outputMode("append")
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          val marker = new Path(s"$dir/ingested/batch-$batchId")
          val fs = fsOf(batch.sparkSession, marker)
          if (!fs.exists(marker)) {
            if (!batch.isEmpty) appendBatch(batch)
            // a silently-false mkdirs would leave the marker missing and
            // the next replay would double-append — fail the batch loudly
            require(fs.mkdirs(marker),
              s"${op("Ingest")}: ledger marker create failed: $marker")
          }
          ()
        }
        .start()

    /** fsck: classifies and (with `execute`) repairs every crash window
      * — the crashed-mutation lock, generation hygiene, torn appends
      * (report-only), a current generation missing a dataset (external
      * damage or a crashed write: rebuild), the family's extras — then
      * reports duplicate rows (report-only: the repair needs the source
      * batch). Returns (check, state, action), led by the store's
      * corpus-version stamp. */
    final def fsck(s: SparkSession, dir: String,
        execute: Boolean): DataFrame = {
      val rows = scala.collection.mutable.ArrayBuffer[FsckRow]()
      rows ++= fsckMutationLock(s, dir, execute)
      rows ++= fsckGenerations(s, dir, genKinds, execute)
      rows ++= fsckPendingAppends(s, dir, appendRepair)
      val g = currentGen(s, dir)
      if (!datasets.forall(k => exists(s, new Path(at(dir, k, g)))))
        rows += (("datasets", s"current generation g$g incomplete",
          "unrecoverable without a rebuild"))
      else {
        rows ++= fsckExtras(s, dir, g, execute)
        val gNow = currentGen(s, dir)
        rows ++= dupChecks.map { c =>
          val dups = read(s, dir, c.kind, gNow)
            .groupBy(c.key.map(col): _*).count()
            .filter(col("count") > 1)
          val n = c.distinctOn.fold(dups)(id => dups.select(id).distinct())
            .count()
          (c.label,
            if (n == 0) "none" else s"$n ${c.noun} appended more than once",
            if (n == 0) "none" else c.repair)
        }
      }
      report(s, dir, rows.toSeq)
    }
  }

  /** (store_dir, corpus_version) for an audit view over many stores. */
  private[graft] def storeVersions(s: SparkSession,
      dirs: Seq[String]): DataFrame = {
    import s.implicits._
    dirs.map(d => (d, storeVersion(s, d)))
      .toDF("store_dir", "corpus_version")
  }

  /** Loud precondition for composed serves: every store must carry the
    * same corpus-version stamp, else the serve would fuse two corpus
    * snapshots (e.g. return chunks of a document whose takedown
    * reached only one store). Returns the common version. */
  private[graft] def requireAlignedVersions(s: SparkSession,
      dirs: Seq[String]): Long = {
    require(dirs.nonEmpty, "requireAlignedVersions: no store dirs")
    val vs = dirs.map(d => d -> storeVersion(s, d))
    if (vs.map(_._2).distinct.size > 1)
      throw new IllegalStateException(
        "store corpus versions diverge — a mutation reached one store " +
          "but not the others, so a composed serve would mix corpus " +
          "snapshots; apply the missing mutation (e.g. Graft.takedown " +
          "across ALL stores) or rebuild: " +
          vs.map { case (d, v) => s"$d@v$v" }.mkString(", "))
    vs.head._2
  }

  // ───────────────── one-call takedown ─────────────────

  /** The chunk-id resolution scan behind a [[ChunkSearchStore]]
    * takedown: each doc's chunks occupy the contiguous packed-id range
    * [docId·base, (docId+1)·base) — resolve the whole batch's live
    * chunk ids from the docs sidecar in ONE scan (result bounded by
    * |batch|·chunks-per-doc, a driver-side list the delete API takes
    * anyway); `div` keeps the unpack exact-integer. The membership
    * test is on a COMPUTED column, which parquet cannot push down —
    * the leading RAW-column range conjunct restores row-group pruning
    * (chunk writes land ~doc_id-ordered, so min/max stats bite),
    * turning a full sidecar decode at corpus scale into a
    * batch-bounded one (the pushdown is spec-pinned). */
  private[graft] def chunkIdsPlan(s: SparkSession, dir: String,
      base: Long, docIds: Seq[Long]): DataFrame = {
    val lo = docIds.min * base
    val hi = (docIds.max + 1) * base
    s.read.schema("doc_id BIGINT")
      .parquet(s"$dir/${genName("docs", currentGen(s, dir))}")
      .filter(col("doc_id") >= lo && col("doc_id") < hi
        && expr(s"doc_id div ${base}L").isInCollection(docIds))
      .select("doc_id").distinct()
  }

  /** [[chunkIdsPlan]] for a FRAME of doc ids (the no-collect takedown
    * path): the same packed-range pruning, from the batch's pin-time
    * (min, max) `bounds` — [[takedownAll]]'s one (count, min, max)
    * aggregate, so this plan needs no bounds job of its own (the id
    * LIST never leaves the executors) — and the membership test is a
    * semi-join on the computed `doc_id div base` key instead of an
    * `isInCollection` literal list. */
  private[graft] def chunkIdsFramePlan(s: SparkSession, dir: String,
      base: Long, docIds: DataFrame, bounds: (Long, Long)): DataFrame = {
    val (lo, hi) = bounds
    require(lo >= 0 && hi < Long.MaxValue / base,
      s"takedown: batch bounds [$lo, $hi] not packable under " +
        s"chunkIdBase $base")
    s.read.schema("doc_id BIGINT")
      .parquet(s"$dir/${genName("docs", currentGen(s, dir))}")
      .filter(col("doc_id") >= lo * base && col("doc_id") < (hi + 1) * base)
      .join(docIds.select(col("doc_id").as("__td_doc")),
        expr(s"doc_id div ${base}L") === col("__td_doc"), "left_semi")
      .select("doc_id").distinct()
  }

  /** Normalize a frame-shaped id column to LONG, loudly: a NULL or
    * non-castable id raise_errors with the op's name instead of
    * slipping through as a NULL that joins nothing (a malformed feed
    * would otherwise "delete" nothing and report success — a silent
    * compliance miss). try_cast, not cast: under Spark 4's default
    * ANSI mode a plain cast throws its own generic error and under
    * non-ANSI it NULLs silently — try_cast makes the outcome
    * setting-independent and routes both failure shapes through the
    * one named raise_error. FRACTIONAL numeric inputs additionally
    * require the cast to round-trip (r18 advice): a DOUBLE/FLOAT/
    * DECIMAL id like 2.7 survives a long cast by TRUNCATION — the
    * feed's malformed row would silently tombstone doc 2 — so the
    * casted long must re-cast to the source type equal to the
    * original value (exact for every integral value either type
    * represents; strings like "2.7" already NULL under try_cast and
    * integral types cannot carry fractions). Shared by every
    * frame-shaped delete entry point; [[takedownAll]] applies it once
    * at the pin so the whole batch fails before any store is
    * touched. */
  private[graft] def requireLongIds(ids: DataFrame,
      colName: String, op: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
    val srcType = ids.schema(colName).dataType
    val casted = expr(s"try_cast($colName AS LONG)")
    val ok = srcType match {
      case DoubleType | FloatType | _: DecimalType =>
        casted.isNotNull && casted.cast(srcType) === col(colName)
      case _ => casted.isNotNull
    }
    ids.select(
      when(ok, casted)
        .otherwise(raise_error(concat(
          lit(s"$op: id '"),
          coalesce(col(colName).cast("string"), lit("NULL")),
          lit("' is not a long"))))
        .as(colName))
  }

  /** A store a [[takedown]] or [[appendAll]] must reach. `dir` is the
    * store directory; `family` owns its lifecycle, and the per-store
    * steps of the coordinated ops dispatch through it — a subtype
    * overrides a step only where its layout differs from its family's
    * (the chunk-level search store). */
  sealed abstract class StoreRef(
      private[operators] val family: StoreFamily) {
    def dir: String
    /** Refuse a takedown batch with doc-id bounds [lo, hi] this store
      * cannot address — checked for every store before any mutates. */
    private[operators] def checkBounds(lo: Long, hi: Long): Unit = ()
    /** Tombstone an operator-sized list of doc ids. */
    private[operators] def deleteDocs(s: SparkSession,
        docIds: Seq[Long]): Unit = family.delete(s, dir, docIds)
    /** Tombstone a validated, pinned `doc_id` frame with pin-time
      * bounds `bounds`. */
    private[operators] def deleteDocsPinned(s: SparkSession, ids: DataFrame,
        bounds: (Long, Long)): Unit =
      family.deletePinned(s, dir,
        if (family.idCol == "doc_id") ids
        else ids.select(col("doc_id").as(family.idCol)))
    /** Append a pinned doc batch. */
    private[operators] def appendDocs(pinned: DataFrame, idCol: String,
        textCol: String, vecCol: String): Unit =
      family.appendDocs(pinned, dir, idCol, textCol, vecCol)
  }
  /** A doc-level [[Search.searchIndexWrite]] store. */
  final case class SearchStore(dir: String)
    extends StoreRef(Search.SearchFamily)
  /** A CHUNK-level search store whose ids are packed
    * doc_id·`chunkIdBase`+chunk_idx (q186's layout): a takedown
    * resolves the doc's live chunk ids from the docs sidecar and
    * tombstones them all; an append receives the chunked corpus (fixed
    * C=S=64 windows, ids packed under the store's base — which must
    * equal the packer's). */
  final case class ChunkSearchStore(dir: String,
      chunkIdBase: Long = 1000000L) extends StoreRef(Search.SearchFamily) {
    private def requireBase(): Unit =
      require(chunkIdBase > 0,
        s"takedown: chunkIdBase $chunkIdBase must be positive")
    override private[operators] def checkBounds(lo: Long,
        hi: Long): Unit = {
      requireBase()
      require(lo >= 0 && hi < Long.MaxValue / chunkIdBase,
        s"takedown: batch bounds [$lo, $hi] not packable under " +
          s"chunkIdBase $chunkIdBase — refused with zero stores mutated")
    }
    override private[operators] def deleteDocs(s: SparkSession,
        docIds: Seq[Long]): Unit = {
      requireBase()
      docIds.foreach(id =>
        require(id >= 0 && id < Long.MaxValue / chunkIdBase,
          s"takedown: doc_id $id not packable under chunkIdBase $chunkIdBase"))
      val ids = chunkIdsPlan(s, dir, chunkIdBase, docIds)
        .collect().map(_.getLong(0)).toSeq
      if (ids.nonEmpty) family.delete(s, dir, ids)
    }
    override private[operators] def deleteDocsPinned(s: SparkSession,
        ids: DataFrame, bounds: (Long, Long)): Unit = {
      requireBase()
      family.deletePinned(s, dir,
        chunkIdsFramePlan(s, dir, chunkIdBase, ids, bounds))
    }
    override private[operators] def appendDocs(pinned: DataFrame,
        idCol: String, textCol: String, vecCol: String): Unit = {
      require(chunkIdBase == Search.ChunkIdBase,
        s"appendAll: chunk store base $chunkIdBase != the packer's " +
          s"${Search.ChunkIdBase} — serve-side unpacking would " +
          "resolve the wrong documents")
      Search.searchIndexAppendPinned(
        Search.chunkCorpus(pinned.select(
          col(idCol).as("doc_id"), col(textCol).as("text"))),
        dir, "chunk_id", "chunk_text")
    }
  }
  /** A [[TextDedup.dedupIndexWrite]] signature store. */
  final case class DedupStore(dir: String)
    extends StoreRef(TextDedup.DedupFamily)
  /** A [[Similarity.ivfPqIndexWrite]] ANN store (vec_id = doc_id). */
  final case class AnnStore(dir: String)
    extends StoreRef(Similarity.AnnFamily)

  /** Apply ONE document's takedown across every store that serves the
    * corpus, in one call — the cross-store twin of the per-store
    * deletes, closing the window where a takedown reaches the search
    * index but not the ANN index and the composed RAG serve keeps
    * returning the document's chunks. Each store lands on the SAME
    * stamp (see [[takedownAll]] for the convergence rule), so stores
    * that were aligned before the takedown are aligned after it, and
    * [[requireAlignedVersions]] keeps gating the composed serve. */
  private[graft] def takedown(s: SparkSession, docId: Long,
      stores: Seq[StoreRef]): Unit = takedownAll(s, Seq(docId), stores)

  /** The batch form of [[takedown]] — takedowns arrive in batches in
    * practice, and applying the WHOLE batch as one delete per store
    * costs one tombstone write + exactly one stamp write per store
    * regardless of batch size (a per-doc loop would bump |batch| times
    * and write |batch| tombstone files).
    *
    * '''Crash contract — re-running CONVERGES.''' Per-store deletes
    * are not atomic across stores; a crash mid-list leaves completed
    * stores ahead of untouched ones, which is exactly what makes the
    * composed serve fail LOUDLY until the takedown is completed. The
    * repair is: re-run the same takedown against the same store list.
    * That converges because the target stamp is computed ONCE up
    * front as max(current stamps) + 1 and every store is SET to it
    * after its delete (the per-store delete's own +1 bump is
    * overwritten) — a naive increment-per-store would instead keep
    * the crashed run's completed stores permanently one ahead, and no
    * number of re-runs could ever re-align them. Re-deleting already
    * tombstoned ids is a no-op in every store family, so the re-run's
    * extra deletes cost nothing and change nothing. The same rule
    * makes takedown self-healing for stores that diverged for OTHER
    * reasons: all land on the same target. */
  private[graft] def takedownAll(s: SparkSession, docIds: Seq[Long],
      stores: Seq[StoreRef]): Unit = {
    require(stores.nonEmpty, "takedown: no stores given")
    require(docIds.nonEmpty, "takedown: no doc ids given")
    val target = stores.map(r => storeVersion(s, r.dir)).max + 1
    stores.foreach { ref =>
      ref.deleteDocs(s, docIds)
      // convergent stamp: SET to the pre-computed target (overwriting
      // the delete's internal +1), so a crashed run's re-run aligns
      // every store instead of chasing an ever-moving increment
      writeStoreVersion(s, ref.dir, target)
    }
  }

  /** FRAME-shaped [[takedownAll]] — the form a compliance batch
    * actually arrives in at scale: a takedown list of millions of ids
    * is DATA, and the Seq form would collect it to the driver and
    * inline it into every store's plan as an `isInCollection` literal
    * list. Here the ids stay a DataFrame end to end: tombstones are
    * written via semi-joins against the ids frame, chunk-id resolution
    * is a join on the computed unpack key ([[chunkIdsFramePlan]]), and
    * nothing about the batch ever crosses the driver except ONE
    * (count, min, max) aggregate — the empty-window check, the chunk
    * family's packed bounds, and the pin-time packability guard in a
    * single observed metric. The Seq form stays as operator-sized sugar
    * with its original literal-list plans (spec-pinned frame ≡ seq on
    * all store families).
    *
    * The ids frame is pinned ONCE (eager localCheckpoint, released in
    * a finally after every store's delete has materialized): every
    * store must see the SAME id set, and a non-deterministic input
    * frame (sample/limit, a re-read mutating source) would otherwise
    * diverge the stores — the [[appendAll]] determinism discipline on
    * the delete side. Same convergent-stamp crash contract as the Seq
    * form: re-running the same takedown re-aligns every store. An
    * EMPTY ids frame is allowed (a compliance feed can produce zero
    * ids for a window): no store is deleted from and the stores still
    * land on the common target stamp. */
  private[graft] def takedownAll(s: SparkSession, docIds: DataFrame,
      stores: Seq[StoreRef]): Unit = {
    require(stores.nonEmpty, "takedown: no stores given")
    // LOUD id validation, enforced BEFORE any store is touched: a NULL
    // or non-castable id would otherwise become a silent NULL — a
    // compliance takedown that "succeeds" while the document keeps
    // serving, or a raise_error mid-list on the chunk family (diverged
    // stamps a re-run could never converge, because the re-run fails
    // the same way). The guard rides the eager pin, so a malformed feed
    // fails HERE, with zero stores mutated or stamped. The (count, min,
    // max) aggregate rides the same materialization as an observed
    // metric; the fallback aggregate only runs if an execution path
    // stops delivering observed metrics — a degraded job count, never
    // wrong bounds. Duplicates are NOT normalized away (every consumer
    // join is duplicate-safe; a distinct would shuffle the batch for
    // no semantic effect).
    val obs = org.apache.spark.sql.Observation()
    val ids = requireLongIds(docIds, "doc_id", "takedown")
      .observe(obs, count(lit(1)), min("doc_id"), max("doc_id"))
      .localCheckpoint()
    try {
      val b = awaitObserved(s, obs).getOrElse(
        ids.agg(count(lit(1)), min("doc_id"), max("doc_id")).head())
      // an empty window skips the per-store deletes: each would commit
      // a zero-row tombstone file every serve lists until the next
      // compact. A batch no store in the list can address fails here,
      // before any store mutates.
      val bounds =
        if (b.getLong(0) == 0L) None else Some((b.getLong(1), b.getLong(2)))
      for ((lo, hi) <- bounds; ref <- stores) ref.checkBounds(lo, hi)
      val target = stores.map(r => storeVersion(s, r.dir)).max + 1
      // each store is stamped IMMEDIATELY after its delete
      // materializes: a delete-all-then-stamp split would leave a
      // crash in the delete phase with every stamp at the old COMMON
      // value, so the composed serve would see no divergence while some
      // stores were tombstoned and others untouched. The per-store
      // (delete → stamp) chains run concurrently across stores
      // ([[inParallel]]): a crash leaves an arbitrary SUBSET of stores
      // completed — the same loud divergence, the same converging
      // re-run — and every chain is awaited before a failure
      // propagates, so no stamp lands after a re-run's.
      forAllStores(s, stores) { ref =>
        for (bd <- bounds) ref.deleteDocsPinned(s, ids, bd)
        writeStoreVersion(s, ref.dir, target)
      }
    } finally
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(ids)
  }

  /** Coordinated IDEMPOTENT append — the mutation-side twin of
    * [[takedownAll]], closing the remaining non-convergent cross-store
    * window: a coordinated append that crashes mid-list must be
    * re-runnable, but a bare re-run would DOUBLE-append the delta into
    * every store the first run completed (the duplicate-id state fsck
    * can only report, never repair). Each store is therefore guarded
    * by the same batch-id ledger streaming ingest uses
    * (`ingested/named-<id>` markers — the `named-` namespace cannot
    * collide with streaming's numeric `batch-<n>` markers even on a
    * store running both; rebuilds clear the whole `ingested/` dir, so
    * batch ids are scoped to a store life like ingest's): the re-run
    * SKIPS stores whose marker exists, appends the rest, and SETS
    * every store to the max+1 target stamp — converging exactly like
    * a re-run takedown. Re-running an already-complete batch is a
    * stamp-only no-op that keeps alignment.
    *
    * Honest window, same as streaming ingest's: a crash BETWEEN a
    * store's append and its marker replays that store's append
    * at-least-once — the repair is [[replayRepair]] with the same
    * batch ([[storeFsck]] reports the dup-id state and names it).
    *
    * `docs` must carry `idCol`/`textCol`; an [[AnnStore]] in the list
    * additionally needs `vecCol` (the embedding array) and reads its
    * frozen (m, subDim) geometry from the store's own manifest. The
    * delta must be NEW ids on every store (the appends' shared
    * unique-id contract). A [[ChunkSearchStore]] receives the chunked
    * corpus. */
  private[graft] def appendAll(docs: DataFrame, batchId: String,
      stores: Seq[StoreRef], idCol: String = "doc_id",
      textCol: String = "text", vecCol: String = "emb"): Unit = {
    val s = docs.sparkSession
    require(stores.nonEmpty, "appendAll: no stores given")
    requireBatchId(batchId, "appendAll")
    withLazyPin(docs) { pinned =>
      val target = stores.map(r => storeVersion(s, r.dir)).max + 1
      // the pin is forced BEFORE the per-store chains fan out: two
      // threads forcing a lazy pin at once would race the checkpoint
      // (each store's append must read ONE materialized delta)
      if (stores.exists(ref => !exists(s, namedMarker(ref, batchId))))
        pinned()
      // per-store (append → marker → stamp) chains run concurrently
      // across stores ([[inParallel]]): the ledger marker still lands
      // after ITS store's append and the stamp after the marker — the
      // per-store crash ordering the at-least-once contract rests on —
      // and a crash leaves an arbitrary SUBSET of stores completed: the
      // same loud divergence, the same marker-skipping re-run.
      forAllStores(s, stores)(ref => ledgered(s, ref, batchId, target,
        "appendAll")(ref.appendDocs(pinned(), idCol, textCol, vecCol)))
    }
  }

  /** A store's ledger marker for coordinated batch `batchId`. */
  private def namedMarker(ref: StoreRef, batchId: String): Path =
    new Path(s"${ref.dir}/ingested/named-$batchId")

  /** One store's step of a ledgered coordinated batch: `apply` runs
    * only when the store's marker is absent, and the marker lands after
    * it; then the store's stamp is SET to the pre-computed `target`
    * (the [[takedownAll]] convergence rule). */
  private def ledgered(s: SparkSession, ref: StoreRef, batchId: String,
      target: Long, op: String)(apply: => Unit): Unit = {
    val marker = namedMarker(ref, batchId)
    if (!exists(s, marker)) {
      apply
      // a silently-false mkdirs would leave the marker missing and a
      // re-run would apply the batch to this store twice — fail loudly
      require(fsOf(s, marker).mkdirs(marker),
        s"$op: ledger marker create failed: $marker")
    }
    writeStoreVersion(s, ref.dir, target)
  }

  private def exists(s: SparkSession, p: Path): Boolean =
    fsOf(s, p).exists(p)

  /** Run `body` with `docs` pinned LAZILY — `pinned()` takes an eager
    * localCheckpoint on first use, so a fully-replayed batch pays no
    * materialization — and release the pin afterwards (checkpoint
    * blocks are invisible to the cache release ledger). A failed
    * materialization never counts as taken: the finally must not re-run
    * the delta job and mask the original exception. */
  private def withLazyPin[A](docs: DataFrame)(
      body: (() => DataFrame) => A): A = {
    var forced = false
    lazy val pinned = {
      val p = docs.localCheckpoint(); forced = true; p
    }
    try body(() => pinned)
    finally if (forced)
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(pinned)
  }

  private def requireBatchId(batchId: String, op: String): Unit =
    require(batchId.nonEmpty && batchId.forall(c =>
        c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"$op: batch id '$batchId' must be a filesystem-safe token " +
        "([A-Za-z0-9._-]) — it names the per-store ledger marker")

  /** PHYSICAL purge — the executable form of the compacts' purge
    * note: run the store's compact TWICE, so the first folds the
    * outstanding tombstones into a fresh generation and the second
    * vacuums the generation that still carried the deleted bytes (the
    * serve grace). After this, no generation under the store holds a
    * tombstoned row — the takedown-compliance guarantee one compact
    * alone deliberately does not give (the grace exists to keep
    * in-flight serves alive). Batch form on the facade:
    * [[graft.Graft.purgeAll]] after a [[takedownAll]] makes the whole
    * coordinated takedown physical. Compaction never bumps the
    * corpus-version stamp, so purging keeps stores aligned. */
  private[graft] def purgeAll(s: SparkSession,
      stores: Seq[StoreRef]): Unit = {
    require(stores.nonEmpty, "purgeAll: no stores given")
    stores.foreach { ref =>
      ref.family.compact(s, ref.dir); ref.family.compact(s, ref.dir)
    }
  }

  /** EXECUTABLE repair for the ONE residual crash window the
    * coordinated/streaming append path leaves: a crash BETWEEN a
    * store's physical append and its ledger marker means the ledger
    * cannot tell whether the batch landed, so the next [[appendAll]]
    * re-run replays it — at-least-once, leaving duplicate ids that
    * [[storeFsck]] can only REPORT (fsck has no source rows to rebuild
    * from). Given the source batch, this op executes the documented
    * recovery per store:
    *
    *  - marker present → the ledger proves the batch landed exactly
    *    once; the store is untouched (stamp-only).
    *  - marker absent → delete the batch's ids (a no-op for ids that
    *    never landed), compact (physically removes the partial,
    *    duplicated, or orphaned rows — and applies any OTHER pending
    *    tombstones, which were due anyway), re-append the batch, then
    *    create the marker. The store now holds the batch exactly once
    *    regardless of where in the append the crash hit (docs-only,
    *    postings-only, double-append, or never-started).
    *
    * Every store lands on the common max+1 target stamp (the
    * [[takedownAll]] convergence rule), and a re-run of the repair is
    * a stamp-only no-op. Cost: one compact per store repaired —
    * O(store), the incident-response price, NOT the ingest path
    * ([[appendAll]] deliberately stays O(|delta|) and does not pay a
    * membership probe per batch). Caller contract: `docs` is the same
    * batch the crashed run appended (same ids, same content). The
    * delete step is FRAME-shaped: the batch's ids never cross the
    * driver, so the repair holds for feed-sized batches too. */
  private[graft] def replayRepair(docs: DataFrame, batchId: String,
      stores: Seq[StoreRef], idCol: String = "doc_id",
      textCol: String = "text", vecCol: String = "emb"): Unit = {
    val s = docs.sparkSession
    require(stores.nonEmpty, "replayRepair: no stores given")
    requireBatchId(batchId, "replayRepair")
    withLazyPin(docs) { pinned =>
      lazy val batchIds = requireLongIds(
        pinned().select(col(idCol).as("doc_id")), "doc_id", "replayRepair")
      // one (count, min, max) aggregate serves the empty-batch guard and
      // the chunk family's packed-range bounds for EVERY store repaired
      lazy val batchBounds = {
        val r = batchIds.agg(count(lit(1)), min("doc_id"), max("doc_id"))
          .head()
        require(r.getLong(0) > 0, "replayRepair: empty source batch")
        (r.getLong(1), r.getLong(2))
      }
      val target = stores.map(r => storeVersion(s, r.dir)).max + 1
      stores.foreach(ref =>
        ledgered(s, ref, batchId, target, "replayRepair") {
          ref.deleteDocsPinned(s, batchIds, batchBounds)
          ref.family.compact(s, ref.dir)
          ref.appendDocs(pinned(), idCol, textCol, vecCol)
        })
    }
  }

  // ───────────────── executable crash repair (fsck) ─────────────────

  /** Generation-layout hygiene — the WHOLE compact-crash surface under
    * the generational layout (see the section note above
    * [[currentGen]]): artifacts with generation ABOVE the pointer are
    * a torn compact scratch (the compact died before its commit flip —
    * the store is fully intact; a re-run overwrites them anyway);
    * artifacts BELOW pointer-1 are expired generations (a compact died
    * mid-vacuum; the next compact would also reclaim them). Both are
    * pure deletes — no state here can require a data repair, because
    * the pointer flip is atomic and everything it publishes was fully
    * written first. Generation pointer-1, when present, is the serve
    * GRACE (what keeps pre-flip serves alive) and is reported, never
    * touched. */
  private def fsckGenerations(s: SparkSession, indexDir: String,
      kinds: Seq[String], execute: Boolean): Seq[FsckRow] = {
    val root = new Path(indexDir)
    val fs = fsOf(s, root)
    val cur = currentGen(s, indexDir)
    val rows = scala.collection.mutable.ArrayBuffer[FsckRow]()
    /** A pure-delete hygiene row: `name` is deleted under `execute`. */
    def tidy(name: String, check: String, state: String): Unit = {
      if (execute) fs.delete(new Path(s"$indexDir/$name"), true)
      rows += ((check, state, if (execute) "deleted" else "would delete"))
    }
    var grace = false
    for (kind <- kinds; g <- gensOf(s, indexDir, kind).sorted) {
      val name = genName(kind, g)
      if (g > cur)
        tidy(name, s"torn scratch $name", s"generation $g above the " +
          s"pointer (g$cur) — compact died before its commit flip; " +
          "store intact")
      else if (g < cur - 1)
        tidy(name, s"expired $name", s"generation $g below the grace " +
          s"(g${cur - 1}) — compact died mid-vacuum")
      else if (g == cur - 1) grace = true
    }
    if (fs.exists(root)) {
      // stale commit markers — a crash mid-retire in [[writeGen]]
      // leaves non-max markers behind; they can never roll the pointer
      // back (readers take the max) but fsck tidies them like the next
      // commit would
      for (m <- genMarkers(fs, root) if m < cur)
        tidy(s"gen-$m", s"stale marker gen-$m", "non-max commit marker " +
          s"(crashed retire) — pointer reads g$cur regardless")
      // torn sidecar temps: the sidecar writes are temp-write + rename,
      // so a crash INSIDE one leaves a `<sidecar>-tmp` file matching
      // neither the generation nor the marker patterns — harmless (the
      // re-run write overwrites it) but lingering forever unless fsck
      // names it. Deleting is always safe: a -tmp is never read.
      for (n <- fs.listStatus(root).toSeq.map(_.getPath.getName)
          if SidecarTmpPat.matches(n))
        tidy(n, s"torn sidecar temp $n", "crash inside a sidecar " +
          "temp-write — never read; the re-run write overwrites it")
    }
    rows += (("generation", s"g$cur" +
      (if (grace) s" (grace g${cur - 1} present — pre-flip serves may " +
        "still read it)" else ""), "none"))
    rows.toSeq
  }

  private def report(s: SparkSession, indexDir: String,
      rows: Seq[FsckRow]): DataFrame = {
    import s.implicits._
    // lead with the store's coordination stamp: an operator running
    // fsck mid-incident is about to re-run a mutation, and the stamp
    // is what tells them which peers that mutation must also reach
    // (report-only — fsck repairs physical state, never stamps)
    (("corpus-version", s"v${storeVersion(s, indexDir)}", "none")
      +: rows).toDF("check", "state", "action")
  }

  /** Per-family fsck entry points ([[StoreFamily.fsck]]). */
  private[graft] def searchIndexFsck(s: SparkSession, indexDir: String,
      execute: Boolean = true): DataFrame =
    Search.SearchFamily.fsck(s, indexDir, execute)
  private[graft] def dedupIndexFsck(s: SparkSession, indexDir: String,
      execute: Boolean = true): DataFrame =
    TextDedup.DedupFamily.fsck(s, indexDir, execute)
  private[graft] def annIndexFsck(s: SparkSession, indexDir: String,
      execute: Boolean = true): DataFrame =
    Similarity.AnnFamily.fsck(s, indexDir, execute)

  /** Auto-detecting fsck: the family whose main dataset exists (at any
    * generation) owns the directory, so an operator can point fsck at
    * ANY graft store without knowing which family wrote it. */
  private[graft] def storeFsck(s: SparkSession, dir: String,
      execute: Boolean = true): DataFrame =
    Seq(Search.SearchFamily, TextDedup.DedupFamily, Similarity.AnnFamily,
        TextDedup.AuditFamily)
      .find(f => gensOf(s, dir, f.datasets.head).nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        s"storeFsck: $dir is not a graft store directory (no postings/, " +
          "bands/, enc/ or pairs/ dataset in any state)"))
      .fsck(s, dir, execute)
}
