package graft.ops

import graft.tables.{ChangeFeedConsumer, VersionedTable}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained curation pipeline — the langid → quality →
  * exact-dedup → MinHash-near-dup chain (`q_curation_pipeline`'s
  * lineage) kept in step with a MUTATING corpus at O(changed docs) per
  * batch, the way a production pretraining pipeline actually runs: the
  * crawl lands continuously, and re-running batch curation over 100 TB
  * per delivery is O(corpus) where O(delta) is available.
  *
  * State — a curation workspace at `root`, all [[VersionedTable]]s:
  *  - `kept`   (doc_id, text, toks, q4i), merge-bucketed on doc_id —
  *    the curated corpus itself;
  *  - `hashes` (content_hash → doc_id), keyed by the sha2 content hash —
  *    the exact-dedup memory (which winner owns each content class);
  *  - `bands`  (band_idx, band_hash, doc_id) — the LSH index of every
  *    kept doc, the near-dup memory.
  *
  * Per consumed change-feed batch:
  *  1. PURGE: every key with a pre-image or delete leaves the state —
  *     kept row by id, its LSH bands by (band, id), and its hash row
  *     ONLY when that key owns it (a suppressed duplicate owns nothing;
  *     a conditional-matched-DELETE merge guards the winner's row).
  *  2. ADMIT: surviving final states run the chain —
  *     langid/quality filter (map-only) → within-batch exact dedup
  *     (min-id winner per hash class) → against-state exact dedup
  *     (bloom-prefiltered probe of `hashes`: the big table is scanned
  *     map-side behind a Bloom filter of the BATCH's hashes, never
  *     shuffled) → within-batch MinHash near-dup (the standard banded
  *     pipeline on the batch alone) → against-state near-dup (batch
  *     bands probe the `bands` table behind a Bloom prefilter; exact
  *     Jaccard verify fetches ONLY the candidate kept docs' texts).
  *  3. Survivors merge into all three tables (bucket-COW, txn-marked).
  *
  * '''Suppressed duplicates never resurrect''': deleting a kept winner
  * does not re-admit the duplicates it once suppressed (they are gone —
  * nothing stores them), the same monotone-keep policy industrial dedup
  * services use. Re-delivering a suppressed doc through the feed
  * re-runs admission and may now win.
  *
  * '''Exactly-once / crash-replay stable''': each merge carries an
  * idempotent txn marker keyed on the range's upper version; the sync
  * position commits last. Decisions are REPLAY-STABLE against partially
  * applied state: the exact-dedup and near-dup probes exclude
  * self-matches (`state.doc_id != arrival.doc_id`), so a crash between
  * the hash merge and the kept merge replays into the same admit set
  * instead of classifying the half-applied batch as duplicates of
  * itself.
  */
object IncrementalCuration {

  /** Operating point. The defaults mirror [[Dedup.minhashNearDupPairs]];
    * `jaccardThreshold = 1.0` is the deterministic shingle-SET-equality
    * point the oracle replays exactly. */
  final case class Config(langs: Set[String] = Set("en"),
                          minQuality4: Long = 5000L,
                          numHashes: Int = 128, bands: Int = 16,
                          shingleSize: Int = 3,
                          jaccardThreshold: Double = 0.8,
                          maxBucketSize: Int = 1000,
                          numBuckets: Int = 8)

  def keptTable(spark: SparkSession, root: String): VersionedTable =
    VersionedTable(spark, s"$root/kept")

  private[ops] def hashTable(spark: SparkSession, root: String) =
    VersionedTable(spark, s"$root/hashes")
  private[ops] def bandTable(spark: SparkSession, root: String) =
    VersionedTable(spark, s"$root/bands")

  /** The per-doc banded LSH rows of `df` (doc_id, band_idx, band_hash) —
    * the same banding arithmetic as [[Dedup]]'s pipeline (xxhash64 over
    * r-slices of the minhash signature), so batch and state agree. */
  private def bandsOf(df: DataFrame, textCol: String, cfg: Config): DataFrame = {
    val r = cfg.numHashes / cfg.bands
    df.select(col("doc_id"),
        call_function("graft_minhash_hashes",
          call_function("graft_shingle_hashes",
            TextAnalysis.tokens(col(textCol)), lit(cfg.shingleSize)),
          lit(cfg.numHashes)).as("sig"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(cfg.bands - 1)),
          b => xxhash64(slice(col("sig"), b * lit(r) + 1, lit(r)))))
          .as(Seq("band_idx", "band_hash")))
  }

  /** Hashed shingle SET of a text column (Jaccard verification
    * currency — identical to the batch pipeline's). */
  private def shinglesOf(text: Column, cfg: Config): Column =
    call_function("graft_shingle_hashes",
      TextAnalysis.tokens(text), lit(cfg.shingleSize))

  /** Bloom-prefiltered probe of a big state table against a small batch
    * key set: scan `state` map-side behind a Bloom of `batchKeys` (a
    * one-column long frame), never shuffling the table; the caller
    * re-joins the (batch-sized) survivors exactly, so the Bloom's false
    * positives only cost a few extra rows, never correctness. */
  private def bloomProbe(state: DataFrame, stateKey: Column,
                         batchKeys: DataFrame,
                         expectedItems: Long): DataFrame = {
    val b = batchKeys
      .select(col(batchKeys.columns.head).cast("long").as("k")).na.drop()
    // sized from the SLICE row count the caller already holds (an upper
    // bound keeps the fpp promise; an underestimate only raises fpp on
    // a prefilter that exact joins verify anyway) instead of a
    // per-probe count() job — three probes per slice made that three
    // driver-blocking jobs
    if (expectedItems <= 0) return state.limit(0)
    // ONLY the empty-input case may degrade to an empty probe set
    // (zero keys can match nothing; stat.bloomFilter over zero rows
    // yields no sketch). Any other failure is a REAL Spark job failure
    // and must fail the slice so it replays from the txn markers —
    // swallowing it would silently skip against-state dedup for the
    // slice and commit duplicates into kept/hashes state (Bloom false
    // negatives are never verified away; only false positives are).
    // The emptiness probe runs only on the already-failed path, so the
    // happy path stays at one job.
    val bloom =
      try b.stat.bloomFilter("k", expectedItems, 0.01)
      catch { case scala.util.control.NonFatal(e) =>
        if (b.isEmpty) null else throw e
      }
    if (bloom == null) return state.limit(0)
    val name = "graft_bloom_cur_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    graft.functions.TransientFunctions.register(state.sparkSession,
      "graft_bloom", name,
      classOf[BloomMightContainLong],
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        BloomMightContainLong(exprs.head, bloom))
    state.filter(call_function(name, stateKey.cast("long")))
  }

  /** Deterministically release a localCheckpoint'ed frame's blocks.
    * `DataFrame.unpersist` evicts CacheManager entries only — a
    * localCheckpoint's RDD blocks (MEMORY_AND_DISK) are otherwise freed
    * when ContextCleaner GCs the RDD, which a long-running change-feed
    * consumer cannot wait for: slices would accumulate checkpoint
    * blocks under memory pressure. The checkpointed plan is a
    * [[org.apache.spark.sql.execution.LogicalRDD]] leaf; unpersisting
    * its RDD frees the blocks now (non-blocking — the slice is done
    * with them by the time the finally runs). */
  private def releaseCkpt(df: DataFrame): Unit = {
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach { r => r.unpersist(blocking = false); () }
    ()
  }

  /** Run independent state-table merges concurrently and await ALL of
    * them before surfacing the first failure — an abandoned in-flight
    * merge must never race the slice's replay. Spark job submission is
    * thread-safe; the frames feeding each merge are localCheckpoint'ed
    * so no lineage recompute crosses threads.
    *
    * Fresh threads spawned BY THE CALLING THREAD, not a shared pool:
    * (a) each merge BLOCKS on Spark actions — on ExecutionContext.global
    *     (a cores-sized fork-join pool, shared process-wide) the merges
    *     could serialize on a low-core host or starve unrelated work;
    * (b) SparkContext's localProperties (job group / description /
    *     scheduler pool) live in an InheritableThreadLocal — a child
    *     thread inherits the caller's at construction, so a driver-side
    *     `cancelJobGroup` reaches these jobs; a pooled thread was
    *     created elsewhere and carries stale or empty properties.
    * Thread-per-merge costs microseconds next to the multi-hundred-ms
    * merges themselves. */
  private def inParallel[A](fs: Seq[() => A]): Seq[A] = {
    val outcomes =
      new Array[Either[Throwable, A]](fs.length).asInstanceOf[Array[AnyRef]]
    val threads = fs.zipWithIndex.map { case (f, i) =>
      val t = new Thread(
        { () =>
          outcomes(i) =
            (try Right(f()) catch { case e: Throwable => Left(e) })
              .asInstanceOf[AnyRef]
        }: Runnable,
        s"graft-curation-merge-$i")
      t.setDaemon(true)
      t
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    // every slot is written after join(); surface the first failure only
    // once ALL preparations have settled
    outcomes.toSeq.map(_.asInstanceOf[Either[Throwable, A]]).map {
      case Left(e)  => throw e
      case Right(a) => a
    }
  }

  // ------------------------------------ slice-scoped atomic intent
  // The three state tables commit AS ONE: each merge is PREPARED
  // (staged, COW-joined, files renamed into place — log entry held
  // back), then one atomic intent file records all prepared entries,
  // then the entries append. Crash before the intent → NO table
  // changed (orphans age-gate to vacuum, the slice replays whole);
  // crash after → [[rollForwardIntent]] completes every append before
  // the next sync reads any state. The observable crash-state space is
  // therefore all-or-none, not "any subset of three merges".

  private def intentPath(root: String): java.nio.file.Path =
    java.nio.file.Paths.get(root, "_slice_intent.json")

  /** Crash-injection seam: invoked at EVERY phase boundary of the slice
    * commit protocol (prepare per table, intent tmp write, intent
    * atomic move, each per-table log append, intent drop). A spec swaps
    * in a hook that throws at a chosen boundary to simulate a crash
    * exactly there; production leaves it None — one volatile read per
    * boundary. Volatile, not ThreadLocal: the prepare boundaries fire
    * on [[inParallel]]'s child threads. */
  @volatile private[graft] var crashHook: Option[String => Unit] = None
  @inline private def crashPoint(name: String): Unit =
    crashHook.foreach(_(name))

  /** Complete a crash-interrupted slice: append every prepared entry
    * (idempotent — replayed txn markers short-circuit), then drop the
    * intent. Runs at [[sync]] entry, BEFORE any state is read.
    *
    * If ANY prepared file-set has vanished (an operator ran VACUUM
    * during an outage longer than the staging grace window — orphaned
    * prepared files are untracked and age out), the intent is
    * ABANDONED whole: no table commits, the intent drops, and the
    * slice replays from the unadvanced consumer position. Committing
    * the survivors would break the all-or-none contract AND point log
    * entries at deleted data. Tables whose marker already carries the
    * slice are fine either way (their files are tracked and
    * vacuum-protected). */
  private def rollForwardIntent(spark: SparkSession, root: String): Unit = {
    val p = intentPath(root)
    // a crash between the intent's tmp write and its atomic move can
    // strand a `.intent-*` sibling — pre-commit-point by definition,
    // never read; sweep it
    val dir = p.getParent
    if (java.nio.file.Files.isDirectory(dir)) {
      val s = java.nio.file.Files.list(dir)
      try s.iterator().forEachRemaining { f =>
        if (f.getFileName.toString.startsWith(".intent-")) {
          java.nio.file.Files.deleteIfExists(f); ()
        }
      } finally s.close()
    }
    if (!java.nio.file.Files.exists(p)) return
    // An unparseable intent (torn write, hand-edited file, a line from
    // a future format) must ABANDON, not wedge every subsequent sync:
    // abandoning is always safe — prepared files are untracked (vacuum
    // reclaims them) and the consumer position never advanced, so the
    // slice simply replays whole. Abandon = QUARANTINE, not delete:
    // the file moves aside under a timestamped name (so the evidence
    // of what went wrong survives for the operator) and the failure is
    // logged LOUDLY — a silently vanishing intent would hide a torn
    // write or a format regression forever.
    val parsed = scala.util.Try {
      java.nio.file.Files.readString(p).linesIterator
        .filter(_.trim.nonEmpty).map { line =>
          val i = line.indexOf('\t')
          require(i > 0, s"no tab separator in intent line: $line")
          (VersionedTable(spark, line.substring(0, i)),
            VersionedTable.PreparedCommit.fromJson(line.substring(i + 1)))
        }.toSeq
    }
    val entries = parsed match {
      case scala.util.Success(e) => e
      case scala.util.Failure(why) =>
        val q = p.resolveSibling(
          s"_slice_intent.quarantined-${System.currentTimeMillis()}")
        java.nio.file.Files.move(p, q,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        System.err.println(
          s"[curation] ABANDONED unparseable slice intent at $p " +
            s"(quarantined to ${q.getFileName}): ${why.getMessage}. " +
            "Safe: prepared files are untracked (vacuum reclaims them) " +
            "and the consumer position never advanced, so the slice " +
            "replays whole.")
        return
    }
    val intact = entries.forall { case (t, pc) =>
      // already committed (marker present) counts as intact; otherwise
      // EVERYTHING the log entry would reference must still exist on
      // disk — produced data file-sets, but also the prepared cdf
      // change set and any DV files. A vacuum during the outage can
      // reclaim any of them (all are untracked, merely age-gated), and
      // committing an entry that points at a deleted cdf/dv file would
      // dangle for change-feed readers — the exact contract this
      // recovery exists to uphold.
      pc.txn.exists { case (app, v) =>
        t.lastTxnVersion(app).exists(_ >= v) } || {
        pc.produced.forall(fs => java.nio.file.Files.exists(
          java.nio.file.Paths.get(t.root, "data", fs))) &&
        // the synthetic-inserts sentinel names no _changes/ file — its
        // "change set" is the produced file-sets, checked above
        pc.cdf.filterNot(
            _ == graft.tables.VersionedTable.CdfSyntheticInserts)
          .forall(c => java.nio.file.Files.exists(
            java.nio.file.Paths.get(t.root, "_changes", c))) &&
        pc.dvs.forall(d => java.nio.file.Files.exists(
          java.nio.file.Paths.get(t.root, "_dv", d)))
      }
    }
    if (intact) entries.foreach { case (t, pc) => t.commitPrepared(pc); () }
    java.nio.file.Files.delete(p)
    ()
  }

  /** The slice's commit point: ONE atomic intent write, then the
    * per-table log appends, then the intent drops. */
  private def commitSlice(root: String,
      entries: Seq[(VersionedTable, Option[VersionedTable.PreparedCommit])]): Unit = {
    val todo = entries.collect { case (t, Some(pc)) => (t, pc) }
    if (todo.isEmpty) return
    // intent lines are `<root>\t<json>\n`-framed; PreparedCommit.toJson
    // escapes its own strings, but the ROOT rides raw — refuse the two
    // characters that would tear the framing rather than write an
    // intent recovery must abandon
    todo.foreach { case (t, _) =>
      require(!t.root.contains('\t') && !t.root.contains('\n'),
        s"slice intent: table root must not contain tab/newline: ${t.root}")
    }
    val p = intentPath(root)
    val tmp = p.resolveSibling(s".intent-${java.util.UUID.randomUUID()}")
    java.nio.file.Files.writeString(tmp,
      todo.map { case (t, pc) => s"${t.root}\t${pc.toJson}" }
        .mkString("", "\n", "\n"))
    crashPoint("intent:tmp")
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    crashPoint("intent:moved")
    todo.zipWithIndex.foreach { case ((t, pc), i) =>
      t.commitPrepared(pc)
      crashPoint(s"commit:$i")
    }
    java.nio.file.Files.delete(p)
    crashPoint("intent:dropped")
    ()
  }

  /** Consume every unconsumed commit of the `docs` source into the
    * workspace. Returns the applied version range, or None when caught
    * up. O(changed docs) per call. */
  def sync(src: VersionedTable, root: String, cfg: Config = Config(),
           idCol: String = "doc_id", textCol: String = "text"): Option[(Long, Long)] = {
    val spark = src.spark
    graft.functions.GraftFunctions.register(spark)
    val kept = keptTable(spark, root)
    val hashes = hashTable(spark, root)
    val bands = bandTable(spark, root)
    val appId = s"curation-sync:$root"
    // complete any crash-interrupted slice BEFORE reading state: after
    // this line the workspace only ever shows all-or-none of a slice
    rollForwardIntent(spark, root)
    ChangeFeedConsumer.consumeAvailable(src, s"$root/_sync") { (changes, _, hi) =>
      // repartition BEFORE the text kernels: a change-feed batch reads
      // as a handful of parquet splits (one append ≈ one file), and the
      // langid/quality/shingle expressions over it would otherwise run
      // at the file count's parallelism, not the cluster's — one tiny
      // batch-sized shuffle buys full-width kernels for every phase
      // ONE tiny change-type-count job FIRST (column pruning keeps the
      // text payload out of it): it decides the slice's partition count
      // AND which per-key windows the slice needs. Right-sizing matters
      // at BOTH ends — a 100 TB backlog slice takes the cluster's full
      // width, while a small change batch at full width pays ~30 jobs
      // x defaultParallelism tasks of pure scheduling overhead for
      // kilobytes of data (measured: a material slice of q_curation's
      // wall time at local[32]).
      val ctCounts = changes
        .select(col("_change_type").as("__ct"))
        .groupBy("__ct").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val sliceRows = ctCounts.values.sum
      val sliceParts = math.max(1L, math.min(
        spark.sparkContext.defaultParallelism.toLong,
        sliceRows / 2000L + 1L)).toInt
      val classified = changes.select(
          col(idCol).cast("long").as("doc_id"),
          col(textCol).as("text"),
          col("_change_type").as("__ct"),
          col("_commit_version").as("__cv"))
        .repartition(sliceParts)
        // localCheckpoint, not persist, for every batch-sized decision
        // set in this pipeline: the probe/dedup trees nest deeply, and
        // Catalyst re-analyzes the FULL logical tree for every action
        // built on top — by the final merges the driver was spending
        // 3-5 SECONDS per action on planning alone (measured; the jobs
        // inside summed to <1s). Truncating the lineage to a LogicalRDD
        // makes every downstream plan shallow. The frames are O(changed
        // docs) and the slice replays idempotently from the txn markers
        // if an executor dies mid-batch, so the durability trade is
        // safe here.
        .localCheckpoint()
      // an insert-only batch — the bootstrap, and every plain append —
      // has no pre-states and exactly one row per key, so both per-key
      // windows (each a full shuffle of the TEXT payload) are provably
      // no-ops and are skipped
      val insertOnly = ctCounts.keySet.subsetOf(Set("insert"))
      // phase 1 input: every key that had a pre-state (update pre-image
      // or delete payload) leaves kept/hashes/bands; an updated key
      // re-enters through admission below with its new text
      val pre =
        (if (insertOnly) classified.limit(0)
         else Keyed.firstPerKey(
           classified.filter(col("__ct")
             .isin("update_preimage", "delete")),
           Seq("doc_id"), "__cv"))
        .select(col("doc_id"), col("text"))
        .localCheckpoint()
      try {
        // ------------------------------------------------ phase 1: purge
        // nonemptiness of `pre` follows from the counts (firstPerKey of a
        // nonempty filter) — probing pre.isEmpty was a whole extra window
        // job on the text payload
        val havePre = ctCounts.getOrElse("update_preimage", 0L) +
          ctCounts.getOrElse("delete", 0L) > 0
        // The purge no longer commits on its own: its tombstones ride
        // the SAME bucket-COW merge as the slice's admissions — one
        // commit per state table per slice instead of two (at change-
        // batch sizes the per-commit fixed cost dominates the sync).
        // Purge-before-admit ordering is preserved by COMPENSATING the
        // admission probes with the leaving keys (state rows about to
        // tombstone must not suppress arrivals), and tombstone/upsert
        // key conflicts drop toward the upsert (sequential
        // delete-then-insert lands the insert too).
        //
        // hash rows are owned by the WINNER id — a purged key deletes
        // its content class's row only if it owns it. The purge slice
        // can carry SEVERAL doc_ids of one content class (a winner
        // purged together with its suppressed duplicates), and a
        // clause merge keyed on content_hash would pair the one
        // target row with every same-hash source row — each
        // non-owner pairing fires no clause and RE-EMITS the row, so
        // the winner's row would survive its own purge (and
        // duplicate). Keep only owner rows up front (semi-join on
        // (content_hash, doc_id) — `hashes` has one owner per hash,
        // so at most one source row per key survives), then the
        // delete is unconditional and 1:1.
        val purgeOwners: Option[DataFrame] =
          if (havePre && hashes.exists) Some(
            pre.select(sha2(col("text"), 256).as("content_hash"),
                col("doc_id"))
              .join(hashes.read.select("content_hash", "doc_id"),
                Seq("content_hash", "doc_id"), "left_semi")
              .localCheckpoint())
          else None
        try {
        // ------------------------------------------------ phase 2: admit
        // delete-below-insert version tie-break: a replace_where commit
        // deletes and re-inserts a doc at ONE version — the doc must
        // re-enter admission with its new text, not read as departed
        val fin = Keyed.latestChangePerKey(
          classified.filter(col("__ct") =!= "update_preimage"),
          Seq("doc_id"), "__cv", "__ct")
        val arrivals = (if (insertOnly) classified
                        else fin.filter(col("__ct") =!= "delete"))
          .select(col("doc_id"), col("text"))
        val scored = arrivals.select(col("doc_id"), col("text"),
            TextAnalysis.langId(col("text")).as("lang"),
            floor(TextAnalysis.qualityScore(col("text")) * 10000 + lit(0.5))
              .cast("long").as("q4i"),
            TextAnalysis.tokenCount(col("text")).as("toks"))
          .filter(col("lang").isin(cfg.langs.toSeq: _*) &&
            col("q4i") >= cfg.minQuality4)
          .withColumn("content_hash", sha2(col("text"), 256))
        // within-batch exact (min-id winner per content class)
        val batchExact = Keyed.firstPerKey(scored,
            Seq("content_hash"), "doc_id")
          .localCheckpoint()
        try {
        // a purge-only slice (deletes, or nothing passing the filter)
        // has no admission work — and must not pay three empty merge
        // job chains to find that out (plain `if`, not a return: a
        // non-local return would unwind past the consumer's position
        // commit and replay the slice forever)
        if (!batchExact.isEmpty) {
          // against-state exact: probe `hashes` behind a Bloom of the
          // batch's hash set; exclude self-matches (replay stability)
          // AND the leaving owners (their rows tombstone in this same
          // slice's merge — a departing doc must not suppress arrivals)
          val exactSurvivors = {
            if (!hashes.exists) batchExact
            else {
              val hitRaw = bloomProbe(hashes.read,
                xxhash64(col("content_hash")),
                batchExact.select(xxhash64(col("content_hash")).as("k")),
                sliceRows)
              val hit = purgeOwners.fold(hitRaw)(po =>
                hitRaw.join(po, Seq("content_hash", "doc_id"), "left_anti"))
              batchExact.as("n").join(hit.as("o"),
                  col("n.content_hash") === col("o.content_hash") &&
                    col("n.doc_id") =!= col("o.doc_id"), "left_anti")
            }
          }
          // the batch's (shingles, signature) relation — computed ONCE
          // and reused by the local banded pipeline, the state probe's
          // bands, the Jaccard verify, and the final bands merge (the
          // shingle/minhash kernels are the batch's dominant compute)
          val sigd0 = exactSurvivors.select(col("doc_id"),
              shinglesOf(col("text"), cfg).as("shingles"))
            .withColumn("sig", call_function("graft_minhash_hashes",
              col("shingles"), lit(cfg.numHashes)))
          val sigd = sigd0.localCheckpoint()
          try {
          // within-batch near-dup: the batch alone through the standard
          // banded pipeline; losers are the larger ids of each pair
          val localLosers = Dedup.pairsFromSignatures(sigd,
              cfg.numHashes, cfg.bands, cfg.jaccardThreshold,
              cfg.maxBucketSize)
            .select(col("doc_id_b").as("doc_id")).distinct()
          val afterLocal = exactSurvivors
            .join(localLosers, Seq("doc_id"), "left_anti")
            .localCheckpoint()
          try {
            val r = cfg.numHashes / cfg.bands
            val newBands0 = sigd
              .join(afterLocal.select("doc_id"), Seq("doc_id"))
              .select(col("doc_id"),
                posexplode(transform(sequence(lit(0), lit(cfg.bands - 1)),
                  b => xxhash64(slice(col("sig"), b * lit(r) + 1, lit(r)))))
                  .as(Seq("band_idx", "band_hash")))
            // fresh workspace: the band relation feeds ONLY the final
            // merge (the state probe is skipped below), and the merge
            // stages its batch exactly once — the checkpoint would be a
            // pure extra materialization
            val newBands =
              if (!bands.exists) newBands0
              else newBands0.localCheckpoint()
            try {
            // against-state near-dup: batch bands probe the `bands`
            // table behind a Bloom; exact Jaccard verify reads ONLY the
            // candidate kept docs (bloom-prefiltered by id). Built only
            // when band state EXISTS — the fresh-workspace branch below
            // never consumes it.
            def stateLosers: DataFrame = {
                  val hitBands = bloomProbe(bands.read,
                    xxhash64(col("band_hash"), col("band_idx")),
                    newBands.select(
                      xxhash64(col("band_hash"), col("band_idx")).as("k")),
                    sliceRows * cfg.bands)
                  val cand0 = newBands.as("n").join(hitBands.as("o"),
                      col("n.band_idx") === col("o.band_idx") &&
                        col("n.band_hash") === col("o.band_hash") &&
                        col("n.doc_id") =!= col("o.doc_id"))
                    .select(col("n.doc_id").as("new_id"),
                      col("o.doc_id").as("old_id"))
                    .distinct()
                  // a LEAVING kept doc tombstones in this slice's merge
                  // and must not suppress arrivals
                  val cand =
                    if (!havePre) cand0
                    else cand0.join(pre.select(col("doc_id").as("old_id")),
                      Seq("old_id"), "left_anti")
                  val oldDocs = bloomProbe(kept.read, col("doc_id"),
                      cand.select(col("old_id").as("k")),
                      sliceRows * cfg.bands)
                    .select(col("doc_id").as("old_id"),
                      shinglesOf(col("text"), cfg).as("sh_o"))
                  cand
                    .join(sigd.select(col("doc_id").as("new_id"),
                      col("shingles").as("sh_n")), Seq("new_id"))
                    .join(oldDocs, Seq("old_id"))
                    .filter(
                      call_function("graft_jaccard",
                        col("sh_n"), col("sh_o")) >= cfg.jaccardThreshold)
                    .select(col("new_id").as("doc_id")).distinct()
            }
            // bootstrap / fresh-workspace slices have NO state to lose
            // against — the anti-join would be the identity, so skip
            // both its job and the extra checkpoint materialization
            // (afterLocal is already checkpointed)
            val survivors =
              if (!bands.exists) afterLocal
              else afterLocal
                .join(stateLosers, Seq("doc_id"), "left_anti")
                .localCheckpoint()
            try {
              // ------------- phase 3: state merges (tombstones ride in)
              // ONE bucket-COW commit per table: the slice's purge
              // tombstones union with its upserts (key conflicts
              // dropped toward the upsert — sequential delete-then-
              // insert lands the insert; tombstone-only rows carry
              // keys + marker, unionByName nulls the rest). Each
              // combined batch is PERSISTED first: merge evaluates its
              // update batch several times (dedup, delete/data split,
              // cell staging), and re-running the probe pipeline per
              // evaluation would cost more than the saved commits.
              def prepared(up: DataFrame, tomb: Option[DataFrame],
                           keys: Seq[String], label: String)
                  : (VersionedTable, Option[VersionedTable.PreparedCommit]) = {
                val batch = tomb.fold(up)(tb =>
                  up.withColumn(Merge.DeleteCol, lit(false))
                    .unionByName(tb.withColumn(Merge.DeleteCol, lit(true)),
                      allowMissingColumns = true))
                val tbl = if (label == "kept") kept
                  else if (label == "hashes") hashes else bands
                val pc =
                  tbl.mergePrepared(batch, keys, numBuckets = cfg.numBuckets,
                    txn = Some((appId + ":" + label.head, hi)))
                crashPoint(s"prepare:$label")
                (tbl, pc)
              }
              // the three merges are INDEPENDENT tables fed exclusively
              // by checkpointed (or state-table) relations — PREPARE
              // them concurrently (the staging + COW join jobs dominate,
              // so the slice pays max() of the three instead of their
              // sum), then flip all three through ONE atomic slice
              // intent (commitSlice): a crash leaves either no table
              // changed or, after roll-forward, every table changed.
              val bandUp = newBands
                .join(survivors.select("doc_id"), Seq("doc_id"))
              commitSlice(root, inParallel(Seq(
                () => prepared(survivors.select("doc_id", "text", "toks", "q4i"),
                  purgeOwners.map(_ => pre.select(col("doc_id"))
                    .join(survivors.select("doc_id"), Seq("doc_id"),
                      "left_anti")),
                  Seq("doc_id"), "kept"),
                () => prepared(survivors.select("content_hash", "doc_id"),
                  purgeOwners.map(_.join(survivors.select("content_hash"),
                    Seq("content_hash"), "left_anti")),
                  Seq("content_hash"), "hashes"),
                () => prepared(bandUp,
                  purgeOwners.map(_ => bandsOf(pre, "text", cfg)
                    .join(bandUp.select("band_idx", "band_hash", "doc_id"),
                      Seq("band_idx", "band_hash", "doc_id"), "left_anti")),
                  Seq("band_idx", "band_hash", "doc_id"), "bands"))))
            // the fresh-workspace aliases are NOT their own checkpoints —
            // releasing them would walk into the parent frames' blocks
            } finally { if (survivors ne afterLocal) releaseCkpt(survivors) }
            } finally { if (newBands ne newBands0) releaseCkpt(newBands) }
          } finally releaseCkpt(afterLocal)
          } finally releaseCkpt(sigd)
        } else if (purgeOwners.nonEmpty) {
          // purge-only slice (deletes, or nothing passing the filter):
          // tombstone-only merges, one commit per table, concurrent for
          // the same reason as the main branch
          commitSlice(root, inParallel(Seq(
            () => (hashes, hashes.mergePrepared(
              purgeOwners.get.withColumn(Merge.DeleteCol, lit(true)),
              Seq("content_hash"), numBuckets = cfg.numBuckets,
              txn = Some((appId + ":h", hi)))),
            () => (bands, bands.mergePrepared(
              bandsOf(pre, "text", cfg)
                .withColumn(Merge.DeleteCol, lit(true)),
              Seq("band_idx", "band_hash", "doc_id"),
              numBuckets = cfg.numBuckets,
              txn = Some((appId + ":b", hi)))),
            () => (kept, kept.mergePrepared(
              pre.select(col("doc_id"))
                .withColumn(Merge.DeleteCol, lit(true)),
              Seq("doc_id"), numBuckets = cfg.numBuckets,
              txn = Some((appId + ":k", hi)))))))
        }
        } finally releaseCkpt(batchExact)
        } finally purgeOwners.foreach(releaseCkpt)
      } finally { releaseCkpt(pre); releaseCkpt(classified) }
    }
  }
}
