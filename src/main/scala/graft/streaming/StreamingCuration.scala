package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.{HashFunctions, TextFunctions}
import graft.operators.Dedup

/** The STANDING form of [[graft.operators.CurationPipeline]] — continuous
  * ingest driving quality filter → incremental exact dedup → incremental
  * near-dup against the at-rest signature index → benchmark decontamination
  * → shard assignment, the reference's whole identity (a pipeline that
  * never stops) applied to the engine's flagship corpus operator.
  *
  * Incremental semantics (the load-bearing design decision): the at-rest
  * state is the set of QUALITY+EXACT SURVIVORS seen so far — their content
  * digests (exact dedup) and their MinHash LSH [[Dedup.signatureIndex]]
  * rows (near-dup). Because every arriving doc is judged against "all
  * survivors with a smaller id" (state ∪ lower-id same-batch rows), the
  * cumulative output is BATCH-BOUNDARY INVARIANT: any split of an
  * id-ordered corpus into sequential micro-batches produces exactly the
  * one-shot verdict (spec-pinned, and the w7 gate runs the 4-batch fold
  * against a one-shot-derived fixture). Invariance holds while the
  * `maxBucket` hot-bucket guard does not bind (observed via
  * [[graft.operators.SkewGuard.bucketStats]], never silent) — and exact
  * dedup runs FIRST, so identical docs can never flood an LSH bucket.
  *
  * Scale shape: arriving batches shuffle digests and 12-byte band keys,
  * never text; the resident corpus is never re-read or re-signed (its
  * signatures are at rest, bucketed by (band, key)); state appends are
  * per-batch parquet writes keyed by batch id (idempotent under
  * foreachBatch replay). Probe hashes are a broadcast distinct set.
  */
object StreamingCuration {

  /** Verdict + state deltas for ONE arriving id-ordered batch judged
    * against the at-rest state. Pure — no IO, no state mutation.
    *
    * @param batch     arriving docs (idCol, textCol)
    * @param digests   at-rest (id, digest) of every prior quality+exact survivor
    * @param sigIndex  at-rest [[Dedup.signatureIndex]] rows of the same docs
    * @param probeHashes distinct probe shingle hashes (one `h` column)
    * @return (verdict(idCol, stage, shard), digestsDelta(id, digest),
    *         sigsDelta(id, sig, band, key), release) — deltas are THIS
    *         batch's quality+exact survivors, the state for later batches.
    *         Call `release()` once every returned frame is materialized:
    *         it unpersists the batch's internal intermediates (SQL cache
    *         entries are NOT GC-reclaimed, so a standing pipeline that
    *         skipped this would accumulate MEMORY_AND_DISK blocks per
    *         epoch — the CurationPipeline advisory's streaming twin).
    */
  def curateBatch(batch: DataFrame, digests: DataFrame, sigIndex: DataFrame,
      probeHashes: DataFrame, minQuality: Double = 0.9, threshold: Double = 0.3,
      probeNgram: Int = 4, nShards: Int = 16, maxBucket: Int = 4096,
      textCol: String = "text", idCol: String = "doc_id")
      : (DataFrame, DataFrame, DataFrame, () => Unit) = {
    val nullShard = lit(null).cast("long").as("shard")

    // stage 1: quality floor — narrow, codegen'd, scan speed
    val scored = batch
      .select(col(idCol), col(textCol),
        TextFunctions.qualityScoreOfProfile(TextFunctions.textProfile(col(textCol))).as("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the cache BEFORE the five verdict branches fan out:
    // when the caller triggers the union, AQE launches the branches (and
    // their broadcast-subquery jobs) concurrently, and every one of them
    // races to compute the not-yet-populated cache — profiled at sf0.01 as
    // ten uniform ~1.1 s single-task stages per epoch, all re-running the
    // scan+profile upstream (w7 event-log breakdown, PLANS.md). One eager
    // pass makes the branches cache readers.
    scored.count()
    val qualityDrop = scored.filter(col("q") < minQuality)
      .select(col(idCol), lit("quality").as("stage"), nullShard)
    val s1 = scored.filter(col("q") >= minQuality)
      .select(col(idCol), col(textCol), md5(col(textCol)).as("digest"))

    // stage 2: exact dedup — drop if the digest is already at rest, or a
    // lower-id doc in THIS batch carries it (min-id-keeps, the batch rule).
    // The at-rest digest relation is UNIQUE BY DIGEST by construction — a
    // digest only enters state when no prior copy existed (prior_id null
    // && batch-min winner), so later epochs can never re-add it — which
    // makes the state side joinable directly, no per-epoch re-aggregation
    // shuffle.
    val seen = digests.select(col("digest"), col("id").as("prior_id"))
    val batchMin = s1.groupBy("digest").agg(min(col(idCol)).as("batch_min"))
    val s1j = s1
      .join(broadcast(batchMin), Seq("digest"))
      .join(seen, Seq("digest"), "left")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exactDrop = s1j
      .filter(col("prior_id").isNotNull || col(idCol) =!= col("batch_min"))
      .select(col(idCol), lit("exact_dup").as("stage"), nullShard)
    val s2 = s1j.filter(col("prior_id").isNull && col(idCol) === col("batch_min"))
      .select(col(idCol), col(textCol))

    // the batch's state delta: quality+exact survivors (INDEPENDENT of the
    // later stages — near-dup-dropped docs stay in state so later copies of
    // them are judged identically to the one-shot run)
    val sigsDelta = Dedup.signatureIndex(s2, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val digestsDelta = s1j
      .filter(col("prior_id").isNull && col(idCol) === col("batch_min"))
      .select(col(idCol).as("id"), col("digest"))

    // stage 3: near-dup — judged against at-rest survivors ∪ lower-id
    // same-batch survivors (the `<` filter makes within-batch flags
    // one-directional; state ids are always lower because batches arrive
    // id-ordered). Hot (band, key) buckets past maxBucket are excluded —
    // observed via SkewGuard.bucketStats, and exact dedup upstream keeps
    // identical content out of the buckets.
    val combined = sigIndex.select("id", "sig", "band", "key")
      .unionByName(sigsDelta.select("id", "sig", "band", "key"))
    val hotKeys = combined.groupBy("band", "key").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucket).select("band", "key")
    val idxOk = combined.join(broadcast(hotKeys), Seq("band", "key"), "left_anti")
    val candIds = sigsDelta.select(col("id").as("new_id"), col("band"), col("key"))
      .join(idxOk.select(col("id").as("idx_id"), col("band"), col("key")), Seq("band", "key"))
      .filter(col("idx_id") < col("new_id"))
      .select("new_id", "idx_id").distinct()
    // one (id, sig) row per doc WITHOUT a dedup shuffle: signatureIndex
    // explodes every signature into bands 0..bands-1, so the band-0 slice
    // is exactly one row per id (a narrow filter, not a dropDuplicates)
    val idxSigs = combined.filter(col("band") === 0).select(col("id"), col("sig"))
    val nearIds = candIds
      .join(idxSigs.select(col("id").as("new_id"), col("sig").as("sig_n")), "new_id")
      .join(idxSigs.select(col("id").as("idx_id"), col("sig").as("sig_i")), "idx_id")
      .filter(HashFunctions.minHashJaccard(col("sig_n"), col("sig_i")) >= threshold)
      .select(col("new_id").as(idCol)).distinct()
    val nearDrop = nearIds.select(col(idCol), lit("near_dup").as("stage"), nullShard)
    val s3 = s2.join(nearIds, Seq(idCol), "left_anti")

    // stage 4: decontamination — any shared probe n-gram kills
    val contamIds = s3
      .select(col(idCol), explode(HashFunctions.shingleHashes(col(textCol), probeNgram)).as("h"))
      .join(broadcast(probeHashes), "h")
      .select(col(idCol)).distinct()
    val contamDrop = contamIds.select(col(idCol), lit("contaminated").as("stage"), nullShard)

    // stage 5: reproducible md5 shard for the kept set
    val kept = s3.join(contamIds, Seq(idCol), "left_anti")
      .select(col(idCol), lit("kept").as("stage"),
        pmod(conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(nShards)).as("shard"))

    val verdict = qualityDrop.unionByName(exactDrop).unionByName(nearDrop)
      .unionByName(contamDrop).unionByName(kept)
    val release = () => Seq(scored, s1j, sigsDelta).foreach(_.unpersist(false))
    (verdict, digestsDelta, sigsDelta, release)
  }

  /** Distinct decontamination probe hashes for [[curateBatch]]. */
  def probeHashSet(probes: DataFrame, probeNgram: Int = 4,
      textCol: String = "text"): DataFrame =
    probes.select(explode(HashFunctions.shingleHashes(col(textCol), probeNgram)).as("h"))
      .distinct()

  /** One-shot fold of an id-partitioned corpus through [[curateBatch]] —
    * the BATCH TWIN the w7 gate runs (4 sequential batches at sf0.01) and
    * the restart-resume spec compares against. Batches are id ranges
    * (`idCol % nBatches` would interleave ids and break the `<`-ordering
    * contract); each round's verdict and state are eagerly
    * `localCheckpoint`ed so the fold's plans don't nest (the
    * duplicateClusters stance), and per-round intermediates are released.
    */
  def curateFold(docs: DataFrame, probes: DataFrame, nBatches: Int,
      minQuality: Double = 0.9, threshold: Double = 0.3, probeNgram: Int = 4,
      nShards: Int = 16, maxBucket: Int = 4096,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(nBatches >= 1, s"nBatches >= 1: $nBatches")
    val spark = docs.sparkSession
    val probeH = probeHashSet(probes, probeNgram, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bounds = docs.agg(min(col(idCol)), max(col(idCol))).head()
    if (bounds.isNullAt(0)) { probeH.unpersist(false); return emptyVerdict(spark, idCol) }
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val span = (hi - lo) / nBatches + 1
    // AQE is DISABLED for the duration of the fold (restored after): a
    // micro-batch's curation DAG is bounded-small by the streaming
    // contract (one batch of arrivals, never the corpus), so AQE's
    // per-exchange stage materialization buys nothing — and costs a 7×
    // driver job fan-out (measured at sf0.1: 361 jobs/fold with AQE vs 51
    // without, 8.5 → 6.6 s wall) plus replan-churned generated sources
    // that defeat the codegen cache (78 fresh Janino compiles per
    // repeated fold with AQE, 0 without). One-shot corpus operators keep
    // AQE; this is a micro-batch-loop-only stance.
    // snapshot + mutate under the JVM-wide scoped-conf lock shared with
    // Dedup.duplicateClusters: interleaved save/restore between the two
    // sites on one session would otherwise "restore" scoped values
    // permanently (review finding). Held for the fold's duration — the
    // confs are session-global, so two scoped regions cannot overlap.
    graft.ScopedSessionConf.lock.lock()
    // anything throwing between lock() and the try below must not leak
    // the lock (or a half-applied conf)
    val (priorAqe, priorShuffle) = try {
      val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
      val width = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      (aqe, width)
    } catch {
      case t: Throwable => graft.ScopedSessionConf.lock.unlock(); throw t
    }
    try {
    // the EMPTY state is checkpointed too: epoch 0's plans then scan an
    // ExistingRDD exactly like epochs 1+ (whose state is a checkpointed
    // union), so ALL epochs share one generated-source set instead of
    // epoch 0 compiling a LocalRelation-shaped variant of every fragment
    // (measured: 447 → fewer distinct sources per fold, see PLANS.md w7)
    var digests = emptyDigests(spark).localCheckpoint(true)
    var sigs = emptySigs(spark).localCheckpoint(true)
    var verdicts = List.empty[DataFrame]
    (0 until nBatches).foreach { b =>
      // the batch slice is checkpointed BEFORE entering curateBatch, and
      // the state is compacted to ONE checkpointed relation per epoch —
      // both so every epoch's curation plan is TEXTUALLY IDENTICAL (same
      // shape, no epoch-varying literals, single-relation state instead of
      // a growing union): Spark's codegen cache is keyed on generated
      // source, and profiled at sf0.01 the epoch loop spent ~1.4 s/stage
      // × 10 stages × epoch re-Janino-compiling fragments that differed
      // only in the inlined id-range bounds (PLANS.md w7 breakdown; this
      // change measured 33.7 → 27.1 s end-to-end at sf0.01, 16.7 → 15.3 s
      // isolated best-of-2 at sf0.1). This also matches true streaming,
      // where each micro-batch arrives as a materialized relation, not a
      // filtered view of the corpus.
      val batch = docs
        .filter(col(idCol) >= lo + b * span && col(idCol) < lo + (b + 1) * span)
        .localCheckpoint(true)
      // with AQE off, shuffle width = spark.sql.shuffle.partitions; track
      // the wider of (batch, at-rest state) — the coalescing decision AQE
      // would have made, taken once per epoch instead of per exchange.
      // The session value is restored after the fold.
      val width = math.max(4,
        math.max(batch.rdd.getNumPartitions, sigs.rdd.getNumPartitions))
      spark.conf.set("spark.sql.shuffle.partitions",
        math.min(width, priorShuffle.toInt))
      val (v, dd, sd, release) = curateBatch(batch, digests, sigs, probeH,
        minQuality, threshold, probeNgram, nShards, maxBucket, textCol, idCol)
      val vc = v.localCheckpoint(true)
      val ddc = dd.localCheckpoint(true)
      val sdc = sd.localCheckpoint(true)
      release()
      verdicts ::= vc
      digests = digests.unionByName(ddc).localCheckpoint(true)
      sigs = sigs.unionByName(sdc).localCheckpoint(true)
    }
    probeH.unpersist(false)
    verdicts.reduce(_ unionByName _)
    } finally {
      // throw-safe restore mirror of the apply side: never skip the second
      // set or leak the shared lock on a failing first set
      graft.ScopedSessionConf.restoreAllAndUnlock(spark.conf,
        Seq("spark.sql.adaptive.enabled" -> priorAqe,
          "spark.sql.shuffle.partitions" -> priorShuffle))
    }
  }

  private def emptyVerdict(spark: SparkSession, idCol: String): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, String, Option[Long])].toDF(idCol, "stage", "shard")
      .select(col(idCol), col("stage"), col("shard").cast("long"))
  }
  private def emptyDigests(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, String)].toDF("id", "digest")
  }
  private def emptySigs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Seq[Long], Int, Long)].toDF("id", "sig", "band", "key")
  }

  /** The standing pipeline: a streaming `docs` source driven through
    * [[curateBatch]] with parquet at-rest state and per-batch-id idempotent
    * writes (a replayed epoch overwrites its own directory, the
    * LogPipeline audit stance), so restart-resume neither loses nor
    * duplicates verdicts.
    *
    * Layout under `stateDir`: `digests/batch=<epoch>/`, `sigs/batch=<epoch>/`,
    * `verdicts/batch=<epoch>/`. The checkpoint gives exactly-once batch
    * replay; the per-epoch overwrite makes the at-rest state idempotent
    * under that replay. */
  def run(docs: DataFrame, probes: DataFrame, stateDir: String,
      checkpointDir: String, minQuality: Double = 0.9, threshold: Double = 0.3,
      probeNgram: Int = 4, nShards: Int = 16, maxBucket: Int = 4096,
      textCol: String = "text", idCol: String = "doc_id"): StreamingQuery = {
    val spark = docs.sparkSession
    val probeH = probeHashSet(probes, probeNgram, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        // write-intent protocol: refuse on a live maintenance lease at
        // entry AND publish an intent over the whole read-judge-write
        // batch so a maintenance acquire refuses mid-flight — see
        // MaintenanceLease
        MaintenanceLease.withEpochWriteIntent(spark, stateDir, intentRoots(stateDir)) {
          // un-compacted tombstones mask the dedup memory: a batch arriving
          // after a delete is judged as if the deleted docs never landed
          val digests = StoreTombstones.mask(
            readStateOr(spark, s"$stateDir/digests", emptyDigests(spark)),
            "curation", stateDir, "id")
          val sigs = StoreTombstones.mask(
            readStateOr(spark, s"$stateDir/sigs", emptySigs(spark)),
            "curation", stateDir, "id")
          val (v, dd, sd, release) = curateBatch(batch, digests, sigs, probeH,
            minQuality, threshold, probeNgram, nShards, maxBucket, textCol, idCol)
          // deltas first (overwrite = replay-idempotent), verdict last
          dd.write.mode("overwrite").parquet(s"$stateDir/digests/batch=$epoch")
          sd.write.mode("overwrite").parquet(s"$stateDir/sigs/batch=$epoch")
          v.write.mode("overwrite").parquet(s"$stateDir/verdicts/batch=$epoch")
          release()
        }
      }
      .start()
  }

  /** All per-batch state under `dir` (batch=N subdirs), or `empty` when no
    * batch has committed yet. Listed through the Hadoop `FileSystem`
    * resolved from the dir URI — the channel the state itself is written
    * through — so hdfs:// / object-store state dirs read correctly
    * (a `java.io.File` listing would silently read as empty there, the
    * StateCompaction lesson). */
  private def readStateOr(spark: SparkSession, dir: String, empty: DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(p.toUri,
      spark.sessionState.newHadoopConf())
    val subdirs =
      if (!fs.exists(p)) Array.empty[String]
      else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.toString)
    if (subdirs.isEmpty) empty
    else spark.read.parquet(subdirs.toIndexedSeq: _*)
  }

  /** The swap roots an epoch write must not race: the three per-batch
    * state relations [[compactState]] swaps. */
  private def intentRoots(stateDir: String): Seq[String] =
    Seq("digests", "sigs", "verdicts").map(s => s"$stateDir/$s")

  /** Tombstone DELETE for the standing curation state — right to be
    * forgotten for FINGERPRINTS: erasing a document must also erase its
    * dedup memory (exact digest + LSH signatures) and its verdict rows,
    * or the pipeline would keep suppressing future re-submissions of
    * content whose original is gone — the opposite of forgetting.
    * Deleted ids land as one per-batch [[StoreTombstones]] relation
    * (keyed `id`, the digest relation's key, whatever `idCol` names the
    * input); every state read masks them immediately ([[run]]'s next
    * batch is judged as if the docs never landed, [[verdicts]] stops
    * reporting them), and [[compactState]] folds them into the rewrite
    * and clears the store — the same LSM delete as the other three
    * standing stores. Refuses during a maintenance swap. */
  def deleteEpoch(ids: DataFrame, stateDir: String, epoch: Long,
      idCol: String = "doc_id"): Unit =
    StoreTombstones.write(ids, "curation", stateDir, epoch, idCol,
      intentRoots(stateDir))

  /** Cumulative verdicts written by [[run]] so far, minus any
    * un-compacted tombstones. */
  def verdicts(spark: SparkSession, stateDir: String, idCol: String = "doc_id"): DataFrame =
    StoreTombstones.mask(
      readStateOr(spark, s"$stateDir/verdicts", emptyVerdict(spark, idCol)),
      "curation", stateDir, idCol)

  /** Fold the per-epoch state subdirectories into one (`batch=-1`) each —
    * run while the pipeline is stopped; see [[StateCompaction]] for the
    * crash-safe swap protocol. Restarting from the SAME checkpoint
    * resumes cleanly: the compacted directory reads exactly like the
    * epochs it replaced, and future epochs (≥ 0) can never collide with
    * it. A fresh checkpoint restarts epoch numbering at 0 and would
    * re-ingest — compaction does not change that contract, the checkpoint
    * IS the ingest position.
    *
    * Pending [[deleteEpoch]] tombstones fold into the rewrite (digest,
    * signature, and verdict rows of deleted ids dropped) and the store
    * clears LAST — a crash between the swaps and the clear loses nothing
    * because reapplying a tombstone whose rows are gone is a no-op.
    * `idCol` names the verdict relation's id column (the [[run]]
    * caller's choice). */
  def compactState(spark: SparkSession, stateDir: String,
      idCol: String = "doc_id"): Unit =
    MaintenanceLease.withLease(spark, stateDir, op = "compact") { fence =>
      // three INDEPENDENT swaps (no cross-relation derived quantity —
      // each relation's tombstone mask is self-contained, unlike the
      // BM25 stats debit), so ordered-idempotent is enough: a crash
      // between swaps leaves the tombstones intact, reads keep masking,
      // and the re-run re-applies (an anti-join of already-gone rows is
      // a no-op) before the clear — adjudicated in PLANS.md
      Seq("digests" -> "id", "sigs" -> "id", "verdicts" -> idCol).foreach {
        case (sub, kc) =>
          StateCompaction.compact(spark, s"$stateDir/$sub", key = "batch",
            transform = StoreTombstones.mask(_, "curation", stateDir, kc),
            fence = fence)
      }
      StoreTombstones.retire(spark, stateDir)
    }
}
