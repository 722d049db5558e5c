package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.TextFunctions

/** STANDING lexical-retrieval index — the BM25 twin of [[StreamingIvf]]:
  * where `Bm25.topK` re-derives the whole inverted pass (tokenize + tf +
  * df + corpus stats) from the corpus on every call, this maintains the
  * same relations AT REST, incrementally per micro-batch, and searches
  * over the index. A RAG data pipeline runs this continuously: documents
  * arrive once, tokenize once, and every later query batch pays only
  * index-probe cost.
  *
  * At-rest layout under `path/`:
  *  - `postings/epoch=<n>/bucket=<m>/` — the per-(doc, term) tf relation
  *    (term, doc_id, tf, dl), hash-BUCKETED by term into `nBuckets`
  *    partition directories. The bucket is to a term probe what the IVF
  *    cell is to a vector probe: a query's terms resolve to a literal
  *    bucket set driver-side, so the search scan is partition-pruned to
  *    the touched buckets (`PartitionFilters`, spec-verified) instead of
  *    reading the whole index.
  *  - `stats/epoch=<n>/` — one row of MERGEABLE partials (n_docs,
  *    sum_dl). N and avgdl fold across epochs as plain sums (the
  *    [[graft.operators.IncrementalAgg]] stance): no arrival is ever
  *    re-scanned to keep the corpus statistics current.
  *
  * Standing-pipeline concerns, mirrored from [[StreamingIvf]]:
  *  - **Replay idempotence**: each epoch OVERWRITES its own `epoch=<n>`
  *    directory under both `postings/` and `stats/`, so checkpoint
  *    recovery neither loses nor double-counts documents.
  *  - **Search equality**: [[search]] over the at-rest epoch union
  *    returns EXACTLY what [[graft.operators.Bm25.topK]] recomputes over
  *    the same corpus (same tf/df/N/avgdl, same rounded-score tie
  *    contract) — the w27 gate pins this against e30's oracle verbatim.
  *    The equality is real cross-epoch carry, not vacuous: a query
  *    term's df and the corpus N/avgdl span ALL epochs, so per-epoch
  *    scoring would produce different ranks.
  *  - **Compaction**: per-epoch directories fold into `epoch=-1` via
  *    [[StateCompaction]] (bucket partitioning preserved) when listing
  *    cost grows; run while the pipeline is stopped.
  *
  * Contract: arrivals are NEW documents (ids never re-sent) — same as
  * the IVF corpus; an upsert workload needs a dedup/CDC stage in front.
  */
object StreamingBm25 {

  /** Name of the bucket-count meta file, INSIDE the postings root (so a
    * [[rebucket]] swap replaces count and layout in the same commit; the
    * underscore prefix keeps it invisible to parquet file listing). */
  private val NBucketsFile = "_NBUCKETS"

  private def hadoopFs(spark: SparkSession, p: String) =
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(p),
      spark.sessionState.newHadoopConf())

  /** The store's authoritative bucket count, if recorded. Probes and
    * appends resolve their `nBuckets` through this, so a caller holding a
    * stale count after a [[rebucket]] gets the store's real layout (or a
    * loud error on append), never silently wrong partial results. */
  def storedNBuckets(spark: SparkSession, path: String): Option[Int] = {
    val fs = hadoopFs(spark, path)
    val p = new org.apache.hadoop.fs.Path(s"$path/postings/$NBucketsFile")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt)
      finally in.close()
    }
  }

  private def writeNBucketsInto(spark: SparkSession, postingsDir: String,
      n: Int): Unit = {
    val out = hadoopFs(spark, postingsDir)
      .create(new org.apache.hadoop.fs.Path(s"$postingsDir/$NBucketsFile"), true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
  }

  /** First append RECORDS the store's bucket count; later appends must
    * match it (a mismatched count would route the same term to different
    * buckets across epochs, silently corrupting probe pruning). */
  private def validateOrRecordNBuckets(spark: SparkSession, path: String,
      nBuckets: Int): Unit =
    storedNBuckets(spark, path) match {
      case Some(m) =>
        require(m == nBuckets,
          s"store at $path is bucketed with nBuckets=$m, got $nBuckets — " +
            "pass the stored count (or rebucket the store first)")
      case None =>
        try writeNBucketsExclusive(spark, path, nBuckets)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            // lost the first-writer race — re-validate against the winner
            storedNBuckets(spark, path).foreach(m => require(m == nBuckets,
              s"store at $path is bucketed with nBuckets=$m, got $nBuckets"))
        }
    }

  private def writeNBucketsExclusive(spark: SparkSession, path: String,
      n: Int): Unit = {
    val out = hadoopFs(spark, path).create(
      new org.apache.hadoop.fs.Path(s"$path/postings/$NBucketsFile"), false)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Tokenize one epoch's documents and overwrite its postings + stats
    * epoch directories — idempotent under foreachBatch replay. Refuses
    * while a maintenance swap holds the store's lease (and finishes any
    * torn swap a crashed one left) — see [[MaintenanceLease]]. */
  def appendEpoch(batch: DataFrame, path: String, epoch: Long,
      nBuckets: Int = 64, textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1: $nBuckets")
    val spark0 = batch.sparkSession
    MaintenanceLease.withEpochWriteIntent(spark0, path, intentRoots(path)) {
      validateOrRecordNBuckets(spark0, path, nBuckets)
      val toks = batch.select(col(idCol),
        TextFunctions.tokens(lower(col(textCol))).as("toks"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      toks
        .select(col(idCol), size(col("toks")).cast("double").as("dl"),
          explode(col("toks")).as("term"))
        .groupBy(col(idCol), col("dl"), col("term"))
        .agg(count(lit(1)).cast("double").as("tf"))
        .withColumn("bucket", termBucket(col("term"), nBuckets))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$path/postings/epoch=$epoch")
      // mergeable corpus-stats partials; coalesce(sum, 0) keeps an
      // all-empty-docs epoch a valid zero row rather than a null
      toks.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(size(col("toks")).cast("double")), lit(0.0)).as("sum_dl"))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/stats/epoch=$epoch")
      toks.unpersist(false)
      ()
    }
  }

  /** The standing pipeline: document stream → tokenize once → per-epoch
    * at-rest postings/stats append. */
  def run(docs: DataFrame, path: String, checkpointDir: String,
      nBuckets: Int = 64, textCol: String = "text",
      idCol: String = "doc_id"): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        appendEpoch(batch, path, epoch, nBuckets, textCol, idCol)
        ()
      }
      .start()

  /** The swap roots an epoch write must not race: the store root
    * ([[compact]]), the postings ([[rebucket]]) and the stats. */
  private def intentRoots(path: String): Seq[String] =
    Seq(path, s"$path/postings", s"$path/stats")

  /** Tombstone DELETE for the standing index — [[StreamingIvf.deleteEpoch]]'s
    * lexical twin: deleted doc ids land as per-epoch [[StoreTombstones]]
    * relations; [[search]] anti-joins them out of the pruned postings scan
    * immediately (df self-adjusts — it is derived from the surviving
    * postings), and the next [[compact]] drops their rows from the
    * at-rest bytes, subtracts their (count, Σdl) from the corpus stats,
    * and clears the store. LSM trade, documented: until that compact,
    * N/avgdl still count the deleted docs (adjusting them at query time
    * would mean scanning arbitrary buckets for the victims' dl — against
    * the probe-cost discipline), so absolute scores are slightly stale
    * while the RESULT SET is already exact. A zero-token deleted doc has
    * no postings to see: it keeps its +1 in N until a rebuild (it never
    * ranks, carrying no terms). Refuses during a maintenance swap. */
  def deleteEpoch(ids: DataFrame, path: String, epoch: Long,
      idCol: String = "doc_id"): Unit =
    StoreTombstones.write(ids, "bm25", path, epoch, idCol, intentRoots(path))

  /** Fold the per-epoch directories into one (`epoch=-1`), preserving the
    * `bucket` partitioning (and with it the probe's partition pruning),
    * applying any tombstones — postings rows dropped, corpus stats
    * debited by the victims' (count, Σdl), tombstone store retired.
    *
    * SINGLE-COMMIT shape (round-13 verdict #1, the [[StreamingIvf.refit]]
    * stance): the masked postings AND the debited stats stage together
    * under the STORE ROOT and promote in ONE commit-marker swap; the
    * tombstones are simply not restaged, so apply, debit, and retire are
    * the same commit. The debit is measured from the still-live postings
    * and rides into the STAGED stats bytes — a crash anywhere either
    * replays the whole compact from intact live state (pre-marker) or
    * re-promotes the already-debited staging (post-marker): the debit can
    * never be lost or applied twice. Run while the pipeline is stopped
    * (enforced: takes the store's [[MaintenanceLease]]). */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = StateCompaction.DefaultTargetFileBytes,
      idCol: String = "doc_id"): Unit = {
    val postingsDir = s"$path/postings"
    MaintenanceLease.withLease(spark, path, op = "compact") { fence =>
      // finish a torn root swap first; holdsEpochs finishes a torn
      // postings swap (rebucket) before it looks for epochs
      StateCompaction.recover(spark, path)
      if (!StateCompaction.holdsEpochs(spark, postingsDir, "epoch")) ()
      else StateCompaction.compactWith(spark, path, fence) { staging =>
        val nb = storedNBuckets(spark, path)
        val ts = StoreTombstones.ids(spark, Seq("bm25" -> path), idCol)
          .map(_.localCheckpoint(true))
        val (rc, rs) = ts.map { t =>
          // the victims' stats delta, measured from the still-live
          // postings ((doc, dl) distinct — dl repeats per term row)
          val removed = spark.read.parquet(postingsDir)
            .join(broadcast(t), Seq(idCol), "left_semi")
            .select(col(idCol), col("dl")).distinct()
            .agg(count(lit(1)).as("rc"), coalesce(sum("dl"), lit(0.0)).as("rs"))
            .head()
          (removed.getLong(0), removed.getDouble(1))
        }.getOrElse((0L, 0.0))
        StateCompaction.stageCompacted(spark, postingsDir, key = "epoch",
          stagingTarget = s"$staging/postings", partitionCols = Seq("bucket"),
          targetFileBytes = targetFileBytes,
          transform = StoreTombstones.mask(_, ts, idCol))
        spark.read.parquet(s"$path/stats").drop("epoch")
          .agg((coalesce(sum("n_docs"), lit(0L)) - rc).as("n_docs"),
            (coalesce(sum("sum_dl"), lit(0.0)) - rs).as("sum_dl"))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$staging/stats/epoch=-1")
        // the bucket-count meta swaps with the layout it describes
        nb.foreach(n => writeNBucketsInto(spark, s"$staging/postings", n))
      }
    }
  }

  /** Top-`k` BM25 per query over the at-rest index — the index-probe form
    * of [[graft.operators.Bm25.topK]] with the identical scoring and
    * rounded-score tie contract. Per call this reads: the stats rows (one
    * per epoch), and ONLY the postings buckets the query vocabulary
    * hashes into (driver-side literal isin on the `bucket` partition
    * column → Catalyst prunes the rest before the scan), semi-joined down
    * to the query terms. df comes from the pruned postings themselves
    * (a term's posting rows ARE its document frequency), term-keyed and
    * broadcast — nothing corpus-sized ever shuffles at query time. */
  def search(spark: SparkSession, path: String, queries: DataFrame,
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75, nBuckets: Int = 64,
      idCol: String = "doc_id", queryIdCol: String = "query_id",
      queryTextCol: String = "text", roundDigits: Int = 4): DataFrame = {
    val (out, release) = searchLazy(spark, path, queries, k, k1, b, nBuckets,
      idCol, queryIdCol, queryTextCol, roundDigits)
    // ≤ |queries| x k rows — eager + small; releases the probe caches
    val eager = out.localCheckpoint(true)
    release()
    eager
  }

  /** [[search]] without the eager checkpoint: the raw plan (for plan
    * audits — the bucket partition pruning is visible here) plus a
    * release thunk for the probe-time caches, to call after consuming. */
  private[streaming] def searchLazy(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, k1: Double = 1.2, b: Double = 0.75,
      nBuckets: Int = 64, idCol: String = "doc_id",
      queryIdCol: String = "query_id", queryTextCol: String = "text",
      roundDigits: Int = 4): (DataFrame, () => Unit) = {
    require(k >= 1, s"k must be >= 1: $k")
    // the store's persisted bucket count is authoritative — a caller
    // holding a stale count after a rebucket still probes correctly
    // (the passed value is the fallback for meta-less legacy stores)
    val nBucketsEff = storedNBuckets(spark, path).getOrElse(nBuckets)
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // a never-written index (run() started, no epoch committed yet) has no
    // stats directory at all — read as the empty shape, not PATH_NOT_FOUND
    // (the same missing-directory guard PackedCorpus.readGlob carries)
    val statsPath = new org.apache.hadoop.fs.Path(s"$path/stats")
    val statsFs = org.apache.hadoop.fs.FileSystem.get(statsPath.toUri,
      spark.sessionState.newHadoopConf())
    val statRow =
      if (!statsFs.exists(statsPath)) null
      else spark.read.parquet(s"$path/stats")
        .agg(sum("n_docs"), sum("sum_dl")).head()
    val n = if (statRow == null || statRow.isNullAt(0)) 0.0
      else statRow.getLong(0).toDouble
    if (n == 0.0)
      return (spark.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0L).as("rank"),
          lit(0L).as(idCol), lit(0.0).as("score")), () => ())
    val avgdl = statRow.getDouble(1) / n

    // The (query_id, term) relation is rank-list-sized by the search
    // contract (a probe batch, never a corpus), so it collects ONCE —
    // tokenized in-cluster with the exact expression the previous form
    // used — and re-enters the plan as a LOCAL relation. That turns every
    // downstream use into a job-free broadcast build (LocalTableScan
    // collects on the driver thread, no stage), where the previous shape
    // paid a persist + a distinct-collect job for the buckets + separate
    // broadcast-build jobs for the semi-join and the scored join per
    // probe (round-16 optimization, guide §2.4/§5: fewer tiny jobs, same
    // bytes). Probed buckets derive driver-side from the SAME xxhash64
    // Spark SQL evaluates (XxHash64Function, seed 42) — spec-pinned
    // against the Column form, which appendEpoch still routes through.
    // bounded (spark.graft.probe.maxLocalRows): a corpus-sized queries
    // frame fails loudly instead of OOMing the driver (round 17)
    val qTermsPlan = queries.select(col(queryIdCol).as("query_id"),
      explode(array_distinct(
        TextFunctions.tokens(lower(col(queryTextCol))))).as("term"))
    val qTermRows = graft.functions.ProbeCollect.collectBounded(
      qTermsPlan, "StreamingBm25.search")
    val qTerms = spark.createDataFrame(
      java.util.Arrays.asList(qTermRows: _*), qTermsPlan.schema)
    val distinctTerms = qTermRows.map(_.getString(1)).distinct
    val termsLocal = spark.createDataFrame(
      java.util.Arrays.asList(distinctTerms.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("term",
          org.apache.spark.sql.types.StringType, nullable = true))))
    val buckets = distinctTerms.map(t => termBucketJvm(t, nBucketsEff)).distinct
    val pruned = spark.read.option("basePath", s"$path/postings")
      .parquet(s"$path/postings")
      .filter(col("bucket").isin(buckets.toSeq: _*))
      .join(broadcast(termsLocal), Seq("term"), "left_semi")
    // un-compacted tombstones mask their docs at the pruned scan
    // (broadcast anti-join; df below self-adjusts — it is derived from
    // the surviving rows). N/avgdl stay stale until compact — see
    // deleteEpoch's LSM-trade note.
    val postings = StoreTombstones.mask(pruned, "bm25", path, idCol)
      .select(col("term"), col(idCol), col("dl"), col("tf"))
      .persist(MEMORY_AND_DISK)
    val dfRel = postings.groupBy("term")
      .agg(count(lit(1)).cast("double").as("df"))
    val scored = qTerms
      .join(postings.join(broadcast(dfRel), "term"), "term")
      .select(col("query_id"), col(idCol),
        (log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl)))
          .as("contrib"))
      .groupBy(col("query_id"), col(idCol))
      .agg(round(sum("contrib"), roundDigits).as("score"))
    val out = graft.functions.ScoredTopK
      .rankTopK(scored, Seq("query_id"), col(idCol), col("score"), k, idCol)
    (out, () => { postings.unpersist(false); () })
  }

  /** REBUCKET — the lexical analog of [[StreamingIvf.refit]]: re-route
    * the whole postings store under a NEW bucket count, the layout
    * maintenance a growing corpus needs (buckets are the probe's
    * partition-pruning unit; with a fixed count each bucket's postings
    * grow linearly with the corpus, so the per-term probe read does
    * too — growing the count keeps one bucket a bounded read). The
    * re-routed postings stage under the postings root and promote via
    * [[StateCompaction.compactWith]]'s commit-marker swap. Stats and
    * tombstones are bucket-independent and stay in place (tombstones
    * keep masking probes; the next [[compact]] purges them). The new
    * count is PERSISTED inside the swapped postings root (`_NBUCKETS`),
    * so count and layout change in the same commit and [[search]]/
    * [[appendEpoch]] resolve it from the store — a caller holding the
    * old count can no longer get silently wrong partial results. Run
    * while the pipeline is stopped (enforced: takes the store's
    * [[MaintenanceLease]]). */
  def rebucket(spark: SparkSession, path: String, nBuckets: Int): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1: $nBuckets")
    MaintenanceLease.withLease(spark, path, op = "rebucket") { fence =>
      // finish a torn COMPACT swap first (it swaps the store root this
      // subdir swap lives under)
      StateCompaction.recover(spark, path)
      StateCompaction.compactWith(spark, s"$path/postings", fence) { staging =>
        // source read built AFTER compactWith's recover(): a pre-listed
        // file index would dangle if recover finished a torn prior swap
        val postings = spark.read.option("basePath", s"$path/postings")
          .parquet(s"$path/postings").drop("epoch").drop("bucket")
        postings.withColumn("bucket", termBucket(col("term"), nBuckets))
          .repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$staging/epoch=-1")
        writeNBucketsInto(spark, staging, nBuckets)
      }
    }
  }

  /** Stable term → bucket assignment (xxhash64 is deterministic across
    * sessions, so at-rest buckets and probe-time pruning always agree). */
  private def termBucket(term: org.apache.spark.sql.Column, nBuckets: Int) =
    pmod(xxhash64(term), lit(nBuckets.toLong))

  /** Driver-side twin of [[termBucket]] — evaluates the SAME hash Spark
    * SQL's `xxhash64` runs (XxHash64Function over the UTF-8 bytes, seed
    * 42) so the probe's bucket set can be derived from the collected
    * query terms without a distinct-collect job. Parity is spec-pinned
    * (StreamingBm25Spec) — the at-rest layout keeps routing through the
    * Column form in [[appendEpoch]]/[[rebucket]]. */
  private[streaming] def termBucketJvm(term: String, nBuckets: Int): Long = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(term),
      org.apache.spark.sql.types.StringType, 42L)
    java.lang.Math.floorMod(h, nBuckets.toLong)
  }
}
