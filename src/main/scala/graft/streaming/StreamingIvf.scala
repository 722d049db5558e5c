package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.{ScoredTopKAggregator, VectorFunctions}
import graft.operators.Similarity
import graft.plans.VectorExpressions

/** STANDING ANN-index maintenance — the streaming form of
  * [[graft.operators.IvfIndex.append]]: arriving embedding micro-batches
  * are cell-routed by the FROZEN at-rest centroids and land as per-epoch
  * cell-partitioned parquet. Differences from the batch `append` are
  * exactly the standing-pipeline concerns:
  *
  *  - **Replay idempotence**: `mode("append")` under foreachBatch would
  *    double-write a replayed epoch; here each epoch OVERWRITES its own
  *    `epoch=<n>` directory (the LogPipeline audit stance), so checkpoint
  *    recovery neither loses nor duplicates vectors.
  *  - **Search equality**: `cell` remains a partition column under every
  *    epoch directory, so searches over the at-rest union are
  *    partition-pruned to the probed cells (`PartitionFilters`,
  *    spec-verified) and return EXACTLY what the in-memory
  *    [[Similarity.ivfTopK]] probe returns over the same corpus — the w8
  *    gate pins this against e6's oracle.
  *
  * Re-fit (a fresh `IvfIndex.build`) remains the answer to centroid drift;
  * the per-batch assignment SSE is the monitoring signal, as for `append`.
  */
object StreamingIvf {

  /** Freeze the quantizer: write `centroids/` (no corpus yet). */
  def init(centroids: DataFrame, path: String): Unit =
    centroids.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")

  /** Driver-side handle to the store's frozen quantizer. Collect ONCE
    * per maintenance/probe RUN and pass it to [[appendEpoch]] /
    * [[search]] / [[filteredSearch]] via `centsOpt` — each call
    * otherwise re-reads the centroid parquet (a footer read + collect
    * job) and a gate issues 5–8 such calls. A WITHIN-RUN handle, not a
    * cache: nothing memoizes across calls, and a caller spanning a
    * [[refit]] must re-resolve (refit swaps the quantizer). */
  def centroids(spark: SparkSession, path: String): Seq[(Int, Array[Double])] =
    Similarity.collectCentroids(spark.read.parquet(s"$path/centroids"))

  /** Cell-route one epoch's vectors and overwrite its epoch directory —
    * idempotent under foreachBatch replay. `payloadCols` ride along into
    * the at-rest layout (label/source/quality metadata) so probes can
    * filter on them without a join back to the source table — the
    * filtered-ANN-at-rest shape ([[hardNegativeSearch]]). */
  def appendEpoch(batch: DataFrame, path: String, epoch: Long,
      vecCol: String = "embedding", idCol: String = "vec_id",
      payloadCols: Seq[String] = Nil,
      centsOpt: Option[Seq[(Int, Array[Double])]] = None): Unit = {
    val spark = batch.sparkSession
    // write-intent protocol: refuse on a live maintenance lease at entry
    // AND publish an intent so a maintenance acquire refuses over this
    // in-flight write — see MaintenanceLease; path itself is a swap
    // root (refit), corpus is one (compact)
    MaintenanceLease.withEpochWriteIntent(spark, path, intentRoots(path)) {
      val cents = centsOpt.getOrElse(centroids(spark, path))
      batch.select(col(idCol) +: col(vecCol) +: payloadCols.map(col): _*)
        .withColumn("cell",
          element_at(VectorExpressions.nearestCells(col(vecCol), cents, 1), 1)
            .getField("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$path/corpus/epoch=$epoch")
    }
  }

  /** The standing pipeline: stream → cell-route → per-epoch at-rest append. */
  def run(vectors: DataFrame, path: String, checkpointDir: String,
      vecCol: String = "embedding", idCol: String = "vec_id",
      payloadCols: Seq[String] = Nil): StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        appendEpoch(batch, path, epoch, vecCol, idCol, payloadCols)
        ()
      }
      .start()

  /** The swap roots an epoch write must not race: the store root
    * ([[refit]]) and the corpus ([[compact]]). */
  private def intentRoots(path: String): Seq[String] = Seq(path, s"$path/corpus")

  /** Tombstone DELETE for the standing index — the right-to-be-forgotten
    * path that never rewrites the at-rest corpus inline: deleted ids land
    * as one per-epoch tombstone relation in the [[StoreTombstones]]
    * format, probes anti-join them, and the next [[compact]] folds them
    * INTO the rewrite (deleted rows dropped, tombstone store retired) —
    * the log-structured-merge delete. Precedence: a tombstone dominates
    * ANY epoch's row for that id, including re-appends after the delete,
    * until a compact clears it. Refuses during a maintenance swap (a
    * tombstone written after the swap staged its masked rewrite would be
    * retired UNAPPLIED by the promote). */
  def deleteEpoch(ids: DataFrame, path: String, epoch: Long,
      idCol: String = "vec_id"): Unit =
    StoreTombstones.write(ids, "ivf", path, epoch, idCol, intentRoots(path))

  /** Fold the per-epoch corpus directories into one (`epoch=-1`),
    * preserving the `cell` partitioning (and with it the probe's partition
    * pruning), APPLYING any tombstones to the rewrite and then clearing
    * them — run while the pipeline is stopped; see [[StateCompaction]]
    * for the crash-safe swap protocol. Crash ordering: the tombstone
    * clear comes AFTER the corpus swap, and reapplying a tombstone whose
    * rows are already gone is a no-op, so a crash between the two loses
    * nothing. */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = StateCompaction.DefaultTargetFileBytes,
      idCol: String = "vec_id"): Unit =
    MaintenanceLease.withLease(spark, path, op = "compact") { fence =>
      // finish a torn REFIT swap first (it swaps the store root this
      // subdir swap lives under)
      StateCompaction.recover(spark, path)
      StateCompaction.compact(spark, s"$path/corpus", key = "epoch",
        partitionCols = Seq("cell"), targetFileBytes = targetFileBytes,
        transform = StoreTombstones.mask(_, "ivf", path, idCol), fence = fence)
      StoreTombstones.retire(spark, path)
    }

  /** REFIT — the answer to centroid drift that the per-epoch append
    * model defers (see the class doc): rebuild the quantizer and
    * re-route the WHOLE at-rest corpus under it. The new centroids and
    * the re-routed corpus stage TOGETHER under the index root and
    * promote via [[StateCompaction.compactWith]]'s commit-marker swap,
    * so a crash can never leave probes pruning NEW cells against OLD
    * centroids (or vice versa) — the two directories change as one
    * commit. Pending tombstones fold into the re-route (their rows are
    * dropped, and the store lives inside the swapped root, so apply and
    * clear are the same commit — the PackedCorpus stance). Payload
    * columns ride through unchanged. Run while the pipeline is stopped,
    * like every maintenance op; a hot cell can be right-sized afterwards
    * with [[compact]]'s targetFileBytes salting. */
  def refit(spark: SparkSession, path: String, newCentroids: DataFrame,
      vecCol: String = "embedding", idCol: String = "vec_id"): Unit = {
    val cents = Similarity.collectCentroids(newCentroids)
    MaintenanceLease.withLease(spark, path, op = "refit") { fence =>
      // finish a torn COMPACT swap first (it swaps the corpus subdir
      // this root swap is about to read)
      StateCompaction.recover(spark, s"$path/corpus")
      StateCompaction.compactWith(spark, path, fence) { staging =>
        // source read built AFTER compactWith's recover(): a pre-listed
        // file index would dangle if recover finished a torn prior swap
        val corpus = spark.read.option("basePath", s"$path/corpus")
          .parquet(s"$path/corpus").drop("epoch").drop("cell")
        val masked = StoreTombstones.mask(corpus, "ivf", path, idCol)
        newCentroids.coalesce(1).write.mode("overwrite")
          .parquet(s"$staging/centroids")
        masked
          .withColumn("cell",
            element_at(VectorExpressions.nearestCells(col(vecCol), cents, 1), 1)
              .getField("cell"))
          .repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$staging/corpus/epoch=-1")
      }
    }
  }

  /** Top-k cosine probe over the at-rest epoch union — the same search
    * shape as [[graft.operators.IvfIndex.Loaded.search]]: driver-side
    * probed-cell set becomes a LITERAL isin filter so Catalyst prunes the
    * corpus partitions before the scan; epoch directories union at
    * listing. */
  def search(spark: SparkSession, path: String, queries: DataFrame, k: Int,
      nProbe: Int = 2, vecCol: String = "embedding",
      idCol: String = "vec_id",
      centsOpt: Option[Seq[(Int, Array[Double])]] = None): DataFrame =
    filteredSearch(spark, path, queries, k, nProbe, vecCol, idCol,
      centsOpt = centsOpt)

  /** Hard-negative mining over the AT-REST index — the standing form of
    * [[Similarity.hardNegativeTopK]]: the per-anchor label disequality is
    * a [[filteredSearch]] predicate over the `labelCol` payload
    * [[appendEpoch]] stored alongside each vector. Negatives come from
    * the probed cells only (the standard IVF recall trade; at full probe
    * this equals the brute-force miner, spec-pinned). */
  def hardNegativeSearch(spark: SparkSession, path: String,
      anchors: DataFrame, k: Int, nProbe: Int = 2,
      labelCol: String = "label", vecCol: String = "embedding",
      idCol: String = "vec_id",
      centsOpt: Option[Seq[(Int, Array[Double])]] = None): DataFrame =
    filteredSearch(spark, path, anchors, k, nProbe, vecCol, idCol,
      queryPayloadCols = Seq(labelCol), corpusPayloadCols = Seq(labelCol),
      predicate = Some(col(s"corpus_$labelCol") =!= col(s"query_$labelCol")),
      centsOpt = centsOpt)

  /** Semi-hard negative mining over the AT-REST index — the standing
    * form of [[Similarity.semiHardNegativeTopK]] (FaceNet's semi-hard
    * band): negatives rank only when their cosine sits STRICTLY UNDER
    * the anchor's hardest-positive cosine, both sides read from the
    * probed cells. The per-anchor threshold is the label-EQUALITY
    * probe's top-1 cosine; it rides back into the anchor frame as a
    * payload column and applies POST-SCORE via `scorePredicate` —
    * before the top-k, so over-threshold candidates never occupy result
    * slots. Anchors with no same-label partner in their probed cells
    * emit nothing (the e35 law, under the standard IVF recall trade;
    * at full probe this equals the brute-force miner, spec-pinned). */
  def semiHardNegativeSearch(spark: SparkSession, path: String,
      anchors: DataFrame, k: Int, nProbe: Int = 2,
      labelCol: String = "label", vecCol: String = "embedding",
      idCol: String = "vec_id",
      centsOpt: Option[Seq[(Int, Array[Double])]] = None): DataFrame = {
    // one quantizer read feeds BOTH probes (round 17)
    val cents = Some(centsOpt.getOrElse(centroids(spark, path)))
    val pos = filteredSearch(spark, path, anchors, k = 1, nProbe, vecCol, idCol,
        queryPayloadCols = Seq(labelCol), corpusPayloadCols = Seq(labelCol),
        predicate = Some(col(s"corpus_$labelCol") === col(s"query_$labelCol")),
        centsOpt = cents)
      .select(col("query_id"), col("cosine").as("pc"))
    val anchored = anchors.join(pos,
      anchors(idCol).cast("long") === pos("query_id")).drop("query_id")
    filteredSearch(spark, path, anchored, k, nProbe, vecCol, idCol,
      queryPayloadCols = Seq(labelCol, "pc"),
      corpusPayloadCols = Seq(labelCol),
      predicate = Some(col(s"corpus_$labelCol") =!= col(s"query_$labelCol")),
      scorePredicate = Some(col("cosine") < col("query_pc")),
      centsOpt = cents)
  }

  /** MMR diversified retrieval over the AT-REST index — the standing
    * form of [[Similarity.mmrDiversifyTopK]] (the RAG-serving shape:
    * diversified top-k straight off the standing store): the candidate
    * stage is a partition-pruned [[filteredSearch]] probe
    * (top-`candidates` cosine from each anchor's nProbe cells, un-
    * compacted tombstones masked), the greedy λ·rel − (1−λ)·redundancy
    * re-rank is [[Similarity.mmrSelect]]'s driver-side selection over
    * the CONTRACT-BOUNDED candidate set (candidates × |queries| rows —
    * never corpus-sized). Candidate vectors re-attach via one broadcast
    * join against a two-column corpus scan. The bound is ENFORCED, not
    * just documented: `maxQueries` caps the query frame (counted with a
    * limit, so the check itself never scans an unbounded input) — a
    * caller needing more anchors batches them, instead of silently
    * collecting an unbounded relation onto the driver. */
  def mmrSearch(spark: SparkSession, path: String, queries: DataFrame,
      candidates: Int, k: Int, lambda: Double = 0.7, nProbe: Int = 2,
      vecCol: String = "embedding", idCol: String = "vec_id",
      maxQueries: Int = 10000,
      centsOpt: Option[Seq[(Int, Array[Double])]] = None): DataFrame = {
    import spark.implicits._
    require(k >= 1, s"k must be >= 1: $k")
    require(candidates >= k,
      s"candidates ($candidates) must be >= k ($k) — the greedy re-rank " +
        "selects k of the candidate pool")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"lambda must be in [0, 1]: $lambda")
    require(queries.limit(maxQueries + 1).count() <= maxQueries,
      s"mmrSearch collects candidates x |queries| rows to the driver; " +
        s"|queries| exceeds maxQueries=$maxQueries — batch the anchors " +
        "or raise the cap deliberately")
    val cand = filteredSearch(spark, path, queries, candidates, nProbe,
        vecCol, idCol, centsOpt = centsOpt)
      .select(col("query_id"), col("corpus_id"), col("cosine").as("rel"))
    val corpus = spark.read.option("basePath", s"$path/corpus")
      .parquet(s"$path/corpus")
      .select(col(idCol).cast("long").as("corpus_id"),
        col(vecCol).as("corpus_vec"))
    val rows = corpus.join(broadcast(cand), "corpus_id")
      .select(col("query_id"), col("corpus_id"), col("rel"),
        col("corpus_vec"))
      .collect()
    Similarity.mmrSelect(rows, k, lambda)
      .toDF("query_id", "corpus_id", "mmr_score", "rank")
  }

  /** Triplet ASSEMBLY over the AT-REST index — the standing form of
    * [[Similarity.tripletMine]]: each anchor's hardest positive (top
    * same-label cosine among its probed cells) joined onto its top-k
    * hard negatives. Both sides are [[filteredSearch]] probes over the
    * label payload [[appendEpoch]] stored — EQUALITY for the positive,
    * disequality for the negatives — so triplet mining reads only the
    * partition-pruned probed cells and never joins back to the source
    * table. Anchors with no same-label partner in their probed cells
    * emit no triplets (the tripletMine law, under the standard IVF
    * recall trade; at full probe this equals the brute-force miner). */
  def tripletSearch(spark: SparkSession, path: String, anchors: DataFrame,
      k: Int, nProbe: Int = 2, labelCol: String = "label",
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    // one quantizer read feeds BOTH probes (round 17)
    val cents = Some(centroids(spark, path))
    val pos = filteredSearch(spark, path, anchors, k = 1, nProbe, vecCol, idCol,
        queryPayloadCols = Seq(labelCol), corpusPayloadCols = Seq(labelCol),
        predicate = Some(col(s"corpus_$labelCol") === col(s"query_$labelCol")),
        centsOpt = cents)
      .select(col("query_id"), col("corpus_id").as("pos_id"),
        col("cosine").as("pos_cos"))
    hardNegativeSearch(spark, path, anchors, k, nProbe, labelCol, vecCol,
        idCol, centsOpt = cents)
      .join(pos, "query_id")
      .select(col("query_id").as("anchor_id"), col("pos_id"), col("pos_cos"),
        col("corpus_id").as("neg_id"), col("cosine").as("neg_cos"), col("rank"))
  }

  /** The one at-rest probe every search variant rides — the
    * filtered-ANN-at-rest shape generally: anchors probe their `nProbe`
    * nearest cells (partition-pruned LITERAL isin scan), and an optional
    * `predicate` over payload columns applies AT THE PROBE SCAN — reading
    * the metadata [[appendEpoch]] stored next to each vector (source,
    * quality, label), never joining back to the source table.
    * `corpusPayloadCols` surface to the predicate as `corpus_<name>`,
    * `queryPayloadCols` (from the queries frame) as `query_<name>`.
    * Anchors are broadcast; the partial-aggregated top-k keeps the
    * exchange ≤ k rows per (anchor, partition). `scorePredicate` is the
    * POST-SCORE twin of `predicate` — it may reference `cosine` and the
    * `query_<name>` payload columns (e.g. a per-anchor margin threshold:
    * [[semiHardNegativeSearch]]), and applies before the top-k so
    * excluded candidates never occupy result slots. */
  def filteredSearch(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nProbe: Int = 2, vecCol: String = "embedding",
      idCol: String = "vec_id", queryPayloadCols: Seq[String] = Nil,
      corpusPayloadCols: Seq[String] = Nil,
      predicate: Option[Column] = None,
      scorePredicate: Option[Column] = None,
      centsOpt: Option[Seq[(Int, Array[Double])]] = None): DataFrame = {
    val cents = centsOpt.getOrElse(centroids(spark, path))
    val topk = udaf(new ScoredTopKAggregator(k))
    // The probe batch is rank-list-sized by the ANN contract, so it
    // collects ONCE — cell routing still evaluated in-cluster by the same
    // NearestCellsExpr — and re-enters the plan as a LOCAL relation: the
    // probed-cell set derives from the collected rows (no distinct-collect
    // job) and the broadcast build is job-free (LocalTableScan), where the
    // previous shape executed the queries subplan TWICE (once for the
    // probed set, once inside the broadcast build — for a derived anchor
    // frame like w41's join that was a whole re-run) (round-16
    // optimization, guide §2.4/§5).
    // __cells is null exactly when the row's embedding is null (the
    // expression null-propagates); the pre-round-16 explode-based shape
    // silently DROPPED such rows, so filter them out before collecting —
    // a join-derived anchor frame (w41's caller shape) can carry null
    // vectors, and the driver flatMap below would NPE on them (round-17
    // advice fix). The collect is bounded (spark.graft.probe.maxLocalRows):
    // a corpus-sized probe batch fails loudly instead of OOMing the driver.
    val qPlan = queries
      .select(col(idCol).cast("long").as("query_id") +:
        col(vecCol).as("query_vec") +:
        queryPayloadCols.map(c => col(c).as(s"query_$c")) :+
        transform(
          VectorExpressions.nearestCells(col(vecCol), cents, nProbe),
          s => s.getField("cell")).as("__cells"): _*)
      .filter(col("__cells").isNotNull)
    val qRows = graft.functions.ProbeCollect.collectBounded(
      qPlan, "StreamingIvf.filteredSearch")
    val cellIdx = qPlan.schema.fieldIndex("__cells")
    val probed = qRows.iterator.flatMap(_.getSeq[Int](cellIdx)).toArray.distinct
    val cellSchema = org.apache.spark.sql.types.StructType(
      qPlan.schema.fields.patch(cellIdx, Nil, 1) :+
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType, nullable = false))
    val cellRows = qRows.flatMap { r =>
      val rest = r.toSeq.patch(cellIdx, Nil, 1)
      r.getSeq[Int](cellIdx).map(c =>
        org.apache.spark.sql.Row.fromSeq(rest :+ c))
    }
    val queryCells = spark.createDataFrame(
      java.util.Arrays.asList(cellRows: _*), cellSchema)
    val scanned = spark.read.option("basePath", s"$path/corpus")
      .parquet(s"$path/corpus")
      .filter(col("cell").isin(probed.toSeq: _*))
      .select(col("cell") +: col(idCol).cast("long").as("corpus_id") +:
        col(vecCol).as("corpus_vec") +:
        corpusPayloadCols.map(c => col(c).as(s"corpus_$c")): _*)
    // un-compacted tombstones mask their rows at the probe scan
    val corpus = StoreTombstones.mask(scanned, "ivf", path, "corpus_id")
    val scored = corpus.join(broadcast(queryCells), Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
      .filter(predicate.getOrElse(lit(true)))
      .select(col("query_id") +: col("corpus_id") +:
        VectorFunctions.cosine(col("query_vec"), col("corpus_vec"))
          .as("cosine") +:
        queryPayloadCols.map(c => col(s"query_$c")): _*)
      .filter(scorePredicate.getOrElse(lit(true)))
    scored.groupBy("query_id").agg(topk(col("corpus_id"), col("cosine")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("query_id"), col("s.id").as("corpus_id"),
        col("s.score").as("cosine"), (col("pos") + 1).cast("int").as("rank"))
  }
}
