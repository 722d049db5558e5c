package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hybrid retrieval over the STANDING stores with a FUSION-LEVEL
  * right-to-be-forgotten mask — the serving-path twin of
  * [[graft.operators.Hybrid.rrfFuse]] (w37's shape) that closes the
  * cross-store RTBF hole: a document tombstoned in ONE store is already
  * masked out of THAT store's ranked list, but the OTHER store's rank
  * contribution would happily resurface it in the fused result — a
  * forgotten doc re-served through the side door. Here the UNION of
  * every constituent store's un-compacted tombstones masks EVERY list
  * before fusion, so a forget issued against any one store suppresses
  * the doc from the fused output immediately; the per-store compacts
  * then purge the bytes on their own schedule.
  *
  * Mask semantics: each list keeps its original per-store ranks (the
  * mask removes rows, it does not re-rank — surviving docs' reciprocal
  * ranks are unchanged, deterministic, and cross-engine reproducible);
  * fusion scores then sum over the surviving rows only. This is the
  * "absence" contract RTBF needs, not a re-retrieval: re-ranking would
  * promote whatever sat below the forgotten doc, silently changing
  * every caller's results for unrelated queries between forget and
  * compact.
  *
  * Scale shape: both probes are the stores' partition-pruned searches
  * (bucket-pruned postings, cell-pruned corpus); the tombstone union is
  * delete-request-sized and BROADCAST; fusion is rank-list-sized. The
  * mask adds two broadcast anti-joins over ≤ |queries| × k rows —
  * nothing corpus-sized moves at query time.
  *
  * Reference intent: e2e/SingerEndToEndTest.java:26-121 oracles the
  * WHOLE agent, not per-writer — a delete request is an agent-level
  * contract, so its enforcement must hold at the fused surface too.
  */
object StreamingHybrid {

  /** RRF-fused search over a standing BM25 store and a standing IVF
    * store, with the cross-store tombstone mask applied to both lists
    * before fusion. `queriesText` feeds the lexical probe
    * ([[StreamingBm25.search]]'s (query_id, text) shape), `queriesVec`
    * the vector probe ([[StreamingIvf.search]]'s (vec_id, embedding)
    * shape); both must carry the same query ids. */
  def rrfSearch(spark: SparkSession, bm25Path: String, ivfPath: String,
      queriesText: DataFrame, queriesVec: DataFrame, k: Int = 10,
      topK: Int = 10, nProbe: Int = 2, rrfK: Int = 60,
      ivCents: Option[Seq[(Int, Array[Double])]] = None): DataFrame = {
    // the two probes read different stores and share no state: run them
    // overlapped (guide §2.6 — each search is a short chain of eager
    // driver-side jobs; round 17)
    val probes = graft.operators.Overlap.chains(
      () => StreamingBm25.search(spark, bm25Path, queriesText, k = k)
        .select("query_id", "doc_id", "rank"),
      () => StreamingIvf.search(spark, ivfPath, queriesVec, k = k,
          nProbe = nProbe, centsOpt = ivCents)
        .select(col("query_id"), col("corpus_id").as("doc_id"), col("rank")))
    val bm = probes(0)
    val iv = probes(1)
    graft.operators.Hybrid.rrfFuse(
      maskAll(spark, Seq(bm, iv), Seq("bm25" -> bm25Path, "ivf" -> ivfPath)),
      topK = topK, rrfK = rrfK)
  }

  /** Weighted (convex-combination) fusion over the same two standing
    * stores — [[graft.operators.Hybrid.weightedFuse]]'s serving-path
    * twin, completing the at-rest fusion matrix (rank-only RRF =
    * [[rrfSearch]], score-calibrated = this): each list min-max
    * normalizes within the query's retrieved top-k, fused =
    * wBm·bm25_norm + wIv·cosine_norm. The cross-store tombstone mask
    * applies before fusion exactly as in [[rrfSearch]]. */
  def weightedSearch(spark: SparkSession, bm25Path: String, ivfPath: String,
      queriesText: DataFrame, queriesVec: DataFrame, k: Int = 10,
      topK: Int = 10, nProbe: Int = 2, wBm: Double = 0.7,
      wIv: Double = 0.3,
      ivCents: Option[Seq[(Int, Array[Double])]] = None): DataFrame = {
    // cosine rounds to 6 BEFORE normalization (the cross-engine tie
    // contract): min-max arithmetic on exactly-agreed inputs stays
    // exactly agreed; bm25 scores arrive already rounded to 4.
    // The two probes read different stores — overlapped (guide §2.6,
    // round 17).
    val probes = graft.operators.Overlap.chains(
      () => StreamingBm25.search(spark, bm25Path, queriesText, k = k)
        .select("query_id", "doc_id", "score"),
      () => StreamingIvf.search(spark, ivfPath, queriesVec, k = k,
          nProbe = nProbe, centsOpt = ivCents)
        .select(col("query_id"), col("corpus_id").as("doc_id"),
          round(col("cosine"), 6).as("score")))
    val bm = probes(0)
    val iv = probes(1)
    val masked = maskAll(spark, Seq(bm, iv),
      Seq("bm25" -> bm25Path, "ivf" -> ivfPath))
    graft.operators.Hybrid.weightedFuse(
      masked.zip(Seq(wBm, wIv)), topK = topK)
  }

  /** Apply the UNION of every store's un-compacted tombstones to every
    * ranked list (broadcast anti-join per list; ranks preserved — see
    * the class doc for why masked rows leave gaps, not re-ranks).
    * `stores` are (kind, path) pairs — the kind resolves each store's
    * tombstone id column through [[StoreTombstones]]. */
  def maskAll(spark: SparkSession, lists: Seq[DataFrame],
      stores: Seq[(String, String)], idCol: String = "doc_id"): Seq[DataFrame] = {
    val mask = unionTombstones(spark, stores, idCol)
    lists.map(StoreTombstones.mask(_, mask, idCol))
  }

  /** The distinct union of the stores' visible tombstone ids as one
    * long `idCol` column, if any store has one. */
  def unionTombstones(spark: SparkSession, stores: Seq[(String, String)],
      idCol: String = "doc_id"): Option[DataFrame] =
    StoreTombstones.ids(spark, stores, idCol)
}
