package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.HashFunctions._

/** Deduplication operators for training-data pipelines, exact → fuzzy.
  *
  * Scale notes (the design constraint is 100 TB of documents):
  *  - exact dedup is one hash-partitioned aggregation on a 32-byte digest —
  *    the shuffle moves (digest, id), never the document bodies;
  *  - MinHash/LSH turns the O(n²) pair problem into an equi-join on band
  *    keys: shuffle keys are 12 bytes, candidate verification touches only
  *    colliding pairs. Band/row counts tune the similarity threshold
  *    (threshold ≈ (1/b)^(1/r));
  *  - SimHash keeps one i64 per doc; near-dup candidates come from grouping
  *    on rotated bit-bands of that i64 — cheapest of the three at scale.
  */
object Dedup {

  // per-row-heavy passes fan narrow inputs first — see Parallelize.fanIfNarrow
  private def fanIfNarrow(df: DataFrame): DataFrame = Parallelize.fanIfNarrow(df)

  /** Exact dedup: keep the lowest-id row per md5(text). Deterministic (min
    * id), aggregation-based — no window, single shuffle on the digest. */
  def exactDuplicateGroups(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))

  /** Exact dedup, returning the surviving rows only. */
  def exactDedup(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val keep = exactDuplicateGroups(docs, textCol, idCol)
      .select(col("keep_id").as(idCol))
    docs.join(keep, idCol)   // keep-set is small relative to docs ⇒ AQE broadcasts when it fits
  }

  /** Soft dedup: instead of DROPPING duplicates, down-WEIGHT them — each
    * document gets sampling weight `1 / |its exact-duplicate group|`, so a
    * group of n copies contributes one document's worth of probability mass
    * to the training mixture (the "soft" alternative to survivor-only
    * dedup: repeated content is de-emphasized, not erased, preserving the
    * signal that popular content carries while killing the n× gradient
    * boost raw duplication gives it).
    *
    * Scale shape: same digest-only aggregation as
    * [[exactDuplicateGroups]] (shuffle carries (16-byte md5, id)), then the
    * small group relation joins back on the digest — a second key shuffle,
    * no row texts move twice, and the join is AQE-broadcastable when the
    * duplicate-group relation is small (the common case: most groups are
    * singletons and collapse in the map-side partial aggregation).
    */
  def softDedupWeights(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val groups = docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("group_size"))
    docs.select(col(idCol), md5(col(textCol)).as("content_hash"))
      .join(groups, "content_hash")
      .select(col(idCol), col("group_size"),
        (lit(1.0) / col("group_size").cast("double")).as("weight"))
  }

  /** Normalization-aware exact dedup (CCNet-style): documents identical up
    * to case, accents, digit values, punctuation, and whitespace fall into
    * one group — the standard pre-hash canonicalization of web-corpus
    * pipelines, where re-crawls differ only in counters/formatting that
    * defeat raw exact-hash dedup.
    *
    * Same scale shape as [[exactDuplicateGroups]]: normalization happens
    * inside the scan (one native-expression pass,
    * [[graft.plans.TextNormalizeExpr]]), the shuffle carries
    * (16-byte digest, id) only, one hash aggregation. `n_raw_forms` counts
    * the distinct raw texts each normalized group collapsed — 1 means
    * exact dedup would have caught it too, >1 is the lift from
    * normalizing. The distinct-count shuffles (digest, raw-md5) pairs,
    * never document bodies. */
  def normalizedDuplicateGroups(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(graft.plans.TextNormalizeExpr.normalizeText(col(textCol)))
        .as("norm_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"),
        countDistinct(md5(col(textCol))).as("n_raw_forms"))

  /** MinHash+LSH near-duplicate candidate pairs with verified estimated
    * Jaccard. Returns (id_a, id_b, jaccard_est) with id_a < id_b.
    *
    * shingleN-gram words → k-hash MinHash signature → `bands` LSH bands →
    * self-equi-join on (band, key) → dedup pairs → signature-verified
    * similarity ≥ `threshold`.
    */
  def minHashLshPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 3, k: Int = 64, bands: Int = 16, threshold: Double = 0.5,
      maxBucket: Int = 4096): DataFrame = {
    // Signatures are computed ONCE and persisted (MEMORY_AND_DISK — spills
    // rather than evicting under pressure at corpus scale): the self-join
    // otherwise re-derives the k-hash MinHash pipeline on both sides (2× the
    // dominant cost), and candidate verification would re-derive it a third
    // time. The persisted relation is tiny relative to the corpus — (id, k
    // longs). Shingling is fused into the signature expression: no shingle
    // strings are materialized (graft.plans.MinHashShingleSigExpr).
    // fanIfNarrow: the k-hash signature pass is the dominant per-row cost —
    // parallelize it when the scan planned narrow (no-op at scale)
    val sigs = fanIfNarrow(docs)
      .select(col(idCol).as("id"),
        graft.functions.TextFunctions.tokens(lower(col(textCol))).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("id"),
        graft.plans.SketchExpressions.minHashShingleSignature(col("toks"), shingleN, k).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sigs
      .select(col("id"), col("sig"), explode(lshBandKeys(col("sig"), bands, k / bands)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band").as("band"), col("bk.key").as("key"))
    // distinct candidate id pairs first (small), then re-attach signatures;
    // the guard bounds hot band-key buckets (equal-signature collapse)
    val pairs = SkewGuard.guardedSelfJoinPairs(banded, Seq("band", "key"),
      idCol = "id", payloadCol = "sig", maxBucket = maxBucket, label = "minhash_lsh")
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        minHashJaccard(col("sig_a"), col("sig_b")).as("jaccard_est"))
      .filter(col("jaccard_est") >= threshold)
  }

  /** Banded MinHash signature relation (id, sig, band, key) — the at-rest
    * dedup INDEX. At 100 TB this is written once, partitioned by (band,
    * key); arriving batches join against it without ever re-reading or
    * re-signing the resident corpus (see [[dedupAgainstIndex]]). */
  // NOT fanned (round-16 measured): signatureIndex feeds the STREAMING
  // curation fold, whose micro-batch slices are deliberately
  // localCheckpointed with epoch-stable plans (w7's codegen-cache design)
  // — fanIfNarrow inside it re-added a per-epoch exchange and took w7
  // from 6.5 to 11.6 s. Batch callers that want the fan apply it at the
  // call site.
  def signatureIndex(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 3, k: Int = 64, bands: Int = 16): DataFrame =
    docs.select(col(idCol).as("id"),
        graft.functions.TextFunctions.tokens(lower(col(textCol))).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("id"),
        graft.plans.SketchExpressions.minHashShingleSignature(col("toks"), shingleN, k).as("sig"))
      .select(col("id"), col("sig"), explode(lshBandKeys(col("sig"), bands, k / bands)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band").as("band"), col("bk.key").as("key"))

  /** Incremental dedup: flag each NEW document that near-duplicates a
    * document already in the at-rest [[signatureIndex]] — the arriving-batch
    * mirror of [[minHashLshPairs]] (which re-deduplicates a whole corpus).
    * Returns one row per new doc: (idCol, dup_of, jaccard_est), nulls when
    * clean; dup_of is the minimum qualifying index id.
    *
    * Scale shape: the join shuffles the NEW batch's 12-byte band keys
    * against the index (at rest, bucketed by (band, key) — a co-located
    * join); resident signatures are read, never recomputed. Hot band keys
    * on the index side (> maxBucket entries) are excluded from the join —
    * same stance as the SkewGuard collapse: exact-dedup the corpus first so
    * identical docs never flood a bucket; audit via [[SkewGuard.bucketStats]]. */
  def dedupAgainstIndex(newDocs: DataFrame, index: DataFrame, threshold: Double = 0.5,
      textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      maxBucket: Int = 4096): DataFrame = {
    val newBanded = signatureIndex(newDocs, textCol, idCol, shingleN, k, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hotKeys = index.groupBy("band", "key").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucket).select("band", "key")
    val idxOk = index.join(broadcast(hotKeys), Seq("band", "key"), "left_anti")
    val candIds = newBanded.select(col("id").as("new_id"), col("band"), col("key"))
      .join(idxOk.select(col("id").as("idx_id"), col("band"), col("key")), Seq("band", "key"))
      .filter(col("new_id") =!= col("idx_id"))
      .select("new_id", "idx_id").distinct()
    val idxSigs = index.select(col("id"), col("sig")).dropDuplicates("id")
    val newSigs = newBanded.select(col("id"), col("sig")).dropDuplicates("id")
    val flagged = candIds
      .join(newSigs.select(col("id").as("new_id"), col("sig").as("sig_n")), "new_id")
      .join(idxSigs.select(col("id").as("idx_id"), col("sig").as("sig_i")), "idx_id")
      .select(col("new_id"), col("idx_id"),
        minHashJaccard(col("sig_n"), col("sig_i")).as("est"))
      .filter(col("est") >= threshold)
      .groupBy(col("new_id"))
      .agg(min(struct(col("idx_id"), col("est"))).as("m"))
      .select(col("new_id"), col("m.idx_id").as("dup_of"), col("m.est").as("jaccard_est"))
    newDocs.select(col(idCol))
      .join(flagged.withColumnRenamed("new_id", idCol), Seq(idCol), "left")
  }

  /** MinHash/LSH dedup: drop every doc that collides (est. Jaccard ≥
    * threshold) with a lower-id doc. */
  def minHashDedup(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 3, k: Int = 64, bands: Int = 16, threshold: Double = 0.5,
      maxBucket: Int = 4096): DataFrame = {
    val drop = minHashLshPairs(docs, textCol, idCol, shingleN, k, bands, threshold, maxBucket)
      .select(col("id_b").as(idCol)).distinct()
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** SimHash near-dup candidate pairs: docs whose 64-bit SimHash agrees on at
    * least one of `bands` 16-bit bands, verified by Hamming distance ≤
    * `maxHamming`. */
  def simHashPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      maxHamming: Int = 3, maxBucket: Int = 4096): DataFrame = {
    val bands = 4 // 4 × 16-bit bands of the 64-bit hash
    // persisted: both join sides and the verify step reuse the sketches
    // ((id, i64) — tiny) instead of re-hashing the corpus per side
    val withSig = fanIfNarrow(docs)
      .select(col(idCol).as("id"), simHash64(col(textCol)).as("sim"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = withSig.select(col("id"), col("sim"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          call_function("shiftright", col("sim"), (b * 16).cast("int"))
            .bitwiseAND(0xFFFFL).as("key")))).as("bk"))
      .select(col("id"), col("sim"), col("bk.band"), col("bk.key"))
    // guarded distinct candidate pairs, then one verify pass on re-attached
    // sketches (equal-SimHash collapse bounds hot 16-bit-band buckets)
    SkewGuard.guardedSelfJoinPairs(banded, Seq("band", "key"),
        idCol = "id", payloadCol = "sim", maxBucket = maxBucket, label = "simhash")
      .join(withSig.select(col("id").as("id_a"), col("sim").as("sim_a")), "id_a")
      .join(withSig.select(col("id").as("id_b"), col("sim").as("sim_b")), "id_b")
      .select(col("id_a"), col("id_b"), hamming64(col("sim_a"), col("sim_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram Jaccard over LSH-pruned candidates — the expensive verify
    * step, run only on MinHash candidates so the shingle arrays of both sides
    * are materialized solely for colliding pairs: the docs relation is
    * semi-joined to the candidate id set BEFORE shingling (without the
    * semi-join Spark evaluates the shingle projection for every corpus row
    * on both join build sides — at 100 TB that is two full shingle passes
    * to verify a handful of pairs). Candidates are persisted because the
    * id-set derivation and the verify join both read them; the relation is
    * pair-count-sized.
    *
    * EAGER: the call runs Spark jobs and returns a locally checkpointed
    * frame (the candidate and shingle caches are released before it
    * returns). A caller's later filter or projection therefore does not
    * push into the pair join, and the checkpointed blocks are not
    * replicated, so the result cannot be recomputed after an executor is
    * lost. */
  def ngramJaccardPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val candidates = minHashLshPairs(docs, textCol, idCol, shingleN,
      k = 64, bands = 16, threshold = threshold * 0.5)
      .persist(MEMORY_AND_DISK)
    val candIds = candidates.select(col("id_a").as(idCol))
      .union(candidates.select(col("id_b").as(idCol))).distinct()
    // one persisted shingle pass feeds both attach joins (round 16 — the
    // containmentPairs stance; previously each join re-shingled its side)
    val sh = fanIfNarrow(docs).join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol), wordShingles(col(textCol), shingleN).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // result is pair-count-sized: materialize it eagerly, then RELEASE the
    // shingle/candidate caches — without this every call pins a
    // corpus-derived shingle-array relation for the session lifetime
    // (round-17 advice fix; the Bm25.score convention)
    val out = candidates
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .localCheckpoint(true)
    Seq(candidates, sh).foreach(_.unpersist(false))
    out
  }

  /** Sketch-quality audit rows: every LSH candidate pair carrying BOTH the
    * MinHash estimate and the exact shingle Jaccard — the "can I trust
    * k=64 at this threshold" report a user runs on a sample before
    * committing a corpus-wide dedup. `estFloor` keeps the candidate set
    * wide enough to see disagreement in BOTH directions around the real
    * dedup threshold. Same scale shape as [[ngramJaccardPairs]]: shingle
    * arrays materialize only for colliding pairs (semi-join before
    * shingling).
    *
    * EAGER: the call runs Spark jobs and returns a locally checkpointed
    * frame, so later filters do not push into the pair join (tradeoffs as
    * in [[ngramJaccardPairs]]). */
  def sketchQualityPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleN: Int = 3,
      estFloor: Double = 0.1): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val candidates = minHashLshPairs(docs, textCol, idCol, shingleN,
      k = 64, bands = 16, threshold = estFloor)
      .persist(MEMORY_AND_DISK)
    val candIds = candidates.select(col("id_a").as(idCol))
      .union(candidates.select(col("id_b").as(idCol))).distinct()
    // one persisted shingle pass feeds both attach joins (round 16 — the
    // containmentPairs stance; previously each join re-shingled its side)
    val sh = fanIfNarrow(docs).join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol), wordShingles(col(textCol), shingleN).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager + release — see ngramJaccardPairs (round-17 advice fix)
    val out = candidates
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("jaccard_est"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .localCheckpoint(true)
    Seq(candidates, sh).foreach(_.unpersist(false))
    out
  }

  /** Asymmetric containment pairs: max-side Broder containment
    * (|A∩B|/|A|, |A∩B|/|B|) — catches a short document wholly embedded in
    * a long one (boilerplate, quotation), which symmetric Jaccard dilutes
    * below threshold. MinHash-LSH is the WRONG candidate generator here
    * (band collision probability tracks Jaccard, so containment-high /
    * Jaccard-low pairs never collide); candidates instead come from the
    * shared-shingle INVERTED INDEX — any pair with a nonempty intersection
    * shares a hash, so recall is exact — with hot shingles (document
    * frequency > `maxDf`) excluded from pair GENERATION only, the standard
    * all-pairs prefilter bound: candidate count ≤ Σ df² over kept
    * shingles. Exclusion costs recall only for pairs whose ENTIRE overlap
    * is hot boilerplate shingles; the containment values themselves are
    * computed on the full shingle arrays, joined in only for candidates.
    * Shuffles carry 8-byte hashes + ids until that final verify join.
    *
    * EAGER: the call runs Spark jobs and returns a locally checkpointed
    * frame, so later filters do not push into the pair join (tradeoffs as
    * in [[ngramJaccardPairs]]). */
  def containmentPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 3, threshold: Double = 0.5, maxDf: Int = 1000): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val fanned = fanIfNarrow(docs)
    val inv = fanned
      .select(col(idCol), explode(shingleHashes(col(textCol), shingleN)).as("h"))
      .persist(MEMORY_AND_DISK)
    val kept = inv.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf && col("df") >= 2).select("h")
    val pruned = inv.join(kept, Seq("h"), "left_semi")
    val candidates = pruned.select(col("h"), col(idCol).as("id_a"))
      .join(pruned.select(col("h"), col(idCol).as("id_b")), "h")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // verify side deliberately shingles the full docs relation: containment
    // candidates are Σ df²-sized, so harvesting participant ids would need
    // either a materialization barrier on the pair relation (measured
    // slower than the shingle pass it saves) or an index-side distinct that
    // prunes almost nothing on real corpora (most docs own ≥1 mid-df
    // shingle). The df cap is the guard that matters here; contrast
    // [[ngramJaccardPairs]], whose LSH candidates ARE small enough to prune
    // the shingle pass by id.
    //
    // Round-16 shape fixes, A/B-measured at sf0.1 (5.0 → 2.2 s, identical
    // 139 pairs): the shingle relation PERSISTS so both attach joins read
    // ONE pass instead of re-shingling per side, and the attach joins are
    // hinted SHUFFLE_HASH — Catalyst's size estimate for a text scan
    // misses the shingle-array expansion and auto-BROADCAST the whole
    // corpus-sized shingle relation (guide §3.1: estimates are wrong after
    // transformation, pick the strategy), which at 100 TB would ship the
    // corpus to every executor and at bench size serialized the pass into
    // a single broadcast-build task.
    val sh = fanned.select(col(idCol), wordShingles(col(textCol), shingleN).as("sh"))
      .persist(MEMORY_AND_DISK)
    // eager + release (inv and sh are corpus-derived and large per row) —
    // see ngramJaccardPairs (round-17 advice fix)
    val out = candidates
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
        .hint("shuffle_hash"), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
        .hint("shuffle_hash"), "id_b")
      .select(col("id_a"), col("id_b"),
        containment(col("sh_a"), col("sh_b")).as("cont_a_in_b"),
        containment(col("sh_b"), col("sh_a")).as("cont_b_in_a"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
      .localCheckpoint(true)
    Seq(inv, sh).foreach(_.unpersist(false))
    out
  }

  /** Cross-document duplicated n-gram span statistics — the detection signal
    * of exact SUBSTRING-level dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better": duplicated spans, not whole near-dup
    * documents, dominate web corpora). For each doc: how many of its distinct
    * word n-grams occur in ≥ `minDocs` documents corpus-wide — the content a
    * substring-dedup pass would cut. Returns
    * (idCol, n_spans, n_dup_spans, dup_frac).
    *
    * Scale shape: one explode to (8-byte shingle hash, id) distinct pairs —
    * the shuffle carries hashes and ids, never text (the chained-token hash
    * is bijective with the shingle string, see ShingleHashesExpr). The
    * span-frequency table is a single count aggregation on the hash; the
    * per-doc rollup re-aggregates on id. Span relations are persisted
    * (MEMORY_AND_DISK) so the frequency pass and the per-doc join read the
    * exploded pairs once. No all-pairs joins anywhere — cost is linear in
    * corpus token count. */
  def dupSpanStats(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      n: Int = 5, minDocs: Int = 2): DataFrame = {
    val spans = fanIfNarrow(docs)
      .select(col(idCol), explode(shingleHashes(col(textCol), n)).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-span document frequency; shingleHashes is per-doc distinct, so
    // count(*) counts documents
    val hot = spans.groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select("h")
    val perDoc = spans
      .join(hot, Seq("h"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_dup_spans"))
    spans.groupBy(col(idCol)).agg(count(lit(1)).as("n_spans"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        round(coalesce(col("n_dup_spans"), lit(0L)).cast("double") / col("n_spans"), 4)
          .as("dup_frac"))
  }

  /** Edit-distance-verified near-duplicate pairs: MinHash-LSH candidate
    * generation, then exact character-level Levenshtein on the colliding
    * pairs — the strictest of the near-dup verify metrics (shingle Jaccard
    * is order-insensitive inside the window and blind to char-level edits;
    * edit similarity is not). Returns (id_a, id_b, edit_dist, edit_sim)
    * with edit_sim = 1 − lev/max(|a|,|b|) ≥ `threshold`.
    *
    * Scale shape: the O(|a|·|b|) Levenshtein runs ONLY on LSH-colliding
    * pairs (document text is joined in just for those), never all-pairs;
    * `lshThreshold` tunes candidate recall — any pair with edit_sim ≥ 0.8
    * on documents of this size shares most of its shingles, so the default
    * 0.4 estimated-Jaccard gate keeps them all with ~2⁻⁴⁰ miss odds. */
  def editDistancePairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", threshold: Double = 0.8,
      lshThreshold: Double = 0.4): DataFrame = {
    val candidates = minHashLshPairs(docs, textCol, idCol, threshold = lshThreshold)
    val tx = docs.select(col(idCol), col(textCol))
    val lev = levenshtein(col("ta"), col("tb")).cast("long")
    candidates
      .join(tx.select(col(idCol).as("id_a"), col(textCol).as("ta")), "id_a")
      .join(tx.select(col(idCol).as("id_b"), col(textCol).as("tb")), "id_b")
      .select(col("id_a"), col("id_b"), lev.as("edit_dist"),
        (lit(1.0) - lev.cast("double") /
          greatest(length(col("ta")), length(col("tb"))).cast("double")).as("edit_sim"))
      .filter(col("edit_sim") >= threshold)
  }

  /** Substring-level duplicated-span REMOVAL — the acting half of
    * [[dupSpanStats]]'s detection signal (Lee et al. 2022 ExactSubstr:
    * duplicated spans, not whole near-dup documents, dominate web corpora;
    * cutting them beats dropping whole docs). A token is removed when any
    * n-token window containing it occurs verbatim in ≥ `minDocs` distinct
    * documents; overlapping duplicated windows merge into one cut span, so
    * every duplicated span of length ≥ n is removed in full. Returns
    * (idCol, clean_text, n_tokens, n_removed) for EVERY input doc (clean
    * docs pass through, docs shorter than n tokens cannot contain a
    * qualifying span and are never cut).
    *
    * Scale shape — linear, no all-pairs anywhere:
    *  1. one explode to positional (8-byte window hash, id, pos) triples
    *     (native chained-hash expression, no gram strings materialized);
    *  2. window document-frequency = one count-distinct aggregation on the
    *     hash; duplicated windows are a semi-join back (hash-only shuffle);
    *  3. covered token positions = an explode of each duplicated window to
    *     its n indices, distinct per (id, idx) — bounded by n × corpus
    *     token count;
    *  4. kept tokens = anti-join of the positional token relation against
    *     covered; per-doc reassembly is one aggregation with
    *     `array_sort(collect_list(struct(idx, tok)))` — deterministic
    *     regardless of arrival order, same stance as [[Vocab.encode]].
    * The gram relation is persisted (MEMORY_AND_DISK) because the df pass
    * and the semi-join both read it; it carries (id, pos, i64) — a
    * fraction of corpus text size. */
  def removeDupSpans(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 5, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val toks = fanIfNarrow(docs)
      .select(col(idCol), graft.functions.TextFunctions.tokens(lower(col(textCol))).as("toks"))
      .persist(MEMORY_AND_DISK)
    val grams = toks
      .select(col(idCol), posexplode(
        graft.plans.SketchExpressions.positionalShingleHashes(col("toks"), n))
        .as(Seq("pos", "h")))
      .persist(MEMORY_AND_DISK)
    // duplicated across documents: distinct-doc frequency ≥ minDocs
    // (within-doc repeats alone never mark a span)
    val hot = grams.groupBy("h").agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs).select("h")
    val covered = grams.join(hot, Seq("h"), "left_semi")
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("idx"))
      .distinct()
    val kept = toks.select(col(idCol), posexplode(col("toks")).as(Seq("idx", "tok")))
      .join(covered, Seq(idCol, "idx"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("idx"), col("tok")))),
          x => x.getField("tok")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    toks.select(col(idCol), size(col("toks")).cast("long").as("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Embedding-cosine near-duplicate pairs ≥ threshold, via the ANN operator
    * (see [[Similarity]]); returns (id_a, id_b, cosine). */
  def embeddingDupPairs(embeddings: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", threshold: Double = 0.95): DataFrame =
    Similarity.cosineSelfJoinLsh(embeddings, vecCol, idCol, threshold)

  /** Connected-components clustering of near-duplicate pairs: every doc that
    * appears in a pair is labeled with the minimum doc id reachable through
    * the pair graph. Returns (doc_id, cluster_id, cluster_size) — the final
    * step of a fuzzy-dedup pipeline (pairs alone under-merge: A~B and B~C
    * must collapse to one surviving doc even when A~C never collided).
    *
    * Algorithm: min-label propagation with pointer jumping. Each iteration
    *  1. pulls the min label across graph neighbors (one equi-join + groupBy
    *     on vertex id), then
    *  2. jumps one hop through the label table (label := label-of-label),
    * so labels spread along edges AND through already-merged chains —
    * convergence in O(log diameter) iterations instead of O(diameter).
    * Near-dup clusters are near-cliques (identical docs share every band),
    * so real corpora converge in 2–4 iterations; `maxIters` = 25 still
    * covers a pathological 2^25-hop chain.
    *
    * Scale: shuffles carry only (id, label) longs — never documents. The
    * driver sees one scalar per iteration (the changed-label count used as
    * the convergence test). Labels decrease monotonically and each round
    * carries its pre-pull label as `old`, so "changed" is a filter over the
    * round's checkpointed output — no join. Each iteration's
    * labels are eagerly `localCheckpoint`ed: iterative plans otherwise nest
    * one level per round and re-analysis dominates (or overflows the
    * stack) long before the data does. The previous round is unpersisted,
    * keeping at most two (id, label) maps live. (localCheckpoint trades
    * executor-loss resilience for speed; a cluster deployment that needs
    * mid-job fault recovery should set a checkpoint dir and swap in
    * reliable `checkpoint` — same algorithm.) Singletons (docs in no pair)
    * are intentionally absent — callers keep them unconditionally.
    */
  def duplicateClusters(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIters: Int = 25): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      .persist(MEMORY_AND_DISK)
    // The loop is SERIAL eager jobs (each round localCheckpoints), so its
    // cost is rounds x per-job overhead x shuffle width — and the label
    // relation is usually orders of magnitude smaller than the corpus
    // (only docs with a near-dup edge). Right-size the loop's shuffle
    // width from the measured edge count (the count reads the relation
    // just persisted, and the first groupBy was going to materialize it
    // anyway) instead of paying session width per round: the same
    // measured fix as the w7 fold-scoped width (PLANS.md round 10). In
    // the small regime AQE is disabled too — its per-exchange stage
    // materialization costs driver jobs on bounded-tiny rounds for zero
    // replanning benefit. At real corpus scale (edges >> 10^5 x session
    // width) both settings stay untouched.
    //
    // CONCURRENCY CONTRACT (same stance as StreamingCuration's
    // fold-scoped width): the save/restore mutates SESSION-GLOBAL conf,
    // so unrelated queries planned on this session DURING the loop see
    // the scoped width/AQE — don't plan concurrent TB-scale work on the
    // same session while a small-regime cluster loop runs (the harness
    // is serial; a multi-tenant session should pass pre-right-sized
    // pairs or its own session). The JVM-wide lock below makes
    // save/restore REENTRANT-SAFE: two concurrent duplicateClusters
    // calls can no longer interleave snapshots and "restore" the scoped
    // width permanently (review finding).
    val spark = pairs.sparkSession
    val nEdges = edges.count()
    // the session-width read AND the scoping decision happen UNDER the
    // shared lock: read outside it, a concurrent scoped site's
    // temporarily-shrunk width could be mistaken for the session width
    // (mis-sizing loopWidth or skipping scoping entirely — review
    // finding). The lock is shared with every other scoped save/restore
    // site (StreamingCuration's fold) via ScopedSessionConf. If this call
    // decides NOT to scope (big regime), the lock is released immediately
    // — unscoped loops mutate nothing and need not serialize.
    graft.ScopedSessionConf.lock.lock()
    // anything throwing between lock() and the keep/release decision must
    // not leak the lock
    val (scoped, priorAqe, priorWidth) = try {
      val sessionWidth = spark.sessionState.conf.numShufflePartitions
      val loopWidth = math.max(4L, math.min(sessionWidth.toLong,
        nEdges / 100000L + 1L)).toInt
      val sc = loopWidth < sessionWidth
      val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
      val width = spark.conf.get("spark.sql.shuffle.partitions")
      if (sc) {
        // multi-key set goes through the restoring helper: if the AQE set
        // throws AFTER the width shrank, the width snaps back before the
        // rethrow — the outer catch then only unlocks, it must never see
        // a half-applied scope (review finding)
        graft.ScopedSessionConf.setAllOrRestore(spark.conf,
          Seq("spark.sql.shuffle.partitions" -> loopWidth.toString,
            "spark.sql.adaptive.enabled" -> "false"),
          Map("spark.sql.shuffle.partitions" -> width,
            "spark.sql.adaptive.enabled" -> aqe))
      } else graft.ScopedSessionConf.lock.unlock()
      (sc, aqe, width)
    } catch {
      case t: Throwable => graft.ScopedSessionConf.lock.unlock(); throw t
    }
    var labels: DataFrame = null
    try {
    // round 0 fused into init: label = min(self, direct neighbors) is one
    // groupBy over the (bidirectional) edge list — no join against an
    // identity label map. Near-cliques then finish in a single verify round.
    var store = edges.groupBy(col("src").as("id"))
      .agg(min("dst").as("nmin"))
      .select(col("id"), least(col("id"), col("nmin")).as("label"))
      .localCheckpoint(true)
    labels = store
    var iter = 0
    var done = false
    while (!done && iter < maxIters) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src").as("id")).agg(min("nl").as("nmin"))
      val pulled = labels.select(col("id"), col("label").as("old"))
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("old"),
          least(col("old"), coalesce(col("nmin"), col("old"))).as("label"))
      // pointer jump: follow the current label one hop (its own label is
      // ≤ itself by monotonicity, so least() keeps correctness trivially).
      // The pre-pull label rides along as `old` so the convergence test is
      // a filter over the checkpointed result — no extra join/shuffle.
      val nextStore = pulled
        .join(labels.select(col("id").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("ll"), col("label"))).as("label"),
          col("old"))
        .localCheckpoint(true)
      val changed = nextStore.filter(col("label") < col("old")).limit(1).count()
      store.unpersist()
      store = nextStore
      labels = nextStore.select("id", "label")
      done = changed == 0L
      iter += 1
    }
    edges.unpersist()
    if (!done)
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $maxIters iterations")
    } finally if (scoped) {
      // throw-safe restore: a failing first set must neither skip the
      // second nor leak the shared lock (the apply side's setAllOrRestore
      // mirror — review finding)
      graft.ScopedSessionConf.restoreAllAndUnlock(spark.conf,
        Seq("spark.sql.shuffle.partitions" -> priorWidth,
          "spark.sql.adaptive.enabled" -> priorAqe))
    }
    // the final size join runs OUTSIDE the scope (lazy, consumer-planned)
    // over the checkpointed label relation
    val sizes = labels.groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** Cluster-level dedup: from `docs`, drop every doc that belongs to a
    * near-dup cluster but is not its minimum-id representative. Docs in no
    * cluster survive unconditionally. */
  def clusterDedup(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val drop = duplicateClusters(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Per-document n-gram novelty: the share of a doc's DISTINCT word
    * n-grams whose FIRST corpus occurrence (minimum doc id) is this doc —
    * the "train-on-past" novelty signal curation pipelines use to surface
    * boilerplate-heavy or templated documents (novelty → 0) before any
    * pairwise dedup runs.
    *
    * Scale shape: grams are deduplicated PER ROW (`array_distinct` before
    * the explode, no shuffle), then one gram-keyed shuffle computes the
    * combinable `min(doc_id)` first-seen owner and a second joins it back —
    * both carry (gram, id) pairs only, never document text. At 100 TB the
    * gram strings would be xxhash64-hashed to 8-byte keys before the
    * shuffle; here they stay literal so the DuckDB oracle reproduces them
    * exactly. Tokenization matches the d3 profile convention (trim,
    * lowercase, split on runs of whitespace). */
  def ngramNovelty(docs: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = filter(split(trim(lower(col(textCol))), "\\s+"),
      t => length(t) > 0)
    val grams = docs
      .select(col(idCol), toks.as("w"))
      .filter(size(col("w")) >= n)
      .select(col(idCol), explode(array_distinct(
        transform(sequence(lit(0), size(col("w")) - n), i =>
          concat_ws(" ", (0 until n).map(j =>
            element_at(col("w"), (i + lit(j + 1)).cast("int"))): _*)))).as("g"))
    // first-seen owner as a WINDOW over the gram relation, not a groupBy
    // joined back: the join form computes the tokenize/ngram/explode
    // pipeline twice (the two exchange children differ, so ReuseExchange
    // cannot fire) — the window is one gram-keyed shuffle of the same rows
    val firstSeen = org.apache.spark.sql.expressions.Window.partitionBy("g")
    grams.withColumn("owner", min(col(idCol)).over(firstSeen))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("owner") === col(idCol), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_grams"), 4))
  }

  /** Quality-aware cluster dedup: per near-dup cluster keep the member with
    * the BEST `score` (ties → smallest id) — what production pipelines
    * actually want (keep the cleanest duplicate, not the one that happened
    * to carry the minimum id). Returns the surviving rows of `docs`.
    *
    * Scale shape: clustering is [[duplicateClusters]] ((id,label)-only
    * shuffles); survivor choice is one max_by-struct aggregation over the
    * cluster relation — (cluster, score, id) triples, never documents; the
    * final filter is a broadcast-friendly semi/anti join on ids. */
  def clusterDedupBy(docs: DataFrame, pairs: DataFrame, score: Column,
      idCol: String = "doc_id"): DataFrame = {
    val clusters = duplicateClusters(pairs) // labels are checkpointed inside
    val clustered = clusters.join(docs.select(col(idCol), score.as("q")), Seq(idCol))
    // survivor = max by (q asc is worst) with id tiebreak: max over a
    // struct orders lexicographically — negate the id so ties keep MIN id
    val survivors = clustered
      .groupBy("cluster_id")
      .agg(max(struct(col("q"), (-col(idCol)).as("negid"))).as("best"))
      .select((-col("best.negid")).as(idCol))
    docs.join(clusters.select(col(idCol)).except(survivors), Seq(idCol), "left_anti")
  }

  /** EXACT shared-substring spans: every maximal verbatim token run of at
    * least `minSpan` tokens shared between two documents — the
    * exact-substring duplication family of Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better"), which
    * catches verbatim boilerplate/quotation overlap that whole-document
    * MinHash misses. Complementary to [[dupSpanStats]]/[[removeDupSpans]]
    * (corpus-FREQUENCY gram semantics: any n-gram in >= minDocs docs is
    * duplicated, wherever it sits, and removal cuts EVERY copy): this is
    * the PAIRWISE form — maximal runs with positions and partner
    * attribution, and [[removeSharedSpans]] keeps the earliest copy
    * intact, the paper's keep-one-copy policy. The paper's single-node
    * tool builds a suffix array;
    * the Spark-first shape replaces it with two keyed shuffles:
    *
    *  1. ANCHOR INDEX: every `anchor`-token window becomes an inverted-
    *     index row (gram, doc, pos) — any shared span of length >= anchor
    *     contains at least one shared anchor, and a span of length
    *     s >= anchor contains exactly s - anchor + 1 consecutive anchors.
    *  2. DIAGONAL RUNS: anchor matches between a doc pair at offset
    *     difference d = pos_a - pos_b lie on one "diagonal"; a maximal
    *     verbatim span is a maximal consecutive run on a diagonal
    *     (gaps-and-islands: pos - row_number is constant within a run).
    *     span_tokens = run_length + anchor - 1.
    *
    * Shuffle 1 keys on the gram text, shuffle 2 on (doc_a, doc_b,
    * diagonal) — candidate pairs only, never all pairs. Grams present in
    * more than `maxDf` documents are excluded BEFORE the pair join (the
    * d36 df-cap stance: a corpus-wide boilerplate gram would otherwise
    * quadratically explode the join; the cap splits any span crossing the
    * hot gram, deterministically on both engines). Anchors join on the
    * gram's 8-byte xxhash64, not its text — see [[cappedAnchorIndex]] for
    * the shuffle-volume/collision trade (the SQL oracle still matches
    * exactly: hashing changes the join key, not the result, absent a
    * 64-bit collision). */
  def sharedSpans(docs: DataFrame, minSpan: Int = 10, anchor: Int = 8,
      maxDf: Int = 64, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val ok = cappedAnchorIndex(docs, anchor, maxDf, textCol, idCol)
    diagonalSpans(ok, ok, samePool = true, anchor, minSpan)
  }

  /** (id, pos, gram) anchor-window inverted index with grams present in
    * more than `maxDf` docs excluded (see [[sharedSpans]]). `gram` is the
    * window's xxhash64, NOT its text: the index is what shuffles (twice —
    * the df-cap aggregation and the pair join), and 8-byte keys cut that
    * volume ~8x vs the `anchor`-token strings (measured 10x-data ratios
    * 6-7x with text keys). A 64-bit collision would fabricate an anchor
    * match — probability ~n²/2^65 across the corpus's distinct grams
    * (~5e-7 at 4.5M grams), and a fabricated single anchor only becomes a
    * reported span if `minSpan - anchor` consecutive neighbors collide
    * too; exact-match-critical callers can verify reported spans against
    * the token streams. */
  private[graft] def cappedAnchorIndex(docs: DataFrame, anchor: Int,
      maxDf: Int, textCol: String, idCol: String): DataFrame = {
    require(anchor >= 2, s"need anchor >= 2: $anchor")
    // fanIfNarrow: the windowed-hash pass below is interpreted per anchor
    // window — the heaviest per-row work in the span family (no-op at scale)
    val toks = fanIfNarrow(docs).select(col(idCol).as("id"),
      graft.functions.TextFunctions.tokens(lower(col(textCol))).as("tk"))
    val anchors = toks.filter(size(col("tk")) >= anchor)
      .select(col("id"), posexplode(transform(
        sequence(lit(0), size(col("tk")) - anchor),
        i => xxhash64(concat_ws(" ", slice(col("tk"), i + lit(1), lit(anchor)))))))
      .toDF("id", "pos", "gram")
    val hot = anchors.groupBy("gram")
      .agg(countDistinct(col("id")).as("df"))
      .filter(col("df") > maxDf).select("gram")
    anchors.join(hot, Seq("gram"), "left_anti")
  }

  /** The REMOVAL half of [[sharedSpans]] (Lee et al. cut the duplicated
    * substring, keeping one copy): every span of `minSpan`+ tokens a doc
    * shares with an EARLIER doc (smaller id — min-id-keeps, the exact-
    * dedup stance) is deleted from the later doc's token stream. Contrast
    * [[removeDupSpans]], which deletes every covered position of any
    * corpus-frequent n-gram from ALL copies — that form de-boilerplates,
    * this form deduplicates (exactly one verbatim copy survives). Returns
    * one row per doc: token counts before/after and the md5 of the
    * cleaned token stream rejoined with single spaces (the canonical
    * tokenized form — cleaning operates on tokens, not raw bytes).
    *
    * Span intervals on a doc may overlap (spans against different earlier
    * partners): they are merged per doc with a running-max-end window
    * (gaps-and-islands) before deletion, so each token is deleted at most
    * once. Scale shape: [[sharedSpans]]'s two keyed shuffles, then one
    * window + one aggregation over the SPAN relation (small — pairs with
    * long verbatim overlap), and one broadcast-friendly left join back to
    * the corpus; interval lists ride per-row, bounded by spans per doc. */
  def removeSharedSpans(docs: DataFrame, minSpan: Int = 10, anchor: Int = 8,
      maxDf: Int = 64, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = sharedSpans(docs, minSpan, anchor, maxDf, textCol, idCol)
    val iv = spans.select(col("doc_b").as("id"), col("start_b").as("s"),
      (col("start_b") + col("span_tokens")).as("e"))
    val ord = Window.partitionBy("id").orderBy("s", "e")
    val prevMax = max(col("e")).over(
      ord.rowsBetween(Window.unboundedPreceding, -1))
    val islands = iv
      .withColumn("newIsland",
        (prevMax.isNull || col("s") > prevMax).cast("int"))
      .withColumn("island", sum(col("newIsland")).over(
        ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("id", "island")
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val ivArr = islands.groupBy("id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("iv"))
    val toks = docs.select(col(idCol),
      graft.functions.TextFunctions.tokens(lower(col(textCol))).as("tk"))
    val ivOrEmpty = coalesce(col("iv"),
      array().cast("array<struct<s:bigint,e:bigint>>"))
    val kept = filter(col("tk"), (_, i) =>
      !exists(ivOrEmpty, v =>
        i.cast("long") >= v.getField("s") && i.cast("long") < v.getField("e")))
    toks.join(ivArr, toks(idCol) === ivArr("id"), "left")
      .select(col(idCol),
        size(col("tk")).cast("long").as("n_tokens_before"),
        size(kept).cast("long").as("n_tokens_after"),
        md5(concat_ws(" ", kept)).as("clean_md5"))
  }

  /** Maximal diagonal anchor runs between two anchor indexes →
    * (doc_a, doc_b, start_a, start_b, span_tokens). `samePool = true`
    * keeps one row per unordered pair (doc_a < doc_b); false joins two
    * DISJOINT id pools bipartitely (every cross pair). */
  private[graft] def diagonalSpans(left: DataFrame, right: DataFrame,
      samePool: Boolean, anchor: Int, minSpan: Int): DataFrame = {
    require(minSpan >= anchor, s"minSpan ($minSpan) >= anchor ($anchor)")
    val joined = left
      .select(col("gram"), col("id").as("doc_a"), col("pos").as("pa"))
      .join(right.select(col("gram"), col("id").as("doc_b"), col("pos").as("pb")),
        Seq("gram"))
    val matches = (if (samePool) joined.filter(col("doc_a") < col("doc_b"))
      else joined)
      .select(col("doc_a"), col("doc_b"), (col("pa") - col("pb")).as("diag"),
        col("pa"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    matches
      .withColumn("run", col("pa") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "diag", "run")
      .agg(min(col("pa")).as("start_a"), count(lit(1)).as("n_anchors"))
      .withColumn("span_tokens", col("n_anchors") + lit(anchor - 1))
      .filter(col("span_tokens") >= minSpan)
      .select(col("doc_a"), col("doc_b"), col("start_a").cast("long").as("start_a"),
        (col("start_a") - col("diag")).cast("long").as("start_b"),
        col("span_tokens"))
  }
}
