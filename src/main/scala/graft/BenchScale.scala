package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Scale-up evidence run (BENCH_sf1.json): times the dedup/ANN family at a
  * given SF dir with SCALE-APPROPRIATE parameters, where the CORRECTNESS
  * gate queries deliberately pin tiny fixed parameters for oracle
  * reproducibility.
  *
  * The one place the two diverge matters at 10×: e10/e17 pin EIGHT
  * centroids (first-8 training stance, SQL-reproducible), so cell
  * population grows linearly with the corpus and within-cell pair work
  * grows quadratically — measured 23-26× time at 10× data. That is a
  * property of the pinned parameter, not the operator: the published
  * scale practice (SemDeDup §3, FAISS IVF guidance) grows the cell count
  * with the corpus so cell size stays bounded. This main runs the same
  * operators with cells = max(8, n/256) — the shape a 100 TB deployment
  * would use — alongside the documents family (whose gate parameters are
  * already scale-safe).
  *
  * Emits ONE JSON line: per-query seconds at the given SF. Run at sf0.1
  * and sf1, then tools/mk_bench_sf1.py assembles the committed artifact.
  */
object BenchScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder("graft-bench-scale")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.operators.SkewGuard.registerMetricsLogger(spark)

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val nVec = emb.count()
    // scale rule: bounded cell size (~256), never a fixed cell count
    val nCells = math.max(8, (nVec / 256).toInt)
    val cents = emb.filter(col("vec_id") < nCells)
      .select(col("vec_id").cast("int").as("centroid_id"),
        col("embedding").as("centroid_vec"))

    def time(name: String)(run: => Unit): (String, Double) = {
      // best-of-2: first pass pays whole-stage-codegen compilation
      val secs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        run
        val s = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        s
      }.min
      name -> secs
    }

    // optional prefix subset (same contract as Bench/Verify) for adding a
    // single scale measurement without re-running the whole family
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").map(_.trim).toSeq)
    def wanted(name: String): Boolean = only.forall(_.exists(name.startsWith))

    val docFamily = Seq("d7_minhash_pairs", "d17_dup_clusters",
      "d36_containment_pairs", "d37_jaccard_verified", "d40_curation_pipeline",
      "w7_stream_curation", "d54_bm25", "d55_chunk_neardup",
      "w8_stream_ivf", "e21_opq_ivfpq_refine",
      // round-8 additions: CDC maintenance, streaming as-of fold, unigram
      // viterbi, NB classifier, gopher rules, pHash, k-anonymity, soft dedup
      "d75_unigram_encode", "d76_gopher_quality", "d77_cdc_compact",
      "d78_snapshot_diff", "d79_nb_classify", "d80_soft_dedup_weights",
      "d81_k_anonymity", "d82_dataset_card", "a5_asof_stream",
      "m14_image_phash",
      // round-11: retrieval with corpus-INDEPENDENT query sets (e30/e31's
      // raw 10x ratio folds in 10x more queries; these rows isolate
      // corpus growth) and the standing lexical index
      "e32_bm25_fixedq", "e33_rrf_fixedq", "w27_stream_bm25",
      "d94_char_lang_id", "d95_budget_mix", "d96_dsir_select",
      "d98_line_dedup_withindoc", "s22_packed_roundtrip",
      // round-12: skew-safe budget take, full compacted standing chain,
      // contrastive negative mining (brute-force, semi-hard, at-rest IVF)
      "d99_skew_take", "w29_compacted_chain", "e34_hard_negatives",
      "e35_semihard_negatives", "w30_ivf_hard_negatives")
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    docFamily.filter(wanted).foreach { q =>
      results += time(q) {
        SparkEntry.queries(q)(spark, sfDir).queryExecution.toRdd.count()
      }
    }
    if (wanted("e10_semantic_dedup_scaledcells"))
      results += time("e10_semantic_dedup_scaledcells") {
        Similarity.semanticDedup(emb, cents, threshold = 0.95)
          .queryExecution.toRdd.count()
      }
    if (wanted("e17_knn_graph_scaledcells"))
      results += time("e17_knn_graph_scaledcells") {
        Similarity.knnGraph(emb, cents, k = 3)
          .queryExecution.toRdd.count()
      }
    // the NO-CENTROIDS overloads (scale-rule cells derived internally,
    // including the count + sampled-seed passes): what a caller gets when
    // they DON'T choose a cell count — must match the scaledcells shape
    if (wanted("e10_semantic_dedup_default"))
      results += time("e10_semantic_dedup_default") {
        Similarity.semanticDedup(emb, threshold = 0.95)
          .queryExecution.toRdd.count()
      }
    if (wanted("e17_knn_graph_default"))
      results += time("e17_knn_graph_default") {
        Similarity.knnGraph(emb, k = 3)
          .queryExecution.toRdd.count()
      }
    // e22 with the benchmark held at a FIXED size (eval suites do not grow
    // with the corpus): the gate query ties benchmark size to the corpus
    // (label 0 ≈ 10% of rows), which squares the pair work at 10× — this is
    // the deployment shape, linear in the corpus
    if (wanted("e22_semantic_decontam_fixedbench")) {
      val bench = emb.filter(col("label") === 0).orderBy("vec_id").limit(200)
      results += time("e22_semantic_decontam_fixedbench") {
        Similarity.semanticDecontaminate(emb, bench, threshold = 0.8)
          .queryExecution.toRdd.count()
      }
    }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val line = s"""{"sf":"$sfDir","n_vectors":$nVec,"n_cells":$nCells,"queries":$qs}"""
    println(line)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_scale.json")
    Files.writeString(Path.of(outFile), line + "\n")
    spark.stop()
  }
}
