package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** 100× extrapolation evidence for the suite's two heaviest plans
  * (d36_containment_pairs, d40_curation_pipeline): counts every
  * intermediate relation of the containment candidate generator against
  * its Σ df² bound, and replays d40's connected-components convergence
  * (iterations vs exact component diameter) — at each directory given
  * (sf0.1 and the 10× /tmp/sf1 corpus). The measured growth curves are
  * recorded in tools/plans_notes.md (included into PLANS.md by GenPlans).
  * Diagnostic main, not part of the library surface.
  *
  * Run: `sbt "runMain graft.ScaleProfile /root/testdata/sf0.1 /tmp/sf1"`
  *
  * Additional modes (first arg):
  *  - `--w29 <dirs…>` — per-stage timing of the w29 compacted-chain gate
  *    (curate+encode / bm25+packed epochs / ivf epochs / compaction /
  *    probes), localizing which stage carries its 10× growth;
  *  - `--m13 <dirs…>` — stage split and run-to-run variance of the m13
  *    video-dup gate (fixture generation / demux+hash / full pairs ×3). */
object ScaleProfile {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("scale-profile").master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.headOption match {
      case Some("--w29") =>
        args.tail.foreach(d => w29Stages(spark, d)); spark.stop(); return
      case Some("--m13") =>
        args.tail.foreach(d => m13Stages(spark, d)); spark.stop(); return
      case _ =>
    }
    for (dir <- args) {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      println(s"=== $dir  docs=${docs.count()}")

      // ---- d36 containmentPairs internals (shingleN=3, thr=0.2), at the
      // gate's df cap (5) and a loosened one (64) — the cap is the lever
      // that keeps the candidate join bounded, and actual candidates must
      // sit under the Σ df² bound at every (scale, cap) point
      val inv = docs
        .select(col("doc_id"),
          explode(functions.HashFunctions.shingleHashes(col("text"), 3)).as("h"))
        .persist()
      println(s"  d36 inverted-index rows       = ${inv.count()}")
      val dfRel = inv.groupBy("h").agg(count(lit(1)).as("df")).persist()
      for (maxDf <- Seq(5, 64)) {
        val kept = dfRel.filter(col("df") <= maxDf && col("df") >= 2)
        val hotDropped = dfRel.filter(col("df") > maxDf).count()
        val bound = kept
          .agg(coalesce(sum(col("df") * col("df")), lit(0L))).head.getLong(0)
        println(s"  d36[maxDf=$maxDf] kept shingles = ${kept.count()}  " +
          s"hot-dropped = $hotDropped  sum_df2_bound = $bound")
        val pruned = inv.join(kept.select("h"), Seq("h"), "left_semi")
        val candidates = pruned.select(col("h"), col("doc_id").as("id_a"))
          .join(pruned.select(col("h"), col("doc_id").as("id_b")), "h")
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct()
        println(s"  d36[maxDf=$maxDf] candidate pairs (actual) = ${candidates.count()}")
        val verified = operators.Dedup
          .containmentPairs(docs, threshold = 0.2, maxDf = maxDf)
        println(s"  d36[maxDf=$maxDf] verified pairs = ${verified.count()}")
      }
      inv.unpersist(); dfRel.unpersist()

      // ---- d40: CC edge relation (replicating curate's stage inputs:
      // corpus = doc_id % 31 != 0, quality >= 0.9, exact-dedup survivors,
      // LSH-verified Jaccard >= 0.5 pairs), then a driver-side replay of
      // duplicateClusters' exact label-update rule (fused round 0 +
      // neighbor-min + pointer jump) and an exact BFS diameter
      val corpus = docs.filter(pmod(col("doc_id"), lit(31)) =!= 0)
      val s1 = corpus
        .select(col("doc_id"), col("text"),
          functions.TextFunctions.qualityScoreOfProfile(
            functions.TextFunctions.textProfile(col("text"))).as("q"))
        .filter(col("q") >= 0.9).select("doc_id", "text")
      val keep = operators.Dedup.exactDuplicateGroups(s1)
        .select(col("keep_id").as("doc_id"))
      val s2 = s1.join(keep, Seq("doc_id"), "left_semi")
      val pairRows = operators.Dedup
        .ngramJaccardPairs(s2, shingleN = 3, threshold = 0.5)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      println(s"  d40 cc edge pairs             = ${pairRows.length}")
      val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
        .withDefaultValue(Nil)
      pairRows.foreach { case (a, b) => adj(a) ::= b; adj(b) ::= a }
      val nodes = adj.keys.toArray.sorted
      println(s"  d40 cc nodes                  = ${nodes.length}")
      // exact diameter: BFS from every node (near-dup components are
      // small; cost is bounded by Σ |component|²)
      def bfs(s: Long): (Set[Long], Int) = {
        var seen = Set(s); var frontier = List(s); var depth = 0
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(adj).filterNot(seen)
          if (next.nonEmpty) { depth += 1; seen ++= next }
          frontier = next.distinct
        }
        (seen, depth)
      }
      var unvisited = nodes.toSet
      var nComponents = 0; var maxSize = 0; var diameter = 0
      while (unvisited.nonEmpty) {
        val (comp, _) = bfs(unvisited.head)
        nComponents += 1; maxSize = math.max(maxSize, comp.size)
        diameter = math.max(diameter, comp.map(n => bfs(n)._2).max)
        unvisited --= comp
      }
      println(s"  d40 components=$nComponents maxComponent=$maxSize " +
        s"exactDiameter=$diameter")
      // replay duplicateClusters' iteration rule verbatim:
      // round 0 (fused init): label = min(self, direct neighbors);
      // each round: nmin = min over neighbors of label(nb);
      //             pulled = min(old, nmin);
      //             jump   = min(pulled, label(pulled));
      // converged when no label decreased
      var labels = nodes.map(n => n -> math.min(n, adj(n).min)).toMap
      var iter = 0; var done = false
      while (!done && iter < 64) {
        val next = nodes.map { n =>
          val nmin = adj(n).map(labels).min
          val pulled = math.min(labels(n), nmin)
          n -> math.min(pulled, labels.getOrElse(pulled, pulled))
        }.toMap
        done = nodes.forall(n => next(n) >= labels(n))
        labels = next
        iter += 1
      }
      println(s"  d40 cc iterations to converge = $iter " +
        s"(bound: ceil(log2(diameter)) + 2 from pointer jumping)")
      val opClusters = operators.Dedup.duplicateClusters(
        spark.createDataFrame(spark.sparkContext.parallelize(
            pairRows.toSeq.map(p => org.apache.spark.sql.Row(p._1, p._2)), 4),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id_a",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("id_b",
              org.apache.spark.sql.types.LongType)))))
      val opLabels = opClusters.select("doc_id", "cluster_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      require(opLabels == labels,
        "driver replay must agree with the operator's labels")
      println(s"  d40 replay == operator labels : true")
    }
    spark.stop()
  }

  private def timed[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    println(f"  $label%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  /** w29's chain with a stopwatch between stages — the round-12 verdict
    * asked where the gate's 10× ratio lives: in the (deliberate, offline)
    * index builds + compaction shuffle, or in the probes the chain
    * serves. Mirrors SparkEntry's w29 builder stage for stage. */
  private def w29Stages(spark: SparkSession, dir: String): Unit = {
    println(s"=== w29 stages @ $dir")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val tmp = System.getProperty("java.io.tmpdir")
    val tag = "profile_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val bmPath = s"$tmp/graft_w29p_bm25_$tag"
    val pkPath = s"$tmp/graft_w29p_packed_$tag"
    val ivPath = s"$tmp/graft_w29p_ivf_$tag"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sessionState.newHadoopConf())
    Seq(bmPath, pkPath, ivPath, pkPath + ".compacting",
      pkPath + ".compacting.COMMITTED").foreach { p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true); ()
    }
    val curated = timed("curate (exact dedup + checkpoint)") {
      docs.join(
        docs.groupBy(md5(col("text")).as("dg")).agg(min("doc_id").as("doc_id"))
          .select("doc_id"),
        Seq("doc_id"), "left_semi").localCheckpoint(true)
    }
    val enc = timed("vocab build + encode + checkpoint") {
      operators.Vocab.encode(curated, operators.Vocab.build(curated, size = 256))
        .select(col("doc_id"), col("token_ids")).localCheckpoint(true)
    }
    val n = docs.agg(max("doc_id")).head.getLong(0) + 1
    val span = n / 3 + 1
    timed("bm25 + packed epoch builds (x3)") {
      (0L until 3L).foreach { e =>
        val lo = e * span; val hi = (e + 1) * span
        streaming.StreamingBm25.appendEpoch(
          curated.filter(col("doc_id") >= lo && col("doc_id") < hi), bmPath, e)
        sources.PackedCorpus.writeEpoch(
          enc.filter(col("doc_id") >= lo && col("doc_id") < hi), pkPath, e)
      }
    }
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    timed("ivf init + epoch builds (x3)") {
      streaming.StreamingIvf.init(
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").cast("int").as("centroid_id"),
            col("embedding").as("centroid_vec")), ivPath)
      val m = emb.agg(max("vec_id")).head.getLong(0) + 1
      val mspan = m / 3 + 1
      (0L until 3L).foreach { e =>
        streaming.StreamingIvf.appendEpoch(
          emb.filter(col("vec_id") >= e * mspan && col("vec_id") < (e + 1) * mspan),
          ivPath, e)
      }
    }
    timed("compact bm25 (postings + stats)") {
      streaming.StreamingBm25.compact(spark, bmPath)
    }
    timed("compact ivf corpus") { streaming.StreamingIvf.compact(spark, ivPath) }
    timed("compact packed corpus") { sources.PackedCorpus.compact(spark, pkPath) }
    val qs = curated.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 6))
          .as("text"))
    timed("bm25 probe (k=10)") {
      streaming.StreamingBm25.search(spark, bmPath, qs, k = 10)
        .queryExecution.toRdd.count()
    }
    timed("ivf probe (k=5, nProbe=2)") {
      streaming.StreamingIvf.search(spark, ivPath,
          emb.filter(col("vec_id") < 3), k = 5, nProbe = 2)
        .queryExecution.toRdd.count()
    }
    timed("packed read-back (full scan)") {
      sources.PackedCorpus.readAll(spark, pkPath).queryExecution.toRdd.count()
    }
  }

  /** m13's stage split, three repeats per stage: the gate generates a
    * REAL MJPEG/AVI fixture per row (imageio JPEG encode per frame) and
    * then demux+hashes it — both stages are JVM-state-sensitive native/JIT
    * work, which is where the bench band (1.4–2.7 s across 13 artifacts on
    * unchanged code) comes from. */
  private def m13Stages(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    println(s"=== m13 stages @ $dir")
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).repartition(spark.sparkContext.defaultParallelism)
    def media = ids.as[Long].flatMap { id =>
      val v = operators.Multimodal.syntheticVideo(id)
      val planted =
        if (id < 10) Seq((id + 10000, v))
        else if (id < 20) {
          val (meta, frames) = operators.MjpegAvi.demux(v)
          Seq((id + 20000, operators.MjpegAvi.mux(frames.init,
            meta.width, meta.height, (1000000L / meta.usPerFrame).toInt)))
        } else Seq.empty
      (id, v) +: planted
    }.toDF("media_id", "content")
    (1 to 3).foreach { i =>
      timed(s"generate fixture only (run $i)") {
        media.agg(sum(length(col("content")))).head.getLong(0)
      }
    }
    (1 to 3).foreach { i =>
      timed(s"generate + demux + hash (run $i)") {
        operators.Multimodal.videoFrameHashes(media).queryExecution.toRdd.count()
      }
    }
    (1 to 3).foreach { i =>
      timed(s"full videoDupPairs (run $i)") {
        val (pairs, release) = operators.Multimodal.videoDupPairsWithRelease(media)
        pairs.queryExecution.toRdd.count()
        release()
      }
    }
  }
}
