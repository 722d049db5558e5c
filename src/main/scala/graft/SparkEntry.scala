package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions, Partitioners, TextFunctions, VectorFunctions}
import graft.model.PartitionerSpec
import graft.operators.{Bpe, Chunking, CurationPipeline, Decontaminate, Dedup, Lm, Multimodal, Packing, Redaction, Sampling, Sharding, Similarity, Transforms, Vocab}
import graft.streaming.StreamingDedup

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator from SURVEY.md §2 (or the
  * training-data extension surface) exercised end-to-end on the driver's
  * parquet tables; `oracleSql` holds the DuckDB-equivalent SQL for the
  * hash-compare gate. Column names are aliased identically on both sides.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** `events` with its `ts` column normalized to a Spark TIMESTAMP regardless
    * of the physical parquet encoding. The driver's testdata generator has
    * shipped `ts` both as TIMESTAMP(NANOS) (arriving as BIGINT nanos under
    * `spark.sql.legacy.parquet.nanosAsLong=true`) and as plain
    * `timestamp[us]`; branching on the loaded schema keeps every downstream
    * query working against either. Long nanos floor-divide to microseconds —
    * same truncation DuckDB applies reading nanos natively. */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType    => df
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other — expected TIMESTAMP, TIMESTAMP_NTZ, or BIGINT nanos")
    }
  }

  /** Synthetic media corpus for the m-queries: one deterministic PNG (even
    * ids) / JPEG (odd ids) per document id, encoded on executors — see
    * [[Multimodal.syntheticImage]] for the closed-form pixel generator the
    * DuckDB oracles recompute. */
  /** The doc-id relation spread across the cluster BEFORE a media encode/
    * decode map: the test corpora are single-row-group parquet (one task),
    * and per-row codec work is ms-scale — exactly the case where the
    * exchange of a bare id column costs less than the serial codec time it
    * parallelizes (measured sf0.1: m12 video sampling 5.7s → sub-second;
    * the cheap-metric counterexample is the NOTE below). */
  private def fannedIds(s: SparkSession, dir: String) =
    t(s, dir, "documents").select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)

  private def syntheticMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    fannedIds(s, dir).as[Long]
      .map(id => (id, Multimodal.syntheticImage(id)))
      .toDF("media_id", "content")
  }

  // audio stays UN-fanned: syntheticWav is raw PCM assembly (no codec),
  // cheap enough that the exchange + task overhead LOSES (measured sf0.1:
  // 0.5s single-task vs 1.5-1.7s fanned for m5/m6/m9) — the same measured
  // line the NOTE below draws for cheap text metrics
  private def syntheticAudio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map(id => (id, Multimodal.syntheticWav(id)))
      .toDF("media_id", "content")
  }

  // NOTE on small-input parallelism: the test corpora are single-row-group
  // parquet files, so scans are one task. A repartition-based fan-out was
  // measured (sf0.1, local[32]) and REJECTED: the exchange costs more than
  // the narrow work it parallelizes at this data size (d10: 0.53s -> 1.1s).
  // At 100 TB the scan has thousands of row-group splits and the question
  // disappears. Fan-out only pays when per-row work is ~ms-scale (e.g.
  // multimodal decode), which is where Multimodal.scala applies it.

  /** Flagship: the full singer-style ingestion pipeline in batch-replay mode —
    * documents → LogRecord envelope → filter/transform/prepend → checksum →
    * partition assignment (reference: SURVEY.md §3.2 hot path). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val docs = t(spark, dir, "documents")
    val envelope = docs.select(
      col("doc_id").cast("string").cast("binary").as("key"),
      col("text").cast("binary").as("value"),
      (col("doc_id") * 1000000L).as("timestampNanos"),
      lit(null).cast("long").as("checksum"))
    val checked = Transforms.withChecksum(envelope)
    val withHdrs = Transforms.withHeaders(checked, Map("hostname" -> "local", "az" -> "dev"))
    Transforms.withPartition(withHdrs, PartitionerSpec.Crc32Key(32))
  }

  // ---------------------------------------------------------------- queries

  /** Entries whose BUILDER is eager — it runs driver-side Spark jobs
    * before returning the DataFrame (model fits, checkpointed folds,
    * eagerly checkpointing operators such as Dedup's pair verifiers,
    * real micro-batch streams), so deriving just their output schema
    * costs 0.5-10 s each instead of analysis-only milliseconds.
    * HarnessGateSpec's scalar-only schema gate skips EXECUTING these
    * (the same structural rule still gates their dumped output via
    * tools/check_oracle.py's nested-column check, locally and in the
    * driver), so `sbt test` wall time no longer grows with every eager
    * query added. Flag any new eager entry here; the schema gate's wall
    * time jumping is the tell (graft.SchemaTimer in test scope prints
    * per-entry builder times). */
  val eagerQueries: Set[String] = Set(
    "a1_asof_join", "a2_asof_forward", "a3_asof_nearest", "a4_asof_tolerance",
    "a5_asof_stream",
    "d8_simhash_pairs", "d15_tfidf", "d17_dup_clusters", "d18_pack_sequences",
    "d21_decontaminate_bloom", "d23_vocab_encode", "d27_dedup_incremental",
    "d32_shuffle_shard", "d33_cluster_survivors", "d34_curriculum_shard",
    "d36_containment_pairs",
    "d37_jaccard_verified", "d39_edit_distance", "d40_curation_pipeline",
    "d41_lm_perplexity", "d42_heavy_hitters", "d45_bigram_lm",
    "d47_token_budget", "d53_sketch_quality", "d54_bm25", "d55_chunk_neardup",
    "d56_vocab_coverage", "d57_kneser_ney", "d61_dup_pagerank",
    "d64_split_leakage", "d65_scd2_fold", "d73_dedup_threshold_sweep",
    "d75_unigram_encode", "d79_nb_classify", "d84_nb_capped",
    "d94_char_lang_id", "d95_budget_mix", "d96_dsir_select",
    "d97_cluster_balance", "d98_line_dedup_withindoc", "d99_skew_take",
    "d85_scd2_evolve_fold", "d90_token_budget", "d91_ppl_buckets",
    "e4_ivf_kmeans", "e5_cosine_lsh_dup", "e10_semantic_dedup", "e11_ivfpq",
    "e13_ivfpq_residual", "e15_pca_project", "e17_knn_graph", "e18_opq_adc",
    "e19_opq_ivfpq", "e20_ivfpq_rerank", "e21_opq_ivfpq_refine",
    "e23_hybrid_rrf", "e27_mmr_diversify", "e28_nprobe_sweep",
    "e30_bm25_topk", "e31_rrf_hybrid", "e32_bm25_fixedq", "e33_rrf_fixedq",
    "e40_weighted_hybrid",
    "m10_image_dup_pairs",
    "q48_bucketed_join",
    "s17_orc_roundtrip", "s21_rotation_replay", "s22_packed_roundtrip",
    "w7_stream_curation", "w8_stream_ivf", "w21_stream_packing",
    "w23_stream_heavy_hitters", "w24_stream_span_decontam",
    "w25_rocksdb_dedup", "w26_stream_line_dedup", "w27_stream_bm25",
    "w28_stream_packed", "w29_compacted_chain", "w30_ivf_hard_negatives",
    "w31_ivf_filtered_probe", "w32_ivf_semdedup_incr", "w33_ivf_tombstones",
    "w34_bm25_tombstones", "w35_packed_tombstones", "e37_triplets_at_rest",
    "d104_attention_spans", "e38_ivf_mmr_at_rest", "w36_ivf_semihard",
    "w37_hybrid_at_rest", "w38_ivf_refit", "w39_bm25_rebucket",
    "w40_lease_guard", "w41_cross_store_rtbf", "w42_snapshot_restore",
    "w43_weighted_hybrid_at_rest", "d107_count_min", "w44_forget_ledger",
    "w45_incremental_snapshot")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ------------------------------------------------ relational core
    "q1_pricing_summary" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q3_shipping_priority" -> ((s, d) => {
      val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, d, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
      val l = t(s, d, "lineitem").filter(col("l_shipdate") > lit("1996-01-01"))
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),
    "q4_order_priority" -> ((s, d) => {
      val o = t(s, d, "orders")
      val l = t(s, d, "lineitem").select("l_orderkey").distinct()
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),
    "q5_local_supplier" -> ((s, d) => {
      val r = t(s, d, "region")
      val n = t(s, d, "nation")
      val c = t(s, d, "customer")
      val sup = t(s, d, "supplier")
      val o = t(s, d, "orders")
      val l = t(s, d, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(sup, l("l_suppkey") === sup("s_suppkey") &&
          c("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy("n_name")
    }),
    "q6_revenue_forecast" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01")
          && col("l_discount") >= 0.03 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))
    }),
    "q7_customers_no_orders" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").filter(col("o_orderstatus") === "P")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),
    "q8_top3_orders_per_cust" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .filter(col("o_custkey") < 50)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rn").cast("long").as("rn"))
        .orderBy("o_custkey", "rn")
    }),
    "q9_running_total" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders")
        .filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum("o_totalprice").over(w), 2).as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    }),
    "q10_rollup" -> ((s, d) => {
      t(s, d, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }),
    "q11_intersect" -> ((s, d) => {
      val o = t(s, d, "orders")
      val y95 = o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
      val y96 = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
      y95.intersect(y96).orderBy("o_custkey")
    }),
    "q12_distinct_agg" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(countDistinct("o_custkey").as("n_cust"), count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus")
    }),
    "q13_string_funcs" -> ((s, d) => {
      t(s, d, "part")
        .filter(col("p_partkey") < 200)
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_upper"),
          substring(col("p_name"), 1, 8).as("name_prefix"),
          length(col("p_name")).cast("long").as("name_len"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
          regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"))
        .orderBy("p_partkey")
    }),
    "q14_monthly_revenue" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy("month")
    }),
    "q15_math_funcs" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_partkey") < 100)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(sqrt(col("l_quantity")), 6).as("sqrt_qty"),
          round(log(col("l_extendedprice")), 6).as("ln_price"),
          round(pow(col("l_discount"), 2), 6).as("disc_sq"),
          ceil(col("l_quantity")).as("ceil_qty"),
          floor(col("l_extendedprice")).as("floor_price"),
          abs(col("l_quantity") - 25).as("abs_dev"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "q16_case_agg" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy("l_linestatus")
        .agg(
          round(sum(when(col("l_returnflag") === "R", col("l_quantity")).otherwise(0)), 2).as("returned_qty"),
          round(sum(when(col("l_returnflag") =!= "R", col("l_quantity")).otherwise(0)), 2).as("kept_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_linestatus")
    }),
    "q17_having" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy("l_partkey")
        .agg(round(sum("l_quantity"), 2).as("total_qty"), count(lit(1)).as("n"))
        .filter(col("total_qty") > 150)
        .orderBy("l_partkey")
    }),
    "q18_region_customers" -> ((s, d) => {
      val r = t(s, d, "region")
      val n = t(s, d, "nation")
      val c = t(s, d, "customer")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_customers"), round(sum("c_acctbal"), 2).as("total_acctbal"))
        .orderBy("r_name")
    }),
    "q19_disjunctive_join" -> ((s, d) => {
      val p = t(s, d, "part")
      val l = t(s, d, "lineitem")
      l.join(p, l("l_partkey") === p("p_partkey") &&
        ((p("p_brand") === "Brand#1" && l("l_quantity") >= 5) ||
         (p("p_brand") === "Brand#2" && l("l_quantity") >= 10)))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
    }),

    "q28_except" -> ((s, d) => {
      val o = t(s, d, "orders")
      val y95 = o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
      val y96 = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
      y95.except(y96).orderBy("o_custkey")
    }),
    "q29_left_join" -> ((s, d) => {
      val c = t(s, d, "customer").filter(col("c_custkey") < 100)
      val o = t(s, d, "orders").filter(col("o_orderstatus") === "P")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_pending"),
          round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("pending_total"))
        .orderBy("c_custkey")
    }),
    "q25_dense_rank" -> ((s, d) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc)
      t(s, d, "orders")
        .withColumn("rnk", dense_rank().over(w))
        .filter(col("rnk") <= 3)
        .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
          col("rnk").cast("long").as("rnk"))
        .orderBy("o_orderstatus", "rnk", "o_orderkey")
    }),
    "q26_cube" -> ((s, d) =>
      t(s, d, "orders")
        .cube(col("o_orderstatus"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_year").asc_nulls_first)),
    "q31_grouping_sets" -> ((s, d) =>
      // explicit GROUPING SETS (the rollup/cube generalization): per
      // (flag, status), per flag, and grand total in ONE pass — Spark
      // expands sets into a single Expand + hash agg, not three scans
      t(s, d, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),
    "d26_approx_distinct" -> ((s, d) => {
      // HLL++ approx distinct vocabulary per language, gated by an
      // exactness-window oracle (q30's stance): the oracle pins the EXACT
      // distinct count and `approx_within_5pct = true` — a drifting sketch
      // flips the flag and fails the gate. The 100 TB path drops the exact
      // twin: HLL partials are O(1) mergeable state per group vs the
      // exact count's shuffle of every distinct token.
      val toks = t(s, d, "documents")
        .select(col("lang"),
          explode(TextFunctions.tokens(lower(col("text")))).as("token"))
      toks.groupBy("lang")
        .agg(countDistinct(col("token")).as("exact_distinct"),
          approx_count_distinct(col("token"), 0.01).as("approx"))
        .select(col("lang"), col("exact_distinct"),
          (abs(col("approx") - col("exact_distinct")) <=
            col("exact_distinct") * 0.05).as("approx_within_5pct"))
        .orderBy("lang")
    }),
    "q32_window_suite" -> ((s, d) => {
      // window-function breadth: ranking (ntile), distribution
      // (percent_rank/cume_dist), offsets (lag/lead), running frame
      // (first_value) — ONE shuffle per partitionBy key set, all functions
      // share the sorted partition pass
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders").filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"),
          lag("o_totalprice", 1).over(w).as("prev_price"),
          lead("o_totalprice", 2).over(w).as("next2_price"),
          first("o_orderkey").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("first_key"))
        .orderBy("o_custkey", "o_orderkey")
    }),
    "q33_datetime_funcs" -> ((s, d) =>
      // datetime scalar-function breadth; dayofweek normalized to the
      // Spark convention (Sunday=1) on the oracle side
      t(s, d, "orders").filter(col("o_orderkey") < 1000)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          dayofweek(col("o_orderdate")).cast("long").as("dow"),
          date_add(col("o_orderdate").cast("date"), 90).as("due_date"),
          last_day(col("o_orderdate").cast("date")).as("month_end"),
          datediff(lit("1998-12-31").cast("date"),
            col("o_orderdate").cast("date")).cast("long").as("days_to_end"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .orderBy("o_orderkey")),
    "q35_subqueries" -> ((s, d) => {
      // correlated-subquery surface through spark.sql: scalar subquery and
      // EXISTS. Catalyst decorrelates both to joins (aggregate+join / left
      // semi) — .explain shows no per-row re-execution, so the shape
      // survives 100×. The scalar agg is rounded on both engines.
      t(s, d, "orders").createOrReplaceTempView("g_orders")
      t(s, d, "lineitem").createOrReplaceTempView("g_lineitem")
      s.sql("""SELECT o.o_orderkey,
               (SELECT round(max(l.l_extendedprice), 2) FROM g_lineitem l
                 WHERE l.l_orderkey = o.o_orderkey) AS max_line_price
               FROM g_orders o
               WHERE o.o_orderkey < 2000
                 AND EXISTS (SELECT 1 FROM g_lineitem l
                   WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
               ORDER BY o_orderkey""")
    }),
    "q38_min_cost_supplier" -> ((s, d) => {
      // TPC-H Q2 shape (min-cost supplier) over a lineitem-DERIVED
      // part-supplier relation (the testdata has no partsupp table): per
      // (part, supplier) unit cost = min observed extendedprice/quantity,
      // rounded BEFORE the min-equality so the correlated comparison is on
      // engine-stable 4-decimal values. The correlated scalar subquery is
      // reformulated Spark-first as a per-part min aggregate joined back —
      // Catalyst would decorrelate to the same shape, but writing the join
      // directly keeps the per-part min computed only for the filtered
      // parts (size 10, SMALL) instead of all parts. nation/region are
      // always-tiny broadcasts; the derived ps relation shuffles on its
      // group keys once.
      val ps = t(s, d, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(round(min(col("l_extendedprice") / col("l_quantity")), 4).as("unit_cost"))
      val eu = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val p = t(s, d, "part")
        .filter(col("p_size") === 10 && col("p_type") === "SMALL")
        .select(col("p_partkey"))
      val cand = ps.join(eu, ps("l_suppkey") === eu("s_suppkey"))
        .join(p, ps("l_partkey") === p("p_partkey"))
      // per-part min as a WINDOW over the candidate set, not a groupBy
      // joined back: the groupBy+self-join form would recompute the whole
      // ps⋈eu⋈p subtree twice (no exchange reuse — the two sides project
      // differently); the window costs one p_partkey shuffle of the
      // already-filtered candidates, whose per-part group is supplier-
      // bounded, so the sort-within-group is never skewed
      cand.withColumn("min_cost",
          min(col("unit_cost")).over(Window.partitionBy(col("p_partkey"))))
        .filter(col("unit_cost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
          col("unit_cost"))
        .orderBy(col("s_acctbal").desc, col("s_name"), col("p_partkey"))
    }),
    "q39_product_profit" -> ((s, d) => {
      // TPC-H Q9 shape: revenue by supplier nation × order year for parts
      // matching a name pattern. Part/supplier scale with the corpus so
      // they keep shuffle joins (AQE may still broadcast at small SF);
      // nation is the only forced broadcast. The name LIKE filter reaches
      // the part scan as a pushed predicate.
      val l = t(s, d, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      val p = t(s, d, "part").filter(col("p_name").like("%gear%")).select("p_partkey")
      val sup = t(s, d, "supplier").select("s_suppkey", "s_nationkey")
      val n = t(s, d, "nation").select("n_nationkey", "n_name")
      val o = t(s, d, "orders").select("o_orderkey", "o_orderdate")
      // Profit is summed in DECIMAL, not DOUBLE: a double sum is
      // summation-order-dependent, so Spark's partial-agg order vs DuckDB's
      // scan order produced last-cent drift (r7: 2/175 rows off by $0.01).
      // price/discount carry <=2 decimals, so the per-row product is exact
      // in DECIMAL(25,4); the sum is then order-independent, and the final
      // cast back to DOUBLE is deterministic on both engines.
      val price = col("l_extendedprice").cast("decimal(12,2)")
      val disc = col("l_discount").cast("decimal(12,2)")
      l.join(p, col("l_partkey") === col("p_partkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(round(sum(price * (lit(1) - disc)), 2).cast("double").as("profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),
    "q40_returned_items" -> ((s, d) => {
      // TPC-H Q10 shape: top-20 customers by revenue lost to returns in a
      // 6-month window. Both filters (returnflag, orderdate) push to their
      // scans; the top-20 is an orderBy+limit → TakeOrderedAndProject, no
      // global sort. Revenue is rounded to 2 decimals BEFORE ranking so the
      // limit boundary is engine-stable.
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01") &&
          col("o_orderdate") < lit("1997-07-01"))
        .select("o_orderkey", "o_custkey")
      val l = t(s, d, "lineitem").filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    }),
    "q41_order_count_dist" -> ((s, d) => {
      // TPC-H Q13 shape: customer order-count histogram INCLUDING the
      // zero-order customers — the left outer join with the non-key
      // condition folded into the join (not a post-filter, which would
      // turn unmatched rows back into matches). Double aggregation: the
      // first shuffles on custkey, the second on the tiny count domain.
      val c = t(s, d, "customer").select("c_custkey")
      val o = t(s, d, "orders").filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_custkey", "o_orderkey")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),
    "q42_top_supplier" -> ((s, d) => {
      // TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue.
      // The scalar max is a 1-row aggregate broadcast into the filter
      // (Catalyst's decorrelated form of the Q15 view + subquery); revenue
      // rounds to 2 decimals before the max-equality so the winner set is
      // engine-stable.
      val rev = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1996-04-01"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("total_revenue"))
      val maxRev = rev.agg(max(col("total_revenue")).as("mr"))
      t(s, d, "supplier")
        .join(rev, col("s_suppkey") === col("supplier_no"))
        .join(broadcast(maxRev), col("total_revenue") === col("mr"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    }),
    "q43_part_supplier_counts" -> ((s, d) => {
      // TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
      // over the lineitem-derived part-supplier relation, with brand/type
      // exclusions and a size IN-list. The distinct pre-pass and the
      // countDistinct both shuffle on bounded key domains.
      val sp = t(s, d, "lineitem").select("l_partkey", "l_suppkey").distinct()
      val p = t(s, d, "part")
        .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 10, 20, 30, 49))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      sp.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }),
    "q44_small_qty_revenue" -> ((s, d) => {
      // TPC-H Q17 shape: revenue that would be lost by dropping
      // small-quantity orders for one brand. The correlated per-part
      // average is a groupBy over the FULL lineitem (the subquery is not
      // brand-scoped) joined back to the brand-filtered probe side.
      // the brand filter is PART-level, so restricting lineitem to the
      // brand's partkeys first keeps every lineitem of every surviving
      // part — the per-part average over that subset equals the
      // full-corpus per-part average, and ONE lineitem pass + one
      // l_partkey window shuffle replaces the aggregate-and-join-back
      // form's second scan
      val b3 = t(s, d, "part").filter(col("p_brand") === "Brand#3").select("p_partkey")
      t(s, d, "lineitem")
        .join(b3, col("l_partkey") === col("p_partkey"))
        .withColumn("avg_qty",
          avg(col("l_quantity")).over(Window.partitionBy(col("l_partkey"))))
        .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
        .agg(round(sum(col("l_extendedprice")) / lit(7.0), 2).as("avg_yearly"))
    }),
    "q45_large_volume_cust" -> ((s, d) => {
      // TPC-H Q18 shape: customers with orders above a total-quantity
      // threshold. The HAVING-subquery is reformulated as an aggregate
      // semi-side computed ONCE and joined (Catalyst's decorrelation of
      // the IN-subquery produces the same plan); total_qty rides out of
      // that aggregate instead of being re-summed per output group.
      val bigOrders = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 350)
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    }),
    "q46_late_suppliers" -> ((s, d) => {
      // TPC-H Q21 shape (suppliers who alone kept an order waiting),
      // adapted to the available columns: late = shipped more than 90 days
      // after the order date. The EXISTS / NOT-EXISTS pair over correlated
      // self-joins is reformulated as ONE per-order aggregate — distinct
      // suppliers and distinct LATE suppliers — joined back: a qualifying
      // row is late, in a multi-supplier order, where it is the only late
      // supplier. Two shuffles on l_orderkey replace two correlated scans.
      val li = t(s, d, "lineitem")
        .join(t(s, d, "orders").filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAY")).as("late"))
      // per-order supplier stats as a WINDOW over li, not a groupBy joined
      // back (which would recompute the lineitem⋈orders join twice): one
      // l_orderkey shuffle; collect_set is bounded by the per-order
      // supplier count, and when() leaves non-late rows null, which
      // collect_set drops — so the late-distinct count matches the
      // NOT-EXISTS semantics exactly
      val ow = Window.partitionBy(col("l_orderkey"))
      val sup = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")
            .filter(col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name")
      li.withColumn("n_supp", size(collect_set(col("l_suppkey")).over(ow)))
        .withColumn("n_late_supp",
          size(collect_set(when(col("late"), col("l_suppkey"))).over(ow)))
        .filter(col("late") && col("n_supp") > 1 && col("n_late_supp") === 1)
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name")).agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(20)
    }),
    "q47_dormant_customers" -> ((s, d) => {
      // TPC-H Q22 shape: above-average-balance customers with no recent
      // orders, grouped by nation. The scalar average is a 1-row broadcast
      // cross join; "no recent orders" is a LEFT ANTI join (never a
      // NOT IN, whose null semantics would silently change the result and
      // whose plan degenerates to a nested loop).
      val cust = t(s, d, "customer")
      val avgBal = cust.filter(col("c_acctbal") > 0)
        .agg(avg(col("c_acctbal")).as("abal"))
      val recent = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1999-01-01"))
        .select(col("o_custkey"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("abal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("numcust"), round(sum(col("c_acctbal")), 2).as("totacctbal"))
        .orderBy("nation")
    }),
    "q50_recursive_cte" -> ((s, d) => {
      // WITH RECURSIVE (Spark 4.x): ancestor walk over the implicit
      // binary tree parent(k) = k div 2 — 16 seed customers, each chain
      // joined back to the customer table per level and aggregated. The
      // recursion is driver-bounded (max_depth ~ log2(key)); each
      // iteration is one small join — the UnionLoop plans like an
      // iterative DataFrame loop but inside one SQL statement.
      t(s, d, "customer").createOrReplaceTempView("g_customer_rec")
      s.sql("""WITH RECURSIVE anc(start_key, cur_key, depth) AS (
                 SELECT c_custkey, c_custkey, 0 FROM g_customer_rec
                 WHERE c_custkey >= 1000 AND c_custkey < 1016
                 UNION ALL
                 SELECT a.start_key, a.cur_key div 2, a.depth + 1
                 FROM anc a WHERE a.cur_key > 0)
               SELECT start_key, count(*) AS chain_len, max(depth) AS max_depth,
                 round(sum(c.c_acctbal), 2) AS chain_acctbal
               FROM anc JOIN g_customer_rec c ON c.c_custkey = anc.cur_key
               GROUP BY start_key ORDER BY start_key""")
    }),
    "q49_zorder_cluster" -> ((s, d) => {
      // Z-order (Morton) clustering key — the multi-dimensional data-
      // skipping layout: 16 equal buckets of the zkey-sorted subset each
      // span a BOUNDED range in both l_partkey and l_suppkey (what makes
      // a zkey-sorted parquet write skippable on either column;
      // StorageLayoutSpec pins the actual row-group skipping). The global
      // ntile window runs on the l_orderkey<2000 subset — bounded by
      // contract; the at-scale layout path is repartitionByRange(zkey),
      // not a window.
      val li = t(s, d, "lineitem").filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"))
        .withColumn("zkey",
          HashFunctions.zorder2(col("l_partkey"), col("l_suppkey")))
      li.withColumn("bucket", ntile(16).over(
          Window.orderBy(col("zkey"), col("l_orderkey"), col("l_linenumber"))))
        .groupBy("bucket")
        .agg(min("l_partkey").as("min_p"), max("l_partkey").as("max_p"),
          min("l_suppkey").as("min_s"), max("l_suppkey").as("max_s"),
          count(lit(1)).as("n"))
        .orderBy("bucket")
    }),
    "q48_bucketed_join" -> ((s, d) => {
      // Bucketed co-located join: customer and orders written bucketed (8
      // buckets) on the join key, then joined with ZERO shuffle exchange
      // on either side (StorageLayoutSpec pins the plan shape) — the 100 TB
      // pattern for a fact⋈dim join repeated across a pipeline: pay the
      // bucketing once at write time, never shuffle on read. The write is
      // idempotent (overwrite) and part of the measured op.
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_q48_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      t(s, d, "customer").write.mode("overwrite")
        .option("path", s"$wh/customer").bucketBy(8, "c_custkey")
        .sortBy("c_custkey").saveAsTable("graft_q48_customer")
      t(s, d, "orders").write.mode("overwrite")
        .option("path", s"$wh/orders").bucketBy(8, "o_custkey")
        .sortBy("o_custkey").saveAsTable("graft_q48_orders")
      s.table("graft_q48_customer")
        .join(s.table("graft_q48_orders"), col("c_custkey") === col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("c_mktsegment")
    }),
    "q51_volume_shipping" -> ((s, d) => {
      // TPC-H Q7 shape: bilateral revenue flow between two nations by ship
      // year. The 2-name nation filter broadcast-semi-reduces supplier and
      // customer BEFORE they touch the fact tables, the shipdate window
      // pushes to the lineitem scan, and the cross-pair condition is the
      // cheap post-join disjunction over two already-tiny dimension tags.
      val n = t(s, d, "nation")
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
        .select("n_nationkey", "n_name")
      val sup = t(s, d, "supplier")
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = t(s, d, "customer")
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val l = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).as("l_year"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("volume"))
      l.join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(round(sum(col("volume")), 2).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),
    "q52_market_share" -> ((s, d) => {
      // TPC-H Q8 shape: NATION_3's share of EUROPE's PROMO-part order
      // revenue per year. Numerator rides the same aggregate as the
      // denominator (conditional sum — one shuffle, no second pass); the
      // customer-side region restriction is a broadcast chain
      // nation→region, the part-type filter pushes to the part scan.
      val l = t(s, d, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      val p = t(s, d, "part").filter(col("p_type") === "PROMO").select("p_partkey")
      val euCust = t(s, d, "customer")
        .join(broadcast(t(s, d, "nation").select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey")
      val supN = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation").select(col("n_nationkey"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "supp_nation")
      l.join(p, col("l_partkey") === col("p_partkey"))
        .join(t(s, d, "orders").select("o_orderkey", "o_custkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(euCust, col("o_custkey") === col("c_custkey"))
        .join(supN, col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_3",
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)) /
            sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 6)
          .as("mkt_share"))
        .orderBy("o_year")
    }),
    "q53_important_parts" -> ((s, d) => {
      // TPC-H Q11 shape (partsupp-free analog): parts whose lineitem
      // revenue exceeds 1.5× the average part's — SF-invariant (Q11's
      // fraction-of-total cutoff scales with part count and empties at
      // test SF). The threshold is a 1-row aggregate cross-joined back
      // (broadcast scalar, q47's pattern) — Catalyst's decorrelation of
      // the Q11 HAVING subquery; ReuseExchange serves both branches from
      // one per-part shuffle.
      val pv = t(s, d, "lineitem")
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("value"))
      val total = pv.agg(avg(col("value")).as("tv"))
      pv.crossJoin(broadcast(total))
        .filter(col("value") > col("tv") * 1.5)
        .select(col("p_partkey"), round(col("value"), 2).as("value"))
        .orderBy(col("value").desc, col("p_partkey"))
    }),
    "q54_dominant_suppliers" -> ((s, d) => {
      // TPC-H Q20 shape (partsupp-free analog): suppliers who shipped more
      // than 30% of some gear-part's 1996 volume. The per-(part, supplier)
      // aggregate shuffles once on partkey+suppkey; the part-total is a
      // WINDOW over the aggregated relation (supplier-bounded groups, q38's
      // stance) — never a self-join that would recompute the aggregate.
      val gearParts = t(s, d, "part")
        .filter(col("p_name").like("%gear%")).select("p_partkey")
      val qty = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01"))
        .join(broadcast(gearParts), col("l_partkey") === col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity")).as("sq"))
      val withTot = qty.withColumn("part_total",
        sum(col("sq")).over(Window.partitionBy(col("l_partkey"))))
      // sq*10 > total*3, not sq > total*0.3: quantities are integer-valued
      // doubles, so both products are EXACT and the 30% boundary can never
      // flip on float representation (a boundary case exists in the data)
      withTot.filter(col("sq") * 10 > col("part_total") * 3)
        .select(col("l_suppkey")).distinct()
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"))
        .orderBy("s_suppkey")
    }),
    "q55_late_priority" -> ((s, d) => {
      // TPC-H Q12 shape (shipmode-free analog): order-priority mix by
      // ship-latency bucket. The latency CASE runs on the joined row —
      // one orderkey shuffle join, the tiny bucket domain re-aggregates
      // for free; the date window pushes to the lineitem scan.
      val l = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01"))
        .select("l_orderkey", "l_shipdate")
      val o = t(s, d, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
      val lag = datediff(col("l_shipdate"), col("o_orderdate"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(
          when(lag <= 15, "0-15").when(lag <= 45, "16-45").otherwise("46+")
            .as("latency_bucket"),
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)
            .as("high"))
        .groupBy("latency_bucket")
        .agg(sum(col("high")).as("high_line_count"),
          (count(lit(1)) - sum(col("high"))).as("low_line_count"))
        .orderBy("latency_bucket")
    }),
    "q56_column_profile" -> ((s, d) => {
      // ANALYZE-style column statistics (the CBO stats-collection surface):
      // one row per profiled column with non-null count, null count, and
      // exact distinct count, computed in ONE scan — a single aggregate
      // over all columns, unpivoted with stack(). Multiple exact
      // count-distincts make Catalyst plan an Expand (xN rows of
      // (value, gid) partials, still map-side combined); at 100 TB swap
      // countDistinct for approx_count_distinct and the Expand disappears
      // (HLL partials, one pass — the d26 exactness-window stance; Spark's
      // own ANALYZE TABLE uses the same sketch).
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
        "l_linestatus", "l_shipdate")
      val li = t(s, d, "lineitem")
      val aggs = cols.flatMap(c => Seq(
        count(col(c)).as(s"nn_$c"), countDistinct(col(c)).as(s"nd_$c")))
      val one = li.agg(count(lit(1)).as("n_rows"), aggs: _*)
      val stackExpr = cols.map(c => s"'$c', nn_$c, nd_$c").mkString(", ")
      one.selectExpr("n_rows",
          s"stack(${cols.size}, $stackExpr) AS (column_name, n_non_null, n_distinct)")
        .select(col("column_name"), col("n_rows"),
          (col("n_rows") - col("n_non_null")).as("n_null"), col("n_distinct"))
        .orderBy("column_name")
    }),
    "q57_skew_audit" -> ((s, d) =>
      // join-key skew diagnosis (SkewGuard.keySkewReport) for the customer
      // key of orders — the pre-join readout that decides plain shuffle vs
      // saltedJoin vs AQE skew split; exact integer basis points, one
      // key-partial aggregation, no global sort
      graft.operators.SkewGuard.keySkewReport(t(s, d, "orders"), "o_custkey")),
    "q37_lateral_topn" -> ((s, d) => {
      // LATERAL correlated-subquery join (per-customer top-2 orders by
      // price) — the modern SQL-surface twin of q8's window form. Catalyst
      // plans the lateral as a decorrelated join + per-group limit; the
      // capped customer side keeps the demo small while the shape
      // (correlated LIMIT under LATERAL) is what's gated.
      t(s, d, "customer").createOrReplaceTempView("g_customer")
      t(s, d, "orders").createOrReplaceTempView("g_orders2")
      s.sql("""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
               FROM g_customer c,
               LATERAL (SELECT o_orderkey, o_totalprice FROM g_orders2
                 WHERE o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
               WHERE c.c_custkey < 200
               ORDER BY c_custkey, o_totalprice DESC, o_orderkey""")
    }),
    "q36_full_outer" -> ((s, d) => {
      // FULL OUTER join coverage with unmatched rows on BOTH sides (left:
      // customers under 700; right: order rollups for custkeys 400-1100).
      // The small aggregated side still broadcasts; nulls flow through
      // un-coalesced except the join key.
      val l = t(s, d, "customer").filter(col("c_custkey") < 700)
        .select(col("c_custkey"), col("c_name"))
      val r = t(s, d, "orders").filter(col("o_custkey").between(400, 1100))
        .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_spent"))
      l.join(r, l("c_custkey") === r("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_name"), col("n_orders"), col("total_spent"))
        .orderBy("custkey")
    }),
    "q34_null_semantics" -> ((s, d) => {
      // ANSI NULL-handling coverage: NULLIF-derived nullable values through
      // count/sum/avg/min/max (all skip NULLs), COALESCE defaults, explicit
      // null counting, and null-safe equality (<=> ≡ IS NOT DISTINCT FROM).
      // One hash aggregation, no extra shuffle vs a plain groupBy.
      val c = t(s, d, "customer")
        .select(col("c_mktsegment"),
          when(pmod(col("c_custkey"), lit(7)) === 3, lit(null).cast("double"))
            .otherwise(col("c_acctbal")).as("nb"))
      c.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          count(col("nb")).as("n_nonnull"),
          sum(when(col("nb") <=> lit(null), 1L).otherwise(0L)).as("n_null"),
          round(sum(coalesce(col("nb"), lit(0.0))), 2).as("sum_coalesced"),
          round(avg(col("nb")), 2).as("avg_nonnull"),
          min(col("nb")).as("min_nn"), max(col("nb")).as("max_nn"))
        .orderBy("c_mktsegment")
    }),
    "q27_above_cust_avg" -> ((s, d) => {
      val o = t(s, d, "orders")
      val avgs = o.groupBy(col("o_custkey").as("ak"))
        .agg(avg("o_totalprice").as("cust_avg"))
      // NOTE: the rounded average itself is NOT output — customer averages
      // of 2-decimal prices land exactly on half-cent boundaries, where
      // engines' low-bit summation differences flip round(x, 2).
      o.join(avgs, o("o_custkey") === avgs("ak"))
        .filter(col("o_totalprice") > col("cust_avg"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),
    "q20_percentiles" -> ((s, d) => {
      // exact continuous (interpolated) percentiles, computed BOUNDARY-
      // PROOF: prices become integer cents, the interpolation index
      // p*(n-1) becomes integer TENTHS (p ∈ {0.5, 0.9} ⇒ one decimal
      // digit), the interpolated value is pure long arithmetic in
      // tenth-cents, and the 2-decimal rounding is integer HALF_UP
      // ((v+5) div 10) — no float interpolation anywhere, so a median
      // landing on a half-cent can never flip the hash against the
      // oracle (the d91 rounded-sort-key stance; ROADMAP item 4).
      // The final /100.0 of an integer is a single correctly-rounded
      // IEEE op, identical in any engine.
      val byGrp = Window.partitionBy("o_orderstatus")
      val ranked = t(s, d, "orders")
        .select(col("o_orderstatus"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"))
        .withColumn("rn", row_number().over(byGrp.orderBy("cents")))
        .withColumn("n", count(lit(1)).over(byGrp))
      // per-percentile exact order-statistic picks: index in tenths t =
      // (n-1)*10p; lo at rank t div 10 + 1; hi one above, capped at n
      // (frac = 0 there, so the cap never changes the value)
      def tenths(mult: Int) = (col("n") - 1) * mult
      def loRank(mult: Int) = floor(tenths(mult) / 10).cast("long") + 1
      def hiRank(mult: Int) = least(loRank(mult) + 1, col("n"))
      def loC(mult: Int) = max(when(col("rn") === loRank(mult), col("cents")))
      def hiC(mult: Int) = max(when(col("rn") === hiRank(mult), col("cents")))
      def priceAt(mult: Int): org.apache.spark.sql.Column = {
        val frac = tenths(mult) % 10
        val v = lit(10) * col(s"lo$mult") +
          frac * (col(s"hi$mult") - col(s"lo$mult")) // tenth-cents, exact
        (floor((v + 5) / 10).cast("long").cast("double") / 100.0)
      }
      ranked.groupBy("o_orderstatus")
        .agg(loC(5).as("lo5"), hiC(5).as("hi5"),
          loC(9).as("lo9"), hiC(9).as("hi9"),
          count(lit(1)).as("n"))
        .select(col("o_orderstatus"),
          priceAt(5).as("median_price"), priceAt(9).as("p90_price"),
          col("n"))
        .orderBy("o_orderstatus")
    }),
    "q30_approx_percentiles" -> ((s, d) =>
      // scale twin of q20: a GK quantile sketch (percentile_approx) instead
      // of the exact sort-based percentile — bounded-memory mergeable
      // partials, map-side combined, no per-group sort. At accuracy 1e5 the
      // rank-error budget ε·n < 1 for sf0.01 group sizes, so the sketch
      // provably returns the exact order statistic at rank ceil(p·n) — which
      // the oracle computes directly (DuckDB quantile_disc uses a DIFFERENT
      // convention, floor(p·(n-1)), so the oracle indexes the sorted list
      // explicitly). At 100 TB the same plan stands with rank error ≤ n/1e5;
      // see ARCHITECTURE.md on the exact-vs-approx policy.
      t(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          percentile_approx(col("o_totalprice"), lit(0.5), lit(100000)).as("median_price"),
          percentile_approx(col("o_totalprice"), lit(0.9), lit(100000)).as("p90_price"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")),
    "q21_pivot" -> ((s, d) =>
      events(s, d)
        .groupBy(pmod(col("user_id"), lit(10L)).as("user_bucket"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(round(sum("value"), 2))
        .orderBy("user_bucket")),
    "q22_array_agg" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(array_join(sort_array(collect_set(col("o_orderpriority"))), ",").as("priorities"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")),
    "q23_json_extract" -> ((s, d) =>
      events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .filter(col("k") > 50)
        .orderBy("event_id")),
    "q24_union_all" -> ((s, d) => {
      val o = t(s, d, "orders")
      val a = o.filter(year(col("o_orderdate")) === 1995)
        .select(lit("y1995").as("src"), col("o_custkey"))
      val b = o.filter(year(col("o_orderdate")) === 1996)
        .select(lit("y1996").as("src"), col("o_custkey"))
      a.unionAll(b).groupBy("src")
        .agg(count(lit(1)).as("n"), countDistinct("o_custkey").as("n_cust"))
        .orderBy("src")
    }),

    // ------------------------------------------------ singer-parity dataflow ops
    "s1_filter_regex" -> ((s, d) =>
      Transforms.filterRegex(events(s, d), "props", "\"k\": 8[0-9]\\}")
        .select("event_id", "props").orderBy("event_id")),
    "s2_regex_modify" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          substring(Transforms.regexModify(col("text"), "^(\\w+) (\\w+)", "$2 $1"), 1, 40)
            .as("modified"))
        .orderBy("doc_id")),
    "s3_prepend" -> ((s, d) =>
      events(s, d)
        .select(col("event_id"),
          Transforms.prepend(col("event_type"), " ",
            unix_millis(col("ts")), lit("host-1")).as("value"))
        .orderBy("event_id")),
    "s4_partition_assign" -> ((s, d) =>
      events(s, d)
        .withColumn("partition", Partitioners.modPartition(col("event_id"), 32))
        .groupBy("partition")
        .agg(count(lit(1)).as("n"), min("event_id").as("min_id"), max("event_id").as("max_id"))
        .orderBy("partition")),
    "s5_sample_decider" -> ((s, d) =>
      Transforms.sampleDecider(events(s, d), 37, Some(col("event_id")))
        .select("event_id", "event_type").orderBy("event_id")),
    "s6_audit_counts" -> ((s, d) =>
      events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("num_messages"), min("event_id").as("first_id"),
          max("event_id").as("last_id"))
        .orderBy("event_type")),
    "s7_checksum_crc32" -> ((s, d) =>
      // no crc32 in DuckDB — oracled against a zlib.crc32 fixture
      // (tools/gen_fixtures.py), the independent reference implementation
      Transforms.withChecksum(
        t(s, d, "documents").select(col("doc_id"), col("text").cast("binary").as("value")))
        .select(col("doc_id"), col("checksum"),
          col("checksumValid").cast("long").as("checksum_valid"))
        .orderBy("doc_id")),
    "s14_audit_events" -> ((s, d) => {
      // tracked per-message audit events (reference: LoggingAuditClient →
      // LoggingAuditEvent → AuditEventKafkaSender): every message carries
      // audit identity headers; a deterministic 5% hash-mod sample is
      // tracked (the reference draws ThreadLocalRandom < samplingRate per
      // message — KafkaWriter.java:478-480); each tracked message emits ONE
      // audit event with its identity and crc32 validity. Payloads of
      // doc_id%7==3 are corrupted AFTER checksumming, so their events must
      // carry message_valid=0 (the reference's invalidMessageMap path).
      // Oracled by an independent Python xxh64+crc32 fixture.
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("value"))
      val tracked = Transforms.withTracked(docs, samplingPct = 5)
      val hdrs = Transforms.withAuditHeaders(tracked, logName = "documents_log",
        host = "host-0", sessionId = 1723400000000L, seqCol = Some(col("doc_id")))
      val corrupted = hdrs
        .withColumn("checksum", crc32(col("value")))
        .withColumn("value", when(pmod(col("doc_id"), lit(7)) === 3,
          concat(col("value"), lit("X").cast("binary"))).otherwise(col("value")))
      Transforms.auditEvents(Transforms.withChecksum(corrupted),
          stage = "SINGER", kafkaCluster = "cluster-1", topic = "documents_topic")
        .orderBy("log_seq_num")
    }),
    "s12_avro_roundtrip" -> ((s, d) => {
      // schema-on-read: events encoded to binary avro on executors, then
      // decoded back by the native avro_decode expression — the oracle is
      // the original table (bit-exact round-trip, incl. null-union strings)
      import s.implicits._
      val schemaJson =
        """{"type":"record","name":"Ev","fields":[
           {"name":"event_id","type":"long"},
           {"name":"event_type","type":["null","string"],"default":null},
           {"name":"value","type":"double"}]}""".stripMargin
      val payloads = events(s, d).select(col("event_id"), col("event_type"), col("value"))
        .as[(Long, String, Double)]
        .map { case (id, et, v) =>
          graft.functions.WireCodecs.avroEncode(schemaJson, Long.box(id), et, Double.box(v))
        }.toDF("payload")
      payloads
        .select(graft.plans.SchemaDecode.avroDecode(col("payload"), schemaJson).as("r"))
        .select(col("r.event_id").as("event_id"), col("r.event_type").as("event_type"),
          col("r.value").as("value"))
        .orderBy("event_id")
    }),
    "s13_proto_roundtrip" -> ((s, d) => {
      // protobuf wire format: hand-encoded on executors, decoded by the
      // native proto_decode expression (varint + length-delim + fixed64)
      import s.implicits._
      import graft.functions.WireCodecs._
      import graft.plans.SchemaDecode
      val payloads = events(s, d).select(col("event_id"), col("event_type"), col("value"))
        .as[(Long, String, Double)]
        .map { case (id, et, v) => protoMessage { o =>
          writeInt64(o, 1, id); writeString(o, 2, et); writeDouble(o, 3, v)
          // an UNDECLARED field the decoder must skip (forward compatibility)
          writeInt64(o, 9, 42L)
        } }.toDF("payload")
      payloads
        .select(SchemaDecode.protoDecode(col("payload"), Seq(
          SchemaDecode.ProtoField(1, "event_id", "int64"),
          SchemaDecode.ProtoField(2, "event_type", "string"),
          SchemaDecode.ProtoField(3, "value", "double"))).as("r"))
        .select(col("r.event_id").as("event_id"), col("r.event_type").as("event_type"),
          col("r.value").as("value"))
        .orderBy("event_id")
    }),
    "s11_pack_messages" -> ((s, d) => {
      // numMessagesPerLogMessage packing (reference:
      // reader/TextLogFileReader.java:161-189): 4 consecutive messages per
      // packed LogMessage, per simulated file; only exchange is the
      // (file, bucket) hash shuffle carrying each line once
      import org.apache.spark.sql.expressions.Window
      val lines = t(s, d, "documents")
        .select((col("doc_id") % 10).as("file_id"), col("doc_id"), col("text"))
        .withColumn("pos",
          (row_number().over(Window.partitionBy("file_id").orderBy("doc_id")) - 1).cast("long"))
      Transforms.packMessages(lines, 4, valueCol = "text",
          fileCol = "file_id", posCol = "pos")
        .orderBy("file_id", "bucket")
    }),
    "s10_sql_surface" -> ((s, d) => {
      // the registered SQL functions, driven through spark.sql itself
      graft.plans.GraftFunctions.register(s)
      t(s, d, "documents").createOrReplaceTempView("graft_docs")
      s.sql("""SELECT doc_id, token_count(text) AS n_tokens,
               lang_id(text) AS pred_lang
               FROM graft_docs ORDER BY doc_id""")
    }),
    "s9_json_decode" -> ((s, d) =>
      Transforms.decodeJsonValue(
        events(s, d).withColumn("value", col("props").cast("binary")), "k INT")
        .groupBy(pmod(col("decoded.k"), lit(10)).as("k_bucket"))
        .agg(count(lit(1)).as("n"), min("decoded.k").as("min_k"), max("decoded.k").as("max_k"))
        .orderBy("k_bucket")),
    "s16_csv_roundtrip" -> ((s, d) => {
      // CSV sink → source round-trip: header, RFC-4180 quoting (fields with
      // embedded commas/quotes), explicit read schema — NO inference pass,
      // which at 100 TB would be a second full scan before the real one.
      // Doubles survive textually (Java Double.toString round-trips).
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_s16_csv"
      t(s, d, "orders").filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey"), col("o_orderstatus"),
          concat(col("o_orderpriority"), lit(",\"q\"")).as("tricky"),
          col("o_totalprice"), col("o_orderdate").cast("date").as("odate"))
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read
        .schema("o_orderkey BIGINT, o_orderstatus STRING, tricky STRING, " +
          "o_totalprice DOUBLE, odate DATE")
        .option("header", "true").csv(out)
        .orderBy("o_orderkey")
    }),
    "s19_xml_roundtrip" -> ((s, d) => {
      // XML sink → source round-trip (Spark 4 ships the XML source in
      // core): rowTag framing, explicit read schema — same no-inference
      // stance as s16/CSV (schema inference is a second full scan).
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_s19_xml"
      t(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .write.mode("overwrite").option("rowTag", "nation").format("xml").save(out)
      s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("rowTag", "nation").format("xml").load(out)
        .orderBy("n_nationkey")
    }),
    "s20_schema_evolution" -> ((s, d) => {
      // schema evolution on read: two write epochs with DIFFERENT schemas
      // (the later one adds a `lang` column) unified by mergeSchema — the
      // long-running-pipeline reality where producers upgrade while years
      // of old files stay at rest. Old-epoch rows surface the added column
      // as NULL; the aggregate proves the unified read end-to-end.
      // mergeSchema costs a footer read per file — at 100 TB pin the
      // unified schema explicitly (spark.read.schema(...)) and pay nothing;
      // the oracle's CASE mirror derives the same relation from the base
      // table.
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_s20_evo"
      val docs = t(s, d, "documents")
      docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("source"))
        .write.mode("overwrite").parquet(s"$out/epoch=0")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"), col("lang"))
        .write.mode("overwrite").parquet(s"$out/epoch=1")
      s.read.option("mergeSchema", "true").parquet(out)
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
        .orderBy("source", "lang")
    }),
    "w29_compacted_chain" -> ((s, d) => {
      // FULL standing-chain MAINTENANCE gate: w8/w27/w28 prove the
      // APPEND path of the standing pipeline (ingest → curate → index →
      // export); this proves the COMPACTION path preserves answers end to
      // end. Ingest the corpus in THREE epochs through a curation stage
      // (exact dedup, min-id per text digest) into BOTH standing indexes
      // (BM25 hash-bucketed postings + IVF cell-routed corpus) AND the
      // packed token export; COMPACT all three at-rest stores (per-epoch
      // dirs fold into epoch=-1 via StateCompaction's crash-safe staging
      // swap, bucket/cell partitioning preserved); then compute EVERY
      // output row from the post-compaction state only — structural
      // requires pin that nothing but epoch=-1 remains. The oracle
      // replays search + read over the curated corpus directly, so one
      // lost posting row, mis-merged stats partial, dropped cell, or torn
      // part pair breaks the hash. Output normalizes the three families:
      // (family, k1, k2, k3, v) = bm25 (query, rank, doc, score) /
      // ivf (query, rank, corpus, cosine) / packed (doc, n_tokens,
      // sum_ids, 0).
      val docs = t(s, d, "documents")
      // curated (and the encoded relation below) feed every epoch write
      // plus the query set and the vocab build — eager-checkpoint once so
      // the dedup groupBy/encode join don't re-run per consumer (the
      // relations are (id, text)/(id, ids) — corpus-sized but this
      // builder materializes the same bytes into the index anyway)
      val curated = docs.join(
        docs.groupBy(md5(col("text")).as("dg")).agg(min("doc_id").as("doc_id"))
          .select("doc_id"),
        Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
      val tmp = System.getProperty("java.io.tmpdir")
      val tag = d.replaceAll("[^A-Za-z0-9.]", "_")
      val bmPath = s"$tmp/graft_w29_bm25_$tag"
      val pkPath = s"$tmp/graft_w29_packed_$tag"
      val ivPath = s"$tmp/graft_w29_ivf_$tag"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), s.sessionState.newHadoopConf())
      // compaction renames directories, so a re-run must start from a
      // clean tree (epoch overwrite alone cannot undo a prior epoch=-1);
      // the packed STAGING and COMMIT-MARKER siblings live OUTSIDE
      // pkPath — clear them too, or a killed prior run's orphan marker
      // reads as a torn swap and recover() rightly throws (the bm25/ivf
      // markers live INSIDE their store roots, so deleting those roots
      // already clears them)
      (Seq(bmPath, pkPath, ivPath, pkPath + ".compacting",
        pkPath + ".compacting.COMMITTED")).foreach { p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true); ()
      }
      val enc = graft.operators.Vocab
        .encode(curated, graft.operators.Vocab.build(curated, size = 256))
        .select(col("doc_id"), col("token_ids"))
        .localCheckpoint(true)
      val n = docs.agg(max("doc_id")).head.getLong(0) + 1
      val span = n / 3 + 1
      val emb = t(s, d, "embeddings")
      // the three stores share no state (different roots, no session-conf
      // mutation): build and compact them as OVERLAPPED chains — one
      // driver thread per store, epochs within a store stay ordered (the
      // per-store write-intent marker). Guide §2.6: concurrent jobs
      // back-fill each other's task tails AND overlap the per-job
      // Catalyst/scheduling floor that dominates these small maintenance
      // writes (round 17).
      graft.operators.Overlap.chains(
        () => (0L until 3L).foreach { e =>
          val lo = e * span; val hi = (e + 1) * span
          graft.streaming.StreamingBm25.appendEpoch(
            curated.filter(col("doc_id") >= lo && col("doc_id") < hi), bmPath, e)
        },
        () => (0L until 3L).foreach { e =>
          val lo = e * span; val hi = (e + 1) * span
          graft.sources.PackedCorpus.writeEpoch(
            enc.filter(col("doc_id") >= lo && col("doc_id") < hi), pkPath, e)
        },
        () => {
          val centsDf = emb.filter(col("vec_id") < 8)
            .select(col("vec_id").cast("int").as("centroid_id"),
              col("embedding").as("centroid_vec"))
          graft.streaming.StreamingIvf.init(centsDf, ivPath)
          // one quantizer handle for the whole build (round 17)
          val ch = Some(graft.operators.Similarity.collectCentroids(centsDf))
          val m = emb.agg(max("vec_id")).head.getLong(0) + 1
          val mspan = m / 3 + 1
          (0L until 3L).foreach { e =>
            graft.streaming.StreamingIvf.appendEpoch(
              emb.filter(col("vec_id") >= e * mspan && col("vec_id") < (e + 1) * mspan),
              ivPath, e, centsOpt = ch)
          }
        })
      // the maintenance step under test — independent per store, overlapped
      graft.operators.Overlap.chains(
        () => graft.streaming.StreamingBm25.compact(s, bmPath),
        () => graft.streaming.StreamingIvf.compact(s, ivPath),
        () => graft.sources.PackedCorpus.compact(s, pkPath))
      // structural proof the answers below come from compacted state
      Seq(s"$bmPath/postings", s"$bmPath/stats", s"$ivPath/corpus", pkPath)
        .foreach { p =>
          val subs = fs.listStatus(new org.apache.hadoop.fs.Path(p))
            .filter(_.isDirectory).map(_.getPath.getName).toSet
          require(subs == Set("epoch=-1"),
            s"$p not fully compacted: ${subs.mkString(",")}")
        }
      val qs = curated.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 6))
            .as("text"))
      // the two probes read different stores — overlapped (guide §2.6)
      val probes = graft.operators.Overlap.chains(
        () => graft.streaming.StreamingBm25.search(s, bmPath, qs, k = 10)
          .select(lit("bm25").as("family"), col("query_id").cast("long").as("k1"),
            col("rank").cast("long").as("k2"), col("doc_id").cast("long").as("k3"),
            col("score").cast("double").as("v")),
        () => graft.streaming.StreamingIvf
          .search(s, ivPath, emb.filter(col("vec_id") < 3), k = 5, nProbe = 2)
          .select(lit("ivf").as("family"), col("query_id").cast("long").as("k1"),
            col("rank").cast("long").as("k2"), col("corpus_id").cast("long").as("k3"),
            round(col("cosine"), 6).as("v")))
      val bm = probes(0)
      val iv = probes(1)
      val pk = graft.sources.PackedCorpus.readAll(s, pkPath)
        .select(lit("packed").as("family"), col("doc_id").cast("long").as("k1"),
          size(col("token_ids")).cast("long").as("k2"),
          aggregate(col("token_ids"), lit(0L), (a, x) => a + x).as("k3"),
          lit(0.0).as("v"))
      bm.unionByName(iv).unionByName(pk).orderBy("family", "k1", "k2", "k3")
    }),
    "w28_stream_packed" -> ((s, d) => {
      // STANDING packed export — the training-data tail of the standing
      // pipeline (ingest → curate → index → EXPORT): vocab-encoded docs
      // arrive in THREE id-range epochs, each written as its own
      // epoch=<n> packed part-pair set (replay-idempotent overwrite, the
      // StreamingIvf/StreamingBm25 stance); the read-back union of all
      // epochs must reproduce the batch roundtrip exactly — s22's
      // oracle, verbatim.
      val docs = t(s, d, "documents")
      val enc = graft.operators.Vocab
        .encode(docs, graft.operators.Vocab.build(docs, size = 256))
        .select(col("doc_id"), col("token_ids"))
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_w28_packed_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      val n = docs.agg(max("doc_id")).head.getLong(0) + 1
      val span = n / 3 + 1
      // packed epochs write disjoint epoch dirs under their own
      // write-intent markers — overlapped (guide §2.6, round 17)
      graft.operators.Overlap.chains((0L until 3L).map(e => () =>
        graft.sources.PackedCorpus.writeEpoch(
          enc.filter(col("doc_id") >= e * span && col("doc_id") < (e + 1) * span),
          dir, e)): _*)
      graft.sources.PackedCorpus.readAll(s, dir)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          aggregate(col("token_ids"), lit(0L), (acc, x) => acc + x)
            .as("sum_ids"))
        .orderBy("doc_id")
    }),
    "w35_packed_tombstones" -> ((s, d) => {
      // the DELETE path of the standing packed EXPORT — the third store
      // of the right-to-be-forgotten chain (w33 = IVF, w34 = BM25): a
      // tombstoned doc vanishes from readAll immediately (broadcast
      // anti-join at the part-pair scan) and from the BYTES at the next
      // compact — the rewrite reads through the masked readAll, and the
      // whole-directory swap retires the tombstone store atomically with
      // it. This gate reads AFTER compaction with structural requires
      // (epoch=-1 only, tombstone store gone); the spec pins the
      // pre-compact mask, tombstone-dominates-re-append, and resurrect-
      // after-clear laws.
      val docs = t(s, d, "documents")
      val enc = graft.operators.Vocab
        .encode(docs, graft.operators.Vocab.build(docs, size = 256))
        .select(col("doc_id"), col("token_ids"))
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_w35_ptomb_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), s.sessionState.newHadoopConf())
      // compaction renames directories: a re-run must start from a clean
      // tree (the swap's staging/marker siblings live under dir too)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      fs.delete(new org.apache.hadoop.fs.Path(dir + ".compacting"), true)
      fs.delete(new org.apache.hadoop.fs.Path(dir + ".compacting.COMMITTED"), false)
      val n = docs.agg(max("doc_id")).head.getLong(0) + 1
      val span = n / 2 + 1
      graft.sources.PackedCorpus.writeEpoch(
        enc.filter(col("doc_id") < span), dir, 0)
      graft.sources.PackedCorpus.writeEpoch(
        enc.filter(col("doc_id") >= span), dir, 1)
      graft.sources.PackedCorpus.deleteEpoch(
        docs.filter(pmod(col("doc_id"), lit(13)) === 0).select("doc_id"), dir, 0)
      graft.sources.PackedCorpus.compact(s, dir)
      require(fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(_.isDirectory).map(_.getPath.getName).toSet == Set("epoch=-1"),
        "the corpus must hold only the compacted epoch")
      require(graft.streaming.StoreTombstones.retired(s, dir),
        "compaction must retire the applied tombstone store")
      graft.sources.PackedCorpus.readAll(s, dir)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          aggregate(col("token_ids"), lit(0L), (acc, x) => acc + x)
            .as("sum_ids"))
        .orderBy("doc_id")
    }),
    "s22_packed_roundtrip" -> ((s, d) => {
      // packed-binary token-corpus export + import (PackedCorpus — the
      // Megatron-style .bin/.idx indexed layout training loaders mmap):
      // vocab-encode the corpus (d23's exact encoding), WRITE the id
      // arrays as little-endian int32 part pairs, READ them back through
      // the index, and emit per-doc (n_tokens, sum_ids) FROM THE
      // READ-BACK — the oracle recomputes both straight from the text,
      // so a single flipped byte, mis-ordered entry, or torn pair breaks
      // the row. Gate output is derived from what came off disk, not
      // from the in-memory frame.
      val docs = t(s, d, "documents")
      val enc = graft.operators.Vocab
        .encode(docs, graft.operators.Vocab.build(docs, size = 256))
        .select(col("doc_id"), col("token_ids"))
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_s22_packed_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      graft.sources.PackedCorpus.write(enc, dir)
      graft.sources.PackedCorpus.read(s, dir)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          aggregate(col("token_ids"), lit(0L), (acc, x) => acc + x)
            .as("sum_ids"))
        .orderBy("doc_id")
    }),
    "s21_rotation_replay" -> ((s, d) => {
      // the reference's rotate-mid-stream + crash + resume race under the
      // DRIVER GATE (reference: DefaultLogStreamProcessorTest.java:162-286
      // — write, rotate 3x while writing, crash between batches, resume
      // from the committed watermark, assert every message exactly once):
      // documents become thrift frames written across THREE head-file
      // generations with rename-rotation between ingest passes, each pass
      // a fresh graft-tail stream resuming from the SAME checkpoint (the
      // stop between passes IS the crash). The exactly-once file sink +
      // inode-keyed offsets must yield each doc exactly once with its
      // full text — n_copies counts dups, the row count catches loss, and
      // n_chars catches torn/truncated frames.
      import java.nio.file.{Files => JFiles, Paths => JPaths, StandardOpenOption}
      val base = JPaths.get(System.getProperty("java.io.tmpdir"),
        "graft_s21_" + d.replaceAll("[^A-Za-z0-9.]", "_"))
      def rmrf(p: java.nio.file.Path): Unit = if (JFiles.exists(p))
        JFiles.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { JFiles.deleteIfExists(f); () })
      rmrf(base) // bench runs the query twice — each run starts clean
      val logDir = base.resolve("logs"); val cp = base.resolve("cp")
      val outDir = base.resolve("out")
      JFiles.createDirectories(logDir)
      val docs = t(s, d, "documents")
      val bounds = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val (idLo, idHi) = (bounds.getLong(0), bounds.getLong(1))
      val span = (idHi - idLo) / 3 + 1
      val cut1 = idLo + span; val cut2 = idLo + 2 * span
      val head = logDir.resolve("app.log")
      def writeRange(lo: Long, hi: Long): Unit = {
        val it = docs.select(col("doc_id"), col("text"))
          .filter(col("doc_id") >= lo && col("doc_id") < hi)
          .orderBy("doc_id").toLocalIterator() // streamed, never bulk-collected
        val out = new java.io.ByteArrayOutputStream(1 << 20)
        while (it.hasNext) {
          val r = it.next()
          out.write(graft.sources.ThriftLogCodec.encodeFrame(
            r.getLong(0).toString.getBytes("UTF-8"),
            r.getString(1).getBytes("UTF-8"), Some(r.getLong(0)), None))
        }
        JFiles.write(head, out.toByteArray,
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      }
      def drainOnce(): Unit = {
        val q = s.readStream.format("graft-tail")
          .option("path", logDir.toString).option("format", "thrift")
          .load()
          .selectExpr("CAST(key AS STRING) AS doc_key",
            "CAST(value AS STRING) AS text")
          .writeStream.format("parquet")
          .option("path", outDir.toString)
          .option("checkpointLocation", cp.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger
            .ProcessingTime("100 milliseconds"))
          .start()
        q.processAllAvailable(); q.stop() // the crash point
      }
      def rotate(gen: Int): Unit =
        JFiles.move(head, logDir.resolve(s"app.log.$gen"))
      writeRange(idLo, cut1); drainOnce()
      rotate(1); writeRange(cut1, cut2); drainOnce()
      rotate(2); writeRange(cut2, Long.MaxValue); drainOnce()
      s.read.parquet(outDir.toString)
        .groupBy(col("doc_key").cast("long").as("doc_id"))
        .agg(count(lit(1)).as("n_copies"),
          min(length(col("text"))).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),
    "s17_orc_roundtrip" -> ((s, d) => {
      // ORC sink → source round-trip: the other mainstream columnar at-rest
      // format (Spark ships the ORC reader/writer natively). Predicate
      // pushdown and column pruning work the same as parquet — the oracle
      // recomputes the expected rows from the parquet original.
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_s17_orc"
      t(s, d, "lineitem").filter(col("l_orderkey") < 500)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .filter(col("l_returnflag") =!= "X") // exercises ORC predicate pushdown
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "s18_gzip_text" -> ((s, d) => {
      // gzip-compressed log ingestion: rotated production logs arrive .gz;
      // Spark decodes by extension transparently (gzip is non-splittable —
      // parallelism = file count, the rotation layout's natural grain; at
      // 100 TB prefer zstd/bzip2 or many rotated files, never one giant gz).
      // Round-trip: serialize orders to log lines, write gz, re-ingest,
      // parse back with the TextLine transform surface.
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_s18_gz"
      t(s, d, "orders").filter(col("o_orderkey") < 3000)
        .select(concat_ws("|", col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice")).as("value"))
        .repartition(8) // 8 gz files -> 8-way read parallelism
        .write.mode("overwrite").option("compression", "gzip").text(out)
      val parts = split(col("value"), "\\|")
      s.read.text(out)
        .select(parts.getItem(0).cast("long").as("o_orderkey"),
          parts.getItem(1).as("o_orderstatus"),
          parts.getItem(2).cast("double").as("o_totalprice"))
        .orderBy("o_orderkey")
    }),
    "s15_jsonl_corrupt" -> ((s, d) => {
      // corrupt-tolerant JSONL ingestion — the schema-on-read mirror of the
      // reference's oversize tolerate-and-skip stance: one record in 37 is
      // deterministically truncated mid-object; PERMISSIVE from_json yields
      // null fields + the raw line in the corrupt column instead of failing
      // the batch. Narrow, codegen'd, no shuffle.
      val docs = t(s, d, "documents")
      val line = to_json(struct(col("doc_id"), col("lang"), col("n_chars")))
      val jsonl = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(37)) === 0, substring(line, 1, 12))
          .otherwise(line).as("line"))
      jsonl
        .withColumn("rec", from_json(col("line"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, lang STRING, n_chars BIGINT, _corrupt_record STRING"),
          Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")))
        .select(col("doc_id"), col("rec.lang").as("parsed_lang"),
          col("rec.n_chars").as("parsed_n_chars"),
          col("rec._corrupt_record").isNotNull.as("is_corrupt"))
        .orderBy("doc_id")
    }),
    "s8_mid_headers" -> ((s, d) =>
      events(s, d)
        .select(col("event_id"),
          concat(lpad(hex(col("event_id")), 16, "0"),
            lpad(hex(col("user_id")), 16, "0")).as("mid"),
          lpad(hex(unix_millis(col("ts"))), 16, "0").as("ots"))
        .orderBy("event_id")),

    // ------------------------------------------------ training-data ops
    "d1_dedup_exact_groups" -> ((s, d) =>
      Dedup.exactDuplicateGroups(t(s, d, "documents"))
        .orderBy("content_hash")),
    "d2_dedup_exact_survivors" -> ((s, d) =>
      Dedup.exactDedup(t(s, d, "documents"))
        .select("doc_id").orderBy("doc_id")),
    "d3_token_stats" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextFunctions.textProfile(col("text")).as("p"))
        .select(col("doc_id"),
          col("p.n_tokens").cast("long").as("n_tokens"),
          col("p.n_chars").cast("long").as("len"),
          round(TextFunctions.meanTokenLengthOfProfile(col("p")), 4).as("mean_tok_len"))
        .orderBy("doc_id")),
    "d4_stopword_ratio" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextFunctions.textProfile(col("text")).as("p"))
        .select(col("doc_id"),
          round(TextFunctions.stopwordRatioOfProfile(col("p")), 4).as("stopword_ratio"))
        .orderBy("doc_id")),
    "d5_quality_filter" -> ((s, d) => {
      val scored = t(s, d, "documents")
        .select(col("doc_id"), TextFunctions.textProfile(col("text")).as("p"))
        .select(col("doc_id"), TextFunctions.qualityScoreOfProfile(col("p")).as("quality"))
      scored.filter(col("quality") >= 0.75).orderBy("doc_id")
    }),
    "d6_fingerprint" -> ((s, d) => {
      // xxhash64 rolling hash: raw values have no DuckDB equivalent, but the
      // fingerprint CONTRACT — equal iff token streams equal — is exactly
      // checkable: emit each doc's fingerprint-equality group (min id, size)
      // and let DuckDB recompute groups from the normalized token stream.
      val fp = t(s, d, "documents")
        .select(col("doc_id"), HashFunctions.docFingerprint(col("text")).as("fp"))
      val groups = fp.groupBy("fp")
        .agg(min("doc_id").as("fp_group_min_id"), count(lit(1)).as("fp_group_size"))
      fp.join(groups, "fp")
        .select("doc_id", "fp_group_min_id", "fp_group_size")
        .orderBy("doc_id")
    }),
    "d7_minhash_pairs" -> ((s, d) =>
      // MinHash+LSH candidates — rows-only check (sketches not SQL-expressible)
      Dedup.minHashLshPairs(t(s, d, "documents"), threshold = 0.3)
        .select(col("id_a"), col("id_b"), round(col("jaccard_est"), 4).as("jaccard_est"))
        .orderBy("id_a", "id_b")),
    "d8_simhash_pairs" -> ((s, d) =>
      // oracled against an independent pure-Python simhash fixture
      Dedup.simHashPairs(t(s, d, "documents"), maxHamming = 8)
        .orderBy("id_a", "id_b")),
    "d9_ngram_jaccard" -> ((s, d) => {
      val dd = t(s, d, "documents").filter(col("doc_id") < 40)
      val sh = dd.select(col("doc_id"), HashFunctions.wordShingles(col("text"), 3).as("sh"))
      val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(HashFunctions.jaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
        .filter(col("jaccard") >= 0.01)
        .orderBy("id_a", "id_b")
    }),
    "d35_containment" -> ((s, d) => {
      // asymmetric Broder containment (|A∩B|/|A|): the boilerplate/quote
      // subset-duplication signal symmetric Jaccard dilutes. Capped
      // all-pairs demo form (d9's stance) — the scale path is
      // Dedup.containmentPairs over LSH candidates.
      val dd = t(s, d, "documents").filter(col("doc_id") < 40)
      val sh = dd.select(col("doc_id"), HashFunctions.wordShingles(col("text"), 3).as("sh"))
      val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(HashFunctions.containment(col("sh_a"), col("sh_b")), 4).as("cont_a_in_b"),
          round(HashFunctions.containment(col("sh_b"), col("sh_a")), 4).as("cont_b_in_a"))
        .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= 0.02)
        .orderBy("id_a", "id_b")
    }),
    "d36_containment_pairs" -> ((s, d) => {
      // the SCALE-path containment operator d35's capped demo stands in
      // for: candidates from the shared-shingle inverted index with the
      // hot-shingle df cap (maxDf=5 EXERCISES the cap at sf0.01 — 29
      // shingles with df 6-7 are excluded from pair generation), then
      // asymmetric Broder containment verified on full shingle sets.
      // Plan: equi-join on 8-byte shingle hashes, never a BNLJ.
      Dedup.containmentPairs(t(s, d, "documents"), threshold = 0.2, maxDf = 5)
        .select(col("id_a"), col("id_b"),
          round(col("cont_a_in_b"), 4).as("cont_a_in_b"),
          round(col("cont_b_in_a"), 4).as("cont_b_in_a"))
        .orderBy("id_a", "id_b")
    }),
    "d37_jaccard_verified" -> ((s, d) => {
      // the SCALE-path exact-Jaccard operator d9's capped demo stands in
      // for: MinHash-LSH candidate generation (banded equi-join) feeding
      // the exact shingle-set Jaccard verify — shingle arrays materialize
      // only for colliding pairs. Oracle-exact because every true pair at
      // sf0.01 has j ≥ 0.9 (LSH miss probability (1-0.9^4)^16 ≈ 4e-8).
      Dedup.ngramJaccardPairs(t(s, d, "documents"), threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),
    "d16_stratified_sample" -> ((s, d) => {
      // per-language stratified sampling at deterministic rates — the
      // corpus-rebalancing op of a training-data pipeline (upweight
      // low-resource languages). Hash-mod deciding (same stance as
      // s5/s14): reproducible across cluster/order, a narrow codegen'd
      // filter at scan speed, no shuffle. Oracle: independent Python
      // xxh64 fixture lists the exact selected rows.
      val rates = Seq("en" -> 20, "de" -> 50, "es" -> 80, "fr" -> 100)
      // try_element_at: ANSI mode makes plain element_at throw on a
      // missing map key; absent languages take the default rate
      val rateExpr = coalesce(try_element_at(
        map(rates.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*), col("lang")),
        lit(10))
      t(s, d, "documents")
        .filter(pmod(xxhash64(col("doc_id")), lit(100)) < rateExpr)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),
    "d23_vocab_encode" -> ((s, d) => {
      // top-256 vocab (bounded TakeOrderedAndProject top-V, driver-numbered)
      // broadcast into the encode join; per-doc id arrays reassembled
      // order-deterministically via array_sort(struct(pos,id)). The id
      // array is emitted space-joined as a string so the gate harness can
      // sort/hash the column (raw array columns are unsortable there).
      val docs = t(s, d, "documents")
      Vocab.encode(docs, Vocab.build(docs, size = 256))
        .select(col("doc_id"),
          array_join(transform(col("token_ids"), _.cast("string")), " ")
            .as("token_ids"),
          col("n_unk"))
        .orderBy("doc_id")
    }),
    "d27_dedup_incremental" -> ((s, d) => {
      // incremental dedup: an arriving batch (doc_id ≡ 0 mod 31) joins the
      // AT-REST signature index of the resident corpus — band keys shuffle,
      // resident docs are never re-signed. Oracle: independent Python
      // fixture from the same xxh64 sig/bucket mirror as d7.
      val docs = t(s, d, "documents")
      val probe = docs.filter(pmod(col("doc_id"), lit(31)) === 0)
      val index = Dedup.signatureIndex(docs.filter(pmod(col("doc_id"), lit(31)) =!= 0))
      Dedup.dedupAgainstIndex(probe, index, threshold = 0.3)
        .select(col("doc_id"), col("dup_of"),
          round(col("jaccard_est"), 4).as("jaccard_est"))
        .orderBy("doc_id")
    }),
    "d24_hash_split" -> ((s, d) =>
      // deterministic train/val/test split — membership is a pure function
      // of the id (md5-mod, recomputable by any engine), so the split never
      // drifts across re-runs/partitionings. Narrow codegen'd projection.
      Sampling.hashSplit(t(s, d, "documents"), col("doc_id"),
          Seq(("train", 80), ("val", 10), ("test", 10)))
        .select(col("doc_id"), col("bucket"), col("split"))
        .orderBy("doc_id")),
    "d30_bpe_merges" -> ((s, d) => {
      // BPE tokenizer training (Sennrich '16): the corpus reduces to a
      // vocab-sized (word, count) relation in ONE hash aggregation; the
      // merge loop runs on that table, never the corpus. Oracle:
      // independent Python BPE over independently-counted words
      // (tools/gen_fixtures.py).
      val model = Bpe.learnMerges(t(s, d, "documents"), numMerges = 40)
      Bpe.mergesDF(s, model).orderBy("merge_rank")
    }),
    "d31_bpe_encode" -> ((s, d) => {
      // subword encoding under the learned merges: narrow scan-speed pass,
      // per-executor word→pieces memo (zipfian hit rate ≈ 1), no shuffle.
      val docs = t(s, d, "documents")
      val model = Bpe.learnMerges(docs, numMerges = 40)
      Bpe.encode(docs, model)
        .select(col("doc_id"), col("n_pieces"),
          concat_ws(" ", slice(col("pieces"), 1, 8)).as("pieces_prefix"))
        .orderBy("doc_id")
    }),
    "d29_mixture_sample" -> ((s, d) =>
      // source-mixing before training: per-source deterministic keep-rates
      // in integer basis points (no float thresholds). Narrow projection +
      // filter — scan speed at any corpus size.
      Sampling.mixtureSample(t(s, d, "documents"), col("doc_id"), "source",
          Map("src0" -> 8000, "src1" -> 5000, "src2" -> 2500), defaultBp = 1000)
        .select(col("doc_id"), col("source"), col("bucket"), col("rate_bp"))
        .orderBy("doc_id")),
    "d32_shuffle_shard" -> ((s, d) =>
      // reproducible corpus shuffle + fixed-size shards for training
      // loaders: order by md5(id) (pure function — no RNG), positions via
      // the distributed prefix sum (no single-partition window), shard =
      // pos / shardSize. The oracle recomputes the same order with SQL md5.
      Sharding.shuffleShard(t(s, d, "documents"), shardSize = 64L)
        .orderBy("doc_id")),
    "d34_curriculum_shard" -> ((s, d) =>
      // curriculum ordering: shard the corpus easy→hard by an explicit
      // difficulty key (here a deterministic integer proxy), zero-padded so
      // string order == numeric order — the contract that also makes the
      // oracle engine-independent. Same prefix-sum core as d32.
      Sharding.orderShard(t(s, d, "documents"),
          format_string("%05d",
            pmod(col("n_chars") * 13 + col("doc_id") * 5, lit(101)).cast("int")),
          shardSize = 50L)
        .orderBy("doc_id")),
    "d33_cluster_survivors" -> ((s, d) => {
      // quality-aware dedup survivors: keep the BEST-scoring member of each
      // near-dup cluster (ties -> min id), not the min-id one. Pairs here
      // are bucket cliques so the oracle can reproduce the clustering in
      // SQL (components of a clique = the bucket); the score is an integer
      // pseudo-quality so argmax is exact cross-engine. The operator runs
      // the full connected-components + max_by-struct path.
      val docs = t(s, d, "documents")
      val bucketed = docs.select(col("doc_id"), pmod(col("n_chars"), lit(50)).as("bk"))
      val pairs = bucketed.as("a")
        .join(bucketed.as("b"),
          col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      Dedup.clusterDedupBy(docs, pairs,
          pmod(col("n_chars") * 31 + col("doc_id") * 7, lit(97)))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),
    "d22_group_sample" -> ((s, d) =>
      // fixed-size deterministic per-language sample: bottom-25 by
      // xxhash64(doc_id) via a bounded aggregator (≤ k ids per partition
      // per group on the shuffle — the window-free row_number form).
      // Oracle: independent Python xxh64 fixture (FixtureOracles).
      Sampling.groupSample(t(s, d, "documents"), Seq("lang"), k = 25)
        .orderBy("lang", "doc_id")),
    "d17_dup_clusters" -> ((s, d) =>
      // connected components over the MinHash-LSH pair graph — the merge
      // step of fuzzy dedup (A~B, B~C collapse even when A~C never
      // collided). Min-label propagation + pointer jumping: O(log diameter)
      // iterations, shuffles carry (id,label) longs only. Oracle:
      // independent Python union-find over independently-computed pairs
      // (FixtureOracles).
      Dedup.duplicateClusters(
          Dedup.minHashLshPairs(t(s, d, "documents"), threshold = 0.3))
        .orderBy("doc_id")),
    "d20_chunk_tokens" -> ((s, d) =>
      // overlapping token-window chunking (RAG / context-window prep):
      // declarative sequence/slice/posexplode, scan speed, no shuffle
      Chunking.chunkTokens(t(s, d, "documents"), chunkSize = 16, overlap = 4)
        .orderBy("doc_id", "chunk_id")),
    "d18_pack_sequences" -> ((s, d) =>
      // concat-and-chunk sequence packing via distributed prefix sum
      // (range partition → per-partition totals → broadcast offsets →
      // mapPartitions running sum) — no global single-partition window
      Packing.packSequences(t(s, d, "documents"),
          TextFunctions.tokenCount(col("text")), blockSize = 512L)
        .orderBy("doc_id")),
    "d19_pii_redact" -> ((s, d) => {
      // PII redaction with deterministic planted PII (the raw corpus holds
      // none): emails/IPs/phones synthesized from doc_id identically on
      // both engines, then redacted + counted by the shared-dialect
      // regexes. Narrow codegen'd expressions, scan speed, no shuffle.
      val aug = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(" reach user"), col("doc_id").cast("string"),
              lit("@example.com"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit(" from 10.2."),
              pmod(col("doc_id"), lit(250)).cast("string"),
              lit(".7"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(7)) === 0,
            lit(" call 555-123-4567")).otherwise(lit(""))).as("text"))
      Redaction.redact(aug)
        .select(col("doc_id"), col("text").as("redacted"),
          col("n_emails"), col("n_ips"), col("n_phones"))
        .orderBy("doc_id")
    }),
    "d21_decontaminate_bloom" -> ((s, d) => {
      // scale-path twin of d14: bloom filter over probe shingle hashes
      // prunes the corpus side BEFORE the join shuffle; exact join then
      // removes bloom false positives — output bit-identical to d14
      // (same oracle), shuffle volume proportional to true overlap only.
      val docs = t(s, d, "documents")
      Decontaminate.bloomPruned(
          docs.filter(pmod(col("doc_id"), lit(31)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(31)) === 0))
        .orderBy("doc_id")
    }),
    "d14_decontaminate" -> ((s, d) => {
      // benchmark decontamination: corpus docs sharing any 4-gram with a
      // probe ("benchmark") set are flagged with their overlap count. Scale
      // shape: both sides explode to (xxhash64(shingle), id) — the shuffle
      // carries 12-byte hashes, never shingle text — and the probe side is
      // distinct-small, so Catalyst broadcasts it; corpus text is read once.
      // (The DuckDB oracle joins the shingle STRINGS — identical result
      // absent a 64-bit collision, P≈1e-10 here; the chained-hash shingle
      // is bijective with the string form, see ShingleHashesExpr.)
      val docs = t(s, d, "documents")
      val probe = docs.filter(pmod(col("doc_id"), lit(31)) === 0)
        .select(explode(HashFunctions.shingleHashes(col("text"), 4)).as("h"))
        .distinct()
      val corpus = docs.filter(pmod(col("doc_id"), lit(31)) =!= 0)
        .select(col("doc_id"), explode(HashFunctions.shingleHashes(col("text"), 4)).as("h"))
      corpus.join(broadcast(probe), "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("doc_id")
    }),
    "d25_char_entropy" -> ((s, d) =>
      // Shannon character entropy + distinct-char count — the codec-free
      // low-entropy quality filter (degenerate/filler content detection).
      // Narrow native single-pass expression, scan speed, no shuffle.
      t(s, d, "documents")
        .select(col("doc_id"), TextFunctions.charEntropy(col("text")).as("ce"))
        .select(col("doc_id"), round(col("ce.entropy"), 4).as("entropy"),
          col("ce.n_distinct").cast("long").as("n_distinct"))
        .orderBy("doc_id")),
    "d28_dup_spans" -> ((s, d) =>
      // cross-doc duplicated 5-gram spans — the exact-substring-dedup signal
      // (Lee et al. 2022): one explode to (hash, id), one count agg on the
      // 8-byte hash, one per-doc rollup; no text in any shuffle.
      Dedup.dupSpanStats(t(s, d, "documents"), n = 5, minDocs = 2)
        .orderBy("doc_id")),
    "d40_curation_pipeline" -> ((s, d) => {
      // the composed end-to-end curation flagship: quality floor 0.9 →
      // exact dedup → near-dup cluster dedup (LSH pairs + connected
      // components) → decontamination vs the mod-31 probe holdout →
      // md5 shard assignment. One row per corpus doc with its drop stage
      // or kept shard — corpus accounting is one groupBy(stage).
      val docs = t(s, d, "documents")
      val probes = docs.filter(pmod(col("doc_id"), lit(31)) === 0)
      val corpus = docs.filter(pmod(col("doc_id"), lit(31)) =!= 0)
      CurationPipeline.curate(corpus, probes, minQuality = 0.9,
          jaccardThreshold = 0.5, probeNgram = 4, nShards = 16)
        .orderBy("doc_id")
    }),
    "d41_lm_perplexity" -> ((s, d) => {
      // CCNet-style LM quality scoring: per-doc cross-entropy/perplexity
      // under a corpus unigram LM. The LM is one hash agg reduced to a
      // top-V broadcast table (TakeOrderedAndProject); scoring is one
      // narrow explode+broadcast-join+agg corpus pass. OOV floor 1/N keeps
      // the score total. vocabSize 64 < corpus vocab so the OOV path is
      // genuinely exercised by the gate.
      val docs = t(s, d, "documents")
      val lm = Lm.unigramLm(docs, vocabSize = 64)
      Lm.perplexity(docs, lm)
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          round(col("cross_entropy"), 4).as("cross_entropy"),
          round(col("ppl"), 2).as("ppl"))
        .orderBy("doc_id")
    }),
    "d93_deflate_ratio" -> ((s, d) =>
      // REAL compression-ratio quality signal (raw DEFLATE level 6 over
      // UTF-8 bytes): degenerate repetition compresses toward 0, random
      // bytes toward/above 1 — sees long-range repetition the codec-free
      // proxies (entropy, short-gram ratios) cannot. One narrow scan;
      // fixture oracle is CPython zlib, byte-identical to
      // java.util.zip.Deflater (plans/DeflateExpr.scala contract).
      t(s, d, "documents")
        .select(col("doc_id"),
          octet_length(col("text")).cast("long").as("n_bytes"),
          TextFunctions.deflateLen(col("text")).as("deflate_bytes"))
        .withColumn("ratio",
          round(col("deflate_bytes").cast("double") / col("n_bytes"), 4))
        .orderBy("doc_id")),
    "d92_exact_split" -> ((s, d) =>
      // EXACT-count stratified split (80/10/10 per language): rank by
      // (md5(id), id) within the stratum, cut at floor boundaries — a
      // 10-row stratum yields exactly 8/1/1 where d24's hashSplit is
      // proportional only in expectation. Per-stratum window funnel is
      // the documented trade (see Sampling.exactSplit; hashSplit remains
      // the huge-uniform-strata path).
      graft.operators.Sampling.exactSplit(
          t(s, d, "documents").select(col("doc_id"), col("lang")),
          Seq("lang"), col("doc_id"),
          Seq(("train", 80), ("val", 10), ("test", 10)))
        .orderBy("doc_id")),
    "d91_ppl_buckets" -> ((s, d) => {
      // CCNet head/middle/tail (Wenzek et al. 2020): per-language
      // count-tertiles by LM cross-entropy — head is the slice CCNet
      // ships. Rounded sort key = the cross-engine tie contract (raw
      // avg CE differs below 1e-12 by summation order). This exact
      // ntile form is the gate/report path; the 100-TB path is
      // Lm.perplexityBucketsAtScale (approx thresholds, no per-language
      // single-partition funnel), spec-pinned to agree off-threshold.
      val docs = t(s, d, "documents")
      val lm = Lm.unigramLm(docs, vocabSize = 64)
      Lm.perplexityBuckets(docs, lm).orderBy("doc_id")
    }),
    "d46_source_report" -> ((s, d) => {
      // corpus composition accounting — the report every mixture decision
      // (d29/temperature reweighting) reads: per-source doc/token counts,
      // token share, mean quality, exact-dup incidence. One profile scan +
      // one md5 dup-group pass + one per-source rollup; shuffles carry
      // (source) and (digest) keys only, never text.
      val docs = t(s, d, "documents")
      val scored = docs.select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.qualityScoreOfProfile(
          TextFunctions.textProfile(col("text"))).as("q"),
        md5(col("text")).as("digest"))
      val dupDigests = scored.groupBy("digest").agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).select(col("digest"), lit(1L).as("is_dup"))
      val flagged = scored.join(dupDigests, Seq("digest"), "left")
      val totalTokens = scored.agg(sum("n_tokens")).head.getLong(0).toDouble
      flagged.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens"),
          round(sum("n_tokens").cast("double") / totalTokens, 6).as("token_share"),
          round(avg("q"), 4).as("avg_quality"),
          coalesce(sum("is_dup"), lit(0L)).as("n_exact_dup_docs"))
        .orderBy("source")
    }),
    "d48_quality_histogram" -> ((s, d) =>
      // corpus quality distribution at scan speed: fixed-width 0.05 bins
      // of the native quality score — ONE hash aggregation, no sort, no
      // percentile state. The curation-threshold picker's first query
      // (where should d40's minQuality sit?). floor(q*20) not a window
      // rank: bins are stable under any partitioning and any corpus size.
      t(s, d, "documents")
        .select(floor(TextFunctions.qualityScoreOfProfile(
          TextFunctions.textProfile(col("text"))) * 20).cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n_docs"))
        .select(col("bin"), round(col("bin") * 0.05, 2).as("bin_lo"), col("n_docs"))
        .orderBy("bin")),
    "d47_token_budget" -> ((s, d) => {
      // data-mixing budget: per-language doc/token counts, corpus share,
      // and the temperature-weighted sampling distribution p_l ∝ share^α
      // (α = 0.3 — the multilingual-LM mixing rule, Conneau & Lample '19)
      // — the numbers a training-data plan starts from. ONE corpus scan:
      // the per-language aggregate is lang-cardinality (metadata-scale),
      // so both normalizations run on the collected rows — a totals
      // crossJoin plan was measured re-scanning the corpus 4× because
      // every derived relation re-derived the aggregate.
      import s.implicits._
      val rows = t(s, d, "documents")
        .select(col("lang"),
          size(TextFunctions.tokens(lower(col("text")))).cast("long").as("n"))
        .groupBy("lang").agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))
        .collect().sortBy(_.getString(0)) // deterministic double-sum order
      val tot = rows.map(_.getLong(2)).sum.toDouble
      val ws = rows.map(r => math.pow(r.getLong(2) / tot, 0.3))
      val wtot = ws.sum
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      rows.zip(ws).map { case (r, w) =>
        (r.getString(0), r.getLong(1), r.getLong(2),
          r6(r.getLong(2) / tot), r6(w / wtot))
      }.toSeq.toDF("lang", "n_docs", "n_tokens", "share", "mix_weight")
        .orderBy("lang")
    }),
    "d49_oov_rate" -> ((s, d) => {
      // tokenizer-coverage report: per-language OOV token fraction under a
      // deliberately tiny top-8 corpus vocab (the corpus vocabulary is 31
      // words, so OOV is real) — the "does this tokenizer cover that
      // slice" audit before a training run. The vocab is metadata-scale
      // (TakeOrderedAndProject top-V, broadcast); ONE scan scores the
      // corpus per language.
      val docs = t(s, d, "documents")
      val vocab = graft.operators.Vocab.build(docs, size = 8)
      docs.select(col("lang"),
          explode(TextFunctions.tokens(lower(col("text")))).as("token"))
        .join(broadcast(vocab.select("token", "vid")), Seq("token"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("vid").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("lang"), col("n_tokens"), col("n_oov"),
          round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))
        .orderBy("lang")
    }),
    "d56_vocab_coverage" -> ((s, d) => {
      // vocabulary coverage curve: cumulative corpus-token share of the
      // top-k tokens for k in 1,2,4,...,32 — the "how big a vocab do I
      // need" sizing chart behind d23/d44/d49. ONE corpus scan (token
      // hash agg); the ranked top-32 and the total are metadata-scale, so
      // the curve is driver arithmetic on exact integer counts.
      import s.implicits._
      val counts = t(s, d, "documents")
        .select(explode(TextFunctions.tokens(lower(col("text")))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val total = counts.agg(sum("cnt")).head.getLong(0).toDouble
      val top = counts.orderBy(col("cnt").desc, col("token")).limit(32)
        .collect().map(_.getLong(1))
      counts.unpersist(false)
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      Seq(1, 2, 4, 8, 16, 32).map { k =>
        (k, r6(top.take(k).sum / total))
      }.toDF("k", "coverage").orderBy("k")
    }),
    "d55_chunk_neardup" -> ((s, d) => {
      // passage-level near-dup (the RAG-era dedup): 32-token chunks
      // (Chunking) driven through the SAME MinHash-LSH operator as doc
      // dedup, keeping only CROSS-document chunk pairs — catches shared
      // passages doc-level Jaccard dilutes. Chunk uid = doc_id*1000 +
      // chunk_id; the pair relation carries signatures, never chunk text.
      val chunks = graft.operators.Chunking.chunkTokens(
          t(s, d, "documents"), chunkSize = 32, overlap = 0)
        .select((col("doc_id") * 1000 + col("chunk_id")).as("doc_id"),
          col("chunk_text").as("text"))
      Dedup.minHashLshPairs(chunks, threshold = 0.5)
        .filter(floor(col("id_a") / 1000) =!= floor(col("id_b") / 1000))
        .select(floor(col("id_a") / 1000).cast("long").as("doc_a"),
          pmod(col("id_a"), lit(1000)).as("chunk_a"),
          floor(col("id_b") / 1000).cast("long").as("doc_b"),
          pmod(col("id_b"), lit(1000)).as("chunk_b"),
          round(col("jaccard_est"), 4).as("jaccard_est"))
        .orderBy("doc_a", "chunk_a", "doc_b", "chunk_b")
    }),
    "e30_bm25_topk" -> ((s, d) => {
      // multi-query batch retrieval (RAG candidate generation): top-10
      // per query for a whole query table in ONE shared inverted pass —
      // corpus tokens semi-joined to the broadcast query vocabulary, df
      // as a joined relation (no driver map), top-k via the bounded
      // ScoredTopKAggregator (no per-query window funnel). Queries =
      // every doc_id % 97 == 0 doc's first 6 tokens; score rounded to 4
      // digits BEFORE ranking (the tie contract — see Bm25.topK).
      val docs = t(s, d, "documents")
      val qs = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 6))
            .as("text"))
      graft.operators.Bm25.topK(docs, qs, k = 10)
        .orderBy("query_id", "rank")
    }),
    "e31_rrf_hybrid" -> ((s, d) => {
      // hybrid retrieval: reciprocal-rank fusion of the BM25 top-10
      // (e30) with a token-set-Jaccard top-10 over the same query table
      // — only RANKS cross the fusion boundary (no score calibration),
      // the standard RAG hybrid. Fusion work is rank-list-sized at any
      // corpus scale (see Hybrid.rrfFuse).
      val docs = t(s, d, "documents")
      val qs = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 6))
            .as("text"))
      val bm = graft.operators.Bm25.topK(docs, qs, k = 10)
      val jc = graft.operators.Hybrid.jaccardTopK(docs, qs, k = 10)
      graft.operators.Hybrid.rrfFuse(Seq(bm, jc), topK = 10)
        .orderBy("query_id", "rank")
    }),
    "e32_bm25_fixedq" -> ((s, d) => {
      // e30's FIXED-QUERY-SET sibling: the query set is capped at doc_id
      // < 4850 (≤ 50 queries at every SF ≥ 0.1, 6 at the sf0.01 gate), so
      // the gate's own 10x scale ratio measures CORPUS growth only — e30
      // ties queries to the corpus (doc_id % 97) and its raw 10x ratio
      // folds in 10x more queries (round-10 adjudication; the fixed-query
      // re-measure was ~2.2x). Eval/query suites do not grow with the
      // corpus in deployment — this row is that shape.
      val docs = t(s, d, "documents")
      val qs = docs.filter(pmod(col("doc_id"), lit(97)) === 0 &&
          col("doc_id") < 4850)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 6))
            .as("text"))
      graft.operators.Bm25.topK(docs, qs, k = 10)
        .orderBy("query_id", "rank")
    }),
    "e33_rrf_fixedq" -> ((s, d) => {
      // e31's FIXED-QUERY-SET sibling (see e32): hybrid RRF fusion with a
      // corpus-independent query set.
      val docs = t(s, d, "documents")
      val qs = docs.filter(pmod(col("doc_id"), lit(97)) === 0 &&
          col("doc_id") < 4850)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 6))
            .as("text"))
      val bm = graft.operators.Bm25.topK(docs, qs, k = 10)
      val jc = graft.operators.Hybrid.jaccardTopK(docs, qs, k = 10)
      graft.operators.Hybrid.rrfFuse(Seq(bm, jc), topK = 10)
        .orderBy("query_id", "rank")
    }),
    "e40_weighted_hybrid" -> ((s, d) => {
      // convex-combination hybrid — the SCORE-CALIBRATING fusion next to
      // e31/e33's rank-only RRF (the other standard RAG stack: min-max
      // normalize each list per query, fused = 0.7·bm25 + 0.3·jaccard;
      // a doc missing from a list contributes the normalized minimum,
      // 0). Fusion stays rank-list-sized — the per-(query, list)
      // min/max relations aggregate over <= |q| x k rows and broadcast
      // back; nothing touches the corpus. Corpus-independent fixed
      // query set (the e32/e33 10x stance).
      val docs = t(s, d, "documents")
      val qs = docs.filter(pmod(col("doc_id"), lit(97)) === 0 &&
          col("doc_id") < 4850)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 6))
            .as("text"))
      val bm = graft.operators.Bm25.topK(docs, qs, k = 10)
      val jc = graft.operators.Hybrid.jaccardTopK(docs, qs, k = 10)
      graft.operators.Hybrid.weightedFuse(Seq(bm -> 0.7, jc -> 0.3),
          topK = 10)
        .orderBy("query_id", "rank")
    }),
    "w37_hybrid_at_rest" -> ((s, d) => {
      // HYBRID retrieval off the STANDING stores — reciprocal-rank
      // fusion of the at-rest lexical index (StreamingBm25) with the
      // at-rest vector index (StreamingIvf), per query: the
      // lexical+vector RAG-serving shape with ZERO batch recompute.
      // Both sides are partition-pruned probes of state the pipelines
      // maintain (bucket-pruned postings, cell-pruned corpus), and only
      // RANKS cross the fusion boundary (e31's stance — no score
      // calibration). Queries are the docs that carry an embedding, so
      // both probes see the same query set.
      val docs = t(s, d, "documents")
      val emb = t(s, d, "embeddings")
      val qids = docs.join(emb.select(col("vec_id").as("doc_id")), "doc_id")
        .filter(pmod(col("doc_id"), lit(97)) === 0)
      val qsText = qids.select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 6))
          .as("text"))
      val qsVec = emb.join(qids.select(col("doc_id").as("vec_id")), "vec_id")
      val bmPath = s"${System.getProperty("java.io.tmpdir")}/graft_w37_bm_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      val ivPath = s"${System.getProperty("java.io.tmpdir")}/graft_w37_iv_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      // the two stores share no state: build them (and run their probes)
      // as overlapped chains — guide §2.6 (round 17). The ivf chain also
      // publishes the one quantizer handle the probes reuse (safe: set
      // before the chain join, read after — join is the memory barrier).
      var ivCents: Option[Seq[(Int, Array[Double])]] = None
      graft.operators.Overlap.chains(
        () => {
          val n = docs.agg(max("doc_id")).head.getLong(0) + 1
          val span = n / 2 + 1
          (0L until 2L).foreach { e =>
            graft.streaming.StreamingBm25.appendEpoch(
              docs.filter(col("doc_id") >= e * span && col("doc_id") < (e + 1) * span),
              bmPath, e)
          }
        },
        () => {
          val cents = emb.filter(col("vec_id") < 8)
            .select(col("vec_id").cast("int").as("centroid_id"),
              col("embedding").as("centroid_vec"))
          graft.streaming.StreamingIvf.init(cents, ivPath)
          // one quantizer handle for build + probe (round 17)
          ivCents = Some(graft.operators.Similarity.collectCentroids(cents))
          val nv = emb.agg(max("vec_id")).head.getLong(0) + 1
          val vspan = nv / 2 + 1
          (0L until 2L).foreach { e =>
            graft.streaming.StreamingIvf.appendEpoch(
              emb.filter(col("vec_id") >= e * vspan && col("vec_id") < (e + 1) * vspan),
              ivPath, e, centsOpt = ivCents)
          }
        })
      val probes = graft.operators.Overlap.chains(
        () => graft.streaming.StreamingBm25.search(s, bmPath, qsText, k = 10),
        () => graft.streaming.StreamingIvf.search(s, ivPath, qsVec,
            k = 10, nProbe = 2, centsOpt = ivCents)
          .withColumnRenamed("corpus_id", "doc_id"))
      graft.operators.Hybrid.rrfFuse(probes, topK = 10)
        .orderBy("query_id", "rank")
    }),
    "w39_bm25_rebucket" -> ((s, d) => {
      // REBUCKET of the standing lexical index — w38's lexical analog:
      // the postings re-route under a NEW bucket count (64 -> 16) in one
      // commit-marker swap of the postings root; buckets are the probe's
      // partition-pruning unit, so growing/shrinking the count is how a
      // deployment keeps one bucket a bounded read as the corpus grows.
      // Results are bucket-count INVARIANT — the post-rebucket search
      // must equal w27's oracle verbatim, probed at the new count.
      val docs = t(s, d, "documents")
      val qs = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 6))
            .as("text"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_w39_rebkt_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), s.sessionState.newHadoopConf())
      // the swap renames the postings root: re-runs start from a clean tree
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      fs.delete(new org.apache.hadoop.fs.Path(path + "/postings.compacting"), true)
      val n = docs.agg(max("doc_id")).head.getLong(0) + 1
      val span = n / 2 + 1
      (0L until 2L).foreach { e =>
        graft.streaming.StreamingBm25.appendEpoch(
          docs.filter(col("doc_id") >= e * span && col("doc_id") < (e + 1) * span),
          path, e, nBuckets = 64)
      }
      graft.streaming.StreamingBm25.rebucket(s, path, nBuckets = 16)
      require(fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/postings"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet == Set("epoch=-1"),
        "rebucket must leave only the re-routed epoch")
      require(fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/postings/epoch=-1"))
        .filter(_.isDirectory).map(_.getPath.getName)
        .forall(b => b.stripPrefix("bucket=").toLong < 16),
        "every re-routed bucket must sit under the new count")
      graft.streaming.StreamingBm25.search(s, path, qs, k = 10, nBuckets = 16)
        .orderBy("query_id", "rank")
    }),
    "w40_lease_guard" -> ((s, d) => {
      // SINGLE-MAINTENANCE-WRITER gate (round 14): while a maintenance
      // lease is held (a CompactTool mid-swap), epoch appends AND delete
      // requests REFUSE loudly — the lost-epoch / lost-tombstone
      // interleavings can no longer happen silently; and a ZOMBIE
      // maintenance run whose stale lease was broken by a new writer
      // aborts at the FENCE, pre-commit, leaving the store intact (its
      // staging here is EMPTY, so a fence failure would visibly destroy
      // the store and break the oracle). After the legitimate compact,
      // search must still equal the batch recompute — w27's oracle,
      // VERBATIM: the refused epoch lands after release, so one lost
      // write or one zombie promote breaks the hash.
      val docs = t(s, d, "documents")
      val qs = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 6))
            .as("text"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_w40_lease_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      fs.delete(graft.streaming.MaintenanceLease.leasePath(path), false)
      val n = docs.agg(max("doc_id")).head.getLong(0) + 1
      val span = n / 3 + 1
      def epoch(e: Long): Unit = graft.streaming.StreamingBm25.appendEpoch(
        docs.filter(col("doc_id") >= e * span && col("doc_id") < (e + 1) * span),
        path, e)
      epoch(0); epoch(1)
      // a maintenance writer holds the lease: concurrent writes refuse
      val held = graft.streaming.MaintenanceLease.acquire(s, path)
      val appendRefused =
        try { epoch(2); false }
        catch { case _: IllegalStateException => true }
      val deleteRefused =
        try {
          graft.streaming.StreamingBm25.deleteEpoch(
            docs.limit(1).select("doc_id"), path, 0)
          false
        } catch { case _: IllegalStateException => true }
      require(appendRefused && deleteRefused,
        "epoch writes must refuse while the maintenance lease is held")
      graft.streaming.MaintenanceLease.release(s, path, held)
      // the WRITE-SIDE ordering (round 15): an epoch write ALREADY IN
      // FLIGHT publishes an intent marker, and maintenance refuses to
      // start over it — the interleaving the entry guard alone could not
      // see (a write past the guard being destroyed by the promote)
      var acquireRefusedMidWrite = false
      graft.streaming.MaintenanceLease.withEpochWriteIntent(s, path) {
        acquireRefusedMidWrite =
          try { graft.streaming.MaintenanceLease.acquire(s, path); false }
          catch { case _: IllegalStateException => true }
      }
      require(acquireRefusedMidWrite,
        "maintenance must refuse to start over an in-flight epoch write")
      // a zombie run fenced out by a lease takeover aborts PRE-commit
      val zombie = graft.streaming.MaintenanceLease.acquire(s, path)
      fs.delete(graft.streaming.MaintenanceLease.leasePath(path), false)
      val taker = graft.streaming.MaintenanceLease.acquire(s, path)
      val fenced =
        try {
          graft.streaming.StateCompaction.compactWith(s, s"$path/postings",
            () => graft.streaming.MaintenanceLease.verifyHeld(s, path, zombie)) {
            _ => () // empty staging: an un-fenced promote would WIPE the store
          }
          false
        } catch { case _: IllegalStateException => true }
      require(fenced, "a fenced-out zombie must abort before the commit marker")
      graft.streaming.MaintenanceLease.release(s, path, taker)
      // the refused epoch lands now; the legitimate compact folds all three
      epoch(2)
      graft.streaming.StreamingBm25.compact(s, path)
      require(fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/postings"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet == Set("epoch=-1"),
        "the legitimate compact must fold every epoch")
      graft.streaming.StreamingBm25.search(s, path, qs, k = 10)
        .orderBy("query_id", "rank")
    }),
    "w41_cross_store_rtbf" -> ((s, d) => {
      // CROSS-STORE right to be forgotten (round 15): the same corpus
      // lives in TWO standing stores (bm25 + ivf). A forget issued
      // against ONE store masks that store's own probes — but the FUSED
      // retrieval path would resurface the doc through the other list's
      // rank contribution. This gate pins the whole contract:
      //  1. victims = each probe query's ivf rank-1 neighbor (data-
      //     derived, so they provably sit in a fused list);
      //  2. forget them in the BM25 store ONLY → the raw fusion still
      //     resurfaces them via the ivf list (require: non-vacuous),
      //     while StreamingHybrid's fusion-level union mask never does;
      //  3. ONE ForgetTool.forgetAll call tombstones BOTH stores, the
      //     compacts purge the bytes and retire the tombstones;
      //  4. output = the post-purge fused search, oracled as RRF over
      //     both corpora minus the victims — one surviving posting row,
      //     un-debited stat, or un-purged vector breaks the hash.
      val docs = t(s, d, "documents")
      val emb = t(s, d, "embeddings")
      val qids = docs.join(emb.select(col("vec_id").as("doc_id")), "doc_id")
        .filter(pmod(col("doc_id"), lit(97)) === 0)
      val qsText = qids.select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 6))
          .as("text"))
      val qsVec = emb.join(qids.select(col("doc_id").as("vec_id")), "vec_id")
      val bmPath = s"${System.getProperty("java.io.tmpdir")}/graft_w41_bm_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      val ivPath = s"${System.getProperty("java.io.tmpdir")}/graft_w41_iv_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), s.sessionState.newHadoopConf())
      // forget+compact MUTATE the stores: re-runs need a clean tree
      // (forget ledger included — it accumulates across runs by design)
      Seq(bmPath, ivPath).foreach { p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true)
        fs.delete(new org.apache.hadoop.fs.Path(
          graft.streaming.ForgetLedger.ledgerDir(p)), true)
        fs.delete(graft.streaming.MaintenanceLease.leasePath(p), false)
      }
      // the two stores share no state: build them as overlapped chains —
      // guide §2.6 (round 17). The ivf chain also publishes the one
      // quantizer handle the probes reuse (set before the chain join,
      // read after — join is the memory barrier).
      var ivCents: Option[Seq[(Int, Array[Double])]] = None
      graft.operators.Overlap.chains(
        () => {
          val n = docs.agg(max("doc_id")).head.getLong(0) + 1
          val span = n / 2 + 1
          (0L until 2L).foreach { e =>
            graft.streaming.StreamingBm25.appendEpoch(
              docs.filter(col("doc_id") >= e * span && col("doc_id") < (e + 1) * span),
              bmPath, e)
          }
        },
        () => {
          val cents = emb.filter(col("vec_id") < 8)
            .select(col("vec_id").cast("int").as("centroid_id"),
              col("embedding").as("centroid_vec"))
          graft.streaming.StreamingIvf.init(cents, ivPath)
          // one quantizer handle for build + probes (round 17)
          ivCents = Some(graft.operators.Similarity.collectCentroids(cents))
          val nv = emb.agg(max("vec_id")).head.getLong(0) + 1
          val vspan = nv / 2 + 1
          (0L until 2L).foreach { e =>
            graft.streaming.StreamingIvf.appendEpoch(
              emb.filter(col("vec_id") >= e * vspan && col("vec_id") < (e + 1) * vspan),
              ivPath, e, centsOpt = ivCents)
          }
        })
      // victims: the ivf rank-1 neighbor of the two smallest queries —
      // guaranteed to sit at a fused list's strongest rank
      val ivPre = graft.streaming.StreamingIvf.search(s, ivPath, qsVec,
          k = 10, nProbe = 2, centsOpt = ivCents)
        .withColumnRenamed("corpus_id", "doc_id")
      val victims = ivPre
        .filter(col("query_id").isin(0L, 97L) && col("rank") === 1)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.distinct.sorted
      require(victims.nonEmpty, "no victims derivable — gate would be vacuous")
      // PARTIAL forget: bm25 store only — the window the fusion mask exists for
      graft.ForgetTool.forget(s, "bm25", bmPath, victims)
      val bmMasked = graft.streaming.StreamingBm25.search(s, bmPath, qsText, k = 10)
        .select("query_id", "doc_id", "rank")
      // non-vacuity: the RAW fusion (no cross-store mask; topK=20 returns
      // every candidate) RESURFACES a victim through the ivf list...
      val unmaskedIds = graft.operators.Hybrid.rrfFuse(
          Seq(bmMasked, ivPre.select("query_id", "doc_id", "rank")), topK = 20)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      require(victims.exists(unmaskedIds.contains),
        "raw fusion must resurface a bm25-forgotten victim via the ivf list")
      // ...while the fusion-level union mask never serves it
      val maskedIds = graft.streaming.StreamingHybrid.rrfSearch(
          s, bmPath, ivPath, qsText, qsVec, k = 10, topK = 10, nProbe = 2,
          ivCents = ivCents)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      require(victims.forall(v => !maskedIds.contains(v)),
        "the fused surface must never serve a doc forgotten in ANY store")
      // the agent-level forget: ONE invocation, every store; compacts purge
      graft.ForgetTool.forgetAll(s,
        Seq("bm25" -> bmPath, "ivf" -> ivPath), victims)
      // independent per store — overlapped (guide §2.6, round 17)
      graft.operators.Overlap.chains(
        () => graft.streaming.StreamingBm25.compact(s, bmPath),
        () => graft.streaming.StreamingIvf.compact(s, ivPath))
      Seq(bmPath, ivPath).foreach { p =>
        require(graft.streaming.StoreTombstones.retired(s, p),
          s"compact must retire the applied tombstones at $p")
      }
      graft.streaming.StreamingHybrid.rrfSearch(
          s, bmPath, ivPath, qsText, qsVec, k = 10, topK = 10, nProbe = 2,
          ivCents = ivCents)
        .orderBy("query_id", "rank")
    }),
    "w42_snapshot_restore" -> ((s, d) => {
      // SNAPSHOT/RESTORE gate (round 15): the stores survive crashes and
      // deletes, but a BAD maintenance op (wrong refit, fat-fingered
      // forget) was unrecoverable except by rebuild. SnapshotTool writes
      // a manifest + byte copy of the quiesced store under the sibling
      // snapshots directory; restore verifies the manifest and swaps it
      // back through the commit-marker protocol. The gate: snapshot →
      // DAMAGE the store (forget the strongest-ranked doc + compact —
      // require: the damage is visible) → restore → the output search
      // must equal the FULL-corpus BM25 replay verbatim (w27's oracle):
      // one lost byte, un-restored stat row, or manifest miss breaks
      // the hash.
      val docs = t(s, d, "documents")
      val qs = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 6))
            .as("text"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_w42_snap_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), s.sessionState.newHadoopConf())
      Seq(path, graft.SnapshotTool.snapshotsDir(path),
          graft.streaming.ForgetLedger.ledgerDir(path)).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      fs.delete(graft.streaming.MaintenanceLease.leasePath(path), false)
      val n = docs.agg(max("doc_id")).head.getLong(0) + 1
      val span = n / 2 + 1
      (0L until 2L).foreach { e =>
        graft.streaming.StreamingBm25.appendEpoch(
          docs.filter(col("doc_id") >= e * span && col("doc_id") < (e + 1) * span),
          path, e)
      }
      // the snapshot copy and the victim probe both READ the quiesced
      // store (the snapshot writes only to the sibling snapshots dir, and
      // searches take no lease) — overlapped, guide §2.6 (round 17)
      val pre = graft.operators.Overlap.chains[Any](
        () => graft.SnapshotTool.snapshot(s, path, "pre"),
        () => graft.streaming.StreamingBm25.search(s, path, qs, k = 10)
          .filter(col("query_id") === 0 && col("rank") === 1)
          .select("doc_id").head().getLong(0))
      val nFiles = pre(0).asInstanceOf[Long]
      require(nFiles > 0, "snapshot must capture the store's files")
      require(graft.SnapshotTool.list(s, path) == Seq("pre"))
      // damage: forget the top-ranked doc of the smallest query, compact
      val victim = pre(1).asInstanceOf[Long]
      graft.ForgetTool.forget(s, "bm25", path, Seq(victim))
      graft.streaming.StreamingBm25.compact(s, path)
      val damagedIds = graft.streaming.StreamingBm25.search(s, path, qs, k = 10)
        .filter(col("query_id") === 0)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      require(!damagedIds.contains(victim),
        "the damage must be visible before the restore (purged victim)")
      // undo: restore the snapshot over the damaged store. The forget WAS
      // the damage here (the fat-finger case), so the restore carries the
      // EXPLICIT --resurrect escape hatch — without it the forget ledger
      // re-applies the delete and the victim stays masked (w44's gate);
      // with it the restored store serves the pre-damage state verbatim
      graft.SnapshotTool.restore(s, path, "pre",
        graft.SnapshotTool.ResurrectIds(Set(victim)))
      val restored = graft.streaming.StreamingBm25.search(s, path, qs, k = 10)
      require(restored.filter(col("query_id") === 0 && col("rank") === 1)
          .select("doc_id").head().getLong(0) == victim,
        "the restored store must serve the pre-damage state")
      restored.orderBy("query_id", "rank")
    }),
    "w44_forget_ledger" -> ((s, d) => {
      // RTBF SURVIVES A SNAPSHOT RESTORE (round-15 verdict #1): the
      // stores' tombstones live INSIDE the swapped root, so a naive
      // whole-root restore silently resurrected every document forgotten
      // between snapshot and restore — a compliance delete undone by an
      // ops action. The ForgetLedger (sibling dir OUTSIDE the swapped
      // root) now records every ForgetTool invocation, and restore
      // re-applies its effective set as fresh tombstones INSIDE the
      // staged snapshot, riding the same commit-marker promote. Gate:
      //  1. build the store, snapshot "pre" (victim still inside);
      //  2. forget the strongest-ranked doc + compact (purged);
      //  3. restore "pre" WITHOUT --resurrect → the victim must STAY
      //     masked (require — this is exactly the resurrection the old
      //     behavior pinned as success) while the snapshot's other rows
      //     all come back;
      //  4. restore "pre" WITH --resurrect <victim> → the explicit
      //     fat-finger undo: the victim is served again, and the
      //     cancellation is ledgered so future restores skip it.
      // Output = the post-resurrect search == the full-corpus BM25
      // replay (w27's oracle verbatim); the mid-gate requires pin the
      // masked state.
      val docs = t(s, d, "documents")
      val qs = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 6))
            .as("text"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_w44_ledger_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), s.sessionState.newHadoopConf())
      Seq(path, graft.SnapshotTool.snapshotsDir(path),
          graft.streaming.ForgetLedger.ledgerDir(path)).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      fs.delete(graft.streaming.MaintenanceLease.leasePath(path), false)
      val n = docs.agg(max("doc_id")).head.getLong(0) + 1
      val span = n / 2 + 1
      (0L until 2L).foreach { e =>
        graft.streaming.StreamingBm25.appendEpoch(
          docs.filter(col("doc_id") >= e * span && col("doc_id") < (e + 1) * span),
          path, e)
      }
      // snapshot copy and victim probe are both reads — overlapped
      // (guide §2.6, round 17; the w42 stance)
      val pre = graft.operators.Overlap.chains[Any](
        () => graft.SnapshotTool.snapshot(s, path, "pre"),
        () => graft.streaming.StreamingBm25.search(s, path, qs, k = 10)
          .filter(col("query_id") === 0 && col("rank") === 1)
          .select("doc_id").head().getLong(0))
      val victim = pre(1).asInstanceOf[Long]
      graft.ForgetTool.forget(s, "bm25", path, Seq(victim))
      graft.streaming.StreamingBm25.compact(s, path)
      // the ledger owes the victim a tombstone in any restored state
      require(graft.streaming.ForgetLedger.effective(s, path)
          .getOrElse("bm25", Nil).contains(victim),
        "ForgetTool must have ledgered the forget outside the swapped root")
      // restore WITHOUT resurrect: the snapshot CONTAINS the victim's
      // postings, so absent the ledger re-apply this search would serve
      // it at rank 1 again (w42's old behavior) — the compliance delete
      // must survive the swap instead
      graft.SnapshotTool.restore(s, path, "pre")
      val afterIds = graft.streaming.StreamingBm25.search(s, path, qs, k = 10)
        .filter(col("query_id") === 0)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      require(!afterIds.contains(victim),
        "a ledgered forget must survive the snapshot restore (no resurrection)")
      // the explicit fat-finger undo: resurrect the victim by id; the
      // cancellation is ledgered, so the effective set drains to empty
      graft.SnapshotTool.restore(s, path, "pre",
        graft.SnapshotTool.ResurrectIds(Set(victim)))
      require(graft.streaming.ForgetLedger.effective(s, path).isEmpty,
        "--resurrect must ledger the cancellation for future restores")
      val resurrected = graft.streaming.StreamingBm25.search(s, path, qs, k = 10)
      require(resurrected.filter(col("query_id") === 0 && col("rank") === 1)
          .select("doc_id").head().getLong(0) == victim,
        "--resurrect must serve the fat-fingered doc again")
      resurrected.orderBy("query_id", "rank")
    }),
    "w45_incremental_snapshot" -> ((s, d) => {
      // INCREMENTAL snapshots (round 16): full-size copies accumulate
      // forever at 100 TB each, but the stores' epoch files are
      // IMMUTABLE once written (every mutation is a new epoch;
      // maintenance replaces whole directories) — so a snapshot taken
      // over a base copies only the files that changed and records
      // POINTERS ((rel, len, mtime) identity, resolved transitively)
      // for the rest; delete refuses while a dependent references the
      // base. Gate: build two epochs → snapshot "base" → append a THIRD
      // epoch → snapshot "inc" over base (require: it owns strictly
      // fewer bytes than its logical size — the sharing is real;
      // require: deleting the referenced base refuses) → damage
      // (forget the strongest doc + compact, require visible) →
      // restore "inc" (--resurrect all: the fat-finger undo) → output
      // must equal the FULL three-epoch corpus replay (w27's oracle
      // verbatim): one file restored from the wrong source tree, one
      // stale pointer, or one lost base byte breaks the hash.
      val docs = t(s, d, "documents")
      val qs = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 6))
            .as("text"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_w45_incsnap_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), s.sessionState.newHadoopConf())
      Seq(path, graft.SnapshotTool.snapshotsDir(path),
          graft.streaming.ForgetLedger.ledgerDir(path)).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      fs.delete(graft.streaming.MaintenanceLease.leasePath(path), false)
      val n = docs.agg(max("doc_id")).head.getLong(0) + 1
      val span = n / 3 + 1
      (0L until 2L).foreach { e =>
        graft.streaming.StreamingBm25.appendEpoch(
          docs.filter(col("doc_id") >= e * span && col("doc_id") < (e + 1) * span),
          path, e)
      }
      graft.SnapshotTool.snapshot(s, path, "base")
      // one more epoch lands — the only delta the incremental should copy
      graft.streaming.StreamingBm25.appendEpoch(
        docs.filter(col("doc_id") >= 2L * span), path, 2L)
      // incremental-snapshot copy and victim probe are both reads —
      // overlapped (guide §2.6, round 17; the w42 stance)
      val pre = graft.operators.Overlap.chains[Any](
        () => graft.SnapshotTool.snapshot(s, path, "inc", base = Some("base")),
        () => graft.streaming.StreamingBm25.search(s, path, qs, k = 10)
          .filter(col("query_id") === 0 && col("rank") === 1)
          .select("doc_id").head().getLong(0))
      val infos = graft.SnapshotTool.listDetailed(s, path)
        .map(i => i.name -> i).toMap
      require(infos("inc").ownBytes > 0 &&
          infos("inc").ownBytes < infos("inc").bytes,
        s"the incremental snapshot must share the base's unchanged files: ${infos("inc")}")
      // the base is load-bearing for the dependent: delete must refuse
      val refuse = scala.util.Try(graft.SnapshotTool.delete(s, path, "base"))
      require(refuse.isFailure &&
          refuse.failed.get.getMessage.contains("reference"),
        "deleting a referenced base must refuse, naming the dependent")
      // damage: forget the top-ranked doc of the smallest query, compact
      val victim = pre(1).asInstanceOf[Long]
      graft.ForgetTool.forget(s, "bm25", path, Seq(victim))
      graft.streaming.StreamingBm25.compact(s, path)
      require(!graft.streaming.StreamingBm25.search(s, path, qs, k = 10)
          .filter(col("query_id") === 0)
          .select("doc_id").collect().map(_.getLong(0)).contains(victim),
        "the damage must be visible before the restore (purged victim)")
      // undo through the INCREMENTAL snapshot: bytes resolve from both
      // data dirs (base's epochs 0-1, inc's epoch 2 + stats)
      graft.SnapshotTool.restore(s, path, "inc",
        graft.SnapshotTool.ResurrectAll)
      val restored = graft.streaming.StreamingBm25.search(s, path, qs, k = 10)
      require(restored.filter(col("query_id") === 0 && col("rank") === 1)
          .select("doc_id").head().getLong(0) == victim,
        "the restored store must serve the pre-damage three-epoch state")
      restored.orderBy("query_id", "rank")
    }),
    "w43_weighted_hybrid_at_rest" -> ((s, d) => {
      // WEIGHTED (convex-combination) fusion over the STANDING stores —
      // e40's serving-path twin, completing the at-rest fusion matrix
      // (w37 = rank-only RRF, this = score-calibrated): each list
      // min-max normalizes within the query's retrieved top-10, fused =
      // 0.7·bm25_norm + 0.3·cosine_norm. Both sides are the stores'
      // partition-pruned probes; cosine rounds to 6 pre-normalization
      // (the cross-engine tie contract) so the fused arithmetic is
      // exact-on-exact. Same query set as w37 (docs that carry an
      // embedding).
      val docs = t(s, d, "documents")
      val emb = t(s, d, "embeddings")
      val qids = docs.join(emb.select(col("vec_id").as("doc_id")), "doc_id")
        .filter(pmod(col("doc_id"), lit(97)) === 0)
      val qsText = qids.select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 6))
          .as("text"))
      val qsVec = emb.join(qids.select(col("doc_id").as("vec_id")), "vec_id")
      val bmPath = s"${System.getProperty("java.io.tmpdir")}/graft_w43_bm_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      val ivPath = s"${System.getProperty("java.io.tmpdir")}/graft_w43_iv_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      // the two stores share no state: build them as overlapped chains —
      // guide §2.6 (round 17). The ivf chain also publishes the one
      // quantizer handle the probe reuses (set before the chain join,
      // read after — join is the memory barrier).
      var ivCents: Option[Seq[(Int, Array[Double])]] = None
      graft.operators.Overlap.chains(
        () => {
          val n = docs.agg(max("doc_id")).head.getLong(0) + 1
          val span = n / 2 + 1
          (0L until 2L).foreach { e =>
            graft.streaming.StreamingBm25.appendEpoch(
              docs.filter(col("doc_id") >= e * span && col("doc_id") < (e + 1) * span),
              bmPath, e)
          }
        },
        () => {
          val cents = emb.filter(col("vec_id") < 8)
            .select(col("vec_id").cast("int").as("centroid_id"),
              col("embedding").as("centroid_vec"))
          graft.streaming.StreamingIvf.init(cents, ivPath)
          // one quantizer handle for build + probe (round 17)
          ivCents = Some(graft.operators.Similarity.collectCentroids(cents))
          val nv = emb.agg(max("vec_id")).head.getLong(0) + 1
          val vspan = nv / 2 + 1
          (0L until 2L).foreach { e =>
            graft.streaming.StreamingIvf.appendEpoch(
              emb.filter(col("vec_id") >= e * vspan && col("vec_id") < (e + 1) * vspan),
              ivPath, e, centsOpt = ivCents)
          }
        })
      graft.streaming.StreamingHybrid.weightedSearch(
          s, bmPath, ivPath, qsText, qsVec, k = 10, topK = 10, nProbe = 2,
          ivCents = ivCents)
        .orderBy("query_id", "rank")
    }),
    "w27_stream_bm25" -> ((s, d) => {
      // STANDING lexical-retrieval index (StreamingBm25) — the BM25 twin
      // of w8's StreamingIvf gate: documents arrive in THREE id-range
      // epochs, each tokenized ONCE into hash-bucketed at-rest postings
      // plus mergeable (n_docs, sum_dl) stats partials; the search over
      // the at-rest epoch union must equal Bm25.topK recomputed over the
      // whole corpus — e30's oracle, verbatim. The equality is real
      // cross-epoch carry: a query term's df and the corpus N/avgdl span
      // all three epochs, so per-epoch scoring would rank differently.
      val docs = t(s, d, "documents")
      val qs = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 6))
            .as("text"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_w27_bm25_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      val n = docs.agg(max("doc_id")).head.getLong(0) + 1
      val span = n / 3 + 1
      def epochW(e: Long): Unit = graft.streaming.StreamingBm25.appendEpoch(
        docs.filter(col("doc_id") >= e * span && col("doc_id") < (e + 1) * span),
        path, e)
      // epoch 0 seeds the store metadata (_NBUCKETS exclusive create);
      // the later epochs write disjoint epoch dirs under their own
      // write-intent markers — overlapped (guide §2.6, round 17)
      epochW(0)
      graft.operators.Overlap.chains(() => epochW(1), () => epochW(2))
      graft.streaming.StreamingBm25.search(s, path, qs, k = 10)
        .orderBy("query_id", "rank")
    }),
    "w34_bm25_tombstones" -> ((s, d) => {
      // the DELETE path of the standing LEXICAL index — w33's BM25 twin:
      // tombstoned docs vanish from probes immediately (anti-join at the
      // pruned postings scan; df self-adjusts), and the next compact
      // drops their rows, debits the corpus stats by their (count, Σdl),
      // and clears the store. This gate probes AFTER compaction, so the
      // oracle is the full BM25 replay over the corpus minus the deleted
      // docs — one wrong df, un-debited stat, or surviving posting row
      // breaks the hash. Structural requires pin post-compaction state.
      val docs = t(s, d, "documents")
      val qs = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 6))
            .as("text"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_w34_bmtomb_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val n = docs.agg(max("doc_id")).head.getLong(0) + 1
      val span = n / 3 + 1
      def epochW(e: Long): Unit = graft.streaming.StreamingBm25.appendEpoch(
        docs.filter(col("doc_id") >= e * span && col("doc_id") < (e + 1) * span),
        path, e)
      // epoch 0 seeds the store metadata (_NBUCKETS exclusive create);
      // the later epochs write disjoint epoch dirs under their own
      // write-intent markers — overlapped (guide §2.6, round 17)
      epochW(0)
      graft.operators.Overlap.chains(() => epochW(1), () => epochW(2))
      graft.streaming.StreamingBm25.deleteEpoch(
        docs.filter(pmod(col("doc_id"), lit(17)) === 0).select("doc_id"), path, 0)
      graft.streaming.StreamingBm25.compact(s, path)
      Seq(s"$path/postings", s"$path/stats").foreach { p =>
        require(fs.listStatus(new org.apache.hadoop.fs.Path(p))
          .filter(_.isDirectory).map(_.getPath.getName).toSet == Set("epoch=-1"),
          s"$p must hold only the compacted epoch")
      }
      require(graft.streaming.StoreTombstones.retired(s, path),
        "compaction must clear the applied tombstone store")
      graft.streaming.StreamingBm25.search(s, path, qs, k = 10)
        .orderBy("query_id", "rank")
    }),
    "d54_bm25" -> ((s, d) =>
      // Okapi BM25 ranked retrieval for a fixed query — the lexical
      // scorer behind corpus search / RAG candidate generation and the
      // hybrid partner to the ANN family. Two corpus scans total (stats +
      // scoring); only (id, term, tf, dl) rows shuffle. All matched docs
      // emitted by id (no top-k boundary, so float noise can't flip the
      // row set).
      graft.operators.Bm25.score(t(s, d, "documents"),
          Seq("spark", "hash", "window"))
        .select(col("doc_id"), col("n_hit_terms"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id")),
    "d53_sketch_quality" -> ((s, d) => {
      // sketch-quality audit: LSH candidates (est ≥ 0.1) scored by BOTH
      // the MinHash estimate and the exact shingle Jaccard — confusion
      // counts at a 0.95 threshold (chosen to SPLIT this corpus's strong
      // dups, so the disagreement cells are actually exercised) + mean
      // absolute error: the "can I trust k=64 here" report before a
      // corpus-wide dedup.
      // Estimates (m/64) and exact Jaccards (|∩|/|∪|) are exact
      // rationals, so the threshold comparisons are bit-stable
      // cross-engine. Oracle: independent python xxh64 minhash + string
      // shingles (FixtureOracles).
      Dedup.sketchQualityPairs(t(s, d, "documents"), estFloor = 0.1)
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("jaccard_est") >= 0.95 && col("jaccard") >= 0.95, 1L)
            .otherwise(0L)).as("agree_dup"),
          sum(when(col("jaccard_est") >= 0.95 && col("jaccard") < 0.95, 1L)
            .otherwise(0L)).as("est_only"),
          sum(when(col("jaccard_est") < 0.95 && col("jaccard") >= 0.95, 1L)
            .otherwise(0L)).as("exact_only"),
          round(avg(abs(col("jaccard_est") - col("jaccard"))), 6).as("mean_abs_err"))
    }),
    "d52_dedup_savings" -> ((s, d) => {
      // dedup-savings accounting: per source, bytes before vs after exact
      // dedup (each distinct text billed to its min-id doc's source) —
      // "how much does deduplication save per provider", the number that
      // prices a curation run. Shuffles carry (digest, id, source, length)
      // — never text; two hash aggs.
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), md5(col("text")).as("dg"),
          length(col("text")).cast("long").as("bytes"))
      val survivors = docs
        .groupBy("dg").agg(min(struct(col("doc_id"), col("source"), col("bytes"))).as("m"))
        .select(col("m.source").as("source"), col("m.bytes").as("bytes"))
        .groupBy("source").agg(count(lit(1)).as("n_kept"), sum("bytes").as("kept_bytes"))
      docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("bytes").as("total_bytes"))
        .join(survivors, Seq("source"))
        .select(col("source"), col("n_docs"), col("total_bytes"),
          col("n_kept"), col("kept_bytes"),
          round(lit(1.0) - col("kept_bytes").cast("double") / col("total_bytes"), 6)
            .as("savings"))
        .orderBy("source")
    }),
    "d51_contamination_fraction" -> ((s, d) => {
      // graded decontamination: per-doc FRACTION of distinct 4-gram
      // shingles shared with the probe set (d14 answers yes/no; threshold
      // policies need the fraction — drop at ≥x%, flag for review below).
      // Same scale shape as d14: 64-bit hashes explode, probe side
      // broadcast distinct; the fraction is two counts per doc.
      val docs = t(s, d, "documents")
      val probeH = docs.filter(pmod(col("doc_id"), lit(31)) === 0)
        .select(explode(HashFunctions.shingleHashes(col("text"), 4)).as("h"))
        .distinct()
      docs.filter(pmod(col("doc_id"), lit(31)) =!= 0)
        .select(col("doc_id"), explode(HashFunctions.shingleHashes(col("text"), 4)).as("h"))
        .join(broadcast(probeH.select(col("h"), lit(1).as("__hit"))), Seq("h"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_contaminated"))
        .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
          round(col("n_contaminated").cast("double") / col("n_shingles"), 6)
            .as("contamination"))
        .orderBy("doc_id")
    }),
    "d50_boilerplate_matrix" -> ((s, d) => {
      // boilerplate-provenance matrix: pairs of docs sharing an identical
      // 80-char prefix (shared headers/templates — the cheap cross-source
      // copy audit), counted per ordered source pair. The self-join
      // carries (prefix-digest, id, source) only: 16-byte digests shuffle,
      // text never does; per-digest pair counts are template-group
      // bounded.
      val dg = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          md5(substring(col("text"), 1, 80)).as("dg"))
      dg.as("a").join(dg.as("b"),
          col("a.dg") === col("b.dg") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    }),
    "d57_kneser_ney" -> ((s, d) => {
      // interpolated Kneser–Ney bigram scoring — the standard smoothing
      // over d45's plain interpolation (continuation TYPE counts, absolute
      // discounting). Trained on the doc_id<250 half and scored on the
      // whole corpus: 5 of the 26,665 scored bigrams are unseen, so the
      // discount+continuation interpolation is gate-exercised. The
      // unseen-HISTORY branch cannot occur on this 31-token corpus (every
      // token is a seen history) — LmSpec covers it directly.
      val docs = t(s, d, "documents")
      val model = Lm.kneserNey(docs.filter(col("doc_id") < 250))
      Lm.knPerplexity(docs, model)
        .select(col("doc_id"), col("n_scored"), col("n_bigram_hits"),
          round(col("cross_entropy"), 4).as("cross_entropy"),
          round(col("ppl"), 2).as("ppl"))
        .orderBy("doc_id")
    }),
    "d45_bigram_lm" -> ((s, d) => {
      // interpolated bigram LM scoring — one step toward CCNet's KenLM:
      // p(w2|w1) = λ·c(w1w2)/c(w1) + (1−λ)·p_uni(w2). Bigram table capped
      // top-256 (TakeOrderedAndProject, broadcast; each row carries its own
      // c(w1)); misses back off to the unigram term, so capping coarsens —
      // never breaks — scores. vocabSize 64 / maxBigrams 256 ≪ corpus
      // vocab so BOTH backoff paths are gate-exercised.
      val docs = t(s, d, "documents")
      val model = Lm.bigramLm(docs, vocabSize = 64, maxBigrams = 256, lambda = 0.7)
      Lm.bigramPerplexity(docs, model)
        .select(col("doc_id"), col("n_scored"), col("n_bigram_hits"),
          round(col("cross_entropy"), 4).as("cross_entropy"),
          round(col("ppl"), 2).as("ppl"))
        .orderBy("doc_id")
    }),
    "d44_wordpiece_encode" -> ((s, d) => {
      // WordPiece greedy maximal-munch segmentation under the d30 BPE
      // vocabulary — the OTHER standard subword deployment (BERT matching
      // rule vs d31's merge-order replay; they disagree on real words).
      // Narrow memoized scan pass, no shuffle. Oracle: independent Python
      // greedy matcher over the independently-learned Python BPE vocab.
      val docs = t(s, d, "documents")
      val model = Bpe.learnMerges(docs, numMerges = 40)
      graft.operators.Wordpiece.encode(docs, graft.operators.Wordpiece.fromBpe(model))
        .select(col("doc_id"), col("n_pieces"),
          concat_ws(" ", slice(col("pieces"), 1, 8)).as("pieces_prefix"))
        .orderBy("doc_id")
    }),
    "d42_heavy_hitters" -> ((s, d) => {
      // Count-Min heavy hitters (Cormode–Muthukrishnan '05): the sketch is
      // O(w×d) mergeable state built in ONE corpus pass — at 100 TB the
      // frequent-token table comes from sketch + Space-Saving candidates
      // (d12's TopKAggregator), never a full (token, count) shuffle. Gate
      // stance mirrors d26's exactness window: at this eps (1e-4 ⇒ width
      // 27 183 ≫ corpus vocab) every top-20 estimate is EXACT, so the
      // DuckDB exact-count oracle applies to both columns — a single
      // colliding cell in all 7 sketch rows would break the row hash.
      import s.implicits._
      val tok = t(s, d, "documents")
        .select(explode(TextFunctions.tokens(lower(col("text")))).as("token"))
      val cmsBin = tok
        .agg(expr("count_min_sketch(token, 0.0001d, 0.999d, 42)"))
        .head.getAs[Array[Byte]](0)
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(cmsBin))
      val top = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(20)
        .as[(String, Long)].collect().toSeq
      top.map { case (tk, cnt) => (tk, cnt, cms.estimateCount(tk)) }
        .toDF("token", "cnt", "cnt_est")
        .orderBy("token")
    }),
    "d43_weighted_sample" -> ((s, d) =>
      // quality/length-weighted subcorpus selection: Efraimidis–Spirakis
      // A-ES without-replacement sampling, deterministic md5-derived
      // uniforms, global top-k as TakeOrderedAndProject — one narrow pass,
      // no global sort, engine-recomputable (DuckDB recomputes the exact
      // same keys from the same digests).
      Sampling.weightedSample(t(s, d, "documents"), col("doc_id"),
          col("n_chars"), k = 50)
        .select(col("doc_id"), col("n_chars"), round(col("wkey"), 6).as("wkey"))
        .orderBy("doc_id")),
    "d39_edit_distance" -> ((s, d) =>
      // edit-distance-verified near-dups: O(len²) Levenshtein runs only on
      // LSH-colliding pairs. Oracle enumerates candidates via the shared-
      // shingle inverted index, a PROVABLE superset of LSH collisions
      // (minhash slot agreement implies a shared shingle), so both sides
      // agree exactly whenever LSH recall holds at the verify threshold.
      Dedup.editDistancePairs(t(s, d, "documents"), threshold = 0.8)
        .select(col("id_a"), col("id_b"), col("edit_dist"),
          round(col("edit_sim"), 4).as("edit_sim"))
        .orderBy("id_a", "id_b")),
    "d38_span_removal" -> ((s, d) =>
      // the ACTING half of d28's detection signal: cut every cross-doc
      // duplicated span of ≥ 5 tokens (Lee et al. 2022 ExactSubstr) —
      // positional window hashes, count-distinct df, covered-position
      // anti-join, per-doc reassembly. Linear; no all-pairs joins.
      Dedup.removeDupSpans(t(s, d, "documents"), n = 5, minDocs = 2)
        .orderBy("doc_id")),
    "d13_repetition" -> ((s, d) =>
      // duplicate-n-gram fraction (the C4/Gopher repetition quality filter)
      // at 2- and 3-gram granularity — narrow, codegen'd, scan-speed
      t(s, d, "documents")
        .select(col("doc_id"),
          round(HashFunctions.repetitionRatio(col("text"), 3), 4).as("rep3"),
          round(HashFunctions.repetitionRatio(col("text"), 2), 4).as("rep2"))
        .orderBy("doc_id")),
    "d15_tfidf" -> ((s, d) => {
      // corpus TF-IDF, top-3 terms per document. Shuffles carry (doc, token)
      // counts, never text; document-frequency joins back on token (a
      // hash join both sides — at 100 TB broadcast the df table if the
      // vocabulary fits, else it behaves like any hash join). The per-doc
      // window ranks within tiny (vocab-of-one-doc) groups, so the
      // partitionBy(doc_id) exchange is the same shuffle the tf groupBy
      // already did.
      val docs = t(s, d, "documents")
      val nDocs = docs.count() // scalar, driver-side by design
      val toks = docs.select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(lower(col("text")))).as("token"))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dlen = toks.groupBy("doc_id").agg(count(lit(1)).as("dlen"))
      val idf = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val scored = tf.join(dlen, "doc_id").join(idf, "token")
        .select(col("doc_id"), col("token"),
          ((col("tf").cast("double") / col("dlen")) *
            log(lit(nDocs.toDouble) / col("df"))).as("score"))
      scored.withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
            .orderBy(col("score").desc, col("token"))))
        .filter(col("r") <= 3)
        .select(col("doc_id"), col("token"), round(col("score"), 5).as("score"))
        .orderBy("doc_id", "token")
    }),
    "d11_subword_count" -> ((s, d) =>
      events(s, d)
        .select(col("event_id"),
          TextFunctions.subwordCount(col("props")).as("n_subwords"))
        .orderBy("event_id")),
    "d12_top_tokens" -> ((s, d) => {
      // Space-Saving heavy hitters; capacity > vocab size ⇒ exact counts,
      // so the DuckDB group-by oracle applies
      val topk = udaf(new graft.functions.TopKAggregator(k = 10, capacity = 4096))
      t(s, d, "documents")
        .select(explode(TextFunctions.tokens(lower(col("text")))).as("token"))
        .agg(topk(col("token")).as("top"))
        .select(explode(col("top")).as("tc"))
        .select(col("tc.item").as("token"), col("tc.cnt").as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
    }),
    "d10_lang_id" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextFunctions.tokens(lower(col("text"))).as("ltoks"))
        .select(col("doc_id"), TextFunctions.langIdOf(col("ltoks")).as("pred_lang"), col("lang"))
        .orderBy("doc_id")),

    "d65_scd2_fold" -> ((s, d) => {
      // standing-dimension maintenance: TWO update feeds folded through
      // the at-rest snapshot (init → applyEpoch → applyEpoch, each with a
      // staged-write atomic swap — StreamingDimension). The oracle is
      // CASE-ENUMERATED from first principles (the four key classes:
      // changed twice / first only / second only / never), independent of
      // the merge implementation, so a green row proves the fold, the
      // version chaining, AND the status labeling.
      val dim = t(s, d, "customer")
        .select(col("c_custkey"), col("c_acctbal"), col("c_nationkey"))
      val current = dim
        .withColumn("valid_from", lit("2020-01-01").cast("timestamp"))
        .withColumn("valid_to", lit(null).cast("timestamp"))
        .withColumn("version", lit(1L))
      val feed1 = dim.withColumn("c_acctbal",
        when(pmod(col("c_custkey"), lit(7)) === 0, col("c_acctbal") + 100)
          .otherwise(col("c_acctbal")))
      val feed2 = feed1.withColumn("c_acctbal",
        when(pmod(col("c_custkey"), lit(5)) === 0, col("c_acctbal") + 50)
          .otherwise(col("c_acctbal")))
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_d65_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      graft.streaming.StreamingDimension.init(current, dir)
      graft.streaming.StreamingDimension.applyEpoch(feed1, dir, "c_custkey",
        Seq("c_acctbal"), lit("2024-06-01").cast("timestamp"))
      graft.streaming.StreamingDimension.applyEpoch(feed2, dir, "c_custkey",
        Seq("c_acctbal"), lit("2024-07-01").cast("timestamp"))
      graft.streaming.StreamingDimension.snapshot(s, dir)
        .orderBy("c_custkey", "version")
    }),
    "d85_scd2_evolve_fold" -> ((s, d) => {
      // d65's standing fold WITH a mid-stream producer upgrade: epoch 1
      // arrives on the original schema, epoch 2's feed ADDED c_mktsegment
      // and DROPPED c_nationkey (StreamingDimension.applyEpochEvolved →
      // ScdMerge.mergeEvolved). The at-rest snapshot widens on the swap:
      // only rows epoch 2 (re)opened carry the added column, the dropped
      // column carries forward, history keeps NULLs. Oracle is
      // CASE-ENUMERATED over the four key classes, independent of the
      // merge implementation.
      val dim = t(s, d, "customer")
        .select(col("c_custkey"), col("c_acctbal"), col("c_nationkey"))
      val current = dim
        .withColumn("valid_from", lit("2020-01-01").cast("timestamp"))
        .withColumn("valid_to", lit(null).cast("timestamp"))
        .withColumn("version", lit(1L))
      val feed1 = dim.withColumn("c_acctbal",
        when(pmod(col("c_custkey"), lit(7)) === 0, col("c_acctbal") + 100)
          .otherwise(col("c_acctbal")))
      val feed2 = feed1
        .withColumn("c_acctbal",
          when(pmod(col("c_custkey"), lit(5)) === 0, col("c_acctbal") + 50)
            .otherwise(col("c_acctbal")))
        .drop("c_nationkey")
        .join(t(s, d, "customer").select("c_custkey", "c_mktsegment"), "c_custkey")
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_d85_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      graft.streaming.StreamingDimension.init(current, dir)
      graft.streaming.StreamingDimension.applyEpoch(feed1, dir, "c_custkey",
        Seq("c_acctbal"), lit("2024-06-01").cast("timestamp"))
      graft.streaming.StreamingDimension.applyEpochEvolved(feed2, dir,
        "c_custkey", Seq("c_acctbal"), lit("2024-07-01").cast("timestamp"))
      graft.streaming.StreamingDimension.snapshot(s, dir)
        .orderBy("c_custkey", "version")
    }),
    "d66_dsir_select" -> ((s, d) => {
      // DSIR (Xie et al. '23): rank the non-English pile by how English it
      // looks under the hashed-unigram importance model fit on the lang=en
      // target vs the whole corpus. Weights round to 6 decimals BEFORE the
      // top-50 rank so the cutoff is engine-stable (q40's stance).
      val docs = t(s, d, "documents")
      graft.operators.Dsir.importanceWeights(docs,
          isTarget = col("lang") === "en", buckets = 512)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .filter(col("lang") =!= "en")
        .select(col("doc_id"), col("lang"), round(col("weight"), 6).as("weight"))
        .orderBy(col("weight").desc, col("doc_id")).limit(50)
    }),
    "d67_bigram_diversity" -> ((s, d) => {
      // per-source lexical diversity: distinct-bigram ratio (the
      // distinct-n diversity audit — templated/boilerplate-heavy sources
      // score low). One tokenize pass, bigrams by zipping the token array
      // with its own tail (no shuffle until the 20-row source aggregate).
      val toks = TextFunctions.tokens(lower(col("text")))
      t(s, d, "documents")
        .select(col("source"), toks.as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("source"), explode(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("bigram"))
        .groupBy("source")
        .agg(count(lit(1)).as("total_bigrams"),
          countDistinct(col("bigram")).as("distinct_bigrams"),
          round(countDistinct(col("bigram")) / count(lit(1)).cast("double"), 6)
            .as("diversity"))
        .orderBy("source")
    }),
    "d68_normalized_dedup" -> ((s, d) => {
      // CCNet-style normalization-aware dedup (Dedup.normalizedDuplicateGroups
      // over plans.TextNormalizeExpr): case/accent/digit/punctuation/
      // whitespace variants of a document hash identically. The corpus is
      // already canonical, so the query plants the variant classes it must
      // collapse — upper-case, punctuation-injected, and accented copies
      // built with engine-portable builtins (upper/concat/translate) —
      // and every group must re-collapse to size 4 with n_raw_forms
      // counting the distinct raw bodies. This pins the full normalize→
      // md5 path byte-for-byte against DuckDB's
      // strip_accents/lower/regexp form on all ~4×|docs| rows.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val variants = docs
        .unionAll(docs.select(col("doc_id"), upper(col("text")).as("text")))
        .unionAll(docs.select(col("doc_id"),
          concat(lit("  ** "), col("text"), lit(" !!")).as("text")))
        .unionAll(docs.select(col("doc_id"),
          translate(col("text"), "a", "á").as("text")))
      Dedup.normalizedDuplicateGroups(variants)
        .orderBy("keep_id", "norm_hash")
    }),
    "d69_incremental_mv" -> ((s, d) => {
      // incremental aggregate-MV maintenance (IncrementalAgg): the per-
      // (event_type, day) stats table folded from 3 arrival batches
      // (deterministic event_id%3 split), never re-scanning earlier
      // batches — each merge shuffles the key domain only, raw rows are
      // map-side combined inside their own batch. Readout derives avg
      // from the mergeable partials; result ≡ one-shot aggregation (the
      // oracle computes exactly that).
      val ev = events(s, d).withColumn("day", to_date(col("ts")))
      val batches = (0 until 3).map(i => ev.filter(col("event_id") % 3 === i))
      graft.operators.IncrementalAgg.fold(batches, Seq("event_type", "day"), "value")
        .select(col("event_type"), col("day"), col("n"),
          round(col("sum_v"), 2).as("sum_v"),
          col("min_v"), col("max_v"),
          round(col("sum_v") / col("n"), 3).as("avg_v"))
        .orderBy("event_type", "day")
    }),
    "d70_pack_ffd" -> ((s, d) => {
      // whole-document first-fit-decreasing packing (no doc ever splits —
      // the SFT/no-cross-doc-attention packing, complementing d18's
      // concat-and-chunk): id-hash sharded folds, longest-first, bounded
      // open-bin buffer. Oracle: exact Python replay of the documented
      // fold (tools/gen_fixtures.py → FixtureOracles), so a drifted hash,
      // sort order, fit scan, or bin-close rule all break the gate.
      val docs = t(s, d, "documents")
      Packing.packDocsFirstFit(docs, TextFunctions.tokenCount(col("text")),
          budget = 128L, shards = 4, maxOpenBins = 3)
        .select(col("doc_id"), col("n_tokens"),
          col("shard").cast("long").as("shard"), col("bin_id"),
          col("bin_pos").cast("long").as("bin_pos"), col("oversize"))
        .orderBy("doc_id")
    }),
    "w26_stream_line_dedup" -> ((s, d) => {
      // STANDING line-granularity dedup (StreamingLineDedup.dedupFold —
      // the exact per-trigger semantics of the flatMapGroupsWithState
      // path): three arrival epochs (pmod(doc_id, 3)); a line is owned by
      // its EARLIEST ARRIVAL (epoch first, (id, pos) within), so an
      // epoch-0 doc with a high id owns lines that lower-id later-epoch
      // docs lose — the oracle orders by arrival, which makes the
      // cross-epoch seen-key carry visible in the green row. Pseudo-lines
      // are d89's 8-token chunks.
      val tk = split(trim(col("text")), " ")
      val lines = transform(
        sequence(lit(0), ceil(size(tk) / lit(8.0)).cast("int") - 1),
        i => concat_ws(" ", slice(tk, i * lit(8) + 1, lit(8))))
      val pseudo = t(s, d, "documents").select(col("doc_id"),
        concat_ws("\n", lines).as("text"),
        pmod(col("doc_id"), lit(3)).cast("int").as("_epoch"))
      graft.streaming.StreamingLineDedup.dedupFold(pseudo, nEpochs = 3)
        .orderBy("doc_id")
    }),
    "w25_rocksdb_dedup" -> ((s, d) => {
      // the RocksDB state-store path under the DRIVER GATE: a REAL
      // Structured Streaming aggregation (not an epoch fold) over three
      // micro-batches with its keyed state in RocksDB
      // (StateStores.withProvider) — per-digest copy counts and keeper
      // ids, deterministic under any arrival order. The query REQUIRES
      // RocksDB artifacts (per-version .zip / .changelog) in the
      // checkpoint and the absence of the in-heap provider's .delta
      // files, so a silently-defaulted provider fails the row instead of
      // passing hollow. At deployment scale the same plan reads
      // readStream'd arrivals; RocksDB keeps resident digests off-heap
      // (see StateStores' 100-TB note).
      import java.nio.file.{Files => JFiles, Paths => JPaths}
      // arrival-file cache key = corpus file identity (size + mtime):
      // a driver-regenerated corpus changes both, so stale arrivals from
      // a previous corpus can never feed the gate (review finding —
      // keying on the dataset NAME alone reused them). Distinct keys get
      // distinct directories; within one key the files are a pure
      // function of the corpus, so reuse is sound (bench best-of-2 and
      // rerun discipline would otherwise pay the write per measurement).
      val srcFile = JPaths.get(d, "documents.parquet")
      val fp = s"${JFiles.size(srcFile)}_${JFiles.getLastModifiedTime(srcFile).toMillis}"
      val base = JPaths.get(System.getProperty("java.io.tmpdir"),
        "graft_w25_" + (d + "_" + fp).replaceAll("[^A-Za-z0-9._]", "_"))
      def rmrf(p: java.nio.file.Path): Unit = if (JFiles.exists(p)) {
        val walk = JFiles.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { JFiles.deleteIfExists(f); () })
        finally walk.close()
      }
      val inDir = base.resolve("in"); val cp = base.resolve("cp")
      rmrf(cp) // the CHECKPOINT must start clean every run (a reused one
      // would RESUME the stream and skip the arrivals)
      if (!JFiles.exists(inDir.resolve("_SUCCESS"))) {
        // build into a unique temp dir, then ATOMIC_MOVE into place — a
        // concurrent builder cannot observe a half-written input dir,
        // and the loser of the rename race just uses the winner's files
        rmrf(inDir)
        val tmp = base.resolve("in_build_" + java.util.UUID.randomUUID())
        // three arrival files -> three micro-batches (maxFilesPerTrigger=1)
        t(s, d, "documents").select(col("doc_id"), col("text"),
            pmod(col("doc_id"), lit(3)).as("arrival"))
          .repartition(1)
          .write.partitionBy("arrival").parquet(tmp.toString)
        try JFiles.move(tmp, inDir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          // lost the rename race (target exists) — use the winner's files
          case _: java.nio.file.FileSystemException => rmrf(tmp)
        }
      }
      val src = s.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir.toString + "/arrival=*")
      // key on the 8-token PREFIX digest (the corpus has no byte-exact
      // dups — whole-text md5 would make every group a singleton and the
      // cross-batch state merge would never fire; near-dup edits share
      // prefixes, so ~5% of groups genuinely merge across batches)
      val agg = src
        .groupBy(md5(concat_ws(" ",
          slice(split(trim(col("text")), " "), 1, 8))).as("digest"))
        .agg(count(lit(1L)).as("n_copies"), min(col("doc_id")).as("keeper_id"))
      val sinkName = "w25_sink_" + math.abs(d.hashCode).toString
      val q = graft.streaming.StateStores.withProvider(s, Some("rocksdb")) {
        agg.writeStream.format("memory").queryName(sinkName)
          .outputMode("complete")
          .option("checkpointLocation", cp.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      q.awaitTermination(); q.stop()
      var sawRocks = false; var sawDelta = false
      val stateWalk = JFiles.walk(cp.resolve("state"))
      try stateWalk.iterator().forEachRemaining { f =>
        val n = f.getFileName.toString
        if (n.endsWith(".zip") || n.endsWith(".changelog")) sawRocks = true
        if (n.endsWith(".delta")) sawDelta = true
      } finally stateWalk.close()
      require(sawRocks && !sawDelta,
        s"RocksDB provider did not engage (rocks=$sawRocks delta=$sawDelta)")
      s.table(sinkName).orderBy("keeper_id")
    }),
    "w23_stream_heavy_hitters" -> ((s, d) => {
      // STANDING top contributors per event type via the Space-Saving
      // sketch epoch fold (StreamingHeavyHitters — the exact per-trigger
      // semantics of the Update-mode stream). Gate parameters make the
      // sketch EXACT (capacity 4096 >= distinct users), so plain SQL
      // counts oracle the fold + cross-epoch carry; the bounded-capacity
      // eviction path is spec-pinned where SQL cannot follow.
      val ev = events(s, d).select(col("event_type").as("group"),
        col("user_id").as("item"), lit(1L).as("weight"),
        pmod(col("event_id"), lit(3)).cast("int").as("_epoch"))
      val sk = graft.streaming.StreamingHeavyHitters.sketchFold(
        ev, capacity = 4096, nEpochs = 3)
      import org.apache.spark.sql.expressions.{Window => W}
      sk.withColumn("rank", row_number().over(
          W.partitionBy(col("group")).orderBy(col("count").desc, col("item")))
          .cast("long"))
        .filter(col("rank") <= 10)
        .select(col("group").as("event_type"), col("item").as("user_id"),
          col("count").as("n"), col("rank"))
        .orderBy("event_type", "rank")
    }),
    "w21_stream_packing" -> ((s, d) => {
      // STANDING whole-doc packing (StreamingPacking.packFold — the exact
      // per-trigger semantics of the foreachBatch runner): three arrival
      // epochs (pmod(doc_id, 3)) fold longest-first into per-shard open
      // bins carried ACROSS epochs, so a bin part-filled in epoch 0 keeps
      // filling in epoch 1 and bin sequences never collide. Oracle: exact
      // epoch-aware Python replay (FixtureOracles) — a green row proves
      // the fold rules AND the cross-epoch state carry.
      graft.streaming.StreamingPacking.packFold(
          t(s, d, "documents"), TextFunctions.tokenCount(col("text")),
          budget = 128L, shards = 4, maxOpenBins = 3, nBatches = 3)
        .select(col("doc_id"), col("n_tokens"),
          col("shard").cast("long").as("shard"), col("bin_id"),
          col("bin_pos").cast("long").as("bin_pos"), col("oversize"),
          col("epoch"))
        .orderBy("doc_id")
    }),
    "d76_gopher_quality" -> ((s, d) =>
      // Gopher rule battery (Rae et al. 2021 appendix A): the standard
      // pretraining pre-filter, one projection over the shared token array
      // (see TextFunctions.gopherRules for the determinism contract — all
      // integer arithmetic and integer-over-integer divisions, so the
      // oracle reproduces every field exactly, no rounding anywhere).
      t(s, d, "documents")
        .select(col("doc_id"), TextFunctions.gopherRules(col("text")).as("g"))
        .select(col("doc_id"),
          col("g.n_words").as("n_words"),
          col("g.mean_word_len").as("mean_word_len"),
          col("g.symbol_ratio").as("symbol_ratio"),
          col("g.alpha_word_frac").as("alpha_word_frac"),
          col("g.n_required_stop").as("n_required_stop"),
          col("g.passes").as("passes"))
        .orderBy("doc_id")),
    "d77_cdc_compact" -> ((s, d) => {
      // changelog compaction (Debezium-style I/U/D stream → current
      // snapshot): the ingest side of a metadata/dimension maintenance
      // loop. The changelog is synthesized deterministically from orders
      // (every row inserts; %7 keys update the price at seq 2; %13 keys
      // delete at seq 3), so the compacted state is SQL-predictable. ONE
      // key shuffle: window rank by seq desc, keep latest, drop deletes.
      val o = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val ins = o.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"),
        lit(1L).as("seq"), lit("I").as("op"))
      val upd = o.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          (col("o_totalprice") * 1.1).as("o_totalprice"),
          lit(2L).as("seq"), lit("U").as("op"))
      val del = o.filter(col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), lit(3L).as("seq"), lit("D").as("op"))
      graft.operators.Cdc.compactChangelog(
          ins.unionByName(upd).unionByName(del), Seq("o_orderkey"), "seq", "op")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("op").as("last_op"))
        .orderBy("o_orderkey")
    }),
    "d78_snapshot_diff" -> ((s, d) => {
      // keyed snapshot diff — the refresh audit before promoting a new
      // table version: added/removed/changed per key with the sorted list
      // of differing columns. The "after" snapshot applies deterministic
      // mutations (%13 removed, %7 price bump, %11 status flip, %17
      // re-keyed copies added), so every change row is SQL-predictable.
      // Unchanged keys drop — the diff output is the small relation.
      val o = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val after = o.filter(col("o_orderkey") % 13 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")))
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 11 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
        .unionByName(o.filter(col("o_orderkey") % 17 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_custkey"), col("o_orderstatus"), col("o_totalprice")))
      // changed_cols is array<string> in the operator API; the oracled
      // projection serializes it (comma-join of the already-sorted list)
      // because the driver's pandas harness cannot sort array columns —
      // oracled query outputs must be scalar-only (HarnessGateSpec pins
      // this for every queries() entry).
      graft.operators.Cdc.snapshotDiff(o, after, Seq("o_orderkey"))
        .withColumn("changed_cols", concat_ws(",", col("changed_cols")))
        .orderBy("o_orderkey")
    }),
    "d75_unigram_encode" -> ((s, d) => {
      // unigram (SentencePiece-style) tokenizer: learned piece vocab +
      // INTEGER-weight Viterbi segmentation (see Unigram.scala for why the
      // objective is integer — engine-independent argmax, no float ties).
      // total_weight pins the DP maximization; the oracle is an exact
      // independent Python replay (FixtureOracles).
      val docs = t(s, d, "documents")
      val model = graft.operators.Unigram.learnVocab(docs, maxLen = 4, topV = 200)
      graft.operators.Unigram.encode(docs, model).orderBy("doc_id")
    }),
    "d79_nb_classify" -> ((s, d) => {
      // multinomial Naive Bayes language classifier (the trained routing/
      // quality-gating model class): integer-count fit in two bounded
      // aggregations, scan-speed scoring. Output carries only the discrete
      // decision (label + correctness) — the float scores stay internal,
      // and the fixture generator margin-asserts every decision.
      val docs = t(s, d, "documents")
      val model = graft.operators.NaiveBayes.fit(docs, "lang")
      graft.operators.NaiveBayes.predict(docs, model)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("pred"),
          (col("pred") === col("lang")).as("correct"))
        .orderBy("doc_id")
    }),
    "d97_cluster_balance" -> ((s, d) => {
      // cluster-balanced sampling (the SemDeDup/DCLM-style topic-balance
      // step): embeddings assigned to the frozen first-8 centroids (the
      // e4/w8 cell rule), per-cell weights floor(sqrt(n)) (τ = 2), a
      // 100-vector budget apportioned by integer largest remainder, then
      // a deterministic md5-ranked take per cell — squashes
      // over-represented clusters out of a fixed-size training sample.
      // Pure composition of independently-gated pieces: assignment ≡ w8's
      // cell rule, allocation + take ≡ d95's integer contract.
      val emb = t(s, d, "embeddings")
      val cents = graft.operators.Similarity.collectCentroids(
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").cast("int").as("centroid_id"),
            col("embedding").as("centroid_vec")))
      val assigned = emb.select(col("vec_id"),
        element_at(
          graft.plans.VectorExpressions.nearestCells(col("embedding"), cents, 1), 1)
          .getField("cell").cast("string").as("cell"))
      val counts = assigned.groupBy("cell").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
      val quotas = Sampling.largestRemainder(
        counts.map { case (g, n) => g -> Sampling.isqrt(n) }, 100L)
      // skew-safe take (≡ window form; see d95/d99) — a mega-cluster
      // can't serialize the sample on one window task
      Sampling.takePerGroupSkewSafe(assigned, "cell", quotas,
          idCol = "vec_id", precomputedCounts = counts.toMap)
        .select(col("vec_id"), col("cell").cast("long").as("cell"), col("pick"))
        .orderBy("cell", "pick")
    }),
    "d96_dsir_select" -> ((s, d) => {
      // DSIR importance resampling (Xie et al. 2023) — the "select raw
      // docs that look like the target domain" step of a training-data
      // pipeline: hashed unigram+bigram bag features (md5 → 256 buckets,
      // the engine-recomputable idiom), add-one-smoothed target-vs-corpus
      // log-likelihood ratio per bucket, per-doc summed weight (rounded —
      // the cross-engine sum-order contract), top-100 by (weight desc,
      // id). Target domain here: the corpus's English docs.
      val docs = t(s, d, "documents")
      val target = docs.filter(col("lang") === "en")
      val w = graft.operators.Dsir.dsirWeights(docs, target)
      val ranked = w.orderBy(col("weight").desc, col("doc_id")).limit(100)
      ranked.withColumn("rank", row_number().over(
          Window.orderBy(col("weight").desc, col("doc_id"))).cast("long"))
        .select(col("rank"), col("doc_id"), col("weight"))
        .orderBy("rank")
    }),
    "d95_budget_mix" -> ((s, d) => {
      // EXACT-BUDGET temperature mixing (the GPT-3/Pile data-assembly
      // step): per-source weights = floor(sqrt(n)) (τ = 2), Hamilton
      // largest-remainder apportionment of a 200-doc budget in PURE
      // INTEGER arithmetic (quotient/remainder comparisons can never
      // flip on a last-bit float division — the oracle replays the
      // allocation in SQL and must agree slot for slot), then a
      // deterministic md5-ranked take per source. temperatureRates +
      // mixtureSample are the RATE form of this; a fixed token/doc
      // budget needs the exact-count form.
      val docs = t(s, d, "documents")
      val counts = docs.groupBy("source").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
      val quotas = Sampling.largestRemainder(
        counts.map { case (g, n) => g -> Sampling.isqrt(n) }, 200L)
      // the budget rides the SKEW-SAFE take (md5-threshold prefilter +
      // exact top-up — output ≡ the window form, property-pinned; d99
      // gates the equivalence on a planted-dominant-group fixture), so a
      // single dominant source can never funnel the corpus through one
      // window task; counts are reused from the quota sizing above
      Sampling.takePerGroupSkewSafe(docs, "source", quotas,
          precomputedCounts = counts.toMap)
        .select(col("doc_id"), col("source"), col("pick"))
        .orderBy("source", "pick")
    }),
    "d94_char_lang_id" -> ((s, d) => {
      // TRAINED language-ID (the CCNet/fastText pipeline component):
      // binarized multinomial NB over word-boundary-marked char 2-3-gram
      // presence features — replaces d10's fixed marker-list scoring with
      // a model fit on the corpus. Integer-count fit (alphabet-bounded
      // vocab, driver-safe at any corpus scale), scan-speed scoring in
      // canonical sorted-gram order. The fixture generator replays fit +
      // argmax independently, margin-asserts every decision, and asserts
      // accuracy above BOTH the d10 marker baseline and the majority
      // class — a degenerate model fails generation, not the gate.
      val docs = t(s, d, "documents")
      val model = graft.operators.NaiveBayes.fitCharGrams(docs, "lang")
      graft.operators.NaiveBayes.predictCharGrams(docs, model)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("pred"),
          (col("pred") === col("lang")).as("correct"))
        .orderBy("doc_id")
    }),
    "d84_nb_capped" -> ((s, d) => {
      // d79's CAPPED twin: fit prunes the (class, token) relation BEFORE
      // the driver collect (minCount floor + top-V vocab, ties to the
      // smaller token) — the path a web-scale corpus MUST run or the
      // unbounded unique-token tail OOMs the driver. The fixture replays
      // the pruning independently, so a green row proves the cap
      // end-to-end under the driver gate, not only in a spec.
      val docs = t(s, d, "documents")
      // caps sized to this corpus's 31-token vocabulary: the floor drops
      // the one tail token (count 26 vs >=840 for the rest) and the top-V
      // limit path runs at the boundary — the lang signal here lives in
      // rare-ish tokens, so harder caps destroy the classifier (the
      // generator's accuracy-vs-majority assert enforces that tradeoff)
      val model = graft.operators.NaiveBayes.fit(docs, "lang",
        minCount = 27L, topV = 30)
      graft.operators.NaiveBayes.predict(docs, model)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("pred"),
          (col("pred") === col("lang")).as("correct"))
        .orderBy("doc_id")
    }),
    "d81_k_anonymity" -> ((s, d) =>
      // k-anonymity audit over event quasi-identifiers (type, day, value
      // band): per-equivalence-class size + release verdict at k=5 — the
      // re-identification risk check before a dataset ships. One hash
      // aggregation on the quasi tuple; enforcement (suppression) is
      // spec-pinned in PrivacySpec.
      graft.operators.Privacy.kAnonymityAudit(events(s, d),
          Seq(col("event_type"), col("ts").cast("date"),
            floor(col("value") / 100).cast("long")),
          Seq("event_type", "day", "band"), k = 5)
        .orderBy("event_type", "day", "band")),
    "d106_dp_counts" -> ((s, d) =>
      // differentially-private release of per-(lang, source) doc counts:
      // Laplace(scale=5 => epsilon=0.2 for sensitivity-1 counts) via a
      // DETERMINISTIC md5 draw keyed by (seed, group) — re-running the
      // job republishes the SAME noised statistics instead of spending
      // more privacy budget on fresh draws. The seed is EXPLICIT (the
      // operator has no default: it is a secret in production — anyone
      // who knows it can subtract the noise exactly); this gate's value
      // is a published test-fixture constant, mirrored in the oracle.
      // One hash aggregation; the noise is a narrow projection on the
      // group-cardinality relation.
      graft.operators.Privacy.dpNoisedCounts(t(s, d, "documents"),
          Seq(col("lang"), col("source")), Seq("lang", "source"),
          scale = 5.0, seed = "graft-dp")
        .orderBy("lang", "source")),
    "d107_count_min" -> ((s, d) => {
      // COUNT-MIN SKETCH point queries over event actors — the
      // cardinality-oblivious counter a 100-TB pipeline runs where the
      // exact groupBy would shuffle billions of keys: every partition
      // folds into ONE depth×width Long grid (4×128 = 4 KB), grids merge
      // by vector addition, and estimates are a broadcast-literal lookup
      // (md5 bucket arithmetic, codegen'd). Gate pins the classic
      // one-sided guarantee structurally (estimate >= true, always) and
      // the exact grid values against the oracle's replay of the same
      // md5 arithmetic.
      val (depth, width) = (4, 128)
      val ev = events(s, d)
      val grid = graft.operators.CountMin.sketch(ev, col("user_id"),
        depth, width)
      val truth = ev.filter(col("user_id") < 40)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      val out = graft.operators.CountMin.estimate(truth,
          col("user_id").cast("string"), grid, depth, width)
        .select(col("user_id"), col("n"), col("cms_est"),
          (col("cms_est") - col("n")).as("overest"))
        .orderBy("user_id")
      // the CMS contract: NEVER an underestimate (driver check over the
      // 40-key probe relation — bounded)
      require(out.filter(col("overest") < 0).isEmpty,
        "count-min must never underestimate")
      out
    }),
    "d82_dataset_card" -> ((s, d) => {
      // dataset-card report: the one-relation "datasheet" summary a corpus
      // release carries (volume, source/language breadth, token stats,
      // exact-dup rate). Two bounded aggregations (one scan each), stacked
      // into a tall (metric, value) relation — every value is a count or
      // an exact-integer division, so the oracle reproduces it bit-for-bit.
      val docs = t(s, d, "documents")
      val toks = TextFunctions.tokenCount(col("text"))
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_chars"),
        sum(toks).as("total_tokens"),
        max(toks).as("max_tokens"),
        min(toks).as("min_tokens"))
      val dup = docs.agg(
        countDistinct(md5(col("text"))).as("n_distinct_texts"),
        count(lit(1)).as("n"))
      base.crossJoin(broadcast(dup)).selectExpr(
        """stack(8,
           'exact_dup_fraction', 1.0d - cast(n_distinct_texts as double) / cast(n as double),
           'max_tokens', cast(max_tokens as double),
           'mean_tokens', cast(total_tokens as double) / cast(n_docs as double),
           'min_tokens', cast(min_tokens as double),
           'n_docs', cast(n_docs as double),
           'n_langs', cast(n_langs as double),
           'n_sources', cast(n_sources as double),
           'total_chars', cast(total_chars as double)) AS (metric, value)""")
        .orderBy("metric")
    }),
    "d80_soft_dedup_weights" -> ((s, d) =>
      // soft dedup: down-weight duplicates (weight = 1/group size) instead
      // of dropping them — a group of n copies carries one doc's worth of
      // mixture mass. Digest-only aggregation + digest join back.
      Dedup.softDedupWeights(t(s, d, "documents")).orderBy("doc_id")),
    "d74_pack_efficiency" -> ((s, d) => {
      // packing-efficiency report over d70's bins — THE operational metric
      // for whole-doc packing (waste = padding tokens a trainer pays for):
      // per fill-decile bucket, how many bins/docs land there and their
      // total fill. Oversize singletons clamp into the top bucket. The
      // aggregation runs over the bins relation (corpus/docs-per-bin
      // rows), one shuffle after the pack itself.
      val packed = Packing.packDocsFirstFit(t(s, d, "documents"),
        TextFunctions.tokenCount(col("text")),
        budget = 128L, shards = 4, maxOpenBins = 3)
      packed.groupBy("bin_id")
        .agg(sum("n_tokens").as("fill"), count(lit(1)).as("n_docs"))
        .select(least(floor(col("fill") * 10 / 128L), lit(10L)).as("fill_decile"),
          col("fill"), col("n_docs"))
        .groupBy("fill_decile")
        .agg(count(lit(1)).as("n_bins"), sum("n_docs").as("n_docs"),
          sum("fill").as("sum_fill"))
        .orderBy("fill_decile")
    }),
    "d71_blocklist_filter" -> ((s, d) => {
      // C4-style blocklist ("bad word") audit: per-doc total blocklisted
      // occurrences + distinct blocklist terms present, flag if any. The
      // corpus vocabulary stands in for a real blocklist; the operator is
      // one narrow scan (count-in-set native pass + literal-array
      // intersect), no joins.
      val bl = Seq("slow", "stream", "vector")
      t(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.blocklistAudit(
            TextFunctions.tokens(lower(col("text"))), bl).as("a"))
        .select(col("doc_id"), col("a.n_blocked").as("n_blocked"),
          col("a.n_blocked_terms").as("n_blocked_terms"))
        .withColumn("blocked", col("n_blocked") > 0)
        .orderBy("doc_id")
    }),
    "d72_script_profile" -> ((s, d) => {
      // unicode script detection (one native char pass, range-based counts
      // so DuckDB's character-class regex mirrors them exactly): the
      // corpus is ASCII, so the query plants script-pure Cyrillic / CJK /
      // Arabic rows; dominant-script ties resolve by the fixed
      // latin > cyrillic > cjk > arabic precedence on both engines.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 25)
      val corpus = docs
        .unionAll(planted.select((col("doc_id") + 10000).as("doc_id"),
          lit("Привет мир труд май").as("text")))
        .unionAll(planted.select((col("doc_id") + 20000).as("doc_id"),
          lit("你好世界 机器 学习").as("text")))
        .unionAll(planted.select((col("doc_id") + 30000).as("doc_id"),
          lit("مرحبا بالعالم").as("text")))
      corpus.select(col("doc_id"), TextFunctions.scriptProfile(col("text")).as("p"))
        .select(col("doc_id"),
          col("p.n_latin").cast("long").as("n_latin"),
          col("p.n_cyrillic").cast("long").as("n_cyrillic"),
          col("p.n_cjk").cast("long").as("n_cjk"),
          col("p.n_arabic").cast("long").as("n_arabic"))
        .withColumn("dominant",
          when(col("n_latin") + col("n_cyrillic") + col("n_cjk") +
            col("n_arabic") === 0, lit("unknown"))
          .when(col("n_latin") >= greatest(col("n_cyrillic"), col("n_cjk"),
            col("n_arabic")), lit("latin"))
          .when(col("n_cyrillic") >= greatest(col("n_cjk"), col("n_arabic")),
            lit("cyrillic"))
          .when(col("n_cjk") >= col("n_arabic"), lit("cjk"))
          .otherwise(lit("arabic")))
        .orderBy("doc_id")
    }),
    "d73_dedup_threshold_sweep" -> ((s, d) => {
      // dedup-threshold tuning curve: the LSH-verified exact-Jaccard pairs
      // (d37's scale path) swept over candidate thresholds in ONE pass —
      // per threshold, how many pairs fire, how many docs are touched, and
      // how many the keep-lowest-id rule would remove. The natural corpus
      // only has j >= 0.9 pairs, so the query plants suffix variants
      // (1-4 nonsense tokens on >= 40-token docs → j ~ 0.90-0.98, spread
      // across the swept thresholds) — every pair stays above j 0.9, where
      // the 16x4 banding's miss probability is < 1e-7, keeping the exact
      // inverted-index oracle sound (the d37 argument). The pair relation
      // computes once; the sweep is an explode + re-aggregation of the
      // pairs-sized (not corpus-sized) relation. Threshold compares happen
      // in double on both engines (bp/100.0 parses/computes to the same
      // IEEE value), so boundary pairs cannot flip cross-engine.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val planted = docs
        .filter(col("doc_id") < 40 &&
          TextFunctions.tokenCount(col("text")) >= 40)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), element_at(array(
            lit(" zq1x"), lit(" zq1x zq2x"), lit(" zq1x zq2x zq3x"),
            lit(" zq1x zq2x zq3x zq4x")),
            (col("doc_id") % 4 + 1).cast("int"))).as("text"))
      // persisted: the pairs relation is ~100 rows but its lineage is the
      // full LSH+verify pass — without the persist BOTH aggregation
      // branches below recompute it (observed: 12 parquet scans in the
      // plan, 4.7s; with it the corpus is read once)
      val pairs = Dedup.ngramJaccardPairs(docs.unionAll(planted), threshold = 0.85)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val swept = pairs
        .select(col("id_a"), col("id_b"), col("jaccard"),
          explode(array(Seq(85, 92, 95, 98, 100).map(lit): _*)).as("threshold_bp"))
        .filter(col("jaccard") >= col("threshold_bp").cast("double") / 100.0)
      val pairStats = swept.groupBy("threshold_bp")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("id_b")).as("n_removed"))
      val docStats = swept
        .select(col("threshold_bp"), explode(array(col("id_a"), col("id_b"))).as("id"))
        .groupBy("threshold_bp").agg(countDistinct(col("id")).as("n_docs_affected"))
      pairStats.join(docStats, "threshold_bp")
        .select(col("threshold_bp").cast("long").as("threshold_bp"),
          col("n_pairs"), col("n_docs_affected"), col("n_removed"))
        .orderBy("threshold_bp")
    }),
    "d63_negative_sampling" -> ((s, d) => {
      // contrastive-training negatives: per anchor, the 5 corpus docs that
      // rank first under a deterministic per-(anchor,candidate) md5 —
      // reproducible across engines/runs (no RNG state), excluding the
      // anchor and its exact duplicates. The anchor set is k-bounded by
      // contract (broadcast); at 100 TB swap the full-corpus window for a
      // per-anchor bounded top-k aggregate (ScoredTopKAggregator, e1's
      // shape) — the hash ordering is the same.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val anchors = docs.filter(col("doc_id") < 10)
        .select(col("doc_id").as("anchor_id"), col("text").as("anchor_text"))
      docs.select(col("doc_id").as("corpus_id"), col("text").as("cand_text"))
        .join(broadcast(anchors),
          col("corpus_id") =!= col("anchor_id") &&
            col("cand_text") =!= col("anchor_text"))
        .withColumn("h", md5(concat_ws("_", col("anchor_id"), col("corpus_id"))))
        .withColumn("rank", row_number().over(
          Window.partitionBy("anchor_id").orderBy(col("h"), col("corpus_id"))))
        .filter(col("rank") <= 5)
        .select(col("anchor_id"), col("corpus_id"), col("rank"))
        .orderBy("anchor_id", "rank")
    }),
    "d64_split_leakage" -> ((s, d) => {
      // cross-split contamination report: near-dup pairs whose endpoints
      // landed in different train/val/test splits (the leakage the split
      // was supposed to prevent — dedup-before-split auditing). Composes
      // the d7 pair generator with the d24 md5 split; oracle mirrors both
      // chains independently in the python fixture.
      val docs = t(s, d, "documents")
      val split = Sampling.hashSplit(docs, col("doc_id"),
          Seq(("train", 80), ("val", 10), ("test", 10)))
        .select(col("doc_id"), col("split"))
      Dedup.minHashLshPairs(docs, threshold = 0.3)
        .join(split.select(col("doc_id").as("id_a"), col("split").as("split_a")),
          Seq("id_a"))
        .join(split.select(col("doc_id").as("id_b"), col("split").as("split_b")),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"),
          (col("split_a") =!= col("split_b")).as("leaked"))
        .orderBy("id_a", "id_b")
    }),
    "d62_source_overlap" -> ((s, d) => {
      // cross-source duplication accounting (the RefinedWeb/Dolma-style
      // report): near-dup pairs bucketed by the unordered source pair of
      // their endpoints — which feeds deduplicate-ACROSS-sources vs
      // within-source decisions. Two key joins of the (id, source)
      // relation onto the pair list; counts are integers, no float risk.
      val docs = t(s, d, "documents")
      val src = docs.select(col("doc_id"), col("source"))
      Dedup.minHashLshPairs(docs, threshold = 0.3)
        .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), Seq("id_b"))
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
        .orderBy("src_a", "src_b")
    }),
    "d61_dup_pagerank" -> ((s, d) => {
      // template-document detection: PageRank centrality over the d7
      // MinHash near-dup pair graph — the hub of a boilerplate cluster
      // outranks its copies. Oracle: independent python mirror (same
      // xxh64 pair derivation as d7, float PR with margin-asserted
      // 6-decimal rounding) in FixtureOracles. Only ranked nodes with
      // rank above the isolated-node floor are emitted (every isolated
      // node sits exactly at teleport mass; the floor filter keeps the
      // fixture small without losing any graph structure).
      val docs = t(s, d, "documents")
      val edges = Dedup.minHashLshPairs(docs, threshold = 0.3)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      val nDocs = docs.count() // one count job; shared with pageRank below
      val n = nDocs.toDouble
      graft.operators.Graph.pageRank(docs.select(col("doc_id").as("id")), edges,
          iterations = 3, damping = 0.85, nNodes = Some(nDocs))
        .filter(col("rank") > lit(0.15 / n) + lit(1e-12))
        .select(col("id").as("doc_id"), round(col("rank") * 1000, 6).as("pr_millis"))
        .orderBy("doc_id")
    }),
    "d60_scd2_merge" -> ((s, d) => {
      // type-2 dimension merge (lakehouse MERGE INTO on plain parquet):
      // customers with custkey%7==0 arrive with a changed balance (old row
      // closes, v2 opens), 30 brand-new keys insert at v1, everyone else
      // passes through untouched — see ScdMerge for the single
      // key-shuffle full-outer shape
      val dim = t(s, d, "customer")
        .select(col("c_custkey"), col("c_acctbal"), col("c_nationkey"))
      val current = dim
        .withColumn("valid_from", lit("2020-01-01").cast("timestamp"))
        .withColumn("valid_to", lit(null).cast("timestamp"))
        .withColumn("version", lit(1L))
      val updates = dim
        .withColumn("c_acctbal",
          when(pmod(col("c_custkey"), lit(7)) === 0, col("c_acctbal") + 100)
            .otherwise(col("c_acctbal")))
        .unionByName(dim.filter(col("c_custkey") < 30)
          .select((col("c_custkey") + 100000).as("c_custkey"),
            (col("c_custkey") * 1.5).as("c_acctbal"),
            pmod(col("c_custkey"), lit(25)).as("c_nationkey")))
      graft.operators.ScdMerge.merge(current, updates, "c_custkey",
          changeCols = Seq("c_acctbal"), batchTs = lit("2024-06-01").cast("timestamp"))
        .orderBy(col("c_custkey"), col("version"))
    }),
    "d83_scd2_evolve" -> ((s, d) => {
      // SCHEMA-EVOLVED type-2 merge (ScdMerge.mergeEvolved): the update
      // feed ADDED c_mktsegment and DROPPED c_nationkey relative to the
      // at-rest dimension. Added column: only rows (re)opened by this
      // batch carry it — SCD2 rows are immutable, no retro-fill; dropped
      // column: carried forward on reopen, NULL for pure inserts. The
      // oracle is CASE-ENUMERATED per key class (changed / unchanged /
      // inserted), independent of the merge implementation.
      val cust = t(s, d, "customer")
      val current = cust
        .select(col("c_custkey"), col("c_acctbal"), col("c_nationkey"))
        .withColumn("valid_from", lit("2020-01-01").cast("timestamp"))
        .withColumn("valid_to", lit(null).cast("timestamp"))
        .withColumn("version", lit(1L))
      val updates = cust
        .select(col("c_custkey"),
          when(pmod(col("c_custkey"), lit(7)) === 0, col("c_acctbal") + 100)
            .otherwise(col("c_acctbal")).as("c_acctbal"),
          col("c_mktsegment"))
        .unionByName(cust.filter(col("c_custkey") < 30)
          .select((col("c_custkey") + 100000).as("c_custkey"),
            (col("c_custkey") * 1.5).as("c_acctbal"),
            col("c_mktsegment")))
      graft.operators.ScdMerge.mergeEvolved(current, updates, "c_custkey",
          changeCols = Seq("c_acctbal"), batchTs = lit("2024-06-01").cast("timestamp"))
        .orderBy(col("c_custkey"), col("version"))
    }),
    "d58_ngram_novelty" -> ((s, d) =>
      // train-on-past novelty: share of each doc's distinct word 3-grams
      // first seen (min doc_id) in that doc — see Dedup.ngramNovelty for
      // the two-(gram,id)-shuffle scale shape
      Dedup.ngramNovelty(t(s, d, "documents"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"), col("novelty"))
        .orderBy("doc_id")),
    "d86_shared_spans" -> ((s, d) =>
      // exact shared-substring spans >= 10 tokens (the Lee et al. 2021
      // exact-substring dup family — verbatim overlap MinHash misses),
      // suffix-array-free: anchor-gram inverted index + diagonal
      // gaps-and-islands runs, df-capped before the pair join. See
      // Dedup.sharedSpans for the two-keyed-shuffle scale shape.
      Dedup.sharedSpans(t(s, d, "documents"), minSpan = 10, anchor = 8,
          maxDf = 64)
        .orderBy("doc_a", "doc_b", "start_a")),
    "d88_span_dedup_clean" -> ((s, d) =>
      // the REMOVAL half of d86 (Lee et al. cut the duplicated substring,
      // keeping one copy): spans shared with an earlier doc are deleted
      // from the later doc's token stream, overlapping intervals merged
      // first. clean_md5 pins the exact cleaned token stream, so the
      // interval merge and indexed deletion are bit-checked, not just
      // counted.
      Dedup.removeSharedSpans(t(s, d, "documents"), minSpan = 10,
          anchor = 8, maxDf = 64)
        .orderBy("doc_id")),
    "d89_line_dedup" -> ((s, d) => {
      // CCNet line/paragraph-granularity corpus dedup (Wenzek et al.
      // 2020): exactly one copy of every distinct line survives
      // corpus-wide, keep-first by (doc_id, pos). The corpus is
      // single-line, so 8-token chunks stand in for paragraphs (the d55
      // chunking stance); the operator itself splits on the delimiter.
      // clean_md5 pins the surviving text bit-exactly. See
      // LineDedup.dedupLines for the one-keyed-shuffle scale shape.
      val tk = split(trim(col("text")), " ")
      val lines = transform(
        sequence(lit(0), ceil(size(tk) / lit(8.0)).cast("int") - 1),
        i => concat_ws(" ", slice(tk, i * lit(8) + 1, lit(8))))
      val pseudo = t(s, d, "documents").select(col("doc_id"),
        concat_ws("\n", lines).as("text"))
      graft.operators.LineDedup.dedupLines(pseudo).orderBy("doc_id")
    }),
    "d98_line_dedup_withindoc" -> ((s, d) => {
      // WITHIN-document line dedup — the C4 rule (keep the first
      // occurrence of each repeated line INSIDE a page; the same line in
      // two different docs is untouched — that cross-doc case is d89's
      // corpus-wide job). 2-token chunks stand in for lines here so the
      // rule is non-vacuous on this single-line corpus (181/500 sf0.01
      // docs carry a within-doc repeat at width 2; zero do at d89's
      // width 8). Exchange is keyed (doc, line) — per-document key
      // domain, so corpus-wide boilerplate can never form a hot
      // partition (see LineDedup.dedupLinesWithinDoc).
      val tk = split(trim(col("text")), " ")
      val lines = transform(
        sequence(lit(0), ceil(size(tk) / lit(2.0)).cast("int") - 1),
        i => concat_ws(" ", slice(tk, i * lit(2) + 1, lit(2))))
      val pseudo = t(s, d, "documents").select(col("doc_id"),
        concat_ws("\n", lines).as("text"))
      graft.operators.LineDedup.dedupLinesWithinDoc(pseudo).orderBy("doc_id")
    }),
    "d99_skew_take" -> ((s, d) => {
      // SKEW-SAFE exact-budget group take gated on a planted dominant
      // group: 'big' holds ~98% of docs, the r* groups are ~140× smaller
      // — the realistic one-dominant-source shape where the plain
      // window-per-group form funnels the corpus through one task.
      // takePerGroupSkewSafe keeps 'big''s window budget-bounded via the
      // md5-threshold prefilter (+ exact top-up of any shortfall), and
      // the oracle replays the selection with the PLAIN window form in
      // SQL — outputs must be identical, the equivalence contract
      // BudgetMixSpec property-pins. r2's quota exceeds its size (cap
      // case); r groups ride the keep-everything threshold.
      val docs = t(s, d, "documents")
      val grouped = docs.select(col("doc_id"),
        when(col("doc_id") % 50 === 0,
          concat(lit("r"), (col("doc_id") % 3).cast("string")))
          .otherwise(lit("big")).as("grp"))
      val quotas = Map("big" -> 60L, "r0" -> 3L, "r1" -> 2L, "r2" -> 5L)
      Sampling.takePerGroupSkewSafe(grouped, "grp", quotas)
        .orderBy("grp", "pick")
    }),
    "d100_fim_split" -> ((s, d) => {
      // fill-in-the-middle training-format transform (Bavarian 2022
      // PSM order): the md5(doc_id)-gated half of the corpus splits at
      // the len/3, 2len/3 character pivots and re-emits as
      // <fim_prefix>P<fim_suffix>S<fim_middle>M; the rest passes
      // through. Pure narrow projection — scan-speed at 100 TB; the
      // deterministic gate/pivots keep epoch replay byte-identical and
      // let the oracle reproduce every byte. Output hashes the parts
      // (scalar-only contract).
      graft.operators.TrainingFormats.fimSplit(t(s, d, "documents"))
        .select(col("doc_id"), col("fim_applied"),
          md5(col("prefix")).as("prefix_md5"),
          md5(col("middle")).as("middle_md5"),
          md5(col("suffix")).as("suffix_md5"),
          md5(col("example")).as("example_md5"))
        .orderBy("doc_id")
    }),
    "d101_span_corruption" -> ((s, d) => {
      // T5/UL2 span-corruption denoising pairs: every 8-word block
      // masks 3 words at the per-doc md5 phase; encoder view collapses
      // each span to <extra_id_k>, target carries sentinel + masked
      // words. Higher-order array fns only — no explode/shuffle/UDF.
      graft.operators.TrainingFormats.spanCorrupt(t(s, d, "documents"))
        .select(col("doc_id"), col("n_words"), col("n_spans"),
          col("n_masked"), md5(col("encoder")).as("enc_md5"),
          md5(col("target")).as("tgt_md5"))
        .orderBy("doc_id")
    }),
    "d104_attention_spans" -> ((s, d) =>
      // block-diagonal attention-mask spans for PACKED training blocks:
      // every (block, doc) pair carries the doc's [span_start, span_end)
      // token range WITHIN the block — the mask a trainer applies so
      // attention never crosses document boundaries inside a packed
      // block. Rides d18's distributed-prefix-sum packing; the only
      // addition is a narrow explode over each doc's covered blocks
      // (≤ n_tokens/blockSize + 1 rows) — no new shuffle.
      Packing.packSequences(t(s, d, "documents"),
          graft.functions.TextFunctions.tokenCount(col("text")),
          blockSize = 512L)
        .filter(col("n_tokens") > 0)
        .select(col("doc_id"), col("start_offset"), col("n_tokens"),
          explode(sequence(col("block_first"), col("block_last")))
            .as("block_id"))
        .select(col("block_id"), col("doc_id"),
          greatest(lit(0L), col("start_offset") - col("block_id") * 512L)
            .as("span_start"),
          least(lit(512L),
            col("start_offset") + col("n_tokens") - col("block_id") * 512L)
            .as("span_end"))
        .orderBy("block_id", "doc_id")),
    "d105_contrastive_views" -> ((s, d) =>
      // contrastive two-crop augmentation (SimCSE-style positives):
      // first/last ceil(2n/3)-word views with a guaranteed >= n/3-word
      // overlap; deterministic crops, so replayed epochs emit identical
      // pairs and the oracle rebuilds every byte. Narrow projection.
      graft.operators.TrainingFormats.contrastiveViews(t(s, d, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("n_overlap"),
          md5(col("view_a")).as("view_a_md5"),
          md5(col("view_b")).as("view_b_md5"))
        .orderBy("doc_id")),
    "d102_dpo_pairs" -> ((s, d) => {
      // DPO/RLHF preference-pair assembly: candidates group by a prompt
      // key, a deterministic reward (distinct-token count scaled, plus
      // length) ranks them, and each group emits ONE (chosen, rejected)
      // pair — lexicographic (reward, id) max vs min, strict margin
      // required. One partial-aggregable groupBy; no window sort, so a
      // mega-prompt-group costs its scan at 100 TB.
      val docs = t(s, d, "documents")
      val toks = filter(split(trim(col("text")), "\\s+"),
        x => length(x) > 0)
      val cands = docs.select(col("doc_id"),
        pmod(col("doc_id"), lit(97)).as("prompt_id"),
        (size(array_distinct(toks)).cast("long") * lit(1000L) +
          col("n_chars")).as("reward"))
      graft.operators.TrainingFormats
        .preferencePairs(cands, "prompt_id", "reward")
        .orderBy("prompt_id")
    }),
    "d103_chat_loss_mask" -> ((s, d) =>
      // SFT chat-template render + loss-mask offsets: one user/assistant
      // exchange per doc (word-split halves), loss span = the assistant
      // reply's [start, end) char offsets into the rendered string —
      // the mask a trainer applies so user turns carry no loss. Narrow
      // projection only; the oracle rebuilds every byte and both
      // offsets in SQL.
      graft.operators.TrainingFormats.chatLossMask(t(s, d, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("loss_start"),
          col("loss_end"), md5(col("rendered")).as("render_md5"))
        .orderBy("doc_id")),
    "d90_token_budget" -> ((s, d) => {
      // budgeted subset selection: best-quality-first documents until a
      // 6000-token budget is exhausted (quality = distinct-token ratio —
      // engine-mirrorable; prefix semantics, no knapsack backfill). See
      // Sampling.selectUnderTokenBudget for the distributed-prefix-sum
      // scale shape (the naive form is a single-partition window).
      val tk = split(trim(col("text")), " ")
      val q = size(array_distinct(tk)).cast("double") /
        size(tk).cast("double")
      graft.operators.Sampling.selectUnderTokenBudget(
          t(s, d, "documents"), 6000L, q, size(tk).cast("long"))
        .orderBy("doc_id")
    }),
    "d87_span_decontam" -> ((s, d) => {
      // verbatim-PASSAGE decontamination (Decontaminate.spanOverlap):
      // one verdict per corpus doc with the longest exact token run it
      // shares with any probe doc — catches a verbatim quoted benchmark
      // question that d14's n-gram set overlap under threshold would
      // pass. Probes: doc_id%31==0 (the d27/w7 split).
      val docs = t(s, d, "documents")
      graft.operators.Decontaminate.spanOverlap(
          docs.filter(pmod(col("doc_id"), lit(31)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(31)) === 0),
          minSpan = 10, anchor = 8, maxDf = 64)
        .orderBy("doc_id")
    }),
    "d59_zipf_slope" -> ((s, d) => {
      // corpus token-frequency power-law audit: log-log regression slope
      // over the top-1000 tokens. Frequency is a combinable count; the
      // top-k is orderBy+limit (TakeOrderedAndProject); the rank window
      // then runs on the ≤1000-row bounded survivor set, so the single
      // partition it implies is k-bounded, not corpus-bounded.
      val toks = t(s, d, "documents")
        .select(explode(filter(split(trim(lower(col("text"))), "\\s+"),
          t => length(t) > 0)).as("tok"))
      val top = toks.groupBy("tok").agg(count(lit(1)).as("f"))
        .orderBy(col("f").desc, col("tok")).limit(1000)
      top.withColumn("r", row_number().over(Window.orderBy(col("f").desc, col("tok"))))
        .agg(count(lit(1)).as("n_tokens"),
          round(expr("regr_slope(ln(f), ln(r))"), 4).as("zipf_slope"),
          round(expr("regr_r2(ln(f), ln(r))"), 4).as("fit_r2"))
    }),

    // ------------------------------------------------ similarity search
    "e1_ann_bruteforce" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
        .select(col("query_id"), col("corpus_id"), round(col("cosine"), 6).as("cosine"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),
    "e3_cosine_hist" -> ((s, d) => {
      val e = t(s, d, "embeddings").filter(col("vec_id") < 40)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.join(b, col("id_a") < col("id_b"))
        .select(floor(round(VectorFunctions.cosine(col("va"), col("vb")), 6) * 10)
          .cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
        .orderBy("bucket")
    }),
    "e5_cosine_lsh_dup" -> ((s, d) => {
      // embedding near-dup detection via random-hyperplane LSH
      // (hyperplane_sketch native expr): plant scaled copies (x2.0f is
      // EXACT in float, and sign sketches are scale-invariant, so every
      // planted pair MUST share a bucket); the corpus itself has no pair
      // above cosine 0.7, so the result is exactly the planted pairs -
      // missed buckets or false positives both break the oracle
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val dups = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"), x => (x * lit(2.0f)).cast("float")).as("embedding"))
      Dedup.embeddingDupPairs(emb.unionByName(dups), threshold = 0.95)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .orderBy("id_a", "id_b")
    }),
    "e4_ivf_kmeans" -> ((s, d) => {
      // k-means index build, pinned by an INDEPENDENT pure-Python Lloyd's
      // fixture (tools/gen_fixtures.py): same deterministic hash-ordered
      // farthest-point seeding, 3 assign+mean rounds, then one final
      // assignment pass. Per-cell counts, centroid norms/sums (r4) and
      // final SSE (r2) must all match — a wrong seed order, distance,
      // tie-break, empty-cell rule, or mean breaks it. Float accumulation
      // order is the only cross-language difference (~1e-12); the generator
      // asserts assignment margins and rounding-boundary distances so that
      // noise cannot flip any emitted value. SSE monotonicity is further
      // spec-pinned in VectorExpressionsSpec.
      val emb = t(s, d, "embeddings")
      val model = graft.operators.KMeans.fitModel(emb, k = 8, iterations = 3)
      import s.implicits._
      val cents = model.centroids.map { case (id, v) => (id, v.toSeq) }
        .toDF("centroid_id", "centroid_vec")
      val stats = model.centroids.map { case (id, v) =>
        (id.toLong, math.sqrt(v.map(x => x * x).sum), v.sum) }
        .toDF("centroid_id", "norm_raw", "sum_raw")
      val counts = graft.operators.KMeans.assignCells(emb, cents, "embedding", "vec_id")
        .groupBy(col("cell").cast("long").as("centroid_id"))
        .agg(count(lit(1)).as("n_assigned"))
      stats.join(counts, Seq("centroid_id"), "left")
        .select(col("centroid_id"), coalesce(col("n_assigned"), lit(0L)).as("n_assigned"),
          round(col("norm_raw"), 4).as("c_norm"), round(col("sum_raw"), 4).as("c_sum"),
          round(lit(model.sseHistory.last), 2).as("sse_final"))
        .orderBy("centroid_id")
    }),
    "e6_ivf_probe" -> ((s, d) => {
      // IVF probe path with FIXED centroids (first 8 corpus vectors) so the
      // whole probe — cell assignment, nProbe cell selection, in-cell cosine
      // top-k — is exactly reproducible by the DuckDB oracle's window form
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("centroid_vec"))
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 3), cents, k = 5, nProbe = 2)
        .select(col("query_id"), col("corpus_id"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
        .orderBy("query_id", "rank")
    }),
    "e12_ann_recall" -> ((s, d) => {
      // ANN recall@k: IVF probe (fixed first-8 centroids, nProbe=2) scored
      // against the exact brute-force top-10 — the index-quality metric a
      // user runs before freezing nProbe/nCells at scale. Set-membership
      // recall: engine rank tie-breaks cannot move it.
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("centroid_vec"))
      Similarity.ivfRecallAtK(emb, emb.filter(col("vec_id") < 5), cents, k = 10, nProbe = 2)
        .orderBy("query_id")
    }),
    "e28_nprobe_sweep" -> ((s, d) => {
      // the recall-vs-nProbe tuning table (e12 swept over budgets 1/2/4):
      // what a user reads to pick the smallest probe budget meeting a
      // recall target. Set-membership recall per budget — rank tie-breaks
      // cannot move it.
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      Similarity.ivfRecallSweep(emb, emb.filter(col("vec_id") < 5), cents,
          k = 10, probes = Seq(1, 2, 4))
        .orderBy("n_probe", "query_id")
    }),
    "e34_hard_negatives" -> ((s, d) => {
      // hard-negative mining (contrastive/embedding-training data prep):
      // per anchor, the top-5 most similar vectors with a DIFFERENT
      // label — the triplet/InfoNCE negatives that move the loss. The
      // anchor-dependent label disequality rides the broadcast-join
      // predicate (pruned before scoring); corpus read once, exchange
      // carries ≤ k rows per (anchor, partition).
      val emb = t(s, d, "embeddings")
      graft.operators.Similarity.hardNegativeTopK(
          emb, emb.filter(col("vec_id") < 5), k = 5)
        .select(col("query_id"), col("corpus_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),
    "e35_semihard_negatives" -> ((s, d) => {
      // SEMI-hard negative mining (FaceNet §3.2): per anchor, the most
      // similar different-label vectors still OUTSIDE the hardest
      // positive's similarity — inside-margin negatives destabilize,
      // easy ones teach nothing. Two broadcast-anchor corpus scans
      // (positive-threshold aggregate + thresholded negative scan);
      // anchors with no same-label partner emit nothing.
      val emb = t(s, d, "embeddings")
      graft.operators.Similarity.semiHardNegativeTopK(
          emb, emb.filter(col("vec_id") < 5), k = 5)
        .select(col("query_id"), col("corpus_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),
    "e36_triplet_mining" -> ((s, d) => {
      // triplet ASSEMBLY — the training-row form of e34/e35 (FaceNet
      // (anchor, positive, negative) rows a contrastive trainer consumes
      // directly): each anchor's hardest positive (top same-label
      // cosine, ties to the lower id) joined onto its top-3 hard
      // negatives; anchors with no same-label partner emit no triplets.
      // Two broadcast-anchor corpus scans + one anchors-row join.
      val emb = t(s, d, "embeddings")
      graft.operators.Similarity.tripletMine(
          emb, emb.filter(col("vec_id") < 5), k = 3)
        .select(col("anchor_id"), col("pos_id"),
          round(col("pos_cos"), 6).as("pos_cos"), col("neg_id"),
          round(col("neg_cos"), 6).as("neg_cos"),
          col("rank").cast("long").as("rank"))
        .orderBy("anchor_id", "rank")
    }),
    "e29_filtered_ann" -> ((s, d) => {
      // attribute-filtered vector search (the RAG-serving shape: top-k
      // among rows passing a metadata predicate): the predicate applies
      // BEFORE cell scoring — cell assignment is per-vector, so filtering
      // first equals filtering the at-rest cell-partitioned layout, and
      // the probe scans predicate-pruned row groups of the probed cells
      // only. The standard trade vs post-filtering: probe more cells when
      // selectivity is low (e28's sweep is the tuning table for that).
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      Similarity.ivfTopK(emb.filter(col("label").isin(1, 3, 5, 7, 9)),
          emb.filter(col("vec_id") < 3), cents, k = 10, nProbe = 2)
        .select(col("query_id"), col("corpus_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),
    "e7_quantize" -> ((s, d) => {
      // symmetric int8 quantization of embeddings — the at-rest scale path
      // (4× smaller vectors for a 100 TB embedding store): scale =
      // max|x|/127, q = floor(x/scale + 0.5). floor(+0.5) instead of
      // round() keeps Spark and DuckDB on the same rounding rule, and the
      // MSE uses plain multiplication (not pow) so both engines do
      // bit-identical IEEE arithmetic.
      val emb = t(s, d, "embeddings")
      emb.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("scale",
          array_max(transform(col("v"), x => abs(x))) / 127.0)
        .withColumn("ssafe", greatest(col("scale"), lit(1e-30)))
        .withColumn("q", transform(col("v"),
          x => floor(x / col("ssafe") + 0.5).cast("long")))
        .select(col("vec_id"), round(col("scale"), 8).as("scale"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
          array_min(col("q")).as("q_min"), array_max(col("q")).as("q_max"),
          round(aggregate(zip_with(col("v"), col("q"),
              (x, qq) => (x - qq * col("ssafe")) * (x - qq * col("ssafe"))),
            lit(0.0), (a, x) => a + x), 6).as("sq_err"))
        .orderBy("vec_id")
    }),
    "e8_centroid_outliers" -> ((s, d) => {
      // embedding-cleaning op: flag vectors far from their nearest centroid
      // (fixed radius — corpus-independent policy knob). Same zero-shuffle
      // argmin pass as e2; only per-cell counts cross the oracle, and the
      // radius sits ≥7e-4 from every distance (float-parity safe; the
      // native expression compares squared L2, the oracle compares L2 —
      // monotonic, so the flags agree).
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("centroid_vec"))
      val r = 1.36
      graft.operators.KMeans.assignDistances(emb, cents, "embedding", "vec_id")
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vectors"),
          sum(when(col("dist_sq") > r * r, 1L).otherwise(0L)).as("n_outliers"))
        .orderBy("cell")
    }),
    "e9_pq_adc" -> ((s, d) => {
      // product-quantization ANN: encode 64-d vectors to 8 sub-codes
      // (nearest of 16 FIXED sub-centroids per slice — first-16 corpus
      // vectors, e6's stance, so the whole path is SQL-reproducible), then
      // ADC top-k: per-query LUT of slice→sub-centroid distances, corpus
      // scored by 8 lookups/row from codes alone. The 100 TB path: the
      // search scan reads 8 small ints per vector instead of 256 bytes.
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("centroid_vec"))
      val cbs = Similarity.pqCodebooks(cents, m = 8)
      Similarity.pqTopK(Similarity.pqEncode(emb, cbs),
          emb.filter(col("vec_id") < 3), cbs, k = 5)
        .select(col("query_id"), col("corpus_id"),
          round(col("adc_dist"), 6).as("adc_dist"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    "e11_ivfpq" -> ((s, d) => {
      // IVF-PQ: coarse cells (first-8 fixed centroids, e6's stance) +
      // 8 sub-codes (first-16 sub-codebooks, e9's stance); each query
      // ADC-scores only its 2 probed cells from codes alone. The
      // billion-vector layout: probe cost = (nProbe/nCells) of the corpus
      // × (m bytes / dim×4) of the vector payload.
      val emb = t(s, d, "embeddings")
      val coarse = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("centroid_vec"))
      val cbs = Similarity.pqCodebooks(
        emb.filter(col("vec_id") < 16)
          .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("centroid_vec")),
        m = 8)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 3), coarse, cbs,
          k = 5, nProbe = 2)
        .select(col("query_id"), col("corpus_id"),
          round(col("adc_dist"), 6).as("adc_dist"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    "e15_pca_project" -> ((s, d) => {
      // PCA projection to the top-4 principal axes — the pre-quantization /
      // whitening step (and the "O" in OPQ). One O(d²)-state moments pass
      // (MomentsAggregator: ~2k doubles per partition cross the exchange,
      // never rows), driver Jacobi eigensolve of the 64×64 sample
      // covariance, then a narrow codegen'd projection pass. Oracle: an
      // INDEPENDENT numpy/LAPACK eigensolve (tools/gen_fixtures.py) under
      // the shared determinism contract (eigenvalue-desc order,
      // largest-|x|-component-positive sign).
      val emb = t(s, d, "embeddings")
      val model = graft.operators.Pca.fit(emb, r = 4)
      graft.operators.Pca.project(emb, model)
        .select(col("vec_id"),
          round(element_at(col("proj"), 1), 4).as("p1"),
          round(element_at(col("proj"), 2), 4).as("p2"),
          round(element_at(col("proj"), 3), 4).as("p3"),
          round(element_at(col("proj"), 4), 4).as("p4"))
        .orderBy("vec_id")
    }),
    "e18_opq_adc" -> ((s, d) => {
      // OPQ (Ge et al. '14, parametric variant): PCA-rotate with greedy
      // eigenvalue allocation balancing per-subspace variance products,
      // THEN PQ/ADC — same storage as e9, better code-budget use. One
      // moments pass for the rotation, narrow projection, then exactly
      // e9's encode/search shape over the rotated space. Oracle: the
      // independent numpy chain in tools/gen_fixtures.py (LAPACK eigh →
      // same greedy allocation → PQ argmin → ADC, margin asserts at every
      // discrete choice), emitted as the e18 FixtureOracles entry.
      val emb = t(s, d, "embeddings")
      val model = graft.operators.Pca.fit(emb, r = 64)
      val perm = graft.operators.Pca.opqAllocation(model.eigenvalues, m = 8)
      val rot = graft.operators.Pca.PcaModel(model.n, model.mean,
        perm.map(model.eigenvalues(_)), perm.map(model.components(_)))
      val proj = graft.operators.Pca.project(emb, rot)
        .select(col("vec_id"), col("proj").as("embedding"))
      val cents = proj.filter(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val cbs = Similarity.pqCodebooks(cents, m = 8)
      Similarity.pqTopK(Similarity.pqEncode(proj, cbs),
          proj.filter(col("vec_id") < 3), cbs, k = 5)
        .select(col("query_id"), col("corpus_id"),
          round(col("adc_dist"), 6).as("adc_dist"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    "e17_knn_graph" -> ((s, d) => {
      // corpus k-NN graph (clustering / SemDeDup / label-propagation
      // input): cell-restricted neighbors via the zero-shuffle argmin
      // assignment + skew-guarded within-cell pairs + bounded top-k
      // partials. Fixed first-8 centroids keep the whole construction
      // SQL-reproducible (e6's stance).
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      Similarity.knnGraph(emb, cents, k = 3)
        .select(col("id"), col("nbr_id"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
        .orderBy("id", "rank")
    }),
    "e16_standardize" -> ((s, d) =>
      // per-dimension z-score standardization — feature scaling before
      // k-means/quantization. One O(d²)-state moments pass (mean + sample
      // std per dim), then a narrow codegen'd projection; stddev_samp
      // parity with the DuckDB oracle.
      graft.operators.Pca.standardize(t(s, d, "embeddings"))
        .select(col("vec_id"),
          round(element_at(col("z"), 1), 4).as("z1"),
          round(element_at(col("z"), 2), 4).as("z2"),
          round(element_at(col("z"), 3), 4).as("z3"),
          round(element_at(col("z"), 4), 4).as("z4"))
        .orderBy("vec_id")),
    "e14_sq8_ann" -> ((s, d) =>
      // SQ8 asymmetric search: int8 codes + per-vector scale at rest (4×
      // smaller scan), exact queries, cosine over the dequantized corpus.
      // e7 pins the quantization rule cross-engine; this gates the SEARCH.
      Similarity.sq8TopK(t(s, d, "embeddings"),
          t(s, d, "embeddings").filter(col("vec_id") < 5), k = 10)
        .select(col("query_id"), col("corpus_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")),
    "e19_opq_ivfpq" -> ((s, d) => {
      // OPQ-IVFPQ (production FAISS "OPQn,IVFk,PQm"): e18's rotation
      // composed with e13's residual layout — rotate with balanced
      // eigenvalue allocation, coarse-quantize the ROTATED vectors
      // (first-8, e6's fixed-training stance), PQ the residuals
      // (codebooks from the first-16 rotated vectors' residuals),
      // per-(query, probed-cell) LUTs. Same bounded shapes as e13: the
      // rotation rides the expression tree, LUTs stay driver-metadata-
      // sized, the probe reads nProbe/nCells of the codes. Oracle: the
      // e18 numpy chain extended one step (coarse argmin → residual PQ →
      // per-cell LUT ADC) in tools/gen_fixtures.py → FixtureOracles e19.
      val emb = t(s, d, "embeddings")
      val model = graft.operators.Pca.fit(emb, r = 64)
      val perm = graft.operators.Pca.opqAllocation(model.eigenvalues, m = 8)
      val rot = graft.operators.Pca.PcaModel(model.n, model.mean,
        perm.map(model.eigenvalues(_)), perm.map(model.components(_)))
      val proj = graft.operators.Pca.project(emb, rot)
        .select(col("vec_id"), col("proj").as("embedding"))
      val coarse = proj.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val cbs = Similarity.residualCodebooks(proj.filter(col("vec_id") < 16), coarse, m = 8)
      Similarity.ivfPqResidualTopK(proj, proj.filter(col("vec_id") < 3), coarse, cbs,
          k = 5, nProbe = 2)
        .select(col("query_id"), col("corpus_id"),
          round(col("adc_dist"), 6).as("adc_dist"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    "e23_hybrid_rrf" -> ((s, d) => {
      // hybrid retrieval: BM25 lexical top-100 fused with embedding-cosine
      // top-100 by reciprocal-rank fusion (score = Σ 1/(60+rank), the
      // standard RRF constant) — the lexical+vector search every RAG stack
      // runs. Lexical ranks come from the ROUNDED score (deterministic
      // cross-engine); the fused output emits every retrieved doc by id
      // (no final top-k boundary). doc_id ↔ vec_id is the corpus linkage.
      import s.implicits._
      val lex100 = graft.operators.Bm25.score(t(s, d, "documents"),
          Seq("spark", "hash", "window"))
        .select(col("doc_id"), round(col("score"), 6).as("s"))
        .orderBy(col("s").desc, col("doc_id")).limit(100)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy { case (id, sc) => (-sc, id) }.zipWithIndex
        .map { case ((id, _), i) => (id, i + 1) }.toSeq
        .toDF("doc_id", "lex_rank")
      val emb = t(s, d, "embeddings")
      val ann100 = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), k = 100)
        .select(col("corpus_id").as("doc_id"), col("rank").as("ann_rank"))
      lex100.join(ann100, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
          coalesce(col("ann_rank"), lit(0)).as("ann_rank"),
          round(
            when(col("lex_rank").isNotNull, lit(1.0) / (col("lex_rank") + 60.0))
              .otherwise(0.0) +
            when(col("ann_rank").isNotNull, lit(1.0) / (col("ann_rank") + 60.0))
              .otherwise(0.0), 6).as("rrf"))
        .orderBy("doc_id")
    }),
    "e25_binary_ann" -> ((s, d) =>
      // binary (sign-bit) embeddings: Hamming top-50 over 32×-compressed
      // packed codes (xor+popcount scan), exact cosine re-rank to top-10.
      // Hamming ties at the candidate cutoff break by id on both engines.
      Similarity.binarySignTopK(t(s, d, "embeddings"),
          t(s, d, "embeddings").filter(col("vec_id") < 5), k = 10, rerank = 50)
        .select(col("query_id"), col("corpus_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")),
    "e26_mrl_rerank" -> ((s, d) =>
      // Matryoshka truncated-dim retrieval: coarse cosine over the first
      // 16 of 64 dims keeps 25 candidates/query, full-dim exact cosine
      // re-ranks to top-10. Both stages tie-break (score desc, id asc) on
      // both engines, so the candidate cutoff is cross-engine stable.
      Similarity.truncatedRerankTopK(t(s, d, "embeddings"),
          t(s, d, "embeddings").filter(col("vec_id") < 5),
          truncDims = 16, candidates = 25, k = 10)
        .select(col("query_id"), col("corpus_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")),
    "e22_semantic_decontam" -> ((s, d) => {
      // embedding-space benchmark decontamination: label-0 vectors stand in
      // for the eval set; planted x2.0f-scaled copies of its 5 lowest-id
      // vectors (exact in float; cosine is scale-invariant) are the only
      // corpus rows whose closest-benchmark cosine clears 0.8 — the corpus
      // has no natural pair above 0.7 (e5's planting argument), a 0.1
      // cross-engine margin on both the flag and n_hits.
      val emb = t(s, d, "embeddings")
      val bench = emb.filter(col("label") === 0)
      val planted = bench.orderBy("vec_id").limit(5)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"), x => (x * lit(2.0f)).cast("float")).as("embedding"))
      val corpus = emb.filter(col("label") =!= 0)
        .select(col("vec_id"), col("embedding")).unionByName(planted)
      Similarity.semanticDecontaminate(corpus, bench, threshold = 0.8)
        .select(col("id").as("vec_id"),
          round(col("max_benchmark_cos"), 6).as("max_cos"),
          col("n_hits"), col("contaminated"))
        .orderBy("vec_id")
    }),
    "e27_mmr_diversify" -> ((s, d) =>
      // MMR diversified retrieval: top-20 brute-force candidates, then the
      // greedy lambda-weighted relevance-vs-redundancy selection of 8.
      // Oracle: independent Python replay (FixtureOracles) with a margin
      // assert at every greedy argmax and candidate cutoff, so float noise
      // cannot flip a pick.
      Similarity.mmrDiversifyTopK(t(s, d, "embeddings"),
          t(s, d, "embeddings").filter(col("vec_id") < 5),
          candidates = 20, k = 8, lambda = 0.7)
        .select(col("query_id"), col("corpus_id"),
          round(col("mmr_score"), 6).as("mmr_score"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")),
    "e24_drift_monitor" -> ((s, d) =>
      // quantizer-drift monitor: per-cell count + assignment SSE of the
      // corpus against the frozen centroids — THE refit signal for the
      // at-rest IVF family (IvfIndex/StreamingIvf docs: re-build when
      // appended-batch SSE drifts). One zero-shuffle argmin pass + a
      // cells-cardinality aggregate.
      graft.operators.KMeans.assignDistances(
          t(s, d, "embeddings"),
          t(s, d, "embeddings").filter(col("vec_id") < 8)
            .select(col("vec_id").cast("int").as("centroid_id"),
              col("embedding").as("centroid_vec")),
          vecCol = "embedding", idCol = "vec_id")
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vectors"), round(sum("dist_sq"), 4).as("sse"))
        .orderBy("cell")),
    "e21_opq_ivfpq_refine" -> ((s, d) => {
      // the FULL production retrieval stack (FAISS "OPQ64,IVF8,PQ8 +
      // RFlat"): OPQ rotation → residual IVF-PQ probe → exact re-rank of
      // the ADC top-20 in the rotated space (rotation preserves L2, so
      // refine math equals original-space refine) → top-5. Oracle: the
      // e19 numpy chain extended with a sequential-sum exact-L2 refine,
      // margin-asserted at the shortlist boundary and the final ranks.
      val emb = t(s, d, "embeddings")
      val model = graft.operators.Pca.fit(emb, r = 64)
      val perm = graft.operators.Pca.opqAllocation(model.eigenvalues, m = 8)
      val rot = graft.operators.Pca.PcaModel(model.n, model.mean,
        perm.map(model.eigenvalues(_)), perm.map(model.components(_)))
      val proj = graft.operators.Pca.project(emb, rot)
        .select(col("vec_id"), col("proj").as("embedding"))
      val coarse = proj.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val cbs = Similarity.residualCodebooks(proj.filter(col("vec_id") < 16), coarse, m = 8)
      Similarity.ivfPqRefineTopK(proj, proj.filter(col("vec_id") < 3), coarse, cbs,
          kFinal = 5, kCoarse = 20, nProbe = 2)
        .select(col("query_id"), col("corpus_id"),
          round(col("l2sq"), 6).as("l2sq"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    "e13_ivfpq_residual" -> ((s, d) => {
      // residual IVF-PQ (the production FAISS IVFPQ): PQ codes quantize
      // v − c(cell(v)); query LUTs are per probed CELL. Fixed, SQL-
      // reproducible training inputs (e6/e9's stance): coarse = first-8
      // vectors, residual codebooks = residuals of the first-16 vectors.
      val emb = t(s, d, "embeddings")
      val coarse = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("centroid_vec"))
      val cbs = Similarity.residualCodebooks(emb.filter(col("vec_id") < 16), coarse, m = 8)
      Similarity.ivfPqResidualTopK(emb, emb.filter(col("vec_id") < 3), coarse, cbs,
          k = 5, nProbe = 2)
        .select(col("query_id"), col("corpus_id"),
          round(col("adc_dist"), 6).as("adc_dist"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    "e20_ivfpq_rerank" -> ((s, d) => {
      // two-stage retrieval (FAISS IndexRefineFlat over IVFPQ): e13's ADC
      // top-20 candidates re-ranked by EXACT squared L2 on re-attached
      // full-precision vectors → top-5. Full vectors are fetched for
      // candidates only (queries × kCoarse id-keyed rows). Oracle: e13's
      // pure-SQL chain extended with the exact-L2 refine step.
      val emb = t(s, d, "embeddings")
      val coarse = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("centroid_vec"))
      val cbs = Similarity.residualCodebooks(emb.filter(col("vec_id") < 16), coarse, m = 8)
      Similarity.ivfPqRefineTopK(emb, emb.filter(col("vec_id") < 3), coarse, cbs,
          kFinal = 5, kCoarse = 20)
        .select(col("query_id"), col("corpus_id"),
          round(col("l2sq"), 6).as("l2sq"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    "e10_semantic_dedup" -> ((s, d) => {
      // SemDeDup: drop vectors with a same-cell smaller-id neighbor at
      // cosine ≥ 0.95. Planted exact copies (id+20000) are the only pairs
      // above the threshold (corpus max pairwise cosine < 0.7) and land in
      // their original's cell (identical vector → identical argmin), so
      // cells, dup links and survivors are all SQL-reproducible.
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") < 15)
        .select((col("vec_id") + 20000).as("vec_id"), col("embedding"))
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("centroid_vec"))
      Similarity.semanticDedup(emb.unionByName(planted), cents, threshold = 0.95)
        .select(col("vec_id"), col("cell").cast("long").as("cell"), col("dup_of"), col("kept"))
        .orderBy("vec_id")
    }),
    "e2_ivf_assign" -> ((s, d) => {
      // nearest-centroid assignment via the native argmin expression — one
      // narrow corpus pass, centroids ride the expression tree (no join, no
      // window shuffle)
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("centroid_vec"))
      graft.operators.KMeans.assignCells(emb, cents, "embedding", "vec_id")
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vectors"))
        .orderBy("cell")
    }),

    "j1_range_join" -> ((s, d) => {
      // events falling in each order's 30-day window (same customer) via
      // the binned range join: both sides shuffle ONCE on (custkey, bin)
      // and the range predicate re-applies exactly — no cartesian, no
      // broadcast requirement. binWidth 32 ≈ interval width → right rows
      // replicate ≤ 2×.
      val e = events(s, d).select(col("event_id"), col("user_id"), col("value"),
        (unix_date(lit("1995-01-01").cast("date")) +
          pmod(col("event_id"), lit(2400))).as("eday"))
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
        unix_date(col("o_orderdate").cast("date")).as("sday"))
        .withColumn("endday", col("sday") + 30)
      graft.operators.Joins.rangeJoin(e, o, pointCol = "eday",
          startCol = "sday", endCol = "endday", binWidth = 32,
          leftKeys = Seq("user_id"), rightKeys = Seq("o_custkey"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
        .orderBy("o_orderkey")
    }),
    "a1_asof_join" -> ((s, d) => {
      // events mapped into the order-date range, then backward as-of joined
      // to each user's latest order at-or-before the event date
      val e = events(s, d).select(col("event_id"), col("user_id"),
        to_timestamp(date_add(lit("1995-01-01").cast("date"),
          pmod(col("event_id"), lit(2400)).cast("int"))).as("edate"))
      val o = t(s, d, "orders")
      graft.operators.Joins.asofBackward(e, o,
        leftKey = col("user_id"), rightKey = col("o_custkey"),
        leftTime = col("edate"), rightTime = col("o_orderdate"),
        rightId = col("o_orderkey"), rightCols = Seq("o_orderkey", "o_totalprice"))
        .select(col("event_id"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("event_id")
    }),

    "a4_asof_tolerance" -> ((s, d) => {
      // tolerance-bounded backward as-of (pandas merge_asof tolerance):
      // a1's join, but matches older than 45 days null back out — the
      // stale-snapshot guard of dimension lookups. Same single sort-merge;
      // the tolerance is a post-predicate, not a join-shape change.
      val e = events(s, d).select(col("event_id"), col("user_id"),
        to_timestamp(date_add(lit("1995-01-01").cast("date"),
          pmod(col("event_id"), lit(2400)).cast("int"))).as("edate"))
      val o = t(s, d, "orders")
      graft.operators.Joins.asofBackwardTolerance(e, o,
          leftKey = col("user_id"), rightKey = col("o_custkey"),
          leftTime = col("edate"), rightTime = col("o_orderdate"),
          rightId = col("o_orderkey"),
          rightCols = Seq("o_orderkey", "o_totalprice", "o_orderdate"),
          within = datediff(col("edate"), col("o_orderdate")) <= 45)
        .select(col("event_id"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("event_id")
    }),
    "a5_asof_stream" -> ((s, d) => {
      // STREAM-STREAM as-of: a1's join replayed through the streaming
      // operator's epoch fold (StreamingAsof.asofFold — the exact
      // per-trigger semantics of flatMapGroupsWithState). Rows arrive in 3
      // time-ordered epochs (800-day slices of the shared date axis; rights
      // beyond the axis clamp into the last epoch), the watermark advances
      // to each slice boundary, and a final flush drains state. Because
      // the slicing respects the watermark (nothing late), fold ≡ batch
      // asofBackward EXACTLY — so a1's LATERAL oracle gates the streaming
      // fold rules and the cross-epoch state carry, including the
      // dominated-right pruning (only the latest right at-or-before the
      // watermark survives an epoch).
      val day0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay * 86400000L
      val epochOf = (dayCol: org.apache.spark.sql.Column) =>
        least(greatest(floor(dayCol / 800).cast("int"), lit(0)), lit(2))
      val lefts = events(s, d).select(
        col("user_id").as("key"), lit(true).as("is_left"),
        (lit(day0) + pmod(col("event_id"), lit(2400)) * 86400000L).as("t"),
        col("event_id").as("id"), lit(0.0).as("v"),
        epochOf(pmod(col("event_id"), lit(2400))).as("_epoch"))
      val rights = t(s, d, "orders").select(
        col("o_custkey").as("key"), lit(false).as("is_left"),
        // o_orderdate is TIMESTAMP_NTZ; session TZ is pinned UTC, so the
        // cast is a relabel, not a shift
        unix_millis(col("o_orderdate").cast("timestamp")).as("t"),
        col("o_orderkey").as("id"), col("o_totalprice").as("v"),
        epochOf(datediff(col("o_orderdate"),
          lit("1995-01-01").cast("date"))).as("_epoch"))
      graft.streaming.StreamingAsof.asofFold(
          lefts.unionByName(rights), nEpochs = 3,
          e => day0 + (e + 1) * 800L * 86400000L - 1)
        .select(col("left_id").as("event_id"),
          col("right_id").as("o_orderkey"), col("rval").as("o_totalprice"))
        .orderBy("event_id")
    }),
    "a2_asof_forward" -> ((s, d) => {
      // forward as-of: each event joined to the user's NEXT order at-or-
      // after the event date (ties: smallest orderkey) — a1's time-mirror,
      // same one-shuffle-per-side sort-merge shape.
      val e = events(s, d).select(col("event_id"), col("user_id"),
        to_timestamp(date_add(lit("1995-01-01").cast("date"),
          pmod(col("event_id"), lit(2400)).cast("int"))).as("edate"))
      val o = t(s, d, "orders")
      graft.operators.Joins.asofForward(e, o,
        leftKey = col("user_id"), rightKey = col("o_custkey"),
        leftTime = col("edate"), rightTime = col("o_orderdate"),
        rightId = col("o_orderkey"), rightCols = Seq("o_orderkey", "o_totalprice"))
        .select(col("event_id"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("event_id")
    }),

    "a3_asof_nearest" -> ((s, d) => {
      // nearest as-of: each event joined to the user's CLOSEST order in
      // either time direction (pandas merge_asof direction='nearest';
      // distance ties → backward). ONE union + ONE window sort — both
      // directional candidates come off the same per-key ordered pass, so
      // the whole join costs what a single directional as-of costs.
      val e = events(s, d).select(col("event_id"), col("user_id"),
        to_timestamp(date_add(lit("1995-01-01").cast("date"),
          pmod(col("event_id"), lit(2400)).cast("int"))).as("edate"))
      val o = t(s, d, "orders")
      graft.operators.Joins.asofNearest(e, o,
        leftKey = col("user_id"), rightKey = col("o_custkey"),
        leftTime = col("edate"), rightTime = col("o_orderdate"),
        rightId = col("o_orderkey"), rightCols = Seq("o_orderkey", "o_totalprice"))
        .select(col("event_id"), col("o_orderkey"), col("o_totalprice"),
          col("asof_dir"))
        .orderBy("event_id")
    }),

    // ------------------------------------------------ multimodal (REAL ImageIO decode)
    "m1_media_decode" -> ((s, d) => {
      // synthetic PNGs/JPEGs encoded on executors, decoded by the REAL
      // javax.imageio path; dims/format are closed-form in doc_id so the
      // oracle predicts them without touching a codec
      Multimodal.decodeImages(syntheticMedia(s, d)).toDF().orderBy("media_id")
    }),
    "m4_pixel_stats" -> ((s, d) => {
      // channel sums over the real decoded raster; PNG (even ids) only —
      // lossless, so every pixel equals the closed-form generator the
      // DuckDB oracle recomputes with generate_series arithmetic
      Multimodal.imagePixelStats(
          syntheticMedia(s, d).filter(col("media_id") % 2 === 0))
        .toDF().select(col("media_id"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          col("sum_r"), col("sum_g"), col("sum_b"))
        .orderBy("media_id")
    }),
    "m10_image_dup_pairs" -> ((s, d) =>
      // end-to-end image near-dup: dHash → 4×16-bit band buckets → total
      // Hamming verify ≤ 10 — the "find duplicate images" operator over
      // the real-decode path. PNG (even ids) so the oracle reproduces the
      // hash bits and therefore the bands and distances exactly.
      Multimodal.imageDupPairs(
          syntheticMedia(s, d).filter(col("media_id") % 2 === 0),
          maxHamming = 10)
        .orderBy("id_a", "id_b")),
    "m14_image_phash" -> ((s, d) =>
      // DCT perceptual hash over the real decoded raster — the frequency-
      // domain near-dup signature next to m8's gradient dHash. PNG (even
      // ids) only: lossless, so the fixture's closed-form pixel replay
      // predicts every coefficient; margin-asserted bits (see
      // Multimodal.imagePHash determinism contract).
      Multimodal.imagePHash(
          syntheticMedia(s, d).filter(col("media_id") % 2 === 0))
        .toDF().orderBy("media_id")),
    "m8_image_dhash" -> ((s, d) =>
      // perceptual dHash over the real decoded raster — integer luma,
      // 9×8 floor block means, gradient-sign bits in two 32-bit halves.
      // PNG (even ids) only: lossless, so the arithmetic oracle predicts
      // every bit. Near-dup banding over the hash reuses d8's machinery.
      Multimodal.imageDHash(
          syntheticMedia(s, d).filter(col("media_id") % 2 === 0))
        .toDF().orderBy("media_id")),
    "m5_audio_decode" -> ((s, d) => {
      // synthetic PCM16 WAVs encoded on executors, decoded by the REAL
      // javax.sound path; PCM is lossless and every sample is closed-form in
      // (doc_id, i), so the oracle predicts exact integer stats from range
      // arithmetic without touching a codec — the audio twin of m1/m4
      Multimodal.decodeAudio(syntheticAudio(s, d)).toDF()
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_samples"), col("peak"), col("sum_abs"))
        .orderBy("media_id")
    }),
    "m9_audio_fingerprint" -> ((s, d) =>
      // energy-envelope sign fingerprint over the REAL decoded PCM — the
      // audio near-dup signature (dHash's twin). Exact integer arithmetic,
      // so the closed-form-sample oracle reproduces the bits exactly.
      Multimodal.audioFingerprint(syntheticAudio(s, d), windowSamples = 64)
        .toDF().orderBy("media_id")),
    "m6_audio_energy" -> ((s, d) =>
      // executor-side window explode over the real decoded sample stream;
      // exact integer sum-of-squares per 128-sample window
      Multimodal.audioWindowEnergy(syntheticAudio(s, d), windowSamples = 128)
        .toDF().orderBy("media_id", "win_idx")),
    "m15_interleaved_assembly" -> ((s, d) => {
      // MMC4/OBELICS-style interleaved image-text ASSEMBLY — the
      // multimodal training-doc reshape: each document's image (a real
      // PNG in m7's at-rest binaryFile layout) splices into the word
      // stream at a deterministic position as an <image WxH> placeholder
      // whose dims come from the ACTUAL ImageIO decode of the bytes; the
      // oracle predicts them by arithmetic (the m7 stance) and rebuilds
      // the assembled sequence byte-exactly. Binary side joins the text
      // side by id — a 200-row broadcast against a narrow projection.
      val dir = new java.io.File(
        s"${System.getProperty("java.io.tmpdir")}/graft_m15_media_${d.replaceAll("[^A-Za-z0-9.]", "_")}")
      dir.mkdirs()
      import s.implicits._
      val ids = t(s, d, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 200).as[Long].collect()
      ids.foreach { id =>
        val f = new java.io.File(dir, f"img$id%05d.png")
        if (!f.exists()) {
          val img = Multimodal.syntheticImage(id * 2)
          java.nio.file.Files.write(f.toPath, img)
        }
      }
      val expected = ids.map(id => f"img$id%05d.png").toSet
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".png") && !expected.contains(f.getName))
        .foreach(_.delete())
      val files = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png").load(dir.getAbsolutePath)
        .select(regexp_extract(col("path"), "img(\\d+)\\.png$", 1)
          .cast("long").as("media_id"), col("content"))
      val dims = Multimodal.decodeImages(files).toDF()
        .select(col("media_id").as("doc_id"), col("width"), col("height"))
      val toks = filter(split(trim(col("text")), "\\s+"), x => length(x) > 0)
      t(s, d, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), toks.as("w"))
        .join(broadcast(dims), "doc_id")
        .withColumn("n", size(col("w")))
        .withColumn("p", least(col("n"),
          (lit(1) + pmod(col("doc_id"), lit(7))).cast("int")))
        .withColumn("tag", concat(lit("<image "),
          col("width").cast("string"), lit("x"),
          col("height").cast("string"), lit(">")))
        .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
          col("p").cast("long").as("insert_pos"), col("width"), col("height"),
          md5(concat_ws(" ", concat(
            slice(col("w"), lit(1), col("p")), array(col("tag")),
            slice(col("w"), col("p") + 1, col("n") - col("p")))))
            .as("seq_md5"))
        .orderBy("doc_id")
    }),
    "m7_binary_files" -> ((s, d) => {
      // the real at-rest media ingest path: individual image FILES read via
      // the binaryFile source (path/length/content rows, pathGlobFilter
      // prunes at listing), then the same real ImageIO decode. At 100 TB
      // this is the layout media arrives in — object-store files, not rows.
      val dir = new java.io.File(
        s"${System.getProperty("java.io.tmpdir")}/graft_m7_media_${d.replaceAll("[^A-Za-z0-9.]", "_")}")
      dir.mkdirs()
      // files are the INPUT contract here: materialize once, idempotently
      import s.implicits._
      val ids = t(s, d, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 200).as[Long].collect()
      ids.foreach { id =>
        val f = new java.io.File(dir, f"img$id%05d.png")
        if (!f.exists()) {
          val img = Multimodal.syntheticImage(id * 2) // even ids: PNG
          java.nio.file.Files.write(f.toPath, img)
        }
      }
      // drop strays from an earlier corpus at the same path — a stale
      // img*.png would pass pathGlobFilter and diverge from the oracle
      val expected = ids.map(id => f"img$id%05d.png").toSet
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".png") && !expected.contains(f.getName))
        .foreach(_.delete())
      val files = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png").load(dir.getAbsolutePath)
        .select(regexp_extract(col("path"), "img(\\d+)\\.png$", 1)
          .cast("long").as("media_id"), col("content"))
      Multimodal.decodeImages(files).toDF().orderBy("media_id")
    }),
    "m2_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(
        t(s, d, "documents").select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("content")), everyMs = 100L)
        .toDF().select("media_id", "frame_idx", "ts_ms")
        .orderBy("media_id", "frame_idx")),
    "m11_video_probe" -> ((s, d) => {
      // REAL video: each doc becomes a deterministic MJPEG/AVI container
      // (Multimodal.syntheticVideo — real RIFF, real JPEG frames), probed
      // by MjpegAvi's pure-JVM demuxer. The container header values are
      // closed-form in doc_id, so the oracle predicts them by arithmetic
      // while the engine parses actual bytes.
      import s.implicits._
      val media = fannedIds(s, d).as[Long]
        .map(id => (id, Multimodal.syntheticVideo(id)))
        .toDF("media_id", "content")
      Multimodal.probeVideos(media).toDF().orderBy("media_id")
    }),
    "m12_video_frames" -> ((s, d) => {
      // REAL frame sampling: demux every AVI, pick the covering frame per
      // 250 ms grid point, DECODE it with ImageIO (output carries the
      // decoded dimensions — a fake frame blob would fail the decode).
      import s.implicits._
      val media = fannedIds(s, d).as[Long]
        .map(id => (id, Multimodal.syntheticVideo(id)))
        .toDF("media_id", "content")
      Multimodal.sampleVideoFrames(media, everyMs = 250L)
        .toDF().orderBy("media_id", "sample_idx")
    }),
    "m13_video_dup_pairs" -> ((s, d) => {
      // video near-dup via shared-frame counting over REAL demuxed
      // containers: planted full copies (+10000, ids < 10) share every
      // frame, head-trimmed re-muxes (+20000, ids 10-19, first n-1
      // frames) share all but one. The oracle is codec-free arithmetic:
      // two generator frames are byte-equal iff dims and the three
      // per-channel mod-256 offsets coincide (the wrap sawtooth makes any
      // other pair differ grossly), so the Python fixture derives every
      // shared count from (id, k) congruences alone — no JPEG in the
      // oracle, while the engine demuxes and hashes actual bytes.
      import s.implicits._
      val media = fannedIds(s, d).as[Long]
        .flatMap { id =>
          val v = Multimodal.syntheticVideo(id)
          val planted =
            if (id < 10) Seq((id + 10000, v))
            else if (id < 20) {
              val (meta, frames) = graft.operators.MjpegAvi.demux(v)
              Seq((id + 20000, graft.operators.MjpegAvi.mux(frames.init,
                meta.width, meta.height, (1000000L / meta.usPerFrame).toInt)))
            } else Seq.empty
          (id, v) +: planted
        }.toDF("media_id", "content")
      Multimodal.videoDupPairs(media, minShared = 3)
        .orderBy("id_a", "id_b")
    }),
    "m3_media_features_ann" -> ((s, d) => {
      // REAL decoded pixels -> luminance-histogram features -> real ANN
      // operator, on the lossless (PNG, even-id) half of the corpus so the
      // decoded raster equals the closed-form generator output. Oracle: an
      // INDEPENDENT codec-free Python mirror (gen_fixtures.py) of
      // generator -> histogram (f32 normalize) -> double cosine top-k; a
      // wrong decode, binning, normalization, or ranking breaks it.
      val media = syntheticMedia(s, d).filter(pmod(col("media_id"), lit(2)) === 0)
      val feats = Multimodal.extractFeatures(media, dim = 32)
        .toDF().withColumnRenamed("feature", "embedding")
        .withColumnRenamed("media_id", "vec_id")
      Similarity.bruteForceTopK(feats, feats.filter(col("vec_id") < 6), k = 5)
        .select(col("query_id"), col("corpus_id"),
          round(col("cosine"), 4).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    // ------------------------------------------------ streaming twins (batch mode)
    "w5_stream_neardup_flags" -> ((s, d) => {
      // batch twin of StreamingDedup.nearDupFlags (spec-pinned equal): each
      // flagged doc with its minimum earlier near-dup partner. Oracle:
      // independent Python fixture derived from the d7 pair fixture.
      import s.implicits._
      StreamingDedup.nearDupFlags(
          StreamingDedup.bandedSigs(t(s, d, "documents")), threshold = 0.3)
        .groupBy(col("doc_id")).agg(min(col("dup_of")).as("dup_of"))
        .orderBy("doc_id")
    }),
    "w7_stream_curation" -> ((s, d) => {
      // the STANDING curation pipeline's batch twin: curateFold drives FOUR
      // sequential id-range micro-batches through curateBatch, each judged
      // against the at-rest state (digests + signature index) of earlier
      // quality+exact survivors. The oracle is a ONE-SHOT python mirror
      // (duckdb quality expr + independent xxh64 minhash/shingle chain), so
      // a green row proves the stage semantics AND the batch-boundary
      // invariance. Probes: doc_id%31==0 (d27's split).
      val docs = t(s, d, "documents")
      graft.streaming.StreamingCuration.curateFold(
          docs.filter(pmod(col("doc_id"), lit(31)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(31)) === 0), nBatches = 4)
        .orderBy("doc_id")
    }),
    "w24_stream_span_decontam" -> ((s, d) => {
      // STANDING verbatim-passage decontamination: probes signed ONCE into
      // an at-rest anchor index (StreamingSpanDecontam.init), then THREE
      // sequential id-range corpus batches judged against it. Oracle =
      // d87's one-shot SQL verbatim, so a green row proves the at-rest
      // index path (write -> read -> join) AND batch invariance.
      val docs = t(s, d, "documents")
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_w24_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      graft.streaming.StreamingSpanDecontam.init(
        docs.filter(pmod(col("doc_id"), lit(31)) === 0), dir)
      graft.streaming.StreamingSpanDecontam.judgeFold(
          docs.filter(pmod(col("doc_id"), lit(31)) =!= 0), dir, nBatches = 3)
        .orderBy("doc_id")
    }),
    "w30_ivf_hard_negatives" -> ((s, d) => {
      // the AT-REST form of e34: the standing IVF index stores the label
      // PAYLOAD next to each vector (appendEpoch payloadCols), and
      // hard-negative mining probes it per anchor — partition-pruned to
      // the anchors' nProbe cells with the label disequality applied at
      // the probe scan, no join back to the source table. Negatives come
      // from the probed cells only (the standard IVF recall trade; the
      // spec pins full-probe ≡ the brute-force miner).
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_w30_ivfneg_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      graft.streaming.StreamingIvf.init(cents, path)
      // one quantizer handle for the whole gate (round 17)
      val ch = Some(graft.operators.Similarity.collectCentroids(cents))
      val n = emb.agg(max("vec_id")).head.getLong(0) + 1
      val span = n / 3 + 1
      // overlapped — see the ivf-epoch note above (guide §2.6, round 17)
      graft.operators.Overlap.chains((0L until 3L).map(e => () =>
        graft.streaming.StreamingIvf.appendEpoch(
          emb.filter(col("vec_id") >= e * span && col("vec_id") < (e + 1) * span),
          path, e, payloadCols = Seq("label"), centsOpt = ch)): _*)
      graft.streaming.StreamingIvf.hardNegativeSearch(
          s, path, emb.filter(col("vec_id") < 5), k = 5, nProbe = 2,
          centsOpt = ch)
        .select(col("query_id"), col("corpus_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),
    "e38_ivf_mmr_at_rest" -> ((s, d) => {
      // MMR diversified retrieval OVER THE STANDING INDEX — the
      // RAG-serving shape end to end: candidates come from a
      // partition-pruned at-rest probe (top-20 cosine from each
      // anchor's 2 cells), the greedy lambda-weighted
      // relevance-vs-redundancy re-rank picks 8 on the driver over the
      // contract-bounded candidate set. Oracle: independent Python
      // replay (FixtureOracles) of BOTH stages — cell routing and every
      // greedy argmax — with margin asserts so float noise cannot flip
      // a pick.
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_e38_mmr_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      graft.streaming.StreamingIvf.init(cents, path)
      // one quantizer handle for the whole gate (round 17)
      val ch = Some(graft.operators.Similarity.collectCentroids(cents))
      val n = emb.agg(max("vec_id")).head.getLong(0) + 1
      val span = n / 3 + 1
      // the quantizer is already frozen (init) and epochs write disjoint
      // dirs under their own write-intent markers — overlapped (guide
      // §2.6, round 17)
      graft.operators.Overlap.chains((0L until 3L).map(e => () =>
        graft.streaming.StreamingIvf.appendEpoch(
          emb.filter(col("vec_id") >= e * span && col("vec_id") < (e + 1) * span),
          path, e, centsOpt = ch)): _*)
      graft.streaming.StreamingIvf.mmrSearch(
          s, path, emb.filter(col("vec_id") < 5),
          candidates = 20, k = 8, lambda = 0.7, nProbe = 2)
        .select(col("query_id"), col("corpus_id"),
          round(col("mmr_score"), 6).as("mmr_score"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),
    "e39_retrieval_metrics" -> ((s, d) => {
      // retrieval-quality EVAL metrics — recall@10 / MRR / nDCG@10 of the
      // exact cosine top-k against label-match relevance: the measurement
      // harness every retrieval pipeline runs next to its index (e12
      // measures ANN recall vs exact; this scores the RANKING against
      // ground truth). Scale shape: ONE broadcast-query top-k probe over
      // the corpus (partial-aggregated, <= k rows per (query, partition)
      // exchange), label relevance and per-label totals attach as
      // broadcast relations, and the metric fold is a narrow groupBy
      // over <= |q| x k rows — nothing corpus-sized ever shuffles.
      val emb = t(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 8)
      val topk = Similarity.bruteForceTopK(emb, qs, k = 10)
      val cLab = emb.select(col("vec_id").as("corpus_id"),
        col("label").as("clab"))
      val qLab = qs.select(col("vec_id").as("query_id"),
        col("label").as("qlab"))
      // total relevant per query = corpus docs sharing its label minus
      // itself (the denominator recall@k and IDCG both need)
      val labCounts = emb.groupBy(col("label").as("qlab"))
        .agg(count(lit(1)).as("nlab"))
      val perQ = topk
        .join(broadcast(cLab), "corpus_id")
        .join(broadcast(qLab), "query_id")
        .withColumn("rel", (col("clab") === col("qlab")).cast("int"))
        .groupBy("query_id", "qlab")
        .agg(sum("rel").as("hits"),
          min(when(col("rel") === 1, col("rank"))).as("first_rel"),
          sum(when(col("rel") === 1,
            lit(1.0) / log(2.0, col("rank").cast("double") + 1))).as("dcg"))
      perQ.join(broadcast(labCounts), "qlab")
        .withColumn("nrel", col("nlab") - 1)
        // a query whose label is UNIQUE in the corpus (nrel=0) has no
        // ground truth to score against — drop it on BOTH sides (the
        // oracle's idcg inner join drops it implicitly; without this
        // filter Spark would keep a null-metric row, a latent
        // exact-parity break — round-14 advisory)
        .filter(col("nrel") >= 1)
        .withColumn("idcg",
          aggregate(sequence(lit(1), least(lit(10), col("nrel")).cast("int")),
            lit(0.0), (acc, i) => acc + lit(1.0) / log(2.0, i.cast("double") + 1)))
        .select(col("query_id"),
          round(col("hits").cast("double") / col("nrel"), 6).as("recall10"),
          round(coalesce(lit(1.0) / col("first_rel"), lit(0.0)), 6).as("mrr"),
          round(coalesce(col("dcg"), lit(0.0)) / col("idcg"), 6).as("ndcg10"))
        .orderBy("query_id")
    }),
    "e37_triplets_at_rest" -> ((s, d) => {
      // triplet assembly over the STANDING index — e36's training rows
      // mined from the at-rest corpus: the hardest same-label positive
      // and the top-3 different-label negatives are BOTH filteredSearch
      // probes over the stored label payload (equality vs disequality),
      // partition-pruned to each anchor's nProbe cells, no join back to
      // the source table. Anchors whose probed cells hold no same-label
      // partner emit no triplets.
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_e37_trip_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      graft.streaming.StreamingIvf.init(cents, path)
      // one quantizer handle for the whole gate (round 17)
      val ch = Some(graft.operators.Similarity.collectCentroids(cents))
      val n = emb.agg(max("vec_id")).head.getLong(0) + 1
      val span = n / 3 + 1
      // overlapped — see the ivf-epoch note above (guide §2.6, round 17)
      graft.operators.Overlap.chains((0L until 3L).map(e => () =>
        graft.streaming.StreamingIvf.appendEpoch(
          emb.filter(col("vec_id") >= e * span && col("vec_id") < (e + 1) * span),
          path, e, payloadCols = Seq("label"), centsOpt = ch)): _*)
      graft.streaming.StreamingIvf.tripletSearch(
          s, path, emb.filter(col("vec_id") < 5), k = 3, nProbe = 2)
        .select(col("anchor_id"), col("pos_id"),
          round(col("pos_cos"), 6).as("pos_cos"), col("neg_id"),
          round(col("neg_cos"), 6).as("neg_cos"),
          col("rank").cast("long").as("rank"))
        .orderBy("anchor_id", "rank")
    }),
    "w36_ivf_semihard" -> ((s, d) => {
      // e35's semi-hard band mined from the STANDING index — completes
      // the at-rest negative-mining matrix (w30 hard, e37 triplets,
      // this semi-hard): the per-anchor hardest-positive threshold is
      // itself a label-equality probe of the at-rest corpus, and the
      // strict cos < pc margin applies POST-SCORE before the top-k so
      // over-threshold candidates never occupy result slots.
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_w36_semih_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      graft.streaming.StreamingIvf.init(cents, path)
      // one quantizer handle for the whole gate (round 17)
      val ch = Some(graft.operators.Similarity.collectCentroids(cents))
      val n = emb.agg(max("vec_id")).head.getLong(0) + 1
      val span = n / 3 + 1
      // overlapped — see the ivf-epoch note above (guide §2.6, round 17)
      graft.operators.Overlap.chains((0L until 3L).map(e => () =>
        graft.streaming.StreamingIvf.appendEpoch(
          emb.filter(col("vec_id") >= e * span && col("vec_id") < (e + 1) * span),
          path, e, payloadCols = Seq("label"), centsOpt = ch)): _*)
      graft.streaming.StreamingIvf.semiHardNegativeSearch(
          s, path, emb.filter(col("vec_id") < 5), k = 5, nProbe = 2,
          centsOpt = ch)
        .select(col("query_id"), col("corpus_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),
    "w31_ivf_filtered_probe" -> ((s, d) => {
      // the GENERAL payload-predicate form of the filtered-ANN-at-rest
      // shape (w30 is the label-disequality special case): a derived
      // quality score rides into the at-rest layout as an appendEpoch
      // payload column, and the probe filters on it AT THE PROBE SCAN —
      // source/quality metadata predicates with no join back to the
      // source table. Candidates come from the probed cells only, like
      // every IVF probe.
      val emb = t(s, d, "embeddings")
        .withColumn("quality", pmod(col("vec_id"), lit(7)).cast("int"))
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_w31_ivfq_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      graft.streaming.StreamingIvf.init(cents, path)
      // one quantizer handle for the whole gate (round 17)
      val ch = Some(graft.operators.Similarity.collectCentroids(cents))
      val n = emb.agg(max("vec_id")).head.getLong(0) + 1
      val span = n / 3 + 1
      // overlapped — see the ivf-epoch note above (guide §2.6, round 17)
      graft.operators.Overlap.chains((0L until 3L).map(e => () =>
        graft.streaming.StreamingIvf.appendEpoch(
          emb.filter(col("vec_id") >= e * span && col("vec_id") < (e + 1) * span),
          path, e, payloadCols = Seq("quality"), centsOpt = ch)): _*)
      graft.streaming.StreamingIvf.filteredSearch(
          s, path, emb.filter(col("vec_id") < 5), k = 5, nProbe = 2,
          corpusPayloadCols = Seq("quality"),
          predicate = Some(col("corpus_quality") >= 4),
          centsOpt = ch)
        .select(col("query_id"), col("corpus_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),
    "w32_ivf_semdedup_incr" -> ((s, d) => {
      // INCREMENTAL semantic dedup against the standing index — the
      // new-data-vs-at-rest-corpus form of e10's batch SemDeDup: each
      // arriving vector probes its nProbe cells of the standing IVF
      // corpus (partition-pruned scan); top-1 cosine at or above the
      // threshold flags it as a semantic duplicate of data the corpus
      // already holds, BEFORE it lands — no recluster of the 100-TB
      // at-rest side, ever. Threshold compares ROUNDED cosine so the
      // boundary is engine-stable.
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_w32_semdd_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      graft.streaming.StreamingIvf.init(cents, path)
      // one quantizer handle for the whole gate (round 17)
      val ch = Some(graft.operators.Similarity.collectCentroids(cents))
      val n = emb.agg(max("vec_id")).head.getLong(0) + 1
      val mid = (n + 10) / 2
      // the two epochs write disjoint dirs — overlapped (guide §2.6)
      graft.operators.Overlap.chains(
        () => graft.streaming.StreamingIvf.appendEpoch(
          emb.filter(col("vec_id") >= 10 && col("vec_id") < mid), path, 0,
          centsOpt = ch),
        () => graft.streaming.StreamingIvf.appendEpoch(
          emb.filter(col("vec_id") >= mid), path, 1, centsOpt = ch))
      graft.streaming.StreamingIvf.search(
          s, path, emb.filter(col("vec_id") < 10), k = 1, nProbe = 2,
          centsOpt = ch)
        .select(col("query_id"), col("corpus_id").as("dup_of"),
          round(col("cosine"), 6).as("cosine"),
          (round(col("cosine"), 6) >= 0.38).as("is_dup"))
        .orderBy("query_id")
    }),
    "w38_ivf_refit" -> ((s, d) => {
      // centroid-drift REFIT of the standing index — the maintenance op
      // the per-epoch append model defers: a NEW quantizer (12 centroids
      // vs the 8 the index was built with) and the fully re-routed
      // corpus stage together under the index root and promote in ONE
      // commit-marker swap, so probes can never prune new cells against
      // old centroids. The post-refit search must equal the in-memory
      // probe with the new centroids — e6's oracle shape at 12 cells.
      val emb = t(s, d, "embeddings")
      def cents(n: Int) = emb.filter(col("vec_id") < n)
        .select(col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_w38_refit_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), s.sessionState.newHadoopConf())
      // the swap renames the index root: a re-run starts from a clean tree
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      fs.delete(new org.apache.hadoop.fs.Path(path + ".compacting"), true)
      fs.delete(new org.apache.hadoop.fs.Path(path + ".compacting.COMMITTED"), false)
      graft.streaming.StreamingIvf.init(cents(8), path)
      val n = emb.agg(max("vec_id")).head.getLong(0) + 1
      val span = n / 2 + 1
      (0L until 2L).foreach { e =>
        graft.streaming.StreamingIvf.appendEpoch(
          emb.filter(col("vec_id") >= e * span && col("vec_id") < (e + 1) * span),
          path, e)
      }
      graft.streaming.StreamingIvf.refit(s, path, cents(12))
      require(fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/corpus"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet == Set("epoch=-1"),
        "refit must leave only the re-routed epoch")
      require(s.read.parquet(s"$path/centroids").count() == 12,
        "refit must install the new quantizer")
      graft.streaming.StreamingIvf.search(
          s, path, emb.filter(col("vec_id") < 5), k = 5, nProbe = 2)
        .select(col("query_id"), col("corpus_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),
    "w33_ivf_tombstones" -> ((s, d) => {
      // the DELETE path of the standing index (right-to-be-forgotten
      // without an inline rewrite of the at-rest corpus): tombstoned ids
      // vanish from probes immediately (broadcast anti-join at the
      // pruned scan) and from the BYTES at the next compact — the
      // rewrite drops them and clears the tombstone store, the
      // log-structured-merge delete. This gate probes AFTER compaction
      // with structural requires that the tombstone store is gone and
      // only epoch=-1 remains; the spec pins pre-compact ≡ post-compact.
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_w33_tomb_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), s.sessionState.newHadoopConf())
      // compaction renames directories: a re-run must start from a clean
      // tree (the swap's staging/marker siblings live under path too)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      graft.streaming.StreamingIvf.init(cents, path)
      // one quantizer handle for the whole gate (round 17)
      val ch = Some(graft.operators.Similarity.collectCentroids(cents))
      val n = emb.agg(max("vec_id")).head.getLong(0) + 1
      val span = n / 2 + 1
      // the two epochs write disjoint dirs — overlapped (guide §2.6)
      graft.operators.Overlap.chains(
        () => graft.streaming.StreamingIvf.appendEpoch(
          emb.filter(col("vec_id") < span), path, 0, centsOpt = ch),
        () => graft.streaming.StreamingIvf.appendEpoch(
          emb.filter(col("vec_id") >= span), path, 1, centsOpt = ch))
      graft.streaming.StreamingIvf.deleteEpoch(
        emb.filter(pmod(col("vec_id"), lit(13)) === 0).select("vec_id"), path, 0)
      graft.streaming.StreamingIvf.compact(s, path)
      require(fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/corpus"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet == Set("epoch=-1"),
        "corpus must hold only the compacted epoch")
      require(graft.streaming.StoreTombstones.retired(s, path),
        "compaction must clear the applied tombstone store")
      graft.streaming.StreamingIvf.search(
          s, path, emb.filter(col("vec_id") < 5), k = 5, nProbe = 2)
        .select(col("query_id"), col("corpus_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),
    "w8_stream_ivf" -> ((s, d) => {
      // standing ANN-index maintenance (StreamingIvf): embeddings arrive in
      // THREE id-range epochs, each cell-routed by the frozen first-8
      // centroids and overwritten into its own cell-partitioned epoch dir
      // (replay-idempotent). The search over the at-rest epoch union must
      // equal the in-memory ivfTopK probe exactly — e6's oracle, verbatim.
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_w8_ivf_" +
        d.replaceAll("[^A-Za-z0-9.]", "_")
      graft.streaming.StreamingIvf.init(cents, path)
      // one quantizer handle for the whole gate (round 17)
      val ch = Some(graft.operators.Similarity.collectCentroids(cents))
      val n = emb.agg(max("vec_id")).head.getLong(0) + 1
      val span = n / 3 + 1
      // the quantizer is already frozen (init) and epochs write disjoint
      // dirs under their own write-intent markers — overlapped (guide
      // §2.6, round 17)
      graft.operators.Overlap.chains((0L until 3L).map(e => () =>
        graft.streaming.StreamingIvf.appendEpoch(
          emb.filter(col("vec_id") >= e * span && col("vec_id") < (e + 1) * span),
          path, e, centsOpt = ch)): _*)
      graft.streaming.StreamingIvf.search(s, path, emb.filter(col("vec_id") < 3),
          k = 5, nProbe = 2, centsOpt = ch)
        .select(col("query_id"), col("corpus_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    "w4_interval_join" -> ((s, d) => {
      // purchases within 30 minutes after each click by the same user —
      // batch twin of the watermarked stream-stream interval join (state
      // bounded by the delay window, not the stream)
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      graft.streaming.EventAnalytics.intervalJoin(clicks, purchases, key = "user_id")
        .select(col("l.event_id").as("click_id"), col("r.event_id").as("purchase_id"))
        .orderBy("click_id", "purchase_id")
    }),
    "w1_hourly_counts" -> ((s, d) =>
      events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
        .orderBy("hour", "event_type")),
    "w9_funnel" -> ((s, d) =>
      // ordered conversion funnel click → view → purchase, 7-day window
      // anchored at the first click; chained combinable min-aggs, no
      // per-user history materialized (power-user-skew safe)
      graft.streaming.EventAnalytics.funnel(
        events(s, d), Seq("click", "view", "purchase"), windowDays = 7)
        .orderBy("stage_idx")),
    "w10_retention" -> ((s, d) =>
      // signup-style cohort retention: users by first-activity day, re-active
      // exactly 1/3/7/14 days later (offset 0 = the cohort size itself)
      graft.streaming.EventAnalytics.retentionCohorts(
        events(s, d), Seq(0, 1, 3, 7, 14))
        .orderBy("cohort_day", "day_offset")),
    "w11_top_paths" -> ((s, d) =>
      // most common per-user 3-step event-type sequences; one user-keyed
      // window shuffle + combinable count + top-k (no global sort)
      graft.streaming.EventAnalytics.topEventPaths(events(s, d), n = 3, k = 20)),
    "w13_sliding_rate" -> ((s, d) =>
      // 30-min windows sliding every 10 min — batch twin of the streaming
      // slidingRate path: Spark's window() generator emits the 3 covering
      // slides per event BEFORE the combinable count agg, so the shuffle
      // carries (window, type) partials, never events
      events(s, d)
        .groupBy(window(col("ts"), "30 minutes", "10 minutes").as("win"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("win.start").as("window_start"), col("event_type"), col("n"))
        .orderBy("window_start", "event_type")),
    "w14_daily_active" -> ((s, d) =>
      // daily active users + events/user — the count-distinct shuffles
      // (day, user) pairs once; at 100 TB swap countDistinct for
      // approx_count_distinct (d26 documents the exactness-window stance)
      events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(countDistinct(col("user_id")).as("dau"),
          count(lit(1)).as("n_events"),
          round(count(lit(1)) / countDistinct(col("user_id")), 3)
            .as("events_per_user"))
        .orderBy("day")),
    "w17_converted_clicks" -> ((s, d) => {
      // LEFT SEMI watermarked interval join — the third stream-stream
      // join type (inner = w4, left outer = w15): clicks that DID convert
      // within 30 minutes, emitted once each regardless of how many
      // purchases matched; in streaming the right side needs only
      // existence state inside the delay window
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
      graft.streaming.EventAnalytics.intervalJoin(clicks, purchases,
          key = "user_id", joinType = "left_semi")
        .select(col("click_id"), col("user_id"))
        .orderBy("click_id")
    }),
    "w18_gap_fill" -> ((s, d) =>
      // per-user hourly resample + forward fill (EventAnalytics.gapFill):
      // dense grid generated distributively (sequence+explode off the
      // |users|-row span relation), last-observation-carried-forward via a
      // user-partitioned window — no global sort, no driver materialization
      graft.streaming.EventAnalytics.gapFill(events(s, d))
        .orderBy("user_id", "bucket")),
    "w19_ab_test" -> ((s, d) => {
      // two-variant experiment readout: deterministic assignment
      // (user_id % 2), exposure = first click, conversion = a purchase
      // within 12 h after it (the window keeps the rate non-degenerate on
      // this dense corpus). Two combinable aggs + one LEFT SEMI interval
      // join (per-user first-click relation is |users|-rows); the final
      // stats are a single-row conditional aggregate — rates in exact
      // integer basis points, the pooled z-score rounded with an
      // offline-checked boundary margin (same stance as d25/q20).
      val ev = events(s, d)
      val firstClick = ev.filter(col("event_type") === "click")
        .groupBy("user_id").agg(min(col("ts")).as("first_click"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      val converted = firstClick.join(purchases,
          col("user_id") === col("p_user") && col("p_ts") > col("first_click") &&
            col("p_ts") <= col("first_click") + expr("interval 12 hours"),
          "left_semi")
        .select(col("user_id"), lit(1L).as("converted"))
      firstClick
        .withColumn("variant", (col("user_id") % 2).cast("int"))
        .join(converted, Seq("user_id"), "left")
        .withColumn("conv", coalesce(col("converted"), lit(0L)))
        .agg(
          sum(when(col("variant") === 0, 1L).otherwise(0L)).as("users_a"),
          sum(when(col("variant") === 0, col("conv")).otherwise(0L)).as("conv_a"),
          sum(when(col("variant") === 1, 1L).otherwise(0L)).as("users_b"),
          sum(when(col("variant") === 1, col("conv")).otherwise(0L)).as("conv_b"))
        .withColumn("rate_a_bp", expr("conv_a * 10000 div users_a"))
        .withColumn("rate_b_bp", expr("conv_b * 10000 div users_b"))
        .withColumn("z_score", round(
          (col("conv_a").cast("double") / col("users_a") -
            col("conv_b").cast("double") / col("users_b")) /
          sqrt(((col("conv_a") + col("conv_b")).cast("double") /
              (col("users_a") + col("users_b"))) *
            (lit(1.0) - (col("conv_a") + col("conv_b")).cast("double") /
              (col("users_a") + col("users_b"))) *
            (lit(1.0) / col("users_a") + lit(1.0) / col("users_b"))), 3))
        .select("users_a", "conv_a", "rate_a_bp",
          "users_b", "conv_b", "rate_b_bp", "z_score")
    }),
    "w20_unmatched_interval" -> ((s, d) => {
      // FULL OUTER watermarked interval join — completes the stream-stream
      // join-type matrix (inner = w4, left outer = w15, left semi = w17):
      // converting pairs emit joined, unconverted clicks AND orphan
      // purchases each emit once with a NULL other side (in streaming,
      // when the watermark closes their window). Same bounded two-sided
      // state as w4.
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      graft.streaming.EventAnalytics.intervalJoin(clicks, purchases,
          key = "user_id", joinType = "full_outer")
        .select(col("l.click_id"), col("r.purchase_id"),
          coalesce(col("l.user_id"), col("r.user_id")).as("user_id"))
        .orderBy("click_id", "purchase_id")
    }),
    "w16_session_window" -> ((s, d) =>
      // gap-based sessions via Spark's NATIVE session_window operator —
      // the built-in twin of w3's flatMapGroupsWithState sessionizer
      // (identical sessions; window_end = last event + gap is the native
      // operator's convention). Batch plans as one user-keyed shuffle +
      // in-partition session merge; in streaming the same expression is
      // watermark-evicted session state. Boundary note: session_window
      // starts a NEW session at gap == exactly 30 min (merge iff
      // next < end); the oracle mirrors with >=, and the testdata has no
      // exact-30-min gap either way.
      events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
        .select(col("user_id"), col("sw.start").as("window_start"),
          col("sw.end").as("window_end"), col("n_events"), col("total_value"))
        .orderBy("user_id", "window_start")),
    "w15_attribution" -> ((s, d) => {
      // click→purchase attribution: every click LEFT OUTER joined to the
      // purchases that follow it within 30 minutes (the watermarked outer
      // stream-stream join's batch twin — EventAnalyticsSpec pins the
      // streaming form, including the null-row-after-watermark emission),
      // then the FIRST purchase per click via one combinable min-struct
      // aggregate (no per-click sort window). Unconverted clicks keep a
      // NULL purchase and converted=false.
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      graft.streaming.EventAnalytics.attributionJoin(clicks, purchases, key = "user_id")
        .groupBy(col("l.click_id").as("click_id"), col("l.user_id").as("user_id"))
        .agg(min(struct(col("r.ts"), col("r.purchase_id"))).as("m"))
        .select(col("click_id"), col("user_id"),
          col("m.purchase_id").as("purchase_id"),
          col("m.purchase_id").isNotNull.as("converted"))
        .orderBy("click_id")
    }),
    "w12_rate_anomaly" -> ((s, d) => {
      // hourly event-rate anomaly per type: z-score of each hour's count
      // against the trailing 6 hours. One combinable count agg, then one
      // window pass partitioned by type (5 partitions) — at 100 TB the
      // windowed series is |types| x |hours| rows, trivially small vs the
      // scan; the heavy work stays in the partial-aggregated count
      val hourly = events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("hour")
        .rowsBetween(-6, -1)
      hourly
        .withColumn("mu", avg("n").over(w))
        .withColumn("sd", stddev_samp(col("n").cast("double")).over(w))
        // threshold on the RAW z (rounding first would flip boundary rows
        // against the oracle, which also thresholds raw)
        .filter(col("sd").isNotNull && col("sd") > 0 &&
          abs((col("n") - col("mu")) / col("sd")) > 2)
        .select(col("hour"), col("event_type"), col("n"),
          round((col("n") - col("mu")) / col("sd"), 3).as("z"))
        .orderBy("hour", "event_type")
    }),
    "w2_dedup_events" -> ((s, d) =>
      events(s, d)
        .groupBy("user_id", "event_type")
        .agg(min("event_id").as("first_event_id"))
        .orderBy("user_id", "event_type")),
    "w3_sessionize" -> ((s, d) =>
      graft.streaming.EventAnalytics.sessionizeBatch(events(s, d), gapMs = 30 * 60 * 1000)
        .orderBy("user_id", "session_start")),
    "w6_enriched_revenue" -> ((s, d) =>
      // batch twin of the stream-static broadcast enrichment join: hourly
      // revenue per customer market segment (streaming path spec-pinned
      // equal in StreamingSpec)
      graft.streaming.EventAnalytics.enrichedWindowedRevenue(
          events(s, d), t(s, d, "customer"),
          eventKey = "user_id", dimKey = "c_custkey", attr = "c_mktsegment")
        .orderBy("window_start", "c_mktsegment"))
  )

  // ------------------------------------------------------------- oracle SQL

  /** Shared by d87 (one-shot) and w24 (standing fold against the
    * at-rest probe anchor index): both must equal this relation. */
  private val spanDecontamOracleSql: String =
    """WITH toks AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               t -> length(t) > 0) AS w
           FROM documents),
         ca AS (SELECT doc_id AS id,
             unnest(list_transform(range(1, len(w) - 6),
               i -> {'pos': i - 1, 'g': array_to_string(w[i:i+7], ' ')})) AS u
           FROM toks WHERE len(w) >= 8 AND doc_id % 31 <> 0),
         pr AS (SELECT doc_id AS id,
             unnest(list_transform(range(1, len(w) - 6),
               i -> {'pos': i - 1, 'g': array_to_string(w[i:i+7], ' ')})) AS u
           FROM toks WHERE len(w) >= 8 AND doc_id % 31 = 0),
         c2 AS (SELECT id, u.pos AS pos, u.g AS gram FROM ca),
         p2 AS (SELECT id, u.pos AS pos, u.g AS gram FROM pr),
         ck AS (SELECT gram FROM c2 GROUP BY 1 HAVING count(DISTINCT id) <= 64),
         pk AS (SELECT gram FROM p2 GROUP BY 1 HAVING count(DISTINCT id) <= 64),
         c3 AS (SELECT c2.* FROM c2 JOIN ck USING (gram)),
         p3 AS (SELECT p2.* FROM p2 JOIN pk USING (gram)),
         m AS (SELECT c3.id AS a, p3.id AS b, c3.pos - p3.pos AS diag,
             c3.pos AS px
           FROM c3 JOIN p3 USING (gram)),
         r AS (SELECT a, b, diag, px, px - row_number() OVER (
             PARTITION BY a, b, diag ORDER BY px) AS run
           FROM m),
         sp AS (SELECT a, count(*) + 7 AS span FROM r GROUP BY a, b, diag, run),
         per AS (SELECT a, count(*)::BIGINT AS n_spans,
             max(span)::BIGINT AS max_span
           FROM sp WHERE span >= 10 GROUP BY a)
         SELECT d.doc_id, coalesce(per.n_spans, 0)::BIGINT AS n_spans,
           coalesce(per.max_span, 0)::BIGINT AS max_span,
           coalesce(per.max_span, 0) >= 10 AS contaminated
         FROM documents d LEFT JOIN per ON per.a = d.doc_id
         WHERE d.doc_id % 31 <> 0
         ORDER BY d.doc_id"""

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_quantity), 4) AS avg_qty,
         round(avg(l_discount), 4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1996-01-01'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q5_local_supplier" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY n_name ORDER BY n_name""",
    "q6_revenue_forecast" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24""",
    "q7_customers_no_orders" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
         ORDER BY c_custkey""",
    "q8_top3_orders_per_cust" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders WHERE o_custkey < 50) x
         WHERE rn <= 3 ORDER BY o_custkey, rn""",
    "q9_running_total" ->
      """SELECT o_custkey, o_orderkey,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
         FROM orders WHERE o_custkey < 50 ORDER BY o_custkey, o_orderkey""",
    "q10_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         round(sum(o_totalprice), 2) AS total
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q11_intersect" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         INTERSECT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
         ORDER BY o_custkey""",
    "q12_distinct_agg" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q13_string_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS brand_upper,
         substring(p_name, 1, 8) AS name_prefix, length(p_name) AS name_len,
         concat_ws('|', p_brand, p_type) AS brand_type,
         regexp_extract(p_name, '^(\w+)', 1) AS first_word
         FROM part WHERE p_partkey < 200 ORDER BY p_partkey""",
    "q14_monthly_revenue" ->
      """SELECT date_trunc('month', o_orderdate)::TIMESTAMP AS month,
         round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
         FROM orders GROUP BY 1 ORDER BY month""",
    "q15_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
         round(sqrt(l_quantity), 6) AS sqrt_qty,
         round(ln(l_extendedprice), 6) AS ln_price,
         round(power(l_discount, 2), 6) AS disc_sq,
         ceil(l_quantity)::BIGINT AS ceil_qty, floor(l_extendedprice)::BIGINT AS floor_price,
         abs(l_quantity - 25) AS abs_dev
         FROM lineitem WHERE l_partkey < 100 ORDER BY l_orderkey, l_linenumber""",
    "q16_case_agg" ->
      """SELECT l_linestatus,
         round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END), 2) AS returned_qty,
         round(sum(CASE WHEN l_returnflag <> 'R' THEN l_quantity ELSE 0 END), 2) AS kept_qty,
         count(*) AS n
         FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""",
    "q17_having" ->
      """SELECT l_partkey, round(sum(l_quantity), 2) AS total_qty, count(*) AS n
         FROM lineitem GROUP BY l_partkey HAVING round(sum(l_quantity), 2) > 150
         ORDER BY l_partkey""",
    "q18_region_customers" ->
      """SELECT r_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_acctbal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "q19_disjunctive_join" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
          AND ((p_brand = 'Brand#1' AND l_quantity >= 5)
            OR (p_brand = 'Brand#2' AND l_quantity >= 10))""",
    "q28_except" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         EXCEPT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
         ORDER BY o_custkey""",
    "q29_left_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_pending,
         round(coalesce(sum(o_totalprice), 0.0), 2) AS pending_total
         FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'P') o
           ON c_custkey = o_custkey
         WHERE c_custkey < 100
         GROUP BY c_custkey ORDER BY c_custkey""",
    "q25_dense_rank" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice, rnk FROM (
           SELECT o_orderstatus, o_orderkey, o_totalprice,
             dense_rank() OVER (PARTITION BY o_orderstatus
               ORDER BY o_totalprice DESC) AS rnk
           FROM orders) x
         WHERE rnk <= 3 ORDER BY o_orderstatus, rnk, o_orderkey""",
    "q26_cube" ->
      """SELECT o_orderstatus, year(o_orderdate) AS o_year, count(*) AS n,
         round(sum(o_totalprice), 2) AS total
         FROM orders GROUP BY CUBE (o_orderstatus, year(o_orderdate))
         ORDER BY o_orderstatus NULLS FIRST, o_year NULLS FIRST""",
    "q27_above_cust_avg" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders JOIN (
           SELECT o_custkey AS ak, avg(o_totalprice) AS cust_avg
           FROM orders GROUP BY 1) a ON o_custkey = ak
         WHERE o_totalprice > cust_avg ORDER BY o_orderkey""",
    "d11_subword_count" ->
      """SELECT event_id,
         len(regexp_extract_all(props, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))::BIGINT AS n_subwords
         FROM events ORDER BY event_id""",
    // q20: the same integer tenth-cent interpolation + integer HALF_UP
    // rounding as the Spark side — quantile_cont's float interpolation
    // could land a half-cent boundary one ulp either way (ROADMAP item 4)
    "q20_percentiles" ->
      """WITH p AS (SELECT o_orderstatus,
             ((o_totalprice::DECIMAL(18,2)) * 100)::BIGINT AS cents
           FROM orders),
         g AS (SELECT o_orderstatus, list_sort(list(cents)) AS cs,
             count(*) AS n FROM p GROUP BY 1)
         SELECT o_orderstatus,
           (((10 * cs[((n-1)*5//10)::INT + 1]
              + ((n-1)*5 % 10) * (cs[least((n-1)*5//10 + 2, n)::INT]
                                  - cs[((n-1)*5//10)::INT + 1])) + 5) // 10)
             / 100.0 AS median_price,
           (((10 * cs[((n-1)*9//10)::INT + 1]
              + ((n-1)*9 % 10) * (cs[least((n-1)*9//10 + 2, n)::INT]
                                  - cs[((n-1)*9//10)::INT + 1])) + 5) // 10)
             / 100.0 AS p90_price,
           n
         FROM g ORDER BY o_orderstatus""",
    // q30: Spark's GK sketch returns the element at rank ceil(p*n) when the
    // error budget ε·n < 1; DuckDB's quantile_disc uses floor(p*(n-1)), so
    // index the sorted list explicitly with Spark's convention.
    "q30_approx_percentiles" ->
      """SELECT o_orderstatus,
         list_sort(list(o_totalprice))[ceil(0.5 * count(*))::INT] AS median_price,
         list_sort(list(o_totalprice))[ceil(0.9 * count(*))::INT] AS p90_price,
         count(*) AS n
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q21_pivot" ->
      """SELECT user_id % 10 AS user_bucket,
         round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
         round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS error,
         round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
         round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup,
         round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS view
         FROM events GROUP BY 1 ORDER BY user_bucket""",
    "q22_array_agg" ->
      """SELECT o_orderstatus,
         array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
         count(*) AS n
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q23_json_extract" ->
      """SELECT event_id, json_extract(props, '$.k')::BIGINT AS k
         FROM events WHERE json_extract(props, '$.k')::BIGINT > 50
         ORDER BY event_id""",
    "q24_union_all" ->
      """SELECT src, count(*) AS n, count(DISTINCT o_custkey) AS n_cust FROM (
           SELECT 'y1995' AS src, o_custkey FROM orders WHERE year(o_orderdate) = 1995
           UNION ALL
           SELECT 'y1996' AS src, o_custkey FROM orders WHERE year(o_orderdate) = 1996)
         GROUP BY src ORDER BY src""",
    "e3_cosine_hist" ->
      """SELECT floor(round(c, 6) * 10)::BIGINT AS bucket, count(*) AS n_pairs FROM (
           SELECT list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS c
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           WHERE a.vec_id < 40 AND b.vec_id < 40)
         GROUP BY 1 ORDER BY bucket""",
    "s1_filter_regex" ->
      """SELECT event_id, props FROM events
         WHERE regexp_matches(props, '"k": 8[0-9]\}') ORDER BY event_id""",
    "s2_regex_modify" ->
      """SELECT doc_id, substring(regexp_replace(text, '^(\w+) (\w+)', '\2 \1'), 1, 40)
         AS modified FROM documents ORDER BY doc_id""",
    "s3_prepend" ->
      """SELECT event_id, concat_ws(' ', epoch_ms(ts), 'host-1', event_type) AS value
         FROM events ORDER BY event_id""",
    "s4_partition_assign" ->
      """SELECT (event_id % 32)::INT AS partition, count(*) AS n,
         min(event_id) AS min_id, max(event_id) AS max_id
         FROM events GROUP BY 1 ORDER BY partition""",
    "s5_sample_decider" ->
      """SELECT event_id, event_type FROM events WHERE event_id % 100 < 37
         ORDER BY event_id""",
    "s6_audit_counts" ->
      """SELECT event_type, count(*) AS num_messages, min(event_id) AS first_id,
         max(event_id) AS last_id
         FROM events GROUP BY event_type ORDER BY event_type""",
    "s8_mid_headers" ->
      """SELECT event_id,
         lpad(hex(event_id), 16, '0') || lpad(hex(user_id), 16, '0') AS mid,
         lpad(hex(epoch_ms(ts)), 16, '0') AS ots
         FROM events ORDER BY event_id""",
    // s12/s13: encode→decode round-trips — the oracle is the source table
    "s12_avro_roundtrip" ->
      "SELECT event_id, event_type, value FROM events ORDER BY event_id",
    "s13_proto_roundtrip" ->
      "SELECT event_id, event_type, value FROM events ORDER BY event_id",
    "s11_pack_messages" ->
      """WITH l AS (SELECT doc_id % 10 AS file_id, doc_id, text,
           row_number() OVER (PARTITION BY doc_id % 10 ORDER BY doc_id) - 1 AS pos
         FROM documents)
         SELECT file_id, pos // 4 AS bucket, string_agg(text, chr(10) ORDER BY pos) AS text
         FROM l GROUP BY 1, 2 ORDER BY file_id, bucket""",
    "s10_sql_surface" ->
      """WITH s AS (SELECT doc_id,
           list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> length(t) > 0) AS toks
           FROM documents)
         SELECT doc_id, len(toks)::BIGINT AS n_tokens,
           CASE WHEN len(toks) = 0 THEN 'und' ELSE substring(greatest(
             lpad(len(list_filter(toks, t -> list_contains(
               ['der','die','das','und','ist','nicht','ein','mit','für','auf'], t)))::VARCHAR, 10, '0') || 'de',
             lpad(len(list_filter(toks, t -> list_contains(
               ['the','and','is','of','to','in','that','it','was','for'], t)))::VARCHAR, 10, '0') || 'en',
             lpad(len(list_filter(toks, t -> list_contains(
               ['el','la','los','las','que','de','y','es','en','por'], t)))::VARCHAR, 10, '0') || 'es',
             lpad(len(list_filter(toks, t -> list_contains(
               ['le','la','les','et','est','que','des','une','dans','pour'], t)))::VARCHAR, 10, '0') || 'fr'), 11)
           END AS pred_lang
         FROM s ORDER BY doc_id""",
    "s9_json_decode" ->
      """SELECT (json_extract(props, '$.k')::INT % 10)::INT AS k_bucket,
         count(*) AS n, min(json_extract(props, '$.k')::INT) AS min_k,
         max(json_extract(props, '$.k')::INT) AS max_k
         FROM events GROUP BY 1 ORDER BY k_bucket""",
    "d1_dedup_exact_groups" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS group_size
         FROM documents GROUP BY 1 ORDER BY content_hash""",
    "d2_dedup_exact_survivors" ->
      """SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text) ORDER BY doc_id""",
    "d3_token_stats" ->
      """SELECT doc_id,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> length(t) > 0)) AS n_tokens,
         length(text) AS len,
         round(CASE WHEN len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> length(t) > 0)) = 0 THEN 0.0
           ELSE list_sum(list_transform(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> length(t) > 0), t -> length(t)))::DOUBLE
             / len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> length(t) > 0)) END, 4) AS mean_tok_len
         FROM documents ORDER BY doc_id""",
    "d4_stopword_ratio" ->
      """SELECT doc_id,
         round(CASE WHEN len(toks) = 0 THEN 0.0
           ELSE len(list_filter(toks, t -> list_contains(
             ['the','a','an','and','or','of','to','in','is','it','that','for',
              'on','with','as','was','at','by','be','this','are','from','but'], t)))::DOUBLE
             / len(toks) END, 4) AS stopword_ratio
         FROM (SELECT doc_id,
           list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> length(t) > 0) AS toks
           FROM documents) ORDER BY doc_id""",
    "d5_quality_filter" ->
      """WITH s AS (SELECT doc_id, length(text) AS n,
           list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> length(t) > 0) AS ltoks,
           list_filter(regexp_split_to_array(trim(text), '\s+'), t -> length(t) > 0) AS toks,
           length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS npunct
           FROM documents),
         sc AS (SELECT doc_id, round(
           (CASE WHEN n < 10 THEN n / 10.0 WHEN n > 10000 THEN 0.5 ELSE 1.0 END) * 0.25
           + (CASE WHEN npunct::DOUBLE / n > 0.3 THEN 0.0 ELSE 1.0 END) * 0.25
           + (CASE WHEN len(ltoks) > 0 AND len(list_filter(ltoks, t -> list_contains(
               ['the','a','an','and','or','of','to','in','is','it','that','for',
                'on','with','as','was','at','by','be','this','are','from','but'], t)))::DOUBLE
               / len(ltoks) > 0.05 THEN 1.0 ELSE 0.3 END) * 0.25
           + (CASE WHEN len(toks) > 0
               AND list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks) >= 2.5
               AND list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks) <= 12.0
               THEN 1.0 ELSE 0.4 END) * 0.25, 4) AS quality
           FROM s)
         SELECT doc_id, quality FROM sc WHERE quality >= 0.75 ORDER BY doc_id""",
    "d10_lang_id" ->
      """WITH s AS (SELECT doc_id, lang,
           list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> length(t) > 0) AS toks
           FROM documents)
         SELECT doc_id,
           CASE WHEN len(toks) = 0 THEN 'und' ELSE substring(greatest(
             lpad(len(list_filter(toks, t -> list_contains(
               ['der','die','das','und','ist','nicht','ein','mit','für','auf'], t)))::VARCHAR, 10, '0') || 'de',
             lpad(len(list_filter(toks, t -> list_contains(
               ['the','and','is','of','to','in','that','it','was','for'], t)))::VARCHAR, 10, '0') || 'en',
             lpad(len(list_filter(toks, t -> list_contains(
               ['el','la','los','las','que','de','y','es','en','por'], t)))::VARCHAR, 10, '0') || 'es',
             lpad(len(list_filter(toks, t -> list_contains(
               ['le','la','les','et','est','que','des','une','dans','pour'], t)))::VARCHAR, 10, '0') || 'fr'), 11)
           END AS pred_lang, lang
         FROM s ORDER BY doc_id""",
    "d12_top_tokens" ->
      """SELECT token, count(*) AS cnt FROM (
           SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             t -> length(t) > 0)) AS token
           FROM documents)
         GROUP BY token ORDER BY cnt DESC, token LIMIT 10""",
    "d23_vocab_encode" ->
      """WITH t AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS toks FROM documents),
         exp AS (SELECT doc_id, unnest(toks) AS token,
             unnest(range(1, len(toks)+1)) AS pos FROM t WHERE len(toks) > 0),
         cnts AS (SELECT token, count(*) AS cnt FROM exp GROUP BY 1),
         vocab AS (SELECT token, vid FROM (
             SELECT token, (row_number() OVER (ORDER BY cnt DESC, token) - 1)::BIGINT AS vid
             FROM cnts) WHERE vid < 256),
         enc AS (SELECT e.doc_id, e.pos, COALESCE(v.vid, -1)::BIGINT AS vid
             FROM exp e LEFT JOIN vocab v USING (token))
         SELECT doc_id,
           array_to_string(list(vid ORDER BY pos), ' ') AS token_ids,
           sum(CASE WHEN vid = -1 THEN 1 ELSE 0 END)::BIGINT AS n_unk
         FROM enc GROUP BY doc_id ORDER BY doc_id""",
    // d21 is d14's scale-path twin: SAME oracle semantics (bloom prune is
    // invisible in the result — no false negatives, FPs removed exactly)
    "d21_decontaminate_bloom" ->
      """WITH t AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS toks FROM documents),
           sh AS (SELECT doc_id, unnest(list_distinct(
             CASE WHEN len(toks) - 3 <= 0 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(generate_series(1, len(toks) - 3),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                   || toks[i+3]) END)) AS sh
             FROM t),
           probe AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 31 = 0),
           corpus AS (SELECT doc_id, sh FROM sh WHERE doc_id % 31 <> 0)
         SELECT c.doc_id, count(*) AS n_shared
         FROM corpus c JOIN probe p USING (sh)
         GROUP BY 1 ORDER BY doc_id""",
    "d28_dup_spans" ->
      """WITH t AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS toks FROM documents),
           sh AS (SELECT doc_id, unnest(list_distinct(
             CASE WHEN len(toks) - 4 <= 0 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(generate_series(1, len(toks) - 4),
                 i -> array_to_string(toks[i:i+4], ' ')) END)) AS sh
             FROM t),
           cnt AS (SELECT sh, count(*) AS nd FROM sh GROUP BY 1),
           agg AS (SELECT s.doc_id, count(*) AS n_spans,
               sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_spans
             FROM sh s JOIN cnt c USING (sh) GROUP BY 1)
         SELECT doc_id, n_spans, n_dup_spans,
           round(n_dup_spans::DOUBLE / n_spans, 4) AS dup_frac
         FROM agg ORDER BY doc_id""",
    // d40: the composed curation pipeline — each stage's oracle fragment is
    // the proven one (d5 quality, content-group exact dedup, d37-style
    // inverted-index Jaccard pairs + RECURSIVE min-label components, d14
    // probe overlap, d29-style md5 shard), chained over survivors.
    "d40_curation_pipeline" ->
      """WITH RECURSIVE
           t AS (SELECT doc_id, text,
               list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                 x -> length(x) > 0) AS ltoks,
               list_filter(regexp_split_to_array(trim(text), '\s+'),
                 x -> length(x) > 0) AS rtoks
             FROM documents WHERE doc_id % 31 <> 0),
           sc AS (SELECT doc_id,
               (CASE WHEN length(text) < 10 THEN length(text) / 10.0
                  WHEN length(text) > 10000 THEN 0.5 ELSE 1.0 END) * 0.25
               + (CASE WHEN (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
                    / length(text) > 0.3 THEN 0.0 ELSE 1.0 END) * 0.25
               + (CASE WHEN len(ltoks) > 0 AND len(list_filter(ltoks, x -> list_contains(
                   ['the','a','an','and','or','of','to','in','is','it','that','for',
                    'on','with','as','was','at','by','be','this','are','from','but'], x)))::DOUBLE
                   / len(ltoks) > 0.05 THEN 1.0 ELSE 0.3 END) * 0.25
               + (CASE WHEN len(rtoks) > 0
                   AND list_sum(list_transform(rtoks, x -> length(x)))::DOUBLE / len(rtoks) >= 2.5
                   AND list_sum(list_transform(rtoks, x -> length(x)))::DOUBLE / len(rtoks) <= 12.0
                   THEN 1.0 ELSE 0.4 END) * 0.25 AS quality
             FROM t),
           qd AS (SELECT doc_id FROM sc WHERE quality < 0.9),
           s1 AS (SELECT t.doc_id, t.text, t.ltoks FROM t
             JOIN sc USING (doc_id) WHERE sc.quality >= 0.9),
           ek AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS keep FROM s1),
           ed AS (SELECT doc_id FROM ek WHERE doc_id <> keep),
           s2 AS (SELECT s1.doc_id, s1.text, s1.ltoks FROM s1
             JOIN ek ON s1.doc_id = ek.doc_id AND ek.doc_id = ek.keep),
           sh3 AS (SELECT doc_id, list_distinct(
               CASE WHEN len(ltoks) - 2 <= 0 THEN [array_to_string(ltoks, ' ')]
                 ELSE list_transform(generate_series(1, len(ltoks) - 2),
                   i -> ltoks[i] || ' ' || ltoks[i+1] || ' ' || ltoks[i+2]) END) AS sh
             FROM s2),
           inv3 AS (SELECT doc_id, unnest(sh) AS g FROM sh3),
           cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM inv3 a JOIN inv3 b ON a.g = b.g AND a.doc_id < b.doc_id),
           pr AS (SELECT id_a, id_b FROM cand
             JOIN sh3 a ON a.doc_id = id_a JOIN sh3 b ON b.doc_id = id_b
             WHERE CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
               ELSE len(list_intersect(a.sh, b.sh))::DOUBLE
                 / len(list_distinct(list_concat(a.sh, b.sh))) END >= 0.5),
           edges AS (SELECT id_a AS src, id_b AS dst FROM pr
             UNION SELECT id_b, id_a FROM pr),
           reach(id, r) AS (SELECT src, dst FROM edges
             UNION SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
           lab AS (SELECT id, least(id, min(r)) AS label FROM reach GROUP BY id),
           nd AS (SELECT id AS doc_id FROM lab WHERE id <> label),
           s3 AS (SELECT s2.doc_id, s2.text, s2.ltoks FROM s2 ANTI JOIN nd USING (doc_id)),
           pt AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS ltoks FROM documents WHERE doc_id % 31 = 0),
           psh AS (SELECT DISTINCT unnest(list_distinct(
               CASE WHEN len(ltoks) - 3 <= 0 THEN [array_to_string(ltoks, ' ')]
                 ELSE list_transform(generate_series(1, len(ltoks) - 3),
                   i -> ltoks[i] || ' ' || ltoks[i+1] || ' ' || ltoks[i+2] || ' '
                     || ltoks[i+3]) END)) AS g
             FROM pt),
           csh AS (SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(ltoks) - 3 <= 0 THEN [array_to_string(ltoks, ' ')]
                 ELSE list_transform(generate_series(1, len(ltoks) - 3),
                   i -> ltoks[i] || ' ' || ltoks[i+1] || ' ' || ltoks[i+2] || ' '
                     || ltoks[i+3]) END)) AS g
             FROM s3),
           ctm AS (SELECT DISTINCT c.doc_id FROM csh c JOIN psh p USING (g)),
           kept AS (SELECT s3.doc_id FROM s3 ANTI JOIN ctm USING (doc_id)),
           outp AS (
             SELECT doc_id, 'quality' AS stage, NULL::BIGINT AS shard FROM qd
             UNION ALL SELECT doc_id, 'exact_dup', NULL::BIGINT FROM ed
             UNION ALL SELECT doc_id, 'near_dup', NULL::BIGINT FROM nd
             UNION ALL SELECT doc_id, 'contaminated', NULL::BIGINT FROM ctm
             UNION ALL SELECT doc_id, 'kept',
               (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT % 16)::BIGINT
               FROM kept)
         SELECT doc_id, stage, shard FROM outp ORDER BY doc_id""",
    // d39: edit-distance verify over inverted-index candidates (superset of
    // the engine's LSH candidates); filter on the unrounded similarity.
    // d46: per-source composition rollup. Quality is d5's UNROUNDED score
    // averaged per source (4dp round only at the end); dup incidence =
    // docs whose md5(text) digest appears more than once corpus-wide.
    "d46_source_report" ->
      """WITH s AS (SELECT doc_id, source, length(text) AS n,
           list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> length(t) > 0) AS ltoks,
           list_filter(regexp_split_to_array(trim(text), '\s+'), t -> length(t) > 0) AS toks,
           length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS npunct,
           md5(text) AS digest
           FROM documents),
         q AS (SELECT doc_id, source, digest, len(toks)::BIGINT AS n_tokens,
           (CASE WHEN n < 10 THEN n / 10.0 WHEN n > 10000 THEN 0.5 ELSE 1.0 END) * 0.25
           + (CASE WHEN npunct::DOUBLE / n > 0.3 THEN 0.0 ELSE 1.0 END) * 0.25
           + (CASE WHEN len(ltoks) > 0 AND len(list_filter(ltoks, t -> list_contains(
               ['the','a','an','and','or','of','to','in','is','it','that','for',
                'on','with','as','was','at','by','be','this','are','from','but'], t)))::DOUBLE
               / len(ltoks) > 0.05 THEN 1.0 ELSE 0.3 END) * 0.25
           + (CASE WHEN len(toks) > 0
               AND list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks) >= 2.5
               AND list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks) <= 12.0
               THEN 1.0 ELSE 0.4 END) * 0.25 AS q
           FROM s),
         dup AS (SELECT digest FROM q GROUP BY digest HAVING count(*) > 1),
         tot AS (SELECT sum(n_tokens)::DOUBLE AS t FROM q)
         SELECT source, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS n_tokens,
           round(sum(n_tokens)::DOUBLE / tot.t, 6) AS token_share,
           round(avg(q.q), 4) AS avg_quality,
           sum(CASE WHEN dup.digest IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_exact_dup_docs
         FROM q LEFT JOIN dup ON q.digest = dup.digest CROSS JOIN tot
         GROUP BY source, tot.t ORDER BY source""",
    // d45: interpolated bigram scoring. The (1.0 - 0.7) form (not 0.3)
    // keeps the interpolation weight bit-identical across engines; noise
    // is then pure sum-order, ~1e-16 relative, inside the 4dp/2dp margins.
    "d48_quality_histogram" ->
      """WITH t AS (SELECT doc_id, text,
               list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                 x -> length(x) > 0) AS ltoks,
               list_filter(regexp_split_to_array(trim(text), '\s+'),
                 x -> length(x) > 0) AS rtoks
             FROM documents),
           sc AS (SELECT doc_id,
               (CASE WHEN length(text) < 10 THEN length(text) / 10.0
                  WHEN length(text) > 10000 THEN 0.5 ELSE 1.0 END) * 0.25
               + (CASE WHEN (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
                    / length(text) > 0.3 THEN 0.0 ELSE 1.0 END) * 0.25
               + (CASE WHEN len(ltoks) > 0 AND len(list_filter(ltoks, x -> list_contains(
                   ['the','a','an','and','or','of','to','in','is','it','that','for',
                    'on','with','as','was','at','by','be','this','are','from','but'], x)))::DOUBLE
                   / len(ltoks) > 0.05 THEN 1.0 ELSE 0.3 END) * 0.25
               + (CASE WHEN len(rtoks) > 0
                   AND list_sum(list_transform(rtoks, x -> length(x)))::DOUBLE / len(rtoks) >= 2.5
                   AND list_sum(list_transform(rtoks, x -> length(x)))::DOUBLE / len(rtoks) <= 12.0
                   THEN 1.0 ELSE 0.4 END) * 0.25 AS q
             FROM t)
         SELECT floor(q * 20)::BIGINT AS bin,
           round(floor(q * 20) * 0.05::DOUBLE, 2) AS bin_lo,
           count(*)::BIGINT AS n_docs
         FROM sc GROUP BY 1, 2 ORDER BY bin""",
    "d49_oov_rate" ->
      """WITH t AS (SELECT doc_id, lang,
               list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                 x -> length(x) > 0) AS toks FROM documents),
           exp AS (SELECT lang, unnest(toks) AS token FROM t WHERE len(toks) > 0),
           cnts AS (SELECT token, count(*) AS cnt FROM exp GROUP BY 1),
           vocab AS (SELECT token FROM (
               SELECT token, row_number() OVER (ORDER BY cnt DESC, token) AS rn
               FROM cnts) WHERE rn <= 8)
         SELECT e.lang, count(*)::BIGINT AS n_tokens,
           sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
           round(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS oov_rate
         FROM exp e LEFT JOIN vocab v USING (token)
         GROUP BY e.lang ORDER BY e.lang""",
    "d47_token_budget" ->
      """WITH tk AS (SELECT lang,
               len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                 x -> length(x) > 0))::BIGINT AS n
             FROM documents),
           per AS (SELECT lang, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS n_tokens
             FROM tk GROUP BY 1),
           tot AS (SELECT sum(n_tokens)::DOUBLE AS tot FROM per),
           sh AS (SELECT lang, n_docs, n_tokens,
               n_tokens / tot.tot AS share, pow(n_tokens / tot.tot, 0.3) AS w
             FROM per, tot),
           wt AS (SELECT sum(w) AS wtot FROM sh)
         SELECT lang, n_docs, n_tokens, round(share, 6) AS share,
           round(w / wt.wtot, 6) AS mix_weight
         FROM sh, wt ORDER BY lang""",
    "d65_scd2_fold" ->
      """WITH c AS (SELECT c_custkey AS k, c_acctbal AS b, c_nationkey AS n
             FROM customer)
         SELECT k AS c_custkey, bal AS c_acctbal, n AS c_nationkey,
           vf::TIMESTAMP AS valid_from, vt::TIMESTAMP AS valid_to,
           ver::BIGINT AS version, st AS change_status
         FROM (
           SELECT k, b AS bal, n, '2020-01-01' AS vf, '2024-06-01' AS vt,
             1 AS ver, 'history' AS st FROM c WHERE k % 35 = 0
           UNION ALL SELECT k, b + 100, n, '2024-06-01', '2024-07-01',
             2, 'closed' FROM c WHERE k % 35 = 0
           UNION ALL SELECT k, b + 150, n, '2024-07-01', NULL,
             3, 'updated' FROM c WHERE k % 35 = 0
           UNION ALL SELECT k, b, n, '2020-01-01', '2024-06-01',
             1, 'history' FROM c WHERE k % 7 = 0 AND k % 5 <> 0
           UNION ALL SELECT k, b + 100, n, '2024-06-01', NULL,
             2, 'unchanged' FROM c WHERE k % 7 = 0 AND k % 5 <> 0
           UNION ALL SELECT k, b, n, '2020-01-01', '2024-07-01',
             1, 'closed' FROM c WHERE k % 5 = 0 AND k % 7 <> 0
           UNION ALL SELECT k, b + 50, n, '2024-07-01', NULL,
             2, 'updated' FROM c WHERE k % 5 = 0 AND k % 7 <> 0
           UNION ALL SELECT k, b, n, '2020-01-01', NULL,
             1, 'unchanged' FROM c WHERE k % 5 <> 0 AND k % 7 <> 0)
         ORDER BY c_custkey, version""",
    "d85_scd2_evolve_fold" ->
      """WITH c AS (SELECT c_custkey AS k, c_acctbal AS b, c_nationkey AS n,
             c_mktsegment AS m FROM customer)
         SELECT k AS c_custkey, bal AS c_acctbal, nat AS c_nationkey,
           mkt AS c_mktsegment,
           vf::TIMESTAMP AS valid_from, vt::TIMESTAMP AS valid_to,
           ver::BIGINT AS version, st AS change_status
         FROM (
           SELECT k, b AS bal, n AS nat, NULL AS mkt, '2020-01-01' AS vf,
             '2024-06-01' AS vt, 1 AS ver, 'history' AS st
           FROM c WHERE k % 35 = 0
           UNION ALL SELECT k, b + 100, n, NULL, '2024-06-01', '2024-07-01',
             2, 'closed' FROM c WHERE k % 35 = 0
           UNION ALL SELECT k, b + 150, n, m, '2024-07-01', NULL,
             3, 'updated' FROM c WHERE k % 35 = 0
           UNION ALL SELECT k, b, n, NULL, '2020-01-01', '2024-06-01',
             1, 'history' FROM c WHERE k % 7 = 0 AND k % 5 <> 0
           UNION ALL SELECT k, b + 100, n, NULL, '2024-06-01', NULL,
             2, 'unchanged' FROM c WHERE k % 7 = 0 AND k % 5 <> 0
           UNION ALL SELECT k, b, n, NULL, '2020-01-01', '2024-07-01',
             1, 'closed' FROM c WHERE k % 5 = 0 AND k % 7 <> 0
           UNION ALL SELECT k, b + 50, n, m, '2024-07-01', NULL,
             2, 'updated' FROM c WHERE k % 5 = 0 AND k % 7 <> 0
           UNION ALL SELECT k, b, n, NULL, '2020-01-01', NULL,
             1, 'unchanged' FROM c WHERE k % 5 <> 0 AND k % 7 <> 0)
         ORDER BY c_custkey, version""",
    "d63_negative_sampling" ->
      """WITH a AS (SELECT doc_id AS anchor_id, text AS atext
             FROM documents WHERE doc_id < 10),
         c AS (SELECT doc_id AS corpus_id, text AS ctext FROM documents),
         s AS (SELECT anchor_id, corpus_id,
             md5(anchor_id::VARCHAR || '_' || corpus_id::VARCHAR) AS h
           FROM a JOIN c ON corpus_id <> anchor_id AND ctext <> atext),
         r AS (SELECT anchor_id, corpus_id,
             row_number() OVER (PARTITION BY anchor_id ORDER BY h, corpus_id) AS rank
           FROM s)
         SELECT anchor_id, corpus_id, rank::INT AS rank FROM r WHERE rank <= 5
         ORDER BY anchor_id, rank""",
    "d60_scd2_merge" ->
      """WITH cur AS (SELECT c_custkey, c_acctbal, c_nationkey FROM customer),
         upd AS (
           SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100
                  ELSE c_acctbal END AS c_acctbal,
             c_nationkey FROM customer
           UNION ALL
           SELECT c_custkey + 100000, c_custkey * 1.5, c_custkey % 25
           FROM customer WHERE c_custkey < 30),
         changed AS (SELECT u.c_custkey FROM upd u JOIN cur c USING (c_custkey)
           WHERE u.c_acctbal <> c.c_acctbal)
         SELECT c.c_custkey, c.c_acctbal, c.c_nationkey,
           TIMESTAMP '2020-01-01' AS valid_from,
           TIMESTAMP '2024-06-01' AS valid_to,
           1::BIGINT AS version, 'closed' AS change_status
         FROM cur c WHERE c.c_custkey IN (SELECT c_custkey FROM changed)
         UNION ALL
         SELECT u.c_custkey, u.c_acctbal, u.c_nationkey,
           TIMESTAMP '2024-06-01', NULL, 2::BIGINT, 'updated'
         FROM upd u WHERE u.c_custkey IN (SELECT c_custkey FROM changed)
         UNION ALL
         SELECT c.c_custkey, c.c_acctbal, c.c_nationkey,
           TIMESTAMP '2020-01-01', NULL, 1::BIGINT, 'unchanged'
         FROM cur c WHERE c.c_custkey NOT IN (SELECT c_custkey FROM changed)
         UNION ALL
         SELECT u.c_custkey, u.c_acctbal, u.c_nationkey,
           TIMESTAMP '2024-06-01', NULL, 1::BIGINT, 'inserted'
         FROM upd u WHERE u.c_custkey NOT IN (SELECT c_custkey FROM cur)
         ORDER BY c_custkey, version""",
    "d83_scd2_evolve" ->
      """WITH cur AS (SELECT c_custkey, c_acctbal, c_nationkey FROM customer)
         SELECT c.c_custkey, c.c_acctbal, c.c_nationkey,
           NULL AS c_mktsegment,
           TIMESTAMP '2020-01-01' AS valid_from,
           TIMESTAMP '2024-06-01' AS valid_to,
           1::BIGINT AS version, 'closed' AS change_status
         FROM cur c WHERE c.c_custkey % 7 = 0
         UNION ALL
         SELECT c.c_custkey, c.c_acctbal + 100, c.c_nationkey, k.c_mktsegment,
           TIMESTAMP '2024-06-01', NULL, 2::BIGINT, 'updated'
         FROM cur c JOIN customer k USING (c_custkey) WHERE c.c_custkey % 7 = 0
         UNION ALL
         SELECT c.c_custkey, c.c_acctbal, c.c_nationkey, NULL,
           TIMESTAMP '2020-01-01', NULL, 1::BIGINT, 'unchanged'
         FROM cur c WHERE c.c_custkey % 7 <> 0
         UNION ALL
         SELECT c_custkey + 100000, c_custkey * 1.5, NULL, c_mktsegment,
           TIMESTAMP '2024-06-01', NULL, 1::BIGINT, 'inserted'
         FROM customer WHERE c_custkey < 30
         ORDER BY c_custkey, version""",
    "d88_span_dedup_clean" ->
      """WITH toks AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               t -> length(t) > 0) AS w
           FROM documents),
         anch AS (SELECT doc_id AS id,
             unnest(list_transform(range(1, len(w) - 6),
               i -> {'pos': i - 1, 'g': array_to_string(w[i:i+7], ' ')})) AS u
           FROM toks WHERE len(w) >= 8),
         a2 AS (SELECT id, u.pos AS pos, u.g AS gram FROM anch),
         kp AS (SELECT gram FROM a2 GROUP BY 1 HAVING count(DISTINCT id) <= 64),
         ok AS (SELECT a2.* FROM a2 JOIN kp USING (gram)),
         m AS (SELECT x.id AS doc_a, y.id AS doc_b, x.pos - y.pos AS diag,
             x.pos AS pa
           FROM ok x JOIN ok y ON x.gram = y.gram AND x.id < y.id),
         r AS (SELECT doc_a, doc_b, diag, pa, pa - row_number() OVER (
             PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS run
           FROM m),
         spn AS (SELECT doc_a, doc_b, diag, run, min(pa) AS start_a,
             count(*) AS n FROM r GROUP BY 1, 2, 3, 4),
         spans AS (SELECT doc_b, start_a - diag AS s,
             start_a - diag + n + 7 AS e
           FROM spn WHERE n + 7 >= 10),
         mx AS (SELECT doc_b AS id, s, e, max(e) OVER (
             PARTITION BY doc_b ORDER BY s, e
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
           FROM spans),
         isl AS (SELECT id, s, e, sum(
             CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END) OVER (
             PARTITION BY id ORDER BY s, e
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
           FROM mx),
         mrg AS (SELECT id, min(s) AS s, max(e) AS e FROM isl GROUP BY id, g),
         tp AS (SELECT doc_id, u[1] AS tok, u[2] AS pos
           FROM (SELECT doc_id,
               unnest(list_zip(w, range(0, len(w)))) AS u
             FROM toks)),
         keep_toks AS (SELECT tp.doc_id, tp.tok, tp.pos FROM tp
           LEFT JOIN mrg ON mrg.id = tp.doc_id
             AND tp.pos >= mrg.s AND tp.pos < mrg.e
           WHERE mrg.id IS NULL),
         agg AS (SELECT doc_id, count(*)::BIGINT AS n_after,
             md5(array_to_string(list(tok ORDER BY pos), ' ')) AS clean_md5
           FROM keep_toks GROUP BY doc_id)
         SELECT t.doc_id, len(t.w)::BIGINT AS n_tokens_before,
           coalesce(agg.n_after, 0)::BIGINT AS n_tokens_after,
           coalesce(agg.clean_md5, md5('')) AS clean_md5
         FROM toks t LEFT JOIN agg USING (doc_id)
         ORDER BY doc_id""",
    "d87_span_decontam" -> spanDecontamOracleSql,
    "w24_stream_span_decontam" -> spanDecontamOracleSql,
    "d86_shared_spans" ->
      """WITH toks AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               t -> length(t) > 0) AS w
           FROM documents),
         anch AS (SELECT doc_id AS id,
             unnest(list_transform(range(1, len(w) - 6),
               i -> {'pos': i - 1, 'g': array_to_string(w[i:i+7], ' ')})) AS u
           FROM toks WHERE len(w) >= 8),
         a2 AS (SELECT id, u.pos AS pos, u.g AS gram FROM anch),
         keep AS (SELECT gram FROM a2 GROUP BY 1 HAVING count(DISTINCT id) <= 64),
         ok AS (SELECT a2.* FROM a2 JOIN keep USING (gram)),
         m AS (SELECT x.id AS doc_a, y.id AS doc_b, x.pos - y.pos AS diag,
             x.pos AS pa
           FROM ok x JOIN ok y ON x.gram = y.gram AND x.id < y.id),
         r AS (SELECT doc_a, doc_b, diag, pa,
             pa - row_number() OVER (
               PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS run
           FROM m),
         sp AS (SELECT doc_a, doc_b, diag, run, min(pa) AS start_a,
             count(*) AS n FROM r GROUP BY 1, 2, 3, 4)
         SELECT doc_a, doc_b, start_a::BIGINT AS start_a,
           (start_a - diag)::BIGINT AS start_b, (n + 7)::BIGINT AS span_tokens
         FROM sp WHERE n + 7 >= 10
         ORDER BY doc_a, doc_b, start_a""",
    "d58_ngram_novelty" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               t -> length(t) > 0) AS w
           FROM documents),
         grams AS (
           SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
           FROM toks WHERE len(w) >= 3),
         first_seen AS (SELECT g, min(doc_id) AS owner FROM grams GROUP BY 1)
         SELECT g.doc_id,
           count(*) AS n_grams,
           sum(CASE WHEN f.owner = g.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
           round(sum(CASE WHEN f.owner = g.doc_id THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 4) AS novelty
         FROM grams g JOIN first_seen f ON f.g = g.g
         GROUP BY 1 ORDER BY doc_id""",
    "d89_line_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS tk
           FROM documents),
         lns AS (SELECT doc_id,
             unnest(list_transform(range(0, CAST(ceil(len(tk)/8.0) AS BIGINT)),
               i -> {'pos': i, 'line': array_to_string(tk[i*8+1 : i*8+8], ' ')})) AS u
           FROM toks),
         l2 AS (SELECT doc_id, u.pos AS pos, u.line AS line FROM lns),
         mk AS (SELECT doc_id, pos, line, row_number() OVER (
             PARTITION BY line ORDER BY doc_id, pos) = 1 AS keep FROM l2)
         SELECT doc_id,
           count(*)::BIGINT AS n_lines_before,
           sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_lines_after,
           md5(coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
             ORDER BY pos), '')) AS clean_md5
         FROM mk GROUP BY doc_id ORDER BY doc_id""",
    // d98: the same chunk derivation at width 2, keep-first WITHIN the
    // document ((doc_id, line) window instead of d89's corpus-wide one)
    "d98_line_dedup_withindoc" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS tk
           FROM documents),
         lns AS (SELECT doc_id,
             unnest(list_transform(range(0, CAST(ceil(len(tk)/2.0) AS BIGINT)),
               i -> {'pos': i, 'line': array_to_string(tk[i*2+1 : i*2+2], ' ')})) AS u
           FROM toks),
         l2 AS (SELECT doc_id, u.pos AS pos, u.line AS line FROM lns),
         mk AS (SELECT doc_id, pos, line, row_number() OVER (
             PARTITION BY doc_id, line ORDER BY pos) = 1 AS keep FROM l2)
         SELECT doc_id,
           count(*)::BIGINT AS n_lines_before,
           sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_lines_after,
           md5(coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
             ORDER BY pos), '')) AS clean_md5
         FROM mk GROUP BY doc_id ORDER BY doc_id""",
    // d99: the skew-safe take replayed with the PLAIN window form — the
    // prefilter + top-up must be output-identical to it
    "d99_skew_take" ->
      """WITH g AS (SELECT doc_id,
             CASE WHEN doc_id % 50 = 0 THEN 'r' || (doc_id % 3)::VARCHAR
                  ELSE 'big' END AS grp
           FROM documents),
         q AS (SELECT * FROM (VALUES ('big', 60), ('r0', 3), ('r1', 2),
             ('r2', 5)) v(grp, quota)),
         ranked AS (SELECT doc_id, grp, row_number() OVER
             (PARTITION BY grp ORDER BY md5(doc_id::VARCHAR), doc_id)
             AS pick
           FROM g)
         SELECT r.doc_id, r.grp, r.pick::BIGINT AS pick
         FROM ranked r JOIN q USING (grp) WHERE r.pick <= q.quota
         ORDER BY grp, pick""",
    "d90_token_budget" ->
      """WITH t AS (SELECT doc_id,
             len(tk)::BIGINT AS n_tokens,
             len(list_distinct(tk))::DOUBLE / len(tk)::DOUBLE AS q
           FROM (SELECT doc_id, string_split(trim(text), ' ') AS tk
                 FROM documents)),
         c AS (SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY q DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS cum_tokens
           FROM t)
         SELECT doc_id, n_tokens, cum_tokens,
           cum_tokens + n_tokens <= 6000 AS selected
         FROM c ORDER BY doc_id""",
    "d66_dsir_select" ->
      """WITH tok AS (SELECT doc_id, lang,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               t -> length(t) > 0)) AS token
           FROM documents),
         f AS (SELECT doc_id, lang = 'en' AS tgt,
             (('0x' || substr(md5(token), 1, 8))::UBIGINT % 512)::BIGINT AS b,
             count(*) AS c
           FROM tok GROUP BY 1, 2, 3),
         g AS (SELECT b, sum(c) AS rc,
             sum(CASE WHEN tgt THEN c ELSE 0 END) AS tc
           FROM f GROUP BY 1),
         tot AS (SELECT sum(rc) AS rt, sum(tc) AS tt FROM g),
         lr AS (SELECT b, ln((tc + 1) / (tt + 512.0))
             - ln((rc + 1) / (rt + 512.0)) AS lr FROM g, tot),
         w AS (SELECT f.doc_id, sum(f.c * lr.lr) AS wsum
           FROM f JOIN lr USING (b) GROUP BY 1)
         SELECT w.doc_id AS doc_id, d.lang, round(w.wsum, 6) AS weight
         FROM w JOIN documents d ON d.doc_id = w.doc_id
         WHERE d.lang <> 'en'
         ORDER BY weight DESC, w.doc_id LIMIT 50""",
    "d67_bigram_diversity" ->
      """WITH t AS (SELECT source,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS tk
           FROM documents),
         b AS (SELECT source,
             unnest(list_transform(range(1, len(tk)),
               i -> tk[i] || ' ' || tk[i + 1])) AS bigram
           FROM t WHERE len(tk) >= 2)
         SELECT source, count(*) AS total_bigrams,
           count(DISTINCT bigram) AS distinct_bigrams,
           round(count(DISTINCT bigram) / count(*), 6) AS diversity
         FROM b GROUP BY source ORDER BY source""",
    "d68_normalized_dedup" ->
      """WITH v AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id, upper(text) FROM documents
           UNION ALL SELECT doc_id, concat('  ** ', text, ' !!') FROM documents
           UNION ALL SELECT doc_id, translate(text, 'a', 'á') FROM documents),
         n AS (SELECT doc_id, text,
           trim(regexp_replace(regexp_replace(lower(strip_accents(text)),
             '[0-9]', '0', 'g'), '[^a-z0-9]+', ' ', 'g')) AS norm
           FROM v)
         SELECT md5(norm) AS norm_hash, min(doc_id) AS keep_id,
           count(*) AS group_size, count(DISTINCT md5(text)) AS n_raw_forms
         FROM n GROUP BY 1 ORDER BY keep_id, norm_hash""",
    "d69_incremental_mv" ->
      """SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS n,
           round(sum(value), 2) AS sum_v, min(value) AS min_v,
           max(value) AS max_v, round(sum(value) / count(*), 3) AS avg_v
         FROM events GROUP BY 1, 2 ORDER BY event_type, day""",
    // d70: fixture oracle — exact Python replay of the sharded FFD fold
    // (FixtureOracles, merged below)
    "d76_gopher_quality" ->
      """WITH s AS (SELECT doc_id, text,
           list_filter(regexp_split_to_array(trim(text), '\s+'),
             t -> length(t) > 0) AS toks
           FROM documents),
         m AS (SELECT doc_id, text, toks, len(toks) AS n,
           (length(text) - length(replace(text, '#', '')))
             + (length(text) - length(replace(text, '…', '')))
             + (length(text) - length(replace(text, '...', ''))) // 3 AS n_sym
           FROM s),
         r AS (SELECT doc_id,
           n::BIGINT AS n_words,
           CASE WHEN n = 0 THEN 0.0
             ELSE list_sum(list_transform(toks, t -> length(t)))::DOUBLE / n
           END AS mean_word_len,
           CASE WHEN n = 0 THEN 0.0 ELSE n_sym::DOUBLE / n END AS symbol_ratio,
           CASE WHEN n = 0 THEN 0.0
             ELSE len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE / n
           END AS alpha_word_frac,
           coalesce(len(list_intersect(
             list_transform(toks, t -> lower(t)),
             ['the','be','to','of','and','that','have','with'])), 0)::BIGINT
             AS n_required_stop
           FROM m)
         SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac,
           n_required_stop,
           (n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND symbol_ratio < 0.1 AND alpha_word_frac > 0.8
            AND n_required_stop >= 2) AS passes
         FROM r ORDER BY doc_id""",
    "d77_cdc_compact" ->
      """WITH log AS (
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             1::BIGINT AS seq, 'I' AS op FROM orders
           UNION ALL
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.1,
             2::BIGINT, 'U' FROM orders WHERE o_orderkey % 7 = 0
           UNION ALL
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             3::BIGINT, 'D' FROM orders WHERE o_orderkey % 13 = 0),
         r AS (SELECT *, row_number() OVER (
             PARTITION BY o_orderkey ORDER BY seq DESC, op DESC) AS rn
           FROM log)
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           op AS last_op
         FROM r WHERE rn = 1 AND op <> 'D' ORDER BY o_orderkey""",
    "d78_snapshot_diff" ->
      """WITH b AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
           FROM orders),
         a AS (SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
               ELSE o_totalprice END AS o_totalprice
           FROM orders WHERE o_orderkey % 13 <> 0
           UNION ALL
           SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
             o_totalprice
           FROM orders WHERE o_orderkey % 17 = 0),
         j AS (SELECT coalesce(b.o_orderkey, a.o_orderkey) AS o_orderkey,
             b.o_orderkey IS NOT NULL AS in_b,
             a.o_orderkey IS NOT NULL AS in_a,
             list_sort(list_filter([
               CASE WHEN NOT (b.o_custkey IS NOT DISTINCT FROM a.o_custkey)
                 THEN 'o_custkey' END,
               CASE WHEN NOT (b.o_orderstatus IS NOT DISTINCT FROM a.o_orderstatus)
                 THEN 'o_orderstatus' END,
               CASE WHEN NOT (b.o_totalprice IS NOT DISTINCT FROM a.o_totalprice)
                 THEN 'o_totalprice' END], x -> x IS NOT NULL)) AS diffs
           FROM b FULL OUTER JOIN a ON b.o_orderkey = a.o_orderkey)
         SELECT o_orderkey,
           CASE WHEN NOT in_b THEN 'added'
             WHEN NOT in_a THEN 'removed' ELSE 'changed' END AS change_type,
           coalesce(array_to_string(
             CASE WHEN in_b AND in_a THEN diffs ELSE []::VARCHAR[] END,
             ','), '') AS changed_cols
         FROM j
         WHERE NOT in_b OR NOT in_a OR len(diffs) > 0
         ORDER BY o_orderkey""",
    "d81_k_anonymity" ->
      """SELECT event_type, ts::DATE AS day,
           floor(value / 100)::BIGINT AS band, count(*)::BIGINT AS n,
           (count(*) >= 5) AS anonymous
         FROM events GROUP BY 1, 2, 3
         ORDER BY event_type, day, band""",
    "d106_dp_counts" ->
      // the deterministic Laplace draw replayed: u = (13 md5 hex chars
      // + 0.5) / 2^52, noise = -scale * sign(u-1/2) * ln(1 - 2|u-1/2|)
      """WITH c AS (SELECT lang, source, count(*)::DOUBLE AS n
           FROM documents GROUP BY 1, 2),
         h AS (SELECT lang, source, n,
             (('0x' || substr(md5('graft-dp' || '|' || lang || '|' || source),
               1, 13))::UBIGINT::DOUBLE + 0.5) / 4503599627370496.0 AS u
           FROM c)
         SELECT lang, source,
           round(n + (-5.0) * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), 4)
             AS noised_count
         FROM h ORDER BY lang, source""",
    // d107: the count-min grid replayed — row i's bucket is the first 13
    // md5 hex chars of "<i>|<key>" mod width (the d106 md5-arithmetic
    // contract); cell = Σ counts of keys mapping there; estimate = min
    // over the key's depth cells
    "d107_count_min" ->
      """WITH k AS (SELECT user_id, user_id::VARCHAR AS key,
             count(*)::BIGINT AS n
           FROM events GROUP BY 1, 2),
         r AS (SELECT unnest(range(0, 4)) AS i),
         cells AS (SELECT r.i AS row_i,
             (('0x' || substr(md5(r.i::VARCHAR || '|' || k.key), 1, 13))::UBIGINT
               % 128)::BIGINT AS bucket,
             sum(k.n)::BIGINT AS c
           FROM k, r GROUP BY 1, 2),
         est AS (SELECT k.user_id, k.n, min(c.c)::BIGINT AS cms_est
           FROM k JOIN r ON true
           JOIN cells c ON c.row_i = r.i AND c.bucket =
             (('0x' || substr(md5(r.i::VARCHAR || '|' || k.key), 1, 13))::UBIGINT
               % 128)::BIGINT
           WHERE k.user_id < 40
           GROUP BY 1, 2)
         SELECT user_id, n, cms_est, (cms_est - n)::BIGINT AS overest
         FROM est ORDER BY user_id""",
    "d82_dataset_card" ->
      """WITH s AS (SELECT *,
           len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             t -> length(t) > 0)) AS nt
           FROM documents),
         b AS (SELECT count(*) AS n_docs,
           count(DISTINCT source) AS n_sources,
           count(DISTINCT lang) AS n_langs,
           sum(n_chars) AS total_chars,
           sum(nt) AS total_tokens, max(nt) AS max_tokens,
           min(nt) AS min_tokens,
           count(DISTINCT md5(text)) AS n_distinct_texts
           FROM s)
         SELECT metric, value FROM (
           SELECT 'exact_dup_fraction' AS metric,
             1.0::DOUBLE - n_distinct_texts::DOUBLE / n_docs::DOUBLE AS value FROM b
           UNION ALL SELECT 'max_tokens', max_tokens::DOUBLE FROM b
           UNION ALL SELECT 'mean_tokens',
             total_tokens::DOUBLE / n_docs::DOUBLE FROM b
           UNION ALL SELECT 'min_tokens', min_tokens::DOUBLE FROM b
           UNION ALL SELECT 'n_docs', n_docs::DOUBLE FROM b
           UNION ALL SELECT 'n_langs', n_langs::DOUBLE FROM b
           UNION ALL SELECT 'n_sources', n_sources::DOUBLE FROM b
           UNION ALL SELECT 'total_chars', total_chars::DOUBLE FROM b)
         ORDER BY metric""",
    "d80_soft_dedup_weights" ->
      """WITH g AS (SELECT md5(text) AS h, count(*) AS group_size
           FROM documents GROUP BY 1)
         SELECT doc_id, group_size, 1.0::DOUBLE / group_size AS weight
         FROM documents d JOIN g ON md5(d.text) = g.h
         ORDER BY doc_id""",
    "d73_dedup_threshold_sweep" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000,
             text || CASE (doc_id % 4) WHEN 0 THEN ' zq1x'
               WHEN 1 THEN ' zq1x zq2x' WHEN 2 THEN ' zq1x zq2x zq3x'
               ELSE ' zq1x zq2x zq3x zq4x' END
           FROM documents WHERE doc_id < 40
             AND len(list_filter(regexp_split_to_array(trim(text), '\s+'),
               t -> length(t) > 0)) >= 40),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(
             generate_series(1, greatest(len(toks) - 2, CASE WHEN len(toks) > 0 THEN 1 ELSE 0 END)),
             i -> toks[i] || CASE WHEN i+1 <= len(toks) THEN ' ' || toks[i+1] ELSE '' END
               || CASE WHEN i+2 <= len(toks) THEN ' ' || toks[i+2] ELSE '' END)) AS sh
           FROM (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> length(t) > 0) AS toks
             FROM corpus)),
           inv AS (SELECT doc_id, unnest(sh) AS g FROM sh),
           cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id),
           p AS (SELECT id_a, id_b,
               CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
                 ELSE len(list_intersect(a.sh, b.sh))::DOUBLE
                   / len(list_distinct(list_concat(a.sh, b.sh))) END AS j
             FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b),
           fired AS (SELECT t.bp, id_a, id_b FROM p
             CROSS JOIN (SELECT unnest([85, 92, 95, 98, 100]) AS bp) t
             WHERE j >= 0.85 AND j >= bp::DOUBLE / 100.0),
           ps AS (SELECT bp, count(*) AS n_pairs,
               count(DISTINCT id_b) AS n_removed FROM fired GROUP BY bp),
           ds AS (SELECT bp, count(DISTINCT id) AS n_docs_affected FROM (
               SELECT bp, id_a AS id FROM fired
               UNION ALL SELECT bp, id_b FROM fired) GROUP BY bp)
         SELECT ps.bp::BIGINT AS threshold_bp, n_pairs::BIGINT AS n_pairs,
           n_docs_affected::BIGINT AS n_docs_affected, n_removed::BIGINT AS n_removed
         FROM ps JOIN ds ON ds.bp = ps.bp ORDER BY threshold_bp""",
    "d72_script_profile" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 10000, 'Привет мир труд май'
             FROM documents WHERE doc_id < 25
           UNION ALL SELECT doc_id + 20000, '你好世界 机器 学习'
             FROM documents WHERE doc_id < 25
           UNION ALL SELECT doc_id + 30000, 'مرحبا بالعالم'
             FROM documents WHERE doc_id < 25),
         c AS (SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z\x{00C0}-\x{024F}]'))::BIGINT AS n_latin,
           len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]'))::BIGINT AS n_cyrillic,
           len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]'))::BIGINT AS n_cjk,
           len(regexp_extract_all(text, '[\x{0600}-\x{06FF}]'))::BIGINT AS n_arabic
         FROM corpus)
         SELECT doc_id, n_latin, n_cyrillic, n_cjk, n_arabic,
           CASE WHEN n_latin + n_cyrillic + n_cjk + n_arabic = 0 THEN 'unknown'
                WHEN n_latin >= greatest(n_cyrillic, n_cjk, n_arabic) THEN 'latin'
                WHEN n_cyrillic >= greatest(n_cjk, n_arabic) THEN 'cyrillic'
                WHEN n_cjk >= n_arabic THEN 'cjk'
                ELSE 'arabic' END AS dominant
         FROM c ORDER BY doc_id""",
    "d71_blocklist_filter" ->
      """WITH s AS (SELECT doc_id,
           list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             t -> length(t) > 0) AS toks
         FROM documents)
         SELECT doc_id,
           len(list_filter(toks, t -> t IN ('slow','stream','vector')))::BIGINT
             AS n_blocked,
           len(list_intersect(list_distinct(toks),
             ['slow','stream','vector']))::BIGINT AS n_blocked_terms,
           len(list_filter(toks, t -> t IN ('slow','stream','vector'))) > 0
             AS blocked
         FROM s ORDER BY doc_id""",
    "d59_zipf_slope" ->
      """WITH toks AS (
           SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             t -> length(t) > 0)) AS tok
           FROM documents),
         freq AS (SELECT tok, count(*) AS f FROM toks GROUP BY 1),
         ranked AS (SELECT tok, f,
           row_number() OVER (ORDER BY f DESC, tok) AS r FROM freq),
         top AS (SELECT * FROM ranked WHERE r <= 1000)
         SELECT count(*) AS n_tokens,
           round(regr_slope(ln(f), ln(r)), 4) AS zipf_slope,
           round(regr_r2(ln(f), ln(r)), 4) AS fit_r2
         FROM top""",
    "d57_kneser_ney" ->
      """WITH t AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS toks FROM documents),
           trp AS (SELECT u.w1 AS w1, u.w2 AS w2 FROM (
               SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                 i -> {'w1': toks[i], 'w2': toks[i+1]})) AS u
               FROM t WHERE doc_id < 250 AND len(toks) >= 2)),
           bi AS (SELECT w1, w2, count(*)::DOUBLE AS cnt FROM trp GROUP BY 1, 2),
           hist AS (SELECT w1, sum(cnt) AS c1, count(*)::DOUBLE AS n_fwd
             FROM bi GROUP BY 1),
           cont AS (SELECT w2, count(*)::DOUBLE AS n_bwd FROM bi GROUP BY 1),
           tt AS (SELECT count(*)::DOUBLE AS ty FROM bi),
           sp AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
               SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                 i -> {'w1': toks[i], 'w2': toks[i+1]})) AS u
               FROM t WHERE len(toks) >= 2)),
           lp AS (SELECT sp.doc_id, bi.cnt IS NOT NULL AS hit,
               ln(CASE WHEN h.c1 IS NULL
                 THEN coalesce(c.n_bwd, 0.5) / tt.ty
                 ELSE greatest(coalesce(bi.cnt, 0.0) - 0.75, 0.0) / h.c1
                   + (0.75 * h.n_fwd / h.c1) * (coalesce(c.n_bwd, 0.5) / tt.ty)
                 END) AS lp
             FROM sp LEFT JOIN bi USING (w1, w2) LEFT JOIN hist h USING (w1)
               LEFT JOIN cont c USING (w2), tt)
         SELECT doc_id, count(*)::BIGINT AS n_scored,
           sum(CASE WHEN hit THEN 1 ELSE 0 END)::BIGINT AS n_bigram_hits,
           round(-avg(lp), 4) AS cross_entropy,
           round(exp(-avg(lp)), 2) AS ppl
         FROM lp GROUP BY 1 ORDER BY doc_id""",
    "d45_bigram_lm" ->
      """WITH t AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS toks FROM documents),
           cnt AS (SELECT unnest(toks) AS token FROM t),
           uc AS (SELECT token, count(*)::DOUBLE AS c FROM cnt GROUP BY token),
           tot AS (SELECT sum(c) AS n FROM uc),
           voc AS (SELECT token, c FROM uc ORDER BY c DESC, token LIMIT 64),
           pr0 AS (SELECT doc_id, unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> {'w1': toks[i], 'w2': toks[i+1]})) AS u
             FROM t WHERE len(toks) >= 2),
           pr AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM pr0),
           bc AS (SELECT w1, w2, count(*)::DOUBLE AS cnt FROM pr GROUP BY w1, w2
             ORDER BY cnt DESC, w1, w2 LIMIT 256),
           w1c AS (SELECT w1, count(*)::DOUBLE AS c1 FROM pr GROUP BY w1),
           bi AS (SELECT bc.w1, bc.w2, bc.cnt / w1c.c1 AS p_cond
             FROM bc JOIN w1c USING (w1)),
           sc AS (SELECT pr.doc_id,
               CASE WHEN bi.w1 IS NOT NULL THEN 1 ELSE 0 END AS hit,
               ln(coalesce(bi.p_cond, 0.0) * 0.7 +
                  coalesce(voc.c / tot.n, 1.0 / tot.n) * (1.0 - 0.7)) AS lp
             FROM pr LEFT JOIN bi ON pr.w1 = bi.w1 AND pr.w2 = bi.w2
               LEFT JOIN voc ON pr.w2 = voc.token CROSS JOIN tot)
         SELECT doc_id, count(*)::BIGINT AS n_scored, sum(hit)::BIGINT AS n_bigram_hits,
           round(-avg(lp), 4) AS cross_entropy, round(exp(-avg(lp)), 2) AS ppl
         FROM sc GROUP BY doc_id ORDER BY doc_id""",
    // e17: window-form kNN graph — cells by the e6 argmin window, within-
    // cell directed pairs, rank by (cosine desc, nbr asc). Cosine parity
    // with list_cosine_similarity is the e6-pinned pairing.
    "e17_knn_graph" ->
      """WITH c AS (SELECT vec_id::INT AS centroid_id, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < 8),
           cell AS (SELECT vec_id, centroid_id AS cell FROM (
               SELECT e.vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings e, c) WHERE r = 1),
           p AS (SELECT a.vec_id AS id, b.vec_id AS nbr_id,
               list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS cos
             FROM cell a JOIN cell b ON a.cell = b.cell AND a.vec_id <> b.vec_id
             JOIN embeddings ea ON ea.vec_id = a.vec_id
             JOIN embeddings eb ON eb.vec_id = b.vec_id),
           rk AS (SELECT id, nbr_id, cos,
               row_number() OVER (PARTITION BY id ORDER BY cos DESC, nbr_id) AS r
             FROM p)
         SELECT id, nbr_id, round(cos, 6) AS cosine, r::INT AS rank
         FROM rk WHERE r <= 3 ORDER BY id, rank""",
    // e16: stddev_samp parity (n−1); float32 inputs are exact in double on
    // both engines, so only sum-order noise separates them — ≪ 4dp margins.
    "e16_standardize" ->
      """WITH s AS (SELECT
             avg(embedding[1]) AS m1, stddev_samp(embedding[1]) AS s1,
             avg(embedding[2]) AS m2, stddev_samp(embedding[2]) AS s2,
             avg(embedding[3]) AS m3, stddev_samp(embedding[3]) AS s3,
             avg(embedding[4]) AS m4, stddev_samp(embedding[4]) AS s4
           FROM embeddings)
         SELECT vec_id,
           round((embedding[1] - m1) / s1, 4) AS z1,
           round((embedding[2] - m2) / s2, 4) AS z2,
           round((embedding[3] - m3) / s3, 4) AS z3,
           round((embedding[4] - m4) / s4, 4) AS z4
         FROM embeddings CROSS JOIN s ORDER BY vec_id""",
    // d42: exactness-window oracle (d26's stance): at eps 1e-4 the CMS
    // width dwarfs the corpus vocab, so every top-20 estimate equals the
    // exact count — the oracle pins cnt_est to the exact count and any
    // sketch collision breaks the row hash.
    "d42_heavy_hitters" ->
      """SELECT token, cnt, cnt AS cnt_est FROM (
           SELECT token, count(*) AS cnt FROM (
             SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0)) AS token FROM documents)
           GROUP BY token ORDER BY cnt DESC, token LIMIT 20)
         ORDER BY token""",
    // d43: A-ES weighted sampling — identical md5-derived uniforms on both
    // engines; keys are -ln(u)/w over doubles, noise ~1e-16 relative, far
    // inside the round(…,6) margin and the k-th/(k+1)-th key gap.
    "d43_weighted_sample" ->
      """WITH k AS (SELECT doc_id, n_chars,
             ((('0x' || substr(md5(doc_id::VARCHAR || ':wrs'), 1, 8))::UBIGINT)::DOUBLE
               + 0.5) / 4294967296.0 AS u
           FROM documents),
           sel AS (SELECT doc_id, n_chars, -ln(u) / n_chars::DOUBLE AS wkey
             FROM k ORDER BY wkey, doc_id LIMIT 50)
         SELECT doc_id, n_chars, round(wkey, 6) AS wkey FROM sel ORDER BY doc_id""",
    // d41: unigram LM scoring — vocab = top-64 by (cnt desc, token asc);
    // N counts EVERY token occurrence; OOV floor = ln(1/N). Cross-entropy
    // is -avg(ln p) in nats; float sum-order noise is ~1e-15 relative,
    // far inside the round(…,4)/(…,2) margins.
    "d41_lm_perplexity" ->
      """WITH tok AS (SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0)) AS token FROM documents),
           cnt AS (SELECT token, count(*)::DOUBLE AS c FROM tok GROUP BY token),
           tot AS (SELECT sum(c) AS n FROM cnt),
           voc AS (SELECT token, c FROM cnt ORDER BY c DESC, token LIMIT 64),
           sc AS (SELECT t.doc_id, ln(coalesce(v.c, 1.0) / tot.n) AS lp,
               CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
             FROM tok t LEFT JOIN voc v USING (token) CROSS JOIN tot)
         SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(oov)::BIGINT AS n_oov,
           round(-avg(lp), 4) AS cross_entropy, round(exp(-avg(lp)), 2) AS ppl
         FROM sc GROUP BY doc_id ORDER BY doc_id""",
    "d92_exact_split" ->
      """WITH r AS (SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
           FROM documents)
         SELECT doc_id, lang,
           CASE WHEN rn <= (n * 80) // 100 THEN 'train'
                WHEN rn <= (n * 90) // 100 THEN 'val'
                ELSE 'test' END AS split
         FROM r ORDER BY doc_id""",
    "d91_ppl_buckets" ->
      """WITH tok AS (SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0)) AS token FROM documents),
           cnt AS (SELECT token, count(*)::DOUBLE AS c FROM tok GROUP BY token),
           tot AS (SELECT sum(c) AS n FROM cnt),
           voc AS (SELECT token, c FROM cnt ORDER BY c DESC, token LIMIT 64),
           sc AS (SELECT t.doc_id, ln(coalesce(v.c, 1.0) / tot.n) AS lp
             FROM tok t LEFT JOIN voc v USING (token) CROSS JOIN tot),
           ce AS (SELECT doc_id, round(-avg(lp), 4) AS ce
             FROM sc GROUP BY doc_id),
           b AS (SELECT d.doc_id, d.lang, ce.ce,
               ntile(3) OVER (PARTITION BY d.lang ORDER BY ce.ce, d.doc_id)
                 AS nt
             FROM documents d JOIN ce ON ce.doc_id = d.doc_id)
         SELECT doc_id, lang, ce AS cross_entropy,
           CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
             ELSE 'tail' END AS bucket
         FROM b ORDER BY doc_id""",
    "d39_edit_distance" ->
      """WITH toks AS (SELECT doc_id, text,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               t -> length(t) > 0) AS toks FROM documents),
           sh AS (SELECT doc_id, text, list_distinct(list_transform(
             generate_series(1, greatest(len(toks) - 2, CASE WHEN len(toks) > 0 THEN 1 ELSE 0 END)),
             i -> toks[i] || CASE WHEN i+1 <= len(toks) THEN ' ' || toks[i+1] ELSE '' END
               || CASE WHEN i+2 <= len(toks) THEN ' ' || toks[i+2] ELSE '' END)) AS sh
           FROM toks),
           inv AS (SELECT doc_id, unnest(sh) AS g FROM sh),
           cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id),
           p AS (SELECT id_a, id_b, levenshtein(a.text, b.text)::BIGINT AS edit_dist,
               1.0 - levenshtein(a.text, b.text)::DOUBLE
                 / greatest(length(a.text), length(b.text)) AS sim
             FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b)
         SELECT id_a, id_b, edit_dist, round(sim, 4) AS edit_sim
         FROM p WHERE sim >= 0.8 ORDER BY id_a, id_b""",
    // d38: span REMOVAL twin of d28 — positional (non-distinct) 5-gram
    // windows, duplicated = present in ≥ 2 DISTINCT docs, covered token
    // indices are the union of duplicated windows, kept tokens reassemble
    // in index order. Docs shorter than 5 tokens have no windows (no
    // whole-doc fallback — a short doc cannot contain a ≥5-token span).
    "d38_span_removal" ->
      """WITH t AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS toks FROM documents),
           g0 AS (SELECT doc_id, unnest(list_transform(
               generate_series(1, greatest(len(toks) - 4, 0)),
               i -> {'pos': i, 'g': array_to_string(toks[i:i+4], ' ')})) AS u
             FROM t),
           grams AS (SELECT doc_id, u.pos AS pos, u.g AS g FROM g0),
           hot AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
           cov0 AS (SELECT doc_id, unnest(generate_series(pos, pos + 4)) AS idx
             FROM grams JOIN hot USING (g)),
           covered AS (SELECT DISTINCT doc_id, idx FROM cov0),
           tk0 AS (SELECT doc_id, unnest(list_transform(
               generate_series(1, len(toks)), i -> {'idx': i, 'tok': toks[i]})) AS u
             FROM t),
           tk AS (SELECT doc_id, u.idx AS idx, u.tok AS tok FROM tk0),
           kept AS (SELECT tk.doc_id, tk.idx, tk.tok FROM tk
             ANTI JOIN covered USING (doc_id, idx)),
           reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS clean_text,
               count(*) AS n_kept FROM kept GROUP BY doc_id)
         SELECT t.doc_id, COALESCE(reb.clean_text, '') AS clean_text,
           len(t.toks)::BIGINT AS n_tokens,
           (len(t.toks) - COALESCE(reb.n_kept, 0))::BIGINT AS n_removed
         FROM t LEFT JOIN reb USING (doc_id) ORDER BY doc_id""",
    "d14_decontaminate" ->
      """WITH t AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS toks FROM documents),
           sh AS (SELECT doc_id, unnest(list_distinct(
             CASE WHEN len(toks) - 3 <= 0 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(generate_series(1, len(toks) - 3),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                   || toks[i+3]) END)) AS sh
             FROM t),
           probe AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 31 = 0),
           corpus AS (SELECT doc_id, sh FROM sh WHERE doc_id % 31 <> 0)
         SELECT c.doc_id, count(*) AS n_shared
         FROM corpus c JOIN probe p USING (sh)
         GROUP BY 1 ORDER BY doc_id""",
    "d20_chunk_tokens" ->
      """WITH t AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
               x -> length(x) > 0) AS toks FROM documents),
         s AS (SELECT doc_id, toks,
             unnest(range(0, len(toks), 12)) AS cs FROM t),
         c AS (SELECT doc_id, cs, toks[cs+1:cs+16] AS ctoks FROM s)
         SELECT doc_id, (cs // 12)::BIGINT AS chunk_id, cs::BIGINT AS chunk_start,
           len(ctoks)::BIGINT AS n_chunk_tokens,
           array_to_string(ctoks, ' ') AS chunk_text
         FROM c ORDER BY doc_id, chunk_id""",
    "d18_pack_sequences" ->
      """WITH c AS (
           SELECT doc_id,
             len(list_filter(regexp_split_to_array(trim(text), '\s+'),
               t -> length(t) > 0))::BIGINT AS n_tokens
           FROM documents),
         o AS (
           SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS start_offset
           FROM c)
         SELECT doc_id, n_tokens, start_offset,
           (start_offset // 512)::BIGINT AS block_first,
           (GREATEST(start_offset + n_tokens - 1, start_offset) // 512)::BIGINT
             AS block_last
         FROM o ORDER BY doc_id""",
    "d19_pii_redact" ->
      """WITH aug AS (
           SELECT doc_id,
             text ||
             CASE WHEN doc_id % 3 = 0
               THEN ' reach user' || doc_id::VARCHAR || '@example.com'
               ELSE '' END ||
             CASE WHEN doc_id % 5 = 0
               THEN ' from 10.2.' || (doc_id % 250)::VARCHAR || '.7'
               ELSE '' END ||
             CASE WHEN doc_id % 7 = 0 THEN ' call 555-123-4567' ELSE '' END
               AS t0
           FROM documents),
         st AS (
           SELECT doc_id, t0,
             regexp_replace(t0,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
               'g') AS t1
           FROM aug),
         st2 AS (
           SELECT doc_id, t0, t1,
             regexp_replace(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g')
               AS t2
           FROM st)
         SELECT doc_id,
           regexp_replace(t2, '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g')
             AS redacted,
           len(regexp_extract_all(t0,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
             AS n_emails,
           len(regexp_extract_all(t1,
             '\b(?:\d{1,3}\.){3}\d{1,3}\b'))::BIGINT AS n_ips,
           len(regexp_extract_all(t2,
             '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))::BIGINT AS n_phones
         FROM st2 ORDER BY doc_id""",
    "d13_repetition" ->
      """WITH t AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS toks FROM documents),
           g AS (SELECT doc_id,
             CASE WHEN len(toks) - 2 <= 0 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(generate_series(1, len(toks) - 2),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS g3,
             CASE WHEN len(toks) - 1 <= 0 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(generate_series(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1]) END AS g2
             FROM t)
         SELECT doc_id,
           round(CASE WHEN len(g3) = 0 THEN 0.0
             ELSE 1.0 - len(list_distinct(g3))::DOUBLE / len(g3) END, 4) AS rep3,
           round(CASE WHEN len(g2) = 0 THEN 0.0
             ELSE 1.0 - len(list_distinct(g2))::DOUBLE / len(g2) END, 4) AS rep2
         FROM g ORDER BY doc_id""",
    "d15_tfidf" ->
      """WITH toks AS (SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0)) AS token FROM documents),
           tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
           dlen AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY 1),
           idf AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
           n AS (SELECT count(*) AS n FROM documents),
           scored AS (SELECT tf.doc_id, tf.token,
               (tf.tf::DOUBLE / dlen.dlen) * ln(n.n::DOUBLE / idf.df) AS score
             FROM tf JOIN dlen USING (doc_id) JOIN idf USING (token) CROSS JOIN n),
           ranked AS (SELECT doc_id, token, score,
               row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS r
             FROM scored)
         SELECT doc_id, token, round(score, 5) AS score
         FROM ranked WHERE r <= 3 ORDER BY doc_id, token""",
    "d35_containment" ->
      """WITH sh AS (
           SELECT doc_id, list_distinct(list_transform(
             generate_series(1, greatest(len(toks) - 2, CASE WHEN len(toks) > 0 THEN 1 ELSE 0 END)),
             i -> toks[i] || CASE WHEN i+1 <= len(toks) THEN ' ' || toks[i+1] ELSE '' END
               || CASE WHEN i+2 <= len(toks) THEN ' ' || toks[i+2] ELSE '' END)) AS sh
           FROM (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> length(t) > 0) AS toks
             FROM documents WHERE doc_id < 40)),
           p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(CASE WHEN len(a.sh) = 0 THEN 0.0
               ELSE len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh) END, 4) AS cont_a_in_b,
             round(CASE WHEN len(b.sh) = 0 THEN 0.0
               ELSE len(list_intersect(a.sh, b.sh))::DOUBLE / len(b.sh) END, 4) AS cont_b_in_a
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         SELECT id_a, id_b, cont_a_in_b, cont_b_in_a FROM p
         WHERE greatest(cont_a_in_b, cont_b_in_a) >= 0.02
         ORDER BY id_a, id_b""",
    // d36/d37 gate the SCALE operators (inverted-index / LSH candidate
    // generation), unlike d35/d9 whose oracles gate capped all-pairs demos.
    // Both filter on the UNROUNDED score (matching the Spark operators) and
    // round only in the final projection.
    "d36_containment_pairs" ->
      """WITH sh AS (
           SELECT doc_id, list_distinct(list_transform(
             generate_series(1, greatest(len(toks) - 2, CASE WHEN len(toks) > 0 THEN 1 ELSE 0 END)),
             i -> toks[i] || CASE WHEN i+1 <= len(toks) THEN ' ' || toks[i+1] ELSE '' END
               || CASE WHEN i+2 <= len(toks) THEN ' ' || toks[i+2] ELSE '' END)) AS sh
           FROM (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> length(t) > 0) AS toks
             FROM documents)),
           inv AS (SELECT doc_id, unnest(sh) AS g FROM sh),
           kept AS (SELECT g FROM inv GROUP BY g HAVING count(*) BETWEEN 2 AND 5),
           pi AS (SELECT doc_id, g FROM inv JOIN kept USING (g)),
           cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM pi a JOIN pi b ON a.g = b.g AND a.doc_id < b.doc_id),
           p AS (SELECT id_a, id_b,
               CASE WHEN len(a.sh) = 0 THEN 0.0
                 ELSE len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh) END AS ca,
               CASE WHEN len(b.sh) = 0 THEN 0.0
                 ELSE len(list_intersect(a.sh, b.sh))::DOUBLE / len(b.sh) END AS cb
             FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b)
         SELECT id_a, id_b, round(ca, 4) AS cont_a_in_b, round(cb, 4) AS cont_b_in_a
         FROM p WHERE greatest(ca, cb) >= 0.2
         ORDER BY id_a, id_b""",
    "d37_jaccard_verified" ->
      """WITH sh AS (
           SELECT doc_id, list_distinct(list_transform(
             generate_series(1, greatest(len(toks) - 2, CASE WHEN len(toks) > 0 THEN 1 ELSE 0 END)),
             i -> toks[i] || CASE WHEN i+1 <= len(toks) THEN ' ' || toks[i+1] ELSE '' END
               || CASE WHEN i+2 <= len(toks) THEN ' ' || toks[i+2] ELSE '' END)) AS sh
           FROM (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> length(t) > 0) AS toks
             FROM documents)),
           inv AS (SELECT doc_id, unnest(sh) AS g FROM sh),
           cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id),
           p AS (SELECT id_a, id_b,
               CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
                 ELSE len(list_intersect(a.sh, b.sh))::DOUBLE
                   / len(list_distinct(list_concat(a.sh, b.sh))) END AS j
             FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b)
         SELECT id_a, id_b, round(j, 4) AS jaccard FROM p WHERE j >= 0.5
         ORDER BY id_a, id_b""",
    "d9_ngram_jaccard" ->
      """WITH sh AS (
           SELECT doc_id, list_distinct(list_transform(
             generate_series(1, greatest(len(toks) - 2, CASE WHEN len(toks) > 0 THEN 1 ELSE 0 END)),
             i -> toks[i] || CASE WHEN i+1 <= len(toks) THEN ' ' || toks[i+1] ELSE '' END
               || CASE WHEN i+2 <= len(toks) THEN ' ' || toks[i+2] ELSE '' END)) AS sh
           FROM (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> length(t) > 0) AS toks
             FROM documents WHERE doc_id < 40))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
             ELSE len(list_intersect(a.sh, b.sh))::DOUBLE
               / len(list_distinct(list_concat(a.sh, b.sh))) END, 4) AS jaccard
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
             ELSE len(list_intersect(a.sh, b.sh))::DOUBLE
               / len(list_distinct(list_concat(a.sh, b.sh))) END, 4) >= 0.01
         ORDER BY id_a, id_b""",
    "e1_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
             FROM embeddings WHERE vec_id < 5),
           scored AS (
             SELECT q.query_id, e.vec_id AS corpus_id,
               list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cos
             FROM embeddings e, q WHERE e.vec_id <> q.query_id),
           ranked AS (
             SELECT query_id, corpus_id, cos,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
             FROM scored)
         SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank
         FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""",
    "e39_retrieval_metrics" ->
      """WITH q AS (SELECT vec_id AS query_id, label AS qlab,
             embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8),
           scored AS (
             SELECT q.query_id, q.qlab, e.vec_id AS corpus_id, e.label AS clab,
               list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cos
             FROM embeddings e, q WHERE e.vec_id <> q.query_id),
           ranked AS (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, corpus_id) AS rank FROM scored),
           topk AS (SELECT * FROM ranked WHERE rank <= 10),
           lab AS (SELECT label AS qlab, count(*) AS nlab
             FROM embeddings GROUP BY 1),
           perq AS (
             SELECT query_id, qlab,
               sum(CASE WHEN clab = qlab THEN 1 ELSE 0 END) AS hits,
               min(CASE WHEN clab = qlab THEN rank END) AS first_rel,
               sum(CASE WHEN clab = qlab THEN 1.0 / log2(rank + 1) END) AS dcg
             FROM topk GROUP BY 1, 2),
           idcg AS (
             SELECT p.query_id, sum(1.0 / log2(r.i + 1)) AS idcg
             FROM perq p JOIN lab l USING (qlab)
             JOIN (SELECT unnest(range(1, 11)) AS i) r
               ON r.i <= least(10, l.nlab - 1)
             GROUP BY 1)
         SELECT p.query_id,
           round(p.hits / (l.nlab - 1), 6) AS recall10,
           round(coalesce(1.0 / p.first_rel, 0.0), 6) AS mrr,
           round(coalesce(p.dcg, 0.0) / i.idcg, 6) AS ndcg10
         FROM perq p JOIN lab l USING (qlab) JOIN idcg i USING (query_id)
         WHERE l.nlab - 1 >= 1
         ORDER BY p.query_id""",
    "e7_quantize" ->
      """WITH b AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
             FROM embeddings),
           s AS (SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM b),
           s2 AS (SELECT vec_id, v, scale, greatest(scale, 1e-30) AS ssafe FROM s),
           q AS (SELECT vec_id, scale, ssafe, v,
               list_transform(v, x -> floor(x / ssafe + 0.5)::BIGINT) AS q FROM s2)
         SELECT vec_id, round(scale, 8) AS scale,
           list_sum(q)::BIGINT AS q_sum,
           list_min(q)::BIGINT AS q_min, list_max(q)::BIGINT AS q_max,
           round(list_sum(list_transform(generate_series(1, len(v)),
             i -> (v[i] - q[i] * ssafe) * (v[i] - q[i] * ssafe))), 6) AS sq_err
         FROM q ORDER BY vec_id""",
    "e25_binary_ann" ->
      """WITH b AS (SELECT vec_id,
             list_transform(embedding, x -> (x > 0)::INT) AS sb,
             list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, sb AS qs, v AS qv
           FROM b WHERE vec_id < 5),
         h AS (SELECT q.query_id, c.vec_id AS corpus_id,
             list_sum(list_transform(range(1, len(c.sb) + 1),
               i -> (c.sb[i] <> q.qs[i])::INT)) AS ham
           FROM b c, q WHERE c.vec_id <> q.query_id),
         cand AS (SELECT query_id, corpus_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY ham, corpus_id) AS hrank
           FROM h),
         scored AS (SELECT c.query_id, c.corpus_id,
             list_cosine_similarity(bv.v, q.qv) AS cos
           FROM cand c
           JOIN b bv ON bv.vec_id = c.corpus_id
           JOIN q ON q.query_id = c.query_id
           WHERE c.hrank <= 50),
         ranked AS (SELECT query_id, corpus_id, cos,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, corpus_id) AS rank
           FROM scored)
         SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank::INT AS rank
         FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""",
    // e26: same two-stage shape as e25 with a dim-slice coarse stage; the
    // candidate cutoff tie-breaks (score desc, id asc) on both engines
    "e26_mrl_rerank" ->
      """WITH b AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
             FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv FROM b WHERE vec_id < 5),
         coarse AS (SELECT q.query_id, c.vec_id AS corpus_id, c.v, q.qv,
             list_cosine_similarity(list_slice(c.v, 1, 16),
               list_slice(q.qv, 1, 16)) AS tcos
           FROM b c, q WHERE c.vec_id <> q.query_id),
         cand AS (SELECT query_id, corpus_id, v, qv,
             row_number() OVER (PARTITION BY query_id
               ORDER BY tcos DESC, corpus_id) AS cr
           FROM coarse),
         scored AS (SELECT query_id, corpus_id,
             list_cosine_similarity(v, qv) AS cos
           FROM cand WHERE cr <= 25),
         ranked AS (SELECT query_id, corpus_id, cos,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, corpus_id) AS rank
           FROM scored)
         SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank
         FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""",
    // e22: benchmark = label 0; planted x2-scaled copies of its 5 lowest
    // ids are the only corpus rows above the 0.8 threshold (corpus max
    // pairwise cosine < 0.7 — a 0.1 margin on flag and n_hits both ways)
    "e22_semantic_decontam" ->
      """WITH bench AS (SELECT vec_id AS bench_id,
             list_transform(embedding, x -> x::DOUBLE) AS bv
           FROM embeddings WHERE label = 0),
         planted AS (SELECT vec_id + 10000 AS vec_id,
             list_transform(embedding, x -> (x * 2.0)::DOUBLE) AS v
           FROM embeddings WHERE label = 0 ORDER BY vec_id LIMIT 5),
         corpus AS (
           SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
             FROM embeddings WHERE label <> 0
           UNION ALL SELECT vec_id, v FROM planted),
         scored AS (SELECT c.vec_id, b.bench_id,
             list_cosine_similarity(c.v, b.bv) AS cos
           FROM corpus c, bench b)
         SELECT vec_id, round(max(cos), 6) AS max_cos,
           sum((cos >= 0.8)::INT)::BIGINT AS n_hits,
           max(cos) >= 0.8 AS contaminated
         FROM scored GROUP BY vec_id ORDER BY vec_id""",
    "e24_drift_monitor" ->
      """WITH c AS (SELECT vec_id::INT AS cid, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < 8),
           s AS (SELECT e.vec_id, c.cid,
               list_sum(list_transform(range(1, 65),
                 i -> (e.embedding[i]::DOUBLE - c.cv[i])
                    * (e.embedding[i]::DOUBLE - c.cv[i]))) AS dist_sq
             FROM embeddings e, c),
           b AS (SELECT vec_id, cid, dist_sq,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist_sq, cid) AS r
             FROM s)
         SELECT cid AS cell, count(*)::BIGINT AS n_vectors,
           round(sum(dist_sq), 4) AS sse
         FROM b WHERE r = 1 GROUP BY 1 ORDER BY cell""",
    "e8_centroid_outliers" ->
      """WITH c AS (SELECT vec_id::INT AS cid, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < 8),
           s AS (SELECT e.vec_id, c.cid,
               list_distance(e.embedding::DOUBLE[], c.cv) AS dist
             FROM embeddings e, c),
           b AS (SELECT vec_id, cid, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS r
             FROM s)
         SELECT cid AS cell, count(*) AS n_vectors,
           sum(CASE WHEN dist > 1.36 THEN 1 ELSE 0 END)::BIGINT AS n_outliers
         FROM b WHERE r = 1 GROUP BY 1 ORDER BY cell""",
    // e9: fixed sub-codebooks (slices of the first-16 corpus vectors) make
    // the whole PQ path — per-subspace argmin codes, per-query LUT, ADC
    // scores — exactly reproducible in SQL. Per-slice sums are sequential
    // 8-term double adds on both engines (NearestCellsExpr accumulation ≡
    // list_sum/list_transform, the e7-pinned pattern), and the ADC total
    // sums the per-subspace terms in j order on both sides.
    "e9_pq_adc" ->
      """WITH sub AS (SELECT unnest(range(0, 8)) AS j),
           cb AS (SELECT c.vec_id::INT AS cid, s.j,
               list_transform(range(1, 9), i -> c.embedding[s.j*8 + i]::DOUBLE) AS cv
             FROM embeddings c, sub s WHERE c.vec_id < 16),
           dists AS (SELECT e.vec_id, cb.j, cb.cid,
               list_sum(list_transform(range(1, 9),
                 i -> (e.embedding[cb.j*8 + i]::DOUBLE - cb.cv[i])
                    * (e.embedding[cb.j*8 + i]::DOUBLE - cb.cv[i]))) AS dist
             FROM embeddings e, cb),
           codes AS (SELECT vec_id, j, cid FROM (
               SELECT vec_id, j, cid,
                 row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS r
               FROM dists) WHERE r = 1),
           qlut AS (SELECT q.vec_id AS query_id, cb.j, cb.cid,
               list_sum(list_transform(range(1, 9),
                 i -> (q.embedding[cb.j*8 + i]::DOUBLE - cb.cv[i])
                    * (q.embedding[cb.j*8 + i]::DOUBLE - cb.cv[i]))) AS d
             FROM embeddings q, cb WHERE q.vec_id < 3),
           adc AS (SELECT l.query_id, c.vec_id AS corpus_id,
               list_sum(list(l.d ORDER BY l.j)) AS adc_raw
             FROM codes c JOIN qlut l ON l.j = c.j AND l.cid = c.cid
             WHERE c.vec_id <> l.query_id
             GROUP BY 1, 2),
           ranked AS (SELECT query_id, corpus_id, adc_raw,
               row_number() OVER (PARTITION BY query_id ORDER BY adc_raw, corpus_id) AS rank
             FROM adc)
         SELECT query_id, corpus_id, round(adc_raw, 6) AS adc_dist, rank::INT AS rank
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    // e11: e9's code/LUT CTEs + e6's fixed-cell CTEs; ADC restricted to
    // each query's 2 probed cells.
    "e11_ivfpq" ->
      """WITH sub AS (SELECT unnest(range(0, 8)) AS j),
           cb AS (SELECT c.vec_id::INT AS cid, s.j,
               list_transform(range(1, 9), i -> c.embedding[s.j*8 + i]::DOUBLE) AS cv
             FROM embeddings c, sub s WHERE c.vec_id < 16),
           dists AS (SELECT e.vec_id, cb.j, cb.cid,
               list_sum(list_transform(range(1, 9),
                 i -> (e.embedding[cb.j*8 + i]::DOUBLE - cb.cv[i])
                    * (e.embedding[cb.j*8 + i]::DOUBLE - cb.cv[i]))) AS dist
             FROM embeddings e, cb),
           codes AS (SELECT vec_id, j, cid FROM (
               SELECT vec_id, j, cid,
                 row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS r
               FROM dists) WHERE r = 1),
           qlut AS (SELECT q.vec_id AS query_id, cb.j, cb.cid,
               list_sum(list_transform(range(1, 9),
                 i -> (q.embedding[cb.j*8 + i]::DOUBLE - cb.cv[i])
                    * (q.embedding[cb.j*8 + i]::DOUBLE - cb.cv[i]))) AS d
             FROM embeddings q, cb WHERE q.vec_id < 3),
           cc AS (SELECT vec_id::INT AS ccid, embedding::DOUBLE[] AS ccv
             FROM embeddings WHERE vec_id < 8),
           corpus_cell AS (SELECT vec_id, ccid AS cell FROM (
               SELECT e.vec_id, cc.ccid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], cc.ccv), cc.ccid) AS r
               FROM embeddings e, cc) WHERE r = 1),
           query_cells AS (SELECT query_id, ccid AS cell FROM (
               SELECT q.vec_id AS query_id, cc.ccid,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_distance(q.embedding::DOUBLE[], cc.ccv), cc.ccid) AS r
               FROM embeddings q, cc WHERE q.vec_id < 3) WHERE r <= 2),
           adc AS (SELECT l.query_id, c.vec_id AS corpus_id,
               list_sum(list(l.d ORDER BY l.j)) AS adc_raw
             FROM codes c JOIN qlut l ON l.j = c.j AND l.cid = c.cid
             JOIN corpus_cell cl ON cl.vec_id = c.vec_id
             JOIN query_cells qc ON qc.query_id = l.query_id AND qc.cell = cl.cell
             WHERE c.vec_id <> l.query_id
             GROUP BY 1, 2),
           ranked AS (SELECT query_id, corpus_id, adc_raw,
               row_number() OVER (PARTITION BY query_id ORDER BY adc_raw, corpus_id) AS rank
             FROM adc)
         SELECT query_id, corpus_id, round(adc_raw, 6) AS adc_dist, rank::INT AS rank
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    // e14: SQ8 search — e7's exact quantization rule (floor(x/scale+0.5),
    // scale = max|x|/127 floored at 1e-30), dequantize, cosine, top-10.
    "e14_sq8_ann" ->
      """WITH b AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
             FROM embeddings),
           s AS (SELECT vec_id, v,
               greatest(list_max(list_transform(v, x -> abs(x))) / 127.0, 1e-30) AS sc
             FROM b),
           dq AS (SELECT vec_id, list_transform(v, x -> floor(x / sc + 0.5) * sc) AS w
             FROM s),
           q AS (SELECT vec_id AS query_id, v AS qv FROM b WHERE vec_id < 5),
           scored AS (SELECT q.query_id, d.vec_id AS corpus_id,
               list_cosine_similarity(d.w, q.qv) AS cos
             FROM dq d, q WHERE d.vec_id <> q.query_id),
           ranked AS (SELECT query_id, corpus_id, cos,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
             FROM scored)
         SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank::INT AS rank
         FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""",
    // e13: residual IVF-PQ — e11's oracle with PQ argmins over residuals
    // v − c(cell(v)) and the query LUT keyed by probed cell. Same fixed
    // training inputs (coarse = first 8, codebooks = first-16 residuals),
    // same accumulation order as the engine (slice sums i-ascending,
    // slices summed j-ascending).
    "e13_ivfpq_residual" ->
      """WITH sub AS (SELECT unnest(range(0, 8)) AS j),
           cc AS (SELECT vec_id::INT AS ccid, embedding::DOUBLE[] AS ccv
             FROM embeddings WHERE vec_id < 8),
           vcell AS (SELECT vec_id, ccid AS cell, ccv FROM (
               SELECT e.vec_id, cc.ccid, cc.ccv,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], cc.ccv), cc.ccid) AS r
               FROM embeddings e, cc) WHERE r = 1),
           res AS (SELECT e.vec_id, v.cell,
               list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE - v.ccv[i]) AS res
             FROM embeddings e JOIN vcell v USING (vec_id)),
           cbr AS (SELECT r16.vec_id::INT AS cid, s.j,
               list_transform(range(1, 9), i -> r16.res[s.j*8 + i]) AS cv
             FROM res r16, sub s WHERE r16.vec_id < 16),
           dists AS (SELECT r.vec_id, cbr.j, cbr.cid,
               list_sum(list_transform(range(1, 9),
                 i -> (r.res[cbr.j*8 + i] - cbr.cv[i])
                    * (r.res[cbr.j*8 + i] - cbr.cv[i]))) AS dist
             FROM res r, cbr),
           codes AS (SELECT vec_id, j, cid FROM (
               SELECT vec_id, j, cid,
                 row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS r
               FROM dists) WHERE r = 1),
           query_cells AS (SELECT query_id, ccid AS cell, ccv FROM (
               SELECT q.vec_id AS query_id, cc.ccid, cc.ccv,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_distance(q.embedding::DOUBLE[], cc.ccv), cc.ccid) AS r
               FROM embeddings q, cc WHERE q.vec_id < 3) WHERE r <= 2),
           qlut AS (SELECT qc.query_id, qc.cell, cbr.j, cbr.cid,
               list_sum(list_transform(range(1, 9),
                 i -> ((q.embedding[cbr.j*8 + i]::DOUBLE - qc.ccv[cbr.j*8 + i]) - cbr.cv[i])
                    * ((q.embedding[cbr.j*8 + i]::DOUBLE - qc.ccv[cbr.j*8 + i]) - cbr.cv[i]))) AS d
             FROM query_cells qc JOIN embeddings q ON q.vec_id = qc.query_id
             CROSS JOIN cbr),
           adc AS (SELECT l.query_id, c.vec_id AS corpus_id,
               list_sum(list(l.d ORDER BY l.j)) AS adc_raw
             FROM codes c
             JOIN vcell cl ON cl.vec_id = c.vec_id
             JOIN qlut l ON l.j = c.j AND l.cid = c.cid AND l.cell = cl.cell
             WHERE c.vec_id <> l.query_id
             GROUP BY 1, 2),
           ranked AS (SELECT query_id, corpus_id, adc_raw,
               row_number() OVER (PARTITION BY query_id ORDER BY adc_raw, corpus_id) AS rank
             FROM adc)
         SELECT query_id, corpus_id, round(adc_raw, 6) AS adc_dist, rank::INT AS rank
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    "e20_ivfpq_rerank" ->
      """WITH sub AS (SELECT unnest(range(0, 8)) AS j),
           cc AS (SELECT vec_id::INT AS ccid, embedding::DOUBLE[] AS ccv
             FROM embeddings WHERE vec_id < 8),
           vcell AS (SELECT vec_id, ccid AS cell, ccv FROM (
               SELECT e.vec_id, cc.ccid, cc.ccv,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], cc.ccv), cc.ccid) AS r
               FROM embeddings e, cc) WHERE r = 1),
           res AS (SELECT e.vec_id, v.cell,
               list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE - v.ccv[i]) AS res
             FROM embeddings e JOIN vcell v USING (vec_id)),
           cbr AS (SELECT r16.vec_id::INT AS cid, s.j,
               list_transform(range(1, 9), i -> r16.res[s.j*8 + i]) AS cv
             FROM res r16, sub s WHERE r16.vec_id < 16),
           dists AS (SELECT r.vec_id, cbr.j, cbr.cid,
               list_sum(list_transform(range(1, 9),
                 i -> (r.res[cbr.j*8 + i] - cbr.cv[i])
                    * (r.res[cbr.j*8 + i] - cbr.cv[i]))) AS dist
             FROM res r, cbr),
           codes AS (SELECT vec_id, j, cid FROM (
               SELECT vec_id, j, cid,
                 row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS r
               FROM dists) WHERE r = 1),
           query_cells AS (SELECT query_id, ccid AS cell, ccv FROM (
               SELECT q.vec_id AS query_id, cc.ccid, cc.ccv,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_distance(q.embedding::DOUBLE[], cc.ccv), cc.ccid) AS r
               FROM embeddings q, cc WHERE q.vec_id < 3) WHERE r <= 2),
           qlut AS (SELECT qc.query_id, qc.cell, cbr.j, cbr.cid,
               list_sum(list_transform(range(1, 9),
                 i -> ((q.embedding[cbr.j*8 + i]::DOUBLE - qc.ccv[cbr.j*8 + i]) - cbr.cv[i])
                    * ((q.embedding[cbr.j*8 + i]::DOUBLE - qc.ccv[cbr.j*8 + i]) - cbr.cv[i]))) AS d
             FROM query_cells qc JOIN embeddings q ON q.vec_id = qc.query_id
             CROSS JOIN cbr),
           adc AS (SELECT l.query_id, c.vec_id AS corpus_id,
               list_sum(list(l.d ORDER BY l.j)) AS adc_raw
             FROM codes c
             JOIN vcell cl ON cl.vec_id = c.vec_id
             JOIN qlut l ON l.j = c.j AND l.cid = c.cid AND l.cell = cl.cell
             WHERE c.vec_id <> l.query_id
             GROUP BY 1, 2),
           ranked AS (SELECT query_id, corpus_id, adc_raw,
               row_number() OVER (PARTITION BY query_id ORDER BY adc_raw, corpus_id) AS rank
             FROM adc),
           refine AS (SELECT r.query_id, r.corpus_id,
               list_sum(list_transform(range(1, 65),
                 i -> (q.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
                    * (q.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE))) AS l2sq
             FROM ranked r
             JOIN embeddings q ON q.vec_id = r.query_id
             JOIN embeddings c ON c.vec_id = r.corpus_id
             WHERE r.rank <= 20),
           rr AS (SELECT query_id, corpus_id, l2sq,
               row_number() OVER (PARTITION BY query_id ORDER BY l2sq, corpus_id) AS rank
             FROM refine)
         SELECT query_id, corpus_id, round(l2sq, 6) AS l2sq, rank::INT AS rank
         FROM rr WHERE rank <= 5 ORDER BY query_id, rank""",
    // e10: planted exact copies are the only pairs at cosine ≥ 0.95 and
    // inherit their original's cell bit-exactly, so cells, dup links and
    // survivors are all SQL-derivable (e6's fixed-centroid stance).
    "e10_semantic_dedup" ->
      """WITH u AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
             UNION ALL
             SELECT vec_id + 20000, embedding::DOUBLE[] FROM embeddings WHERE vec_id < 15),
           c AS (SELECT vec_id::INT AS cid, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < 8),
           cells AS (SELECT vec_id, v, cid AS cell FROM (
               SELECT u.vec_id, u.v, c.cid,
                 row_number() OVER (PARTITION BY u.vec_id
                   ORDER BY list_distance(u.v, c.cv), c.cid) AS r
               FROM u, c) WHERE r = 1),
           pairs AS (SELECT a.vec_id AS ia, b.vec_id AS ib
             FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
             WHERE list_cosine_similarity(a.v, b.v) >= 0.95),
           dups AS (SELECT ib AS vec_id, min(ia) AS dup_of FROM pairs GROUP BY 1)
         SELECT cl.vec_id, cl.cell::BIGINT AS cell, d.dup_of, d.dup_of IS NULL AS kept
         FROM cells cl LEFT JOIN dups d USING (vec_id) ORDER BY vec_id""",
    "e2_ivf_assign" ->
      """WITH c AS (SELECT vec_id::INT AS centroid_id, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < 8),
           scored AS (
             SELECT e.vec_id, c.centroid_id,
               list_distance(e.embedding::DOUBLE[], c.cv) AS dist
             FROM embeddings e, c),
           best AS (
             SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS r
             FROM scored)
         SELECT centroid_id AS cell, count(*) AS n_vectors
         FROM best WHERE r = 1 GROUP BY 1 ORDER BY cell""",
    // e5: the planted x2-scaled copies are the only pairs above the
    // threshold (corpus max pairwise cosine < 0.7), and sign sketches are
    // scale-invariant, so the exact result is derivable without the sketch
    "e5_cosine_lsh_dup" ->
      """SELECT vec_id AS id_a, vec_id + 10000 AS id_b, 1.0::DOUBLE AS cosine
         FROM embeddings WHERE vec_id < 20 ORDER BY id_a, id_b""",
    // e4: fixture oracle from an independent Python Lloyd's — see
    // FixtureOracles (merged below). e6: the probe with fixed centroids is
    // fully SQL-reproducible.
    "e6_ivf_probe" ->
      """WITH c AS (SELECT vec_id::INT AS centroid_id, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < 8),
           corpus_cell AS (
             SELECT vec_id, centroid_id AS cell FROM (
               SELECT e.vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings e, c) WHERE r = 1),
           query_cells AS (
             SELECT query_id, centroid_id AS cell FROM (
               SELECT q.vec_id AS query_id, c.centroid_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_distance(q.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings q, c WHERE q.vec_id < 3) WHERE r <= 2),
           scored AS (
             SELECT qc.query_id, cc.vec_id AS corpus_id,
               list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cos
             FROM query_cells qc JOIN corpus_cell cc ON cc.cell = qc.cell
             JOIN embeddings e ON e.vec_id = cc.vec_id
             JOIN embeddings q ON q.vec_id = qc.query_id
             WHERE cc.vec_id <> qc.query_id),
           ranked AS (SELECT query_id, corpus_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
             FROM scored)
         SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank::INT AS rank
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    // w8: the at-rest epoch-union search must equal the in-memory probe —
    // e6's oracle verbatim (same fixed centroids, same ranking contract)
    // w30: w8's probe chain with the anchor's label carried through the
    // query_cells CTE and the disequality applied to the probed candidates
    "w30_ivf_hard_negatives" ->
      """WITH c AS (SELECT vec_id::INT AS centroid_id, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < 8),
           corpus_cell AS (
             SELECT vec_id, centroid_id AS cell FROM (
               SELECT e.vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings e, c) WHERE r = 1),
           query_cells AS (
             SELECT query_id, ql, centroid_id AS cell FROM (
               SELECT q.vec_id AS query_id, q.label AS ql, c.centroid_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_distance(q.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings q, c WHERE q.vec_id < 5) WHERE r <= 2),
           scored AS (
             SELECT qc.query_id, cc.vec_id AS corpus_id,
               list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cos
             FROM query_cells qc JOIN corpus_cell cc ON cc.cell = qc.cell
             JOIN embeddings e ON e.vec_id = cc.vec_id
             JOIN embeddings q ON q.vec_id = qc.query_id
             WHERE cc.vec_id <> qc.query_id AND e.label <> qc.ql),
           ranked AS (SELECT query_id, corpus_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, corpus_id) AS rank
             FROM scored)
         SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    // w36: w30's probe chain + the per-anchor probed-cell hardest-
    // positive threshold (max same-label cos), strict margin, ranked
    // after the filter — e35's semantics over the at-rest candidates
    "w36_ivf_semihard" ->
      """WITH c AS (SELECT vec_id::INT AS centroid_id, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < 8),
           corpus_cell AS (
             SELECT vec_id, centroid_id AS cell FROM (
               SELECT e.vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings e, c) WHERE r = 1),
           query_cells AS (
             SELECT query_id, ql, centroid_id AS cell FROM (
               SELECT q.vec_id AS query_id, q.label AS ql, c.centroid_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_distance(q.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings q, c WHERE q.vec_id < 5) WHERE r <= 2),
           cand AS (
             SELECT qc.query_id, qc.ql, cc.vec_id AS corpus_id, e.label AS cl,
               list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cos
             FROM query_cells qc JOIN corpus_cell cc ON cc.cell = qc.cell
             JOIN embeddings e ON e.vec_id = cc.vec_id
             JOIN embeddings q ON q.vec_id = qc.query_id
             WHERE cc.vec_id <> qc.query_id),
           pos AS (SELECT query_id, max(cos) AS pc FROM cand
             WHERE cl = ql GROUP BY 1),
           r AS (SELECT cand.query_id, corpus_id, cos,
               row_number() OVER (PARTITION BY cand.query_id
                 ORDER BY cos DESC, corpus_id) AS rank
             FROM cand JOIN pos ON pos.query_id = cand.query_id
             WHERE cl <> ql AND cos < pc)
         SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    // e37: w30's probe chain run TWICE over the candidates — label
    // equality (r=1 → hardest positive) and disequality (rank ≤ 3 →
    // negatives) — joined per anchor; no-positive anchors emit nothing
    "e37_triplets_at_rest" ->
      """WITH c AS (SELECT vec_id::INT AS centroid_id, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < 8),
           corpus_cell AS (
             SELECT vec_id, centroid_id AS cell FROM (
               SELECT e.vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings e, c) WHERE r = 1),
           query_cells AS (
             SELECT query_id, ql, centroid_id AS cell FROM (
               SELECT q.vec_id AS query_id, q.label AS ql, c.centroid_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_distance(q.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings q, c WHERE q.vec_id < 5) WHERE r <= 2),
           cand AS (
             SELECT qc.query_id, qc.ql, cc.vec_id AS corpus_id, e.label AS cl,
               list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cos
             FROM query_cells qc JOIN corpus_cell cc ON cc.cell = qc.cell
             JOIN embeddings e ON e.vec_id = cc.vec_id
             JOIN embeddings q ON q.vec_id = qc.query_id
             WHERE cc.vec_id <> qc.query_id),
           pos AS (SELECT query_id, corpus_id AS pos_id, cos AS pc FROM (
               SELECT query_id, corpus_id, cos,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, corpus_id) AS r
               FROM cand WHERE cl = ql) WHERE r = 1),
           neg AS (SELECT query_id, corpus_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, corpus_id) AS rank
             FROM cand WHERE cl <> ql)
         SELECT n.query_id AS anchor_id, p.pos_id,
           round(p.pc, 6) AS pos_cos, n.corpus_id AS neg_id,
           round(n.cos, 6) AS neg_cos, n.rank
         FROM neg n JOIN pos p ON p.query_id = n.query_id
         WHERE n.rank <= 3 ORDER BY anchor_id, rank""",
    // d104: d18's prefix-sum packing replay + per-covered-block span
    // arithmetic (unnest over range(bf, bl+1), clamped to the block)
    "d104_attention_spans" ->
      """WITH c AS (
           SELECT doc_id,
             len(list_filter(regexp_split_to_array(trim(text), '\s+'),
               t -> length(t) > 0))::BIGINT AS n_tokens
           FROM documents),
         o AS (
           SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS start_offset
           FROM c),
         b AS (
           SELECT doc_id, n_tokens, start_offset,
             (start_offset // 512)::BIGINT AS bf,
             ((start_offset + n_tokens - 1) // 512)::BIGINT AS bl
           FROM o WHERE n_tokens > 0),
         e AS (
           SELECT doc_id, n_tokens, start_offset,
             unnest(range(bf, bl + 1)) AS block_id
           FROM b)
         SELECT block_id, doc_id,
           GREATEST(0, start_offset - block_id * 512)::BIGINT AS span_start,
           LEAST(512, start_offset + n_tokens - block_id * 512)::BIGINT
             AS span_end
         FROM e ORDER BY block_id, doc_id""",
    // d105: byte-exact crop replay — integer // for ceil(2n/3) =
    // (2n+2)//3, 1-based inclusive list slices mirror slice()
    "d105_contrastive_views" ->
      """WITH t AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
               x -> length(x) > 0) AS w
           FROM documents),
         s AS (SELECT doc_id, len(w) AS n, ((2 * len(w) + 2) // 3) AS c, w
           FROM t WHERE len(w) >= 3)
         SELECT doc_id, n::BIGINT AS n_tokens,
           (2 * c - n)::BIGINT AS n_overlap,
           md5(array_to_string(w[1:c], ' ')) AS view_a_md5,
           md5(array_to_string(w[n-c+1:n], ' ')) AS view_b_md5
         FROM s ORDER BY doc_id""",
    // d102: window replay of the struct-max/min pair pick — chosen by
    // (reward DESC, id DESC), rejected by (reward ASC, id ASC), the
    // lexicographic tiebreak the struct aggregation implements
    "d102_dpo_pairs" ->
      """WITH t AS (SELECT doc_id, doc_id % 97 AS prompt_id,
             len(list_distinct(list_filter(
               regexp_split_to_array(trim(text), '\s+'),
               x -> length(x) > 0)))::BIGINT * 1000 + n_chars AS reward
           FROM documents),
         ch AS (SELECT prompt_id, doc_id, reward FROM (
             SELECT prompt_id, doc_id, reward, row_number() OVER (
               PARTITION BY prompt_id ORDER BY reward DESC, doc_id DESC) AS r
             FROM t) WHERE r = 1),
         rj AS (SELECT prompt_id, doc_id, reward FROM (
             SELECT prompt_id, doc_id, reward, row_number() OVER (
               PARTITION BY prompt_id ORDER BY reward, doc_id) AS r
             FROM t) WHERE r = 1),
         n AS (SELECT prompt_id, count(*)::BIGINT AS n_cands FROM t GROUP BY 1)
         SELECT ch.prompt_id, ch.doc_id AS chosen_id, rj.doc_id AS rejected_id,
           ch.reward AS chosen_score, rj.reward AS rejected_score,
           ch.reward - rj.reward AS margin, n.n_cands
         FROM ch JOIN rj USING (prompt_id) JOIN n USING (prompt_id)
         WHERE n.n_cands >= 2 AND ch.reward > rj.reward
         ORDER BY ch.prompt_id""",
    // d103: byte-exact render replay — chr(10) for the tag newlines,
    // 1-based inclusive list slices mirror slice(), both offsets re-
    // derived from the rebuilt prefix/assistant strings
    "d103_chat_loss_mask" ->
      """WITH t AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
               x -> length(x) > 0) AS w
           FROM documents),
         s AS (SELECT doc_id, len(w) AS n, ((len(w) + 1) // 2) AS c, w
           FROM t WHERE len(w) >= 2),
         r AS (SELECT doc_id, n,
             '<|user|>' || chr(10) || array_to_string(w[1:c], ' ') ||
               chr(10) || '<|assistant|>' || chr(10) AS prefix,
             array_to_string(w[c+1:n], ' ') AS atext
           FROM s)
         SELECT doc_id, n::BIGINT AS n_tokens,
           length(prefix)::BIGINT AS loss_start,
           (length(prefix) + length(atext))::BIGINT AS loss_end,
           md5(prefix || atext || '<|end|>') AS render_md5
         FROM r ORDER BY doc_id""",
    // d100: byte-exact FIM replay — same md5 rate-gate, same integer
    // (// not /: DuckDB float-divides with /) pivots, same PSM assembly
    "d100_fim_split" ->
      """WITH f AS (SELECT doc_id, text, length(text) AS n,
             (length(text) // 3)::INT AS p1,
             (length(text) * 2 // 3)::INT AS p2,
             substr(md5(doc_id::VARCHAR), 1, 1) < '8' AS applied
           FROM documents)
         SELECT doc_id, applied AS fim_applied,
           md5(CASE WHEN applied THEN substr(text, 1, p1) ELSE '' END)
             AS prefix_md5,
           md5(CASE WHEN applied THEN substr(text, p1 + 1, p2 - p1) ELSE '' END)
             AS middle_md5,
           md5(CASE WHEN applied THEN substr(text, p2 + 1, n - p2) ELSE '' END)
             AS suffix_md5,
           md5(CASE WHEN applied THEN
                 '<fim_prefix>' || substr(text, 1, p1) ||
                 '<fim_suffix>' || substr(text, p2 + 1, n - p2) ||
                 '<fim_middle>' || substr(text, p1 + 1, p2 - p1)
               ELSE text END) AS example_md5
         FROM f ORDER BY doc_id""",
    // d101: zipped-unnest word rows, same block/phase arithmetic, ordered
    // string_agg rebuilds encoder/target byte-for-byte (0-based word
    // index = idx-1; NULL pieces drop like the Spark-side filter)
    "d101_span_corruption" ->
      """WITH w AS (SELECT doc_id,
             (('0x' || substr(md5(doc_id::VARCHAR), 1, 1))::UBIGINT % 6)::BIGINT AS o,
             string_split_regex(trim(text), '\s+') AS words
           FROM documents WHERE length(trim(text)) > 0),
         tok AS (SELECT doc_id, o,
             unnest(generate_series(1, len(words))) AS idx,
             unnest(words) AS word
           FROM w),
         m AS (SELECT doc_id, o, idx, word,
             (idx - 1) % 8 AS p, (idx - 1) // 8 AS blk
           FROM tok),
         enc AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY idx) AS t FROM (
             SELECT doc_id, idx,
               CASE WHEN p = o THEN '<extra_id_' || blk || '>'
                    WHEN p > o AND p <= o + 2 THEN NULL
                    ELSE word END AS piece FROM m)
           WHERE piece IS NOT NULL GROUP BY doc_id),
         tgt AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY idx) AS t FROM (
             SELECT doc_id, idx,
               CASE WHEN p = o THEN '<extra_id_' || blk || '> ' || word
                    WHEN p > o AND p <= o + 2 THEN word END AS piece FROM m)
           WHERE piece IS NOT NULL GROUP BY doc_id),
         st AS (SELECT doc_id, count(*) AS n_words,
             count(*) FILTER (p = o) AS n_spans,
             count(*) FILTER (p >= o AND p <= o + 2) AS n_masked
           FROM m GROUP BY doc_id)
         SELECT st.doc_id, n_words, n_spans, n_masked,
           md5(coalesce(enc.t, '')) AS enc_md5,
           md5(coalesce(tgt.t, '')) AS tgt_md5
         FROM st LEFT JOIN enc USING (doc_id) LEFT JOIN tgt USING (doc_id)
         ORDER BY doc_id""",
    // w38: e6's probe chain under the REFIT quantizer — 12 centroids,
    // every corpus vector re-routed, queries probing the new cells
    "w38_ivf_refit" ->
      """WITH c AS (SELECT vec_id::INT AS centroid_id, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < 12),
           corpus_cell AS (
             SELECT vec_id, centroid_id AS cell FROM (
               SELECT e.vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings e, c) WHERE r = 1),
           query_cells AS (
             SELECT query_id, centroid_id AS cell FROM (
               SELECT q.vec_id AS query_id, c.centroid_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_distance(q.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings q, c WHERE q.vec_id < 5) WHERE r <= 2),
           scored AS (
             SELECT qc.query_id, cc.vec_id AS corpus_id,
               list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cos
             FROM query_cells qc JOIN corpus_cell cc ON cc.cell = qc.cell
             JOIN embeddings e ON e.vec_id = cc.vec_id
             JOIN embeddings q ON q.vec_id = qc.query_id
             WHERE cc.vec_id <> qc.query_id),
           ranked AS (SELECT query_id, corpus_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, corpus_id) AS rank
             FROM scored)
         SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    // w33: w8's probe chain over the corpus MINUS the tombstoned ids —
    // the post-compaction index must answer as if they never landed
    "w33_ivf_tombstones" ->
      """WITH c AS (SELECT vec_id::INT AS centroid_id, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < 8),
           corpus_cell AS (
             SELECT vec_id, centroid_id AS cell FROM (
               SELECT e.vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings e, c WHERE e.vec_id % 13 <> 0) WHERE r = 1),
           query_cells AS (
             SELECT query_id, centroid_id AS cell FROM (
               SELECT q.vec_id AS query_id, c.centroid_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_distance(q.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings q, c WHERE q.vec_id < 5) WHERE r <= 2),
           scored AS (
             SELECT qc.query_id, cc.vec_id AS corpus_id,
               list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cos
             FROM query_cells qc JOIN corpus_cell cc ON cc.cell = qc.cell
             JOIN embeddings e ON e.vec_id = cc.vec_id
             JOIN embeddings q ON q.vec_id = qc.query_id
             WHERE cc.vec_id <> qc.query_id),
           ranked AS (SELECT query_id, corpus_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, corpus_id) AS rank
             FROM scored)
         SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    // w32: w8's probe chain, corpus = the standing side (vec_id >= 10),
    // probes = arrivals, top-1 with the rounded-cosine dup threshold
    "w32_ivf_semdedup_incr" ->
      """WITH c AS (SELECT vec_id::INT AS centroid_id, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < 8),
           corpus_cell AS (
             SELECT vec_id, centroid_id AS cell FROM (
               SELECT e.vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings e, c WHERE e.vec_id >= 10) WHERE r = 1),
           query_cells AS (
             SELECT query_id, centroid_id AS cell FROM (
               SELECT q.vec_id AS query_id, c.centroid_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_distance(q.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings q, c WHERE q.vec_id < 10) WHERE r <= 2),
           scored AS (
             SELECT qc.query_id, cc.vec_id AS corpus_id,
               list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cos
             FROM query_cells qc JOIN corpus_cell cc ON cc.cell = qc.cell
             JOIN embeddings e ON e.vec_id = cc.vec_id
             JOIN embeddings q ON q.vec_id = qc.query_id),
           ranked AS (SELECT query_id, corpus_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, corpus_id) AS r
             FROM scored)
         SELECT query_id, corpus_id AS dup_of, round(cos, 6) AS cosine,
           round(cos, 6) >= 0.38 AS is_dup
         FROM ranked WHERE r = 1 ORDER BY query_id""",
    // w31: w8's probe chain with the derived quality payload filtered at
    // the candidate stage — the general payload-predicate form
    "w31_ivf_filtered_probe" ->
      """WITH c AS (SELECT vec_id::INT AS centroid_id, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < 8),
           corpus_cell AS (
             SELECT vec_id, centroid_id AS cell FROM (
               SELECT e.vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings e, c) WHERE r = 1),
           query_cells AS (
             SELECT query_id, centroid_id AS cell FROM (
               SELECT q.vec_id AS query_id, c.centroid_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_distance(q.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings q, c WHERE q.vec_id < 5) WHERE r <= 2),
           scored AS (
             SELECT qc.query_id, cc.vec_id AS corpus_id,
               list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cos
             FROM query_cells qc JOIN corpus_cell cc ON cc.cell = qc.cell
             JOIN embeddings e ON e.vec_id = cc.vec_id
             JOIN embeddings q ON q.vec_id = qc.query_id
             WHERE cc.vec_id <> qc.query_id AND (e.vec_id % 7) >= 4),
           ranked AS (SELECT query_id, corpus_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, corpus_id) AS rank
             FROM scored)
         SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    "w8_stream_ivf" ->
      """WITH c AS (SELECT vec_id::INT AS centroid_id, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < 8),
           corpus_cell AS (
             SELECT vec_id, centroid_id AS cell FROM (
               SELECT e.vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings e, c) WHERE r = 1),
           query_cells AS (
             SELECT query_id, centroid_id AS cell FROM (
               SELECT q.vec_id AS query_id, c.centroid_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_distance(q.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings q, c WHERE q.vec_id < 3) WHERE r <= 2),
           scored AS (
             SELECT qc.query_id, cc.vec_id AS corpus_id,
               list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cos
             FROM query_cells qc JOIN corpus_cell cc ON cc.cell = qc.cell
             JOIN embeddings e ON e.vec_id = cc.vec_id
             JOIN embeddings q ON q.vec_id = qc.query_id
             WHERE cc.vec_id <> qc.query_id),
           ranked AS (SELECT query_id, corpus_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
             FROM scored)
         SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank::INT AS rank
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    "e12_ann_recall" ->
      """WITH c AS (SELECT vec_id::INT AS centroid_id, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < 8),
           exact AS (
             SELECT query_id, corpus_id FROM (
               SELECT q.vec_id AS query_id, e.vec_id AS corpus_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
                     q.embedding::DOUBLE[]) DESC, e.vec_id) AS rank
               FROM embeddings e, embeddings q
               WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id) WHERE rank <= 10),
           corpus_cell AS (
             SELECT vec_id, centroid_id AS cell FROM (
               SELECT e.vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings e, c) WHERE r = 1),
           query_cells AS (
             SELECT query_id, centroid_id AS cell FROM (
               SELECT q.vec_id AS query_id, c.centroid_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_distance(q.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings q, c WHERE q.vec_id < 5) WHERE r <= 2),
           approx AS (
             SELECT query_id, corpus_id FROM (
               SELECT qc.query_id, cc.vec_id AS corpus_id,
                 row_number() OVER (PARTITION BY qc.query_id
                   ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
                     q.embedding::DOUBLE[]) DESC, cc.vec_id) AS rank
               FROM query_cells qc JOIN corpus_cell cc ON cc.cell = qc.cell
               JOIN embeddings e ON e.vec_id = cc.vec_id
               JOIN embeddings q ON q.vec_id = qc.query_id
               WHERE cc.vec_id <> qc.query_id) WHERE rank <= 10),
           f AS (SELECT x.query_id, count(*) AS n_found
             FROM exact x JOIN approx a
               ON a.query_id = x.query_id AND a.corpus_id = x.corpus_id
             GROUP BY 1)
         SELECT x.query_id AS query_id, count(*) AS n_exact,
           coalesce(any_value(f.n_found), 0) AS n_found,
           round(coalesce(any_value(f.n_found), 0)::DOUBLE / count(*), 4) AS recall
         FROM exact x LEFT JOIN f ON f.query_id = x.query_id
         GROUP BY x.query_id ORDER BY x.query_id""",
    // e34: brute-force cosine with the per-anchor label disequality —
    // ties by (cos DESC, corpus_id), the aggregator contract
    "e34_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, label AS ql,
             embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 5),
         sc AS (SELECT q.query_id, e.vec_id AS corpus_id,
             list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cos
           FROM embeddings e, q
           WHERE e.vec_id <> q.query_id AND e.label <> q.ql),
         r AS (SELECT query_id, corpus_id, cos,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, corpus_id) AS rank
           FROM sc)
         SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    // e35: e34's chain with the per-anchor hardest-positive threshold —
    // negatives must sit strictly under max same-label cosine
    "e35_semihard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, label AS ql,
             embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 5),
         pos AS (SELECT q.query_id,
             max(list_cosine_similarity(e.embedding::DOUBLE[], q.qv)) AS pc
           FROM embeddings e, q
           WHERE e.vec_id <> q.query_id AND e.label = q.ql GROUP BY 1),
         sc AS (SELECT q.query_id, e.vec_id AS corpus_id,
             list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cos,
             p.pc
           FROM embeddings e, q JOIN pos p ON p.query_id = q.query_id
           WHERE e.vec_id <> q.query_id AND e.label <> q.ql),
         r AS (SELECT query_id, corpus_id, cos,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, corpus_id) AS rank
           FROM sc WHERE cos < pc)
         SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    // e36: e34's negatives joined onto the hardest same-label positive
    // (row_number r=1 by cos desc, id) — the FaceNet triplet rows
    "e36_triplet_mining" ->
      """WITH q AS (SELECT vec_id AS anchor_id, label AS ql,
             embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 5),
         ps AS (SELECT q.anchor_id, e.vec_id AS corpus_id,
             list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cos
           FROM embeddings e, q
           WHERE e.vec_id <> q.anchor_id AND e.label = q.ql),
         pos AS (SELECT anchor_id, corpus_id AS pos_id, cos AS pc FROM (
             SELECT anchor_id, corpus_id, cos,
               row_number() OVER (PARTITION BY anchor_id
                 ORDER BY cos DESC, corpus_id) AS r
             FROM ps) WHERE r = 1),
         ns AS (SELECT q.anchor_id, e.vec_id AS corpus_id,
             list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cos
           FROM embeddings e, q
           WHERE e.vec_id <> q.anchor_id AND e.label <> q.ql),
         negs AS (SELECT anchor_id, corpus_id AS neg_id, cos AS nc, rank FROM (
             SELECT anchor_id, corpus_id, cos,
               row_number() OVER (PARTITION BY anchor_id
                 ORDER BY cos DESC, corpus_id) AS rank
             FROM ns) WHERE rank <= 3)
         SELECT n.anchor_id, p.pos_id, round(p.pc, 6) AS pos_cos,
           n.neg_id, round(n.nc, 6) AS neg_cos, n.rank
         FROM negs n JOIN pos p USING (anchor_id)
         ORDER BY anchor_id, rank""",
    // e29: e6's probe oracle with the metadata predicate on the corpus side
    "e29_filtered_ann" ->
      """WITH c AS (SELECT vec_id::INT AS centroid_id, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < 8),
           corpus_cell AS (
             SELECT vec_id, centroid_id AS cell FROM (
               SELECT e.vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings e, c
               WHERE e.label IN (1, 3, 5, 7, 9)) WHERE r = 1),
           query_cells AS (
             SELECT query_id, centroid_id AS cell FROM (
               SELECT q.vec_id AS query_id, c.centroid_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_distance(q.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings q, c WHERE q.vec_id < 3) WHERE r <= 2),
           scored AS (
             SELECT qc.query_id, cc.vec_id AS corpus_id,
               list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cos
             FROM query_cells qc JOIN corpus_cell cc ON cc.cell = qc.cell
             JOIN embeddings e ON e.vec_id = cc.vec_id
             JOIN embeddings q ON q.vec_id = qc.query_id
             WHERE cc.vec_id <> qc.query_id),
           ranked AS (SELECT query_id, corpus_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, corpus_id) AS rank
             FROM scored)
         SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank
         FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""",
    // e28: e12's oracle with the probe budget as a swept dimension
    "e28_nprobe_sweep" ->
      """WITH c AS (SELECT vec_id::INT AS centroid_id, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < 8),
           probes AS (SELECT unnest([1, 2, 4]) AS np),
           exact AS (
             SELECT query_id, corpus_id FROM (
               SELECT q.vec_id AS query_id, e.vec_id AS corpus_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
                     q.embedding::DOUBLE[]) DESC, e.vec_id) AS rank
               FROM embeddings e, embeddings q
               WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id) WHERE rank <= 10),
           corpus_cell AS (
             SELECT vec_id, centroid_id AS cell FROM (
               SELECT e.vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings e, c) WHERE r = 1),
           query_cells AS (
             SELECT query_id, centroid_id AS cell, r FROM (
               SELECT q.vec_id AS query_id, c.centroid_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_distance(q.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
               FROM embeddings q, c WHERE q.vec_id < 5) WHERE r <= 4),
           approx AS (
             SELECT np, query_id, corpus_id FROM (
               SELECT p.np, qc.query_id, cc.vec_id AS corpus_id,
                 row_number() OVER (PARTITION BY p.np, qc.query_id
                   ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
                     q.embedding::DOUBLE[]) DESC, cc.vec_id) AS rank
               FROM probes p JOIN query_cells qc ON qc.r <= p.np
               JOIN corpus_cell cc ON cc.cell = qc.cell
               JOIN embeddings e ON e.vec_id = cc.vec_id
               JOIN embeddings q ON q.vec_id = qc.query_id
               WHERE cc.vec_id <> qc.query_id) WHERE rank <= 10),
           f AS (SELECT a.np, x.query_id, count(*) AS n_found
             FROM exact x JOIN approx a
               ON a.query_id = x.query_id AND a.corpus_id = x.corpus_id
             GROUP BY 1, 2)
         SELECT p.np::BIGINT AS n_probe, x.query_id AS query_id,
           count(*) AS n_exact,
           coalesce(any_value(f.n_found), 0) AS n_found,
           round(coalesce(any_value(f.n_found), 0)::DOUBLE / count(*), 4) AS recall
         FROM probes p CROSS JOIN exact x
         LEFT JOIN f ON f.np = p.np AND f.query_id = x.query_id
         GROUP BY p.np, x.query_id ORDER BY n_probe, query_id""",
    "j1_range_join" ->
      """SELECT o.o_orderkey, count(*) AS n_events, round(sum(e.value), 2) AS total_value
         FROM (SELECT event_id, user_id, value,
             (DATE '1995-01-01' + (event_id % 2400)::INT) AS edate FROM events) e
         JOIN orders o ON o.o_custkey = e.user_id
           AND e.edate >= o.o_orderdate::DATE
           AND e.edate <= o.o_orderdate::DATE + 30
         GROUP BY 1 ORDER BY o_orderkey""",
    "a1_asof_join" ->
      """SELECT e.event_id, ord.o_orderkey, ord.o_totalprice
         FROM (SELECT event_id, user_id,
             (DATE '1995-01-01' + (event_id % 2400)::INT)::TIMESTAMP AS edate
           FROM events) e
         LEFT JOIN LATERAL (
           SELECT o_orderkey, o_totalprice FROM orders o
           WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.edate
           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) ord ON true
         ORDER BY event_id""",
    "a5_asof_stream" ->
      // the streaming fold is exactly batch asofBackward under watermark-
      // respecting arrival order, so a1's LATERAL oracle applies verbatim
      """SELECT e.event_id, ord.o_orderkey, ord.o_totalprice
         FROM (SELECT event_id, user_id,
             (DATE '1995-01-01' + (event_id % 2400)::INT)::TIMESTAMP AS edate
           FROM events) e
         LEFT JOIN LATERAL (
           SELECT o_orderkey, o_totalprice FROM orders o
           WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.edate
           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) ord ON true
         ORDER BY event_id""",
    "a2_asof_forward" ->
      """SELECT e.event_id, ord.o_orderkey, ord.o_totalprice
         FROM (SELECT event_id, user_id,
             (DATE '1995-01-01' + (event_id % 2400)::INT)::TIMESTAMP AS edate
           FROM events) e
         LEFT JOIN LATERAL (
           SELECT o_orderkey, o_totalprice FROM orders o
           WHERE o.o_custkey = e.user_id AND o.o_orderdate >= e.edate
           ORDER BY o.o_orderdate, o.o_orderkey LIMIT 1) ord ON true
         ORDER BY event_id""",
    "a4_asof_tolerance" ->
      """SELECT e.event_id,
           CASE WHEN date_diff('day', ord.o_orderdate::DATE, e.edate::DATE) <= 45
             THEN ord.o_orderkey END AS o_orderkey,
           CASE WHEN date_diff('day', ord.o_orderdate::DATE, e.edate::DATE) <= 45
             THEN ord.o_totalprice END AS o_totalprice
         FROM (SELECT event_id, user_id,
             (DATE '1995-01-01' + (event_id % 2400)::INT)::TIMESTAMP AS edate
           FROM events) e
         LEFT JOIN LATERAL (
           SELECT o_orderkey, o_totalprice, o_orderdate FROM orders o
           WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.edate
           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) ord ON true
         ORDER BY event_id""",
    "a3_asof_nearest" ->
      """SELECT e.event_id, ord.o_orderkey, ord.o_totalprice, ord.asof_dir
         FROM (SELECT event_id, user_id,
             (DATE '1995-01-01' + (event_id % 2400)::INT)::TIMESTAMP AS edate
           FROM events) e
         LEFT JOIN LATERAL (
           SELECT o_orderkey, o_totalprice,
             CASE WHEN o.o_orderdate <= e.edate THEN 'backward'
               ELSE 'forward' END AS asof_dir
           FROM orders o
           WHERE o.o_custkey = e.user_id
           ORDER BY abs(epoch(o.o_orderdate) - epoch(e.edate)),
             (o.o_orderdate > e.edate),
             CASE WHEN o.o_orderdate <= e.edate THEN -o.o_orderkey
               ELSE o.o_orderkey END
           LIMIT 1) ord ON true
         ORDER BY event_id""",
    // m1/m4: the Spark side decodes REAL PNG/JPEG bytes with javax.imageio;
    // the oracle recomputes what the deterministic image generator drew
    // (dims + per-channel sums) from pure arithmetic — fully independent of
    // any codec. Pixel sums are PNG-only (lossless round-trip).
    "m1_media_decode" ->
      """SELECT doc_id AS media_id,
         (16 + (doc_id % 48))::INT AS width,
         (16 + ((doc_id // 7) % 40))::INT AS height,
         CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
         FROM documents ORDER BY media_id""",
    // m15: m7's closed-form dims + byte-exact splice replay (1-based
    // inclusive list slices; '||' int-to-string casts mirror concat)
    "m15_interleaved_assembly" ->
      """WITH t AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
               x -> length(x) > 0) AS w
           FROM documents WHERE doc_id < 200),
         s AS (SELECT doc_id, len(w) AS n,
             LEAST(len(w), 1 + (doc_id % 7))::INT AS p,
             (16 + ((doc_id*2) % 48))::INT AS width,
             (16 + (((doc_id*2) // 7) % 40))::INT AS height, w
           FROM t)
         SELECT doc_id, n::BIGINT AS n_tokens, p::BIGINT AS insert_pos,
           width, height,
           md5(array_to_string(list_concat(list_concat(w[1:p],
             ['<image ' || width || 'x' || height || '>']), w[p+1:n]), ' '))
             AS seq_md5
         FROM s ORDER BY doc_id""",
    "m7_binary_files" ->
      """SELECT doc_id AS media_id,
         (16 + ((doc_id*2) % 48))::INT AS width,
         (16 + (((doc_id*2) // 7) % 40))::INT AS height,
         'png' AS format
         FROM documents WHERE doc_id < 200 ORDER BY media_id""",
    "m5_audio_decode" ->
      """WITH s AS (SELECT d.doc_id, ((d.doc_id*31 + i.v*17) % 65536) - 32768 AS smp
           FROM documents d,
             LATERAL (SELECT unnest(range(0, (256 + (d.doc_id % 512))::INT)) AS v) i)
         SELECT doc_id AS media_id,
           (CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 11025
              WHEN 2 THEN 16000 ELSE 22050 END)::INT AS sample_rate,
           1::INT AS channels,
           count(*)::BIGINT AS n_samples,
           max(abs(smp))::BIGINT AS peak,
           sum(abs(smp))::BIGINT AS sum_abs
         FROM s GROUP BY 1 ORDER BY media_id""",
    "m6_audio_energy" ->
      """WITH s AS (SELECT d.doc_id, i.v AS i,
             ((d.doc_id*31 + i.v*17) % 65536) - 32768 AS smp
           FROM documents d,
             LATERAL (SELECT unnest(range(0, (256 + (d.doc_id % 512))::INT)) AS v) i)
         SELECT doc_id AS media_id, (i // 128)::INT AS win_idx,
           count(*)::BIGINT AS n_samples, sum(smp*smp)::BIGINT AS sum_sq
         FROM s GROUP BY 1, 2 ORDER BY media_id, win_idx""",
    "m9_audio_fingerprint" ->
      """WITH s AS (SELECT d.doc_id, i.v AS i,
             ((d.doc_id*31 + i.v*17) % 65536) - 32768 AS smp
           FROM documents d,
             LATERAL (SELECT unnest(range(0, (256 + (d.doc_id % 512))::INT)) AS v) i),
           w AS (SELECT doc_id, (i // 64)::INT AS win_idx, sum(smp*smp)::BIGINT AS e
             FROM s GROUP BY 1, 2),
           fpj AS (SELECT a.doc_id,
               sum(CASE WHEN b.e > a.e AND a.win_idx < 64
                 THEN 1::BIGINT << a.win_idx ELSE 0::BIGINT END) AS fp
             FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.win_idx = a.win_idx + 1
             GROUP BY 1),
           nw AS (SELECT doc_id, count(*)::INT AS n_windows FROM w GROUP BY 1)
         SELECT nw.doc_id AS media_id, nw.n_windows, coalesce(f.fp, 0)::BIGINT AS fp
         FROM nw LEFT JOIN fpj f USING (doc_id) ORDER BY media_id""",
    "e23_hybrid_rrf" ->
      """WITH t AS (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                 x -> length(x) > 0) AS toks FROM documents),
           st AS (SELECT count(*)::DOUBLE AS n,
               avg(len(toks)::DOUBLE) AS avgdl FROM t),
           h AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM (
               SELECT doc_id, len(toks)::DOUBLE AS dl, unnest(toks) AS term FROM t)
             WHERE term IN ('spark', 'hash', 'window') GROUP BY 1, 2, 3),
           df AS (SELECT term, count(*)::DOUBLE AS df FROM h GROUP BY 1),
           sc AS (SELECT h.doc_id,
               ln(1::DOUBLE + (st.n - df.df + 0.5) / (df.df + 0.5))
                 * h.tf * 2.2::DOUBLE
                 / (h.tf + 1.2::DOUBLE * (1::DOUBLE - 0.75 + (0.75::DOUBLE * h.dl) / st.avgdl))
                 AS contrib
             FROM h JOIN df USING (term), st),
           bm AS (SELECT doc_id, round(sum(contrib), 6) AS s FROM sc GROUP BY 1),
           lex AS (SELECT doc_id, rnk AS lex_rank FROM (
               SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rnk
               FROM bm) WHERE rnk <= 100),
           q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
           ann AS (SELECT doc_id, rnk AS ann_rank FROM (
               SELECT e.vec_id AS doc_id,
                 row_number() OVER (ORDER BY
                   list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
                   e.vec_id) AS rnk
               FROM embeddings e, q WHERE e.vec_id <> 0) WHERE rnk <= 100)
         SELECT doc_id,
           coalesce(l.lex_rank, 0)::INT AS lex_rank,
           coalesce(a.ann_rank, 0)::INT AS ann_rank,
           round(
             (CASE WHEN l.lex_rank IS NOT NULL
                THEN 1.0::DOUBLE / (l.lex_rank + 60.0::DOUBLE) ELSE 0::DOUBLE END)
             + (CASE WHEN a.ann_rank IS NOT NULL
                THEN 1.0::DOUBLE / (a.ann_rank + 60.0::DOUBLE) ELSE 0::DOUBLE END),
             6) AS rrf
         FROM lex l FULL OUTER JOIN ann a USING (doc_id)
         ORDER BY doc_id""",
    "d56_vocab_coverage" ->
      """WITH t AS (SELECT unnest(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0)) AS token FROM documents),
           c AS (SELECT token, count(*)::BIGINT AS cnt FROM t GROUP BY 1),
           tot AS (SELECT sum(cnt)::DOUBLE AS total FROM c),
           r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rnk
             FROM c),
           cum AS (SELECT rnk, sum(cnt) OVER (ORDER BY rnk)::DOUBLE AS cum
             FROM r)
         SELECT ks.k::INT AS k, round(cum.cum / tot.total, 6) AS coverage
         FROM (VALUES (1), (2), (4), (8), (16), (32)) AS ks(k)
         JOIN cum ON cum.rnk = LEAST(ks.k, (SELECT max(rnk) FROM cum)), tot
         ORDER BY k""",
    "d54_bm25" ->
      """WITH t AS (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                 x -> length(x) > 0) AS toks FROM documents),
           st AS (SELECT count(*)::DOUBLE AS n,
               avg(len(toks)::DOUBLE) AS avgdl FROM t),
           h AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM (
               SELECT doc_id, len(toks)::DOUBLE AS dl, unnest(toks) AS term FROM t)
             WHERE term IN ('spark', 'hash', 'window') GROUP BY 1, 2, 3),
           df AS (SELECT term, count(*)::DOUBLE AS df FROM h GROUP BY 1),
           sc AS (SELECT h.doc_id,
               ln(1::DOUBLE + (st.n - df.df + 0.5) / (df.df + 0.5))
                 * h.tf * 2.2::DOUBLE
                 / (h.tf + 1.2::DOUBLE * (1::DOUBLE - 0.75 + (0.75::DOUBLE * h.dl) / st.avgdl))
                 AS contrib
             FROM h JOIN df USING (term), st)
         SELECT doc_id, count(*)::BIGINT AS n_hit_terms,
           round(sum(contrib), 6) AS score
         FROM sc GROUP BY 1 ORDER BY doc_id""",
    "d52_dedup_savings" ->
      """WITH d AS (SELECT doc_id, source, text, length(text)::BIGINT AS bytes
             FROM documents),
           surv AS (SELECT text, min_by(source, doc_id) AS source,
               min_by(bytes, doc_id) AS bytes
             FROM d GROUP BY text),
           k AS (SELECT source, count(*)::BIGINT AS n_kept,
               sum(bytes)::BIGINT AS kept_bytes FROM surv GROUP BY 1),
           a AS (SELECT source, count(*)::BIGINT AS n_docs,
               sum(bytes)::BIGINT AS total_bytes FROM d GROUP BY 1)
         SELECT a.source, a.n_docs, a.total_bytes, k.n_kept, k.kept_bytes,
           round(1.0::DOUBLE - k.kept_bytes::DOUBLE / a.total_bytes, 6) AS savings
         FROM a JOIN k USING (source) ORDER BY a.source""",
    // d51: shingle hashes are bijective with shingle strings (d13's proven
    // stance), so the fraction oracle runs on token-string 4-grams
    "d51_contamination_fraction" ->
      """WITH t AS (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                 x -> length(x) > 0) AS ltoks FROM documents),
           psh AS (SELECT DISTINCT unnest(list_distinct(
               CASE WHEN len(ltoks) - 3 <= 0 THEN [array_to_string(ltoks, ' ')]
                 ELSE list_transform(generate_series(1, len(ltoks) - 3),
                   i -> ltoks[i] || ' ' || ltoks[i+1] || ' ' || ltoks[i+2] || ' '
                     || ltoks[i+3]) END)) AS g
             FROM t WHERE doc_id % 31 = 0),
           csh AS (SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(ltoks) - 3 <= 0 THEN [array_to_string(ltoks, ' ')]
                 ELSE list_transform(generate_series(1, len(ltoks) - 3),
                   i -> ltoks[i] || ' ' || ltoks[i+1] || ' ' || ltoks[i+2] || ' '
                     || ltoks[i+3]) END)) AS g
             FROM t WHERE doc_id % 31 <> 0)
         SELECT c.doc_id, count(*)::BIGINT AS n_shingles,
           sum(CASE WHEN p.g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_contaminated,
           round(sum(CASE WHEN p.g IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS contamination
         FROM csh c LEFT JOIN psh p USING (g)
         GROUP BY c.doc_id ORDER BY c.doc_id""",
    "d50_boilerplate_matrix" ->
      """SELECT a.source AS source_a, b.source AS source_b, count(*)::BIGINT AS n_pairs
         FROM documents a JOIN documents b
           ON substr(a.text, 1, 80) = substr(b.text, 1, 80) AND a.doc_id < b.doc_id
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "e30_bm25_topk" ->
      """WITH dt AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS tk
           FROM documents),
         st AS (SELECT count(*)::DOUBLE AS n, avg(len(tk)::DOUBLE) AS avgdl
           FROM dt),
         qt AS (SELECT DISTINCT doc_id AS query_id, unnest(tk[1:6]) AS term
           FROM dt WHERE doc_id % 97 = 0),
         tok AS (SELECT doc_id, len(tk)::DOUBLE AS dl, unnest(tk) AS term
           FROM dt),
         tfr AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM tok
           WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
         dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tfr GROUP BY 1),
         sc AS (SELECT q.query_id, t.doc_id,
             round(sum(ln(1 + (st.n - f.df + 0.5) / (f.df + 0.5)) * t.tf
               * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / st.avgdl))),
               4) AS score
           FROM qt q JOIN tfr t USING (term) JOIN dfr f USING (term)
           CROSS JOIN st GROUP BY 1, 2),
         r AS (SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM sc)
         SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM r
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // d97: w8's assignment CTE + d95's integer allocation, tie order on
    // the cell as VARCHAR (matching largestRemainder's string-key ties)
    "d97_cluster_balance" ->
      """WITH c AS (SELECT vec_id::INT AS centroid_id, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < 8),
         cc AS (SELECT vec_id, centroid_id AS cell FROM (
             SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_distance(e.embedding::DOUBLE[], c.cv),
                   c.centroid_id) AS r
             FROM embeddings e, c) WHERE r = 1),
         cnt AS (SELECT cell, count(*) AS n FROM cc GROUP BY 1),
         w AS (SELECT cell, floor(sqrt(n::DOUBLE))::BIGINT AS wt FROM cnt),
         tot AS (SELECT sum(wt) AS tw FROM w),
         alloc AS (SELECT cell, (100*wt)//tw AS fl, (100*wt)%tw AS rem
           FROM w CROSS JOIN tot),
         fsum AS (SELECT sum(fl) AS fs FROM alloc),
         k AS (SELECT cell, fl + CASE WHEN row_number() OVER
               (ORDER BY rem DESC, cell::VARCHAR) <= 100 - fs
               THEN 1 ELSE 0 END AS ks
           FROM alloc CROSS JOIN fsum),
         ranked AS (SELECT vec_id, cell, row_number() OVER
             (PARTITION BY cell ORDER BY md5(vec_id::VARCHAR), vec_id)
             AS pick
           FROM cc)
         SELECT r.vec_id, r.cell::BIGINT AS cell, r.pick::BIGINT AS pick
         FROM ranked r JOIN k USING (cell) WHERE r.pick <= k.ks
         ORDER BY cell, pick""",
    // d96: DSIR replayed start to finish — same md5 bucket idiom, same
    // add-one smoothing, weight rounded to 4 before the (weight desc, id)
    // ranking
    "d96_dsir_select" ->
      """WITH dt AS (SELECT doc_id, lang,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS tk
           FROM documents),
         uni AS (SELECT doc_id, unnest(tk) AS g FROM dt),
         bi AS (SELECT doc_id, tk[i.v] || ' ' || tk[i.v + 1] AS g
           FROM dt, LATERAL (SELECT unnest(range(1, len(tk))) AS v) i),
         grams AS (SELECT doc_id,
             (('0x' || substr(md5(g), 1, 8))::UBIGINT % 256)::BIGINT AS b
           FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
         tgd AS (SELECT doc_id FROM dt WHERE lang = 'en'),
         tg AS (SELECT b FROM grams JOIN tgd USING (doc_id)),
         sc AS (SELECT b, count(*) AS c FROM grams GROUP BY 1),
         tc AS (SELECT b, count(*) AS c FROM tg GROUP BY 1),
         stot AS (SELECT count(*)::DOUBLE AS t FROM grams),
         ttot AS (SELECT count(*)::DOUBLE AS t FROM tg),
         buckets AS (SELECT unnest(range(0, 256))::BIGINT AS b),
         lr AS (SELECT buckets.b,
             ln((coalesce(tc.c, 0) + 1) / (ttot.t + 256))
               - ln((coalesce(sc.c, 0) + 1) / (stot.t + 256)) AS lr
           FROM buckets LEFT JOIN tc ON buckets.b = tc.b
             LEFT JOIN sc ON buckets.b = sc.b
             CROSS JOIN ttot CROSS JOIN stot),
         wt AS (SELECT doc_id, round(sum(lr.lr), 4) AS weight
           FROM grams JOIN lr USING (b) GROUP BY 1),
         r AS (SELECT doc_id, weight, row_number() OVER
             (ORDER BY weight DESC, doc_id) AS rank FROM wt)
         SELECT rank::BIGINT AS rank, doc_id, weight FROM r
         WHERE rank <= 100 ORDER BY rank""",
    // d95: the Hamilton allocation replayed in pure integer SQL (// and %
    // on BIGINT), weights floor(sqrt(n)) — exact for n < 2^52, see
    // Sampling.isqrt — selection by md5(doc_id) string order
    "d95_budget_mix" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
         w AS (SELECT source, floor(sqrt(n::DOUBLE))::BIGINT AS wt FROM c),
         tot AS (SELECT sum(wt) AS tw FROM w),
         alloc AS (SELECT source, (200*wt)//tw AS fl, (200*wt)%tw AS rem
           FROM w CROSS JOIN tot),
         fsum AS (SELECT sum(fl) AS fs FROM alloc),
         k AS (SELECT source, fl + CASE WHEN row_number() OVER
               (ORDER BY rem DESC, source) <= 200 - fs THEN 1 ELSE 0 END AS ks
           FROM alloc CROSS JOIN fsum),
         ranked AS (SELECT doc_id, source, row_number() OVER
             (PARTITION BY source ORDER BY md5(doc_id::VARCHAR), doc_id)
             AS pick
           FROM documents)
         SELECT r.doc_id, r.source, r.pick::BIGINT AS pick
         FROM ranked r JOIN k USING (source) WHERE r.pick <= k.ks
         ORDER BY source, pick""",
    // e32/e33 = e30/e31's oracles with the query set capped at doc_id <
    // 4850 (the fixed-query scale shape — see the query comments)
    "e32_bm25_fixedq" ->
      """WITH dt AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS tk
           FROM documents),
         st AS (SELECT count(*)::DOUBLE AS n, avg(len(tk)::DOUBLE) AS avgdl
           FROM dt),
         qt AS (SELECT DISTINCT doc_id AS query_id, unnest(tk[1:6]) AS term
           FROM dt WHERE doc_id % 97 = 0 AND doc_id < 4850),
         tok AS (SELECT doc_id, len(tk)::DOUBLE AS dl, unnest(tk) AS term
           FROM dt),
         tfr AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM tok
           WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
         dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tfr GROUP BY 1),
         sc AS (SELECT q.query_id, t.doc_id,
             round(sum(ln(1 + (st.n - f.df + 0.5) / (f.df + 0.5)) * t.tf
               * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / st.avgdl))),
               4) AS score
           FROM qt q JOIN tfr t USING (term) JOIN dfr f USING (term)
           CROSS JOIN st GROUP BY 1, 2),
         r AS (SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM sc)
         SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM r
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "e33_rrf_fixedq" ->
      """WITH dt AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS tk
           FROM documents),
         st AS (SELECT count(*)::DOUBLE AS n, avg(len(tk)::DOUBLE) AS avgdl
           FROM dt),
         qt AS (SELECT DISTINCT doc_id AS query_id, unnest(tk[1:6]) AS term
           FROM dt WHERE doc_id % 97 = 0 AND doc_id < 4850),
         tok AS (SELECT doc_id, len(tk)::DOUBLE AS dl, unnest(tk) AS term
           FROM dt),
         tfr AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM tok
           WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
         dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tfr GROUP BY 1),
         bsc AS (SELECT q.query_id, t.doc_id,
             round(sum(ln(1 + (st.n - f.df + 0.5) / (f.df + 0.5)) * t.tf
               * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / st.avgdl))),
               4) AS score
           FROM qt q JOIN tfr t USING (term) JOIN dfr f USING (term)
           CROSS JOIN st GROUP BY 1, 2),
         btop AS (SELECT query_id, doc_id, rank FROM (
             SELECT query_id, doc_id, row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
             FROM bsc) WHERE rank <= 10),
         qs AS (SELECT query_id, count(*)::DOUBLE AS qsize FROM qt GROUP BY 1),
         dd AS (SELECT doc_id, unnest(list_distinct(tk)) AS term FROM dt),
         ds AS (SELECT doc_id, count(*)::DOUBLE AS dsize FROM dd GROUP BY 1),
         ij AS (SELECT q.query_id, d.doc_id, count(*)::DOUBLE AS i
           FROM qt q JOIN dd d USING (term) GROUP BY 1, 2),
         jsc AS (SELECT ij.query_id, ij.doc_id,
             round(i / (qs.qsize + ds.dsize - i), 6) AS score
           FROM ij JOIN qs USING (query_id) JOIN ds USING (doc_id)),
         jtop AS (SELECT query_id, doc_id, rank FROM (
             SELECT query_id, doc_id, row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
             FROM jsc) WHERE rank <= 10),
         u AS (SELECT * FROM btop UNION ALL SELECT * FROM jtop),
         fus AS (SELECT query_id, doc_id,
             round(sum(1.0 / (60.0 + rank)), 6) AS score
           FROM u GROUP BY 1, 2),
         fr AS (SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM fus)
         SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM fr
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "e40_weighted_hybrid" ->
      // e33's lists fused by CONVEX COMBINATION instead of RRF: each
      // list min-max normalizes within the query's retrieved top-10
      // (constant list -> 0), missing-from-a-list contributes 0,
      // fused = 0.7*bm25_norm + 0.3*jaccard_norm, rounded pre-ranking
      """WITH dt AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS tk
           FROM documents),
         st AS (SELECT count(*)::DOUBLE AS n, avg(len(tk)::DOUBLE) AS avgdl
           FROM dt),
         qt AS (SELECT DISTINCT doc_id AS query_id, unnest(tk[1:6]) AS term
           FROM dt WHERE doc_id % 97 = 0 AND doc_id < 4850),
         tok AS (SELECT doc_id, len(tk)::DOUBLE AS dl, unnest(tk) AS term
           FROM dt),
         tfr AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM tok
           WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
         dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tfr GROUP BY 1),
         bsc AS (SELECT q.query_id, t.doc_id,
             round(sum(ln(1 + (st.n - f.df + 0.5) / (f.df + 0.5)) * t.tf
               * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / st.avgdl))),
               4) AS score
           FROM qt q JOIN tfr t USING (term) JOIN dfr f USING (term)
           CROSS JOIN st GROUP BY 1, 2),
         btop AS (SELECT query_id, doc_id, score FROM (
             SELECT query_id, doc_id, score, row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
             FROM bsc) WHERE rank <= 10),
         qs AS (SELECT query_id, count(*)::DOUBLE AS qsize FROM qt GROUP BY 1),
         dd AS (SELECT doc_id, unnest(list_distinct(tk)) AS term FROM dt),
         ds AS (SELECT doc_id, count(*)::DOUBLE AS dsize FROM dd GROUP BY 1),
         ij AS (SELECT q.query_id, d.doc_id, count(*)::DOUBLE AS i
           FROM qt q JOIN dd d USING (term) GROUP BY 1, 2),
         jsc AS (SELECT ij.query_id, ij.doc_id,
             round(i / (qs.qsize + ds.dsize - i), 6) AS score
           FROM ij JOIN qs USING (query_id) JOIN ds USING (doc_id)),
         jtop AS (SELECT query_id, doc_id, score FROM (
             SELECT query_id, doc_id, score, row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
             FROM jsc) WHERE rank <= 10),
         bn AS (SELECT query_id, doc_id,
             0.7 * CASE WHEN hi > lo THEN (score - lo) / (hi - lo)
                        ELSE 0.0 END AS contrib
           FROM (SELECT query_id, doc_id, score,
               min(score) OVER (PARTITION BY query_id) AS lo,
               max(score) OVER (PARTITION BY query_id) AS hi FROM btop)),
         jn AS (SELECT query_id, doc_id,
             0.3 * CASE WHEN hi > lo THEN (score - lo) / (hi - lo)
                        ELSE 0.0 END AS contrib
           FROM (SELECT query_id, doc_id, score,
               min(score) OVER (PARTITION BY query_id) AS lo,
               max(score) OVER (PARTITION BY query_id) AS hi FROM jtop)),
         u AS (SELECT * FROM bn UNION ALL SELECT * FROM jn),
         fus AS (SELECT query_id, doc_id, round(sum(contrib), 6) AS score
           FROM u GROUP BY 1, 2),
         fr AS (SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM fus)
         SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM fr
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // w27 = e30's oracle VERBATIM: the standing at-rest index's search
    // must equal the batch recompute exactly (the w8-vs-e6 stance)
    // w37: w27's BM25 chain + e6's probe chain over the SAME query set
    // (docs that carry an embedding), fused by e31's RRF arithmetic —
    // ranks only, rounded fusion scores, ties by (score DESC, doc_id)
    "w37_hybrid_at_rest" ->
      """WITH q AS (SELECT d.doc_id AS query_id, d.text
             FROM documents d JOIN embeddings em ON em.vec_id = d.doc_id
             WHERE d.doc_id % 97 = 0),
         da AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS tk
           FROM documents),
         st AS (SELECT count(*)::DOUBLE AS n, avg(len(tk)::DOUBLE) AS avgdl
           FROM da),
         qt AS (SELECT DISTINCT query_id,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0)[1:6]) AS term
           FROM q),
         tok AS (SELECT doc_id, len(tk)::DOUBLE AS dl, unnest(tk) AS term
           FROM da),
         tfr AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM tok
           WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
         dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tfr GROUP BY 1),
         sc AS (SELECT qq.query_id, t.doc_id,
             round(sum(ln(1 + (st.n - f.df + 0.5) / (f.df + 0.5)) * t.tf
               * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / st.avgdl))),
               4) AS score
           FROM qt qq JOIN tfr t USING (term) JOIN dfr f USING (term)
           CROSS JOIN st GROUP BY 1, 2),
         btop AS (SELECT query_id, doc_id, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM sc),
         c AS (SELECT vec_id::INT AS centroid_id, embedding::DOUBLE[] AS cv
           FROM embeddings WHERE vec_id < 8),
         corpus_cell AS (SELECT vec_id, centroid_id AS cell FROM (
             SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_distance(e.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
             FROM embeddings e, c) WHERE r = 1),
         qv AS (SELECT q.query_id, e.embedding::DOUBLE[] AS v
           FROM q JOIN embeddings e ON e.vec_id = q.query_id),
         query_cells AS (SELECT query_id, centroid_id AS cell FROM (
             SELECT qv.query_id, c.centroid_id,
               row_number() OVER (PARTITION BY qv.query_id
                 ORDER BY list_distance(qv.v, c.cv), c.centroid_id) AS r
             FROM qv, c) WHERE r <= 2),
         vscored AS (SELECT qc.query_id, cc.vec_id AS doc_id,
             list_cosine_similarity(e.embedding::DOUBLE[], qv.v) AS cos
           FROM query_cells qc JOIN corpus_cell cc ON cc.cell = qc.cell
           JOIN embeddings e ON e.vec_id = cc.vec_id
           JOIN qv ON qv.query_id = qc.query_id
           WHERE cc.vec_id <> qc.query_id),
         vtop AS (SELECT query_id, doc_id, row_number() OVER (
             PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rank
           FROM vscored),
         u AS (SELECT query_id, doc_id, rank FROM btop WHERE rank <= 10
           UNION ALL SELECT query_id, doc_id, rank FROM vtop WHERE rank <= 10),
         fus AS (SELECT query_id, doc_id,
             round(sum(1.0 / (60.0 + rank)), 6) AS score
           FROM u GROUP BY 1, 2),
         fr AS (SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM fus)
         SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM fr
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // w34: w27's replay with the corpus (stats, postings, df) taken over
    // the docs MINUS the tombstoned ids, queries still drawn from all
    "w34_bm25_tombstones" ->
      """WITH da AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS tk
           FROM documents),
         dt AS (SELECT * FROM da WHERE doc_id % 17 <> 0),
         st AS (SELECT count(*)::DOUBLE AS n, avg(len(tk)::DOUBLE) AS avgdl
           FROM dt),
         qt AS (SELECT DISTINCT doc_id AS query_id, unnest(tk[1:6]) AS term
           FROM da WHERE doc_id % 97 = 0),
         tok AS (SELECT doc_id, len(tk)::DOUBLE AS dl, unnest(tk) AS term
           FROM dt),
         tfr AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM tok
           WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
         dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tfr GROUP BY 1),
         sc AS (SELECT q.query_id, t.doc_id,
             round(sum(ln(1 + (st.n - f.df + 0.5) / (f.df + 0.5)) * t.tf
               * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / st.avgdl))),
               4) AS score
           FROM qt q JOIN tfr t USING (term) JOIN dfr f USING (term)
           CROSS JOIN st GROUP BY 1, 2),
         r AS (SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM sc)
         SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM r
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // w39: w27's oracle VERBATIM — rebucketing is a pure layout change,
    // so the post-rebucket search must answer identically
    "w39_bm25_rebucket" ->
      """WITH dt AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS tk
           FROM documents),
         st AS (SELECT count(*)::DOUBLE AS n, avg(len(tk)::DOUBLE) AS avgdl
           FROM dt),
         qt AS (SELECT DISTINCT doc_id AS query_id, unnest(tk[1:6]) AS term
           FROM dt WHERE doc_id % 97 = 0),
         tok AS (SELECT doc_id, len(tk)::DOUBLE AS dl, unnest(tk) AS term
           FROM dt),
         tfr AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM tok
           WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
         dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tfr GROUP BY 1),
         sc AS (SELECT q.query_id, t.doc_id,
             round(sum(ln(1 + (st.n - f.df + 0.5) / (f.df + 0.5)) * t.tf
               * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / st.avgdl))),
               4) AS score
           FROM qt q JOIN tfr t USING (term) JOIN dfr f USING (term)
           CROSS JOIN st GROUP BY 1, 2),
         r AS (SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM sc)
         SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM r
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "w40_lease_guard" ->
      // the full-corpus BM25 replay (w27's oracle verbatim): the epoch
      // refused under the lease lands after release, so a silently lost
      // write OR a zombie promote of the empty staging breaks this hash
      """WITH dt AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS tk
           FROM documents),
         st AS (SELECT count(*)::DOUBLE AS n, avg(len(tk)::DOUBLE) AS avgdl
           FROM dt),
         qt AS (SELECT DISTINCT doc_id AS query_id, unnest(tk[1:6]) AS term
           FROM dt WHERE doc_id % 97 = 0),
         tok AS (SELECT doc_id, len(tk)::DOUBLE AS dl, unnest(tk) AS term
           FROM dt),
         tfr AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM tok
           WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
         dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tfr GROUP BY 1),
         sc AS (SELECT q.query_id, t.doc_id,
             round(sum(ln(1 + (st.n - f.df + 0.5) / (f.df + 0.5)) * t.tf
               * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / st.avgdl))),
               4) AS score
           FROM qt q JOIN tfr t USING (term) JOIN dfr f USING (term)
           CROSS JOIN st GROUP BY 1, 2),
         r AS (SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM sc)
         SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM r
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // w41: w37's fused oracle over both corpora MINUS the victims, where
    // the victims are DERIVED exactly as the gate derives them — the ivf
    // rank-1 neighbor (cell-probed, self-excluded, cos DESC / id ties)
    // of queries 0 and 97 over the FULL corpus
    "w41_cross_store_rtbf" ->
      """WITH q AS (SELECT d.doc_id AS query_id, d.text
             FROM documents d JOIN embeddings em ON em.vec_id = d.doc_id
             WHERE d.doc_id % 97 = 0),
         c AS (SELECT vec_id::INT AS centroid_id, embedding::DOUBLE[] AS cv
           FROM embeddings WHERE vec_id < 8),
         qv AS (SELECT q.query_id, e.embedding::DOUBLE[] AS v
           FROM q JOIN embeddings e ON e.vec_id = q.query_id),
         query_cells AS (SELECT query_id, centroid_id AS cell FROM (
             SELECT qv.query_id, c.centroid_id,
               row_number() OVER (PARTITION BY qv.query_id
                 ORDER BY list_distance(qv.v, c.cv), c.centroid_id) AS r
             FROM qv, c) WHERE r <= 2),
         cc_full AS (SELECT vec_id, centroid_id AS cell FROM (
             SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_distance(e.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
             FROM embeddings e, c) WHERE r = 1),
         pre AS (SELECT qc.query_id, cc.vec_id,
             list_cosine_similarity(e.embedding::DOUBLE[], qv.v) AS cos
           FROM query_cells qc JOIN cc_full cc ON cc.cell = qc.cell
           JOIN embeddings e ON e.vec_id = cc.vec_id
           JOIN qv ON qv.query_id = qc.query_id
           WHERE cc.vec_id <> qc.query_id AND qc.query_id IN (0, 97)),
         victims AS (SELECT DISTINCT vec_id AS victim FROM (
             SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, vec_id) AS r FROM pre) WHERE r = 1),
         da AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS tk
           FROM documents
           WHERE doc_id NOT IN (SELECT victim FROM victims)),
         st AS (SELECT count(*)::DOUBLE AS n, avg(len(tk)::DOUBLE) AS avgdl
           FROM da),
         qt AS (SELECT DISTINCT query_id,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0)[1:6]) AS term
           FROM q),
         tok AS (SELECT doc_id, len(tk)::DOUBLE AS dl, unnest(tk) AS term
           FROM da),
         tfr AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM tok
           WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
         dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tfr GROUP BY 1),
         sc AS (SELECT qq.query_id, t.doc_id,
             round(sum(ln(1 + (st.n - f.df + 0.5) / (f.df + 0.5)) * t.tf
               * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / st.avgdl))),
               4) AS score
           FROM qt qq JOIN tfr t USING (term) JOIN dfr f USING (term)
           CROSS JOIN st GROUP BY 1, 2),
         btop AS (SELECT query_id, doc_id, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM sc),
         corpus_cell AS (SELECT vec_id, cell FROM cc_full
           WHERE vec_id NOT IN (SELECT victim FROM victims)),
         vscored AS (SELECT qc.query_id, cc.vec_id AS doc_id,
             list_cosine_similarity(e.embedding::DOUBLE[], qv.v) AS cos
           FROM query_cells qc JOIN corpus_cell cc ON cc.cell = qc.cell
           JOIN embeddings e ON e.vec_id = cc.vec_id
           JOIN qv ON qv.query_id = qc.query_id
           WHERE cc.vec_id <> qc.query_id),
         vtop AS (SELECT query_id, doc_id, row_number() OVER (
             PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rank
           FROM vscored),
         u AS (SELECT query_id, doc_id, rank FROM btop WHERE rank <= 10
           UNION ALL SELECT query_id, doc_id, rank FROM vtop WHERE rank <= 10),
         fus AS (SELECT query_id, doc_id,
             round(sum(1.0 / (60.0 + rank)), 6) AS score
           FROM u GROUP BY 1, 2),
         fr AS (SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM fus)
         SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM fr
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // w43: w37's two at-rest lists (bm25 replay + cell-probed cosine)
    // fused by e40's convex-combination arithmetic — per-(query, list)
    // min-max over the retrieved top-10, 0.7/0.3 weights; cosine rounds
    // to 6 BEFORE normalization (matching the Spark side's tie contract)
    "w43_weighted_hybrid_at_rest" ->
      """WITH q AS (SELECT d.doc_id AS query_id, d.text
             FROM documents d JOIN embeddings em ON em.vec_id = d.doc_id
             WHERE d.doc_id % 97 = 0),
         da AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS tk
           FROM documents),
         st AS (SELECT count(*)::DOUBLE AS n, avg(len(tk)::DOUBLE) AS avgdl
           FROM da),
         qt AS (SELECT DISTINCT query_id,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0)[1:6]) AS term
           FROM q),
         tok AS (SELECT doc_id, len(tk)::DOUBLE AS dl, unnest(tk) AS term
           FROM da),
         tfr AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM tok
           WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
         dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tfr GROUP BY 1),
         bsc AS (SELECT qq.query_id, t.doc_id,
             round(sum(ln(1 + (st.n - f.df + 0.5) / (f.df + 0.5)) * t.tf
               * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / st.avgdl))),
               4) AS score
           FROM qt qq JOIN tfr t USING (term) JOIN dfr f USING (term)
           CROSS JOIN st GROUP BY 1, 2),
         btop AS (SELECT query_id, doc_id, score FROM (
             SELECT query_id, doc_id, score, row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
             FROM bsc) WHERE rank <= 10),
         c AS (SELECT vec_id::INT AS centroid_id, embedding::DOUBLE[] AS cv
           FROM embeddings WHERE vec_id < 8),
         corpus_cell AS (SELECT vec_id, centroid_id AS cell FROM (
             SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_distance(e.embedding::DOUBLE[], c.cv), c.centroid_id) AS r
             FROM embeddings e, c) WHERE r = 1),
         qv AS (SELECT q.query_id, e.embedding::DOUBLE[] AS v
           FROM q JOIN embeddings e ON e.vec_id = q.query_id),
         query_cells AS (SELECT query_id, centroid_id AS cell FROM (
             SELECT qv.query_id, c.centroid_id,
               row_number() OVER (PARTITION BY qv.query_id
                 ORDER BY list_distance(qv.v, c.cv), c.centroid_id) AS r
             FROM qv, c) WHERE r <= 2),
         vscored AS (SELECT qc.query_id, cc.vec_id AS doc_id,
             list_cosine_similarity(e.embedding::DOUBLE[], qv.v) AS cos
           FROM query_cells qc JOIN corpus_cell cc ON cc.cell = qc.cell
           JOIN embeddings e ON e.vec_id = cc.vec_id
           JOIN qv ON qv.query_id = qc.query_id
           WHERE cc.vec_id <> qc.query_id),
         vtop AS (SELECT query_id, doc_id, round(cos, 6) AS score FROM (
             SELECT query_id, doc_id, cos, row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rank
             FROM vscored) WHERE rank <= 10),
         bn AS (SELECT query_id, doc_id,
             0.7 * CASE WHEN hi > lo THEN (score - lo) / (hi - lo)
                        ELSE 0.0 END AS contrib
           FROM (SELECT query_id, doc_id, score,
               min(score) OVER (PARTITION BY query_id) AS lo,
               max(score) OVER (PARTITION BY query_id) AS hi FROM btop)),
         vn AS (SELECT query_id, doc_id,
             0.3 * CASE WHEN hi > lo THEN (score - lo) / (hi - lo)
                        ELSE 0.0 END AS contrib
           FROM (SELECT query_id, doc_id, score,
               min(score) OVER (PARTITION BY query_id) AS lo,
               max(score) OVER (PARTITION BY query_id) AS hi FROM vtop)),
         u AS (SELECT * FROM bn UNION ALL SELECT * FROM vn),
         fus AS (SELECT query_id, doc_id, round(sum(contrib), 6) AS score
           FROM u GROUP BY 1, 2),
         fr AS (SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM fus)
         SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM fr
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // w44: w27's full-corpus oracle VERBATIM — after the explicit
    // --resurrect of the one ledgered victim, the restored store must
    // replay as if the forget never happened; the gate's mid-state
    // requires pin the OTHER half of the contract (the default restore
    // keeps the victim masked)
    "w44_forget_ledger" ->
      """WITH dt AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS tk
           FROM documents),
         st AS (SELECT count(*)::DOUBLE AS n, avg(len(tk)::DOUBLE) AS avgdl
           FROM dt),
         qt AS (SELECT DISTINCT doc_id AS query_id, unnest(tk[1:6]) AS term
           FROM dt WHERE doc_id % 97 = 0),
         tok AS (SELECT doc_id, len(tk)::DOUBLE AS dl, unnest(tk) AS term
           FROM dt),
         tfr AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM tok
           WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
         dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tfr GROUP BY 1),
         sc AS (SELECT q.query_id, t.doc_id,
             round(sum(ln(1 + (st.n - f.df + 0.5) / (f.df + 0.5)) * t.tf
               * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / st.avgdl))),
               4) AS score
           FROM qt q JOIN tfr t USING (term) JOIN dfr f USING (term)
           CROSS JOIN st GROUP BY 1, 2),
         r AS (SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM sc)
         SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM r
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // w45: w27's full-corpus oracle VERBATIM — the incremental
    // snapshot's restore resolves bytes from BOTH data dirs (the base's
    // unchanged epochs by pointer, its own delta by copy) and must
    // replay exactly as the live three-epoch store did pre-damage
    "w45_incremental_snapshot" ->
      """WITH dt AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS tk
           FROM documents),
         st AS (SELECT count(*)::DOUBLE AS n, avg(len(tk)::DOUBLE) AS avgdl
           FROM dt),
         qt AS (SELECT DISTINCT doc_id AS query_id, unnest(tk[1:6]) AS term
           FROM dt WHERE doc_id % 97 = 0),
         tok AS (SELECT doc_id, len(tk)::DOUBLE AS dl, unnest(tk) AS term
           FROM dt),
         tfr AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM tok
           WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
         dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tfr GROUP BY 1),
         sc AS (SELECT q.query_id, t.doc_id,
             round(sum(ln(1 + (st.n - f.df + 0.5) / (f.df + 0.5)) * t.tf
               * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / st.avgdl))),
               4) AS score
           FROM qt q JOIN tfr t USING (term) JOIN dfr f USING (term)
           CROSS JOIN st GROUP BY 1, 2),
         r AS (SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM sc)
         SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM r
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // w42: w27's full-corpus oracle VERBATIM — the restore (with the
    // explicit --resurrect of the fat-fingered forget; the default
    // restore re-applies the ledgered delete — w44's gate) must return
    // the store to its exact pre-damage state, so the post-restore
    // search replays as if the forget+compact never happened
    "w42_snapshot_restore" ->
      """WITH dt AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS tk
           FROM documents),
         st AS (SELECT count(*)::DOUBLE AS n, avg(len(tk)::DOUBLE) AS avgdl
           FROM dt),
         qt AS (SELECT DISTINCT doc_id AS query_id, unnest(tk[1:6]) AS term
           FROM dt WHERE doc_id % 97 = 0),
         tok AS (SELECT doc_id, len(tk)::DOUBLE AS dl, unnest(tk) AS term
           FROM dt),
         tfr AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM tok
           WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
         dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tfr GROUP BY 1),
         sc AS (SELECT q.query_id, t.doc_id,
             round(sum(ln(1 + (st.n - f.df + 0.5) / (f.df + 0.5)) * t.tf
               * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / st.avgdl))),
               4) AS score
           FROM qt q JOIN tfr t USING (term) JOIN dfr f USING (term)
           CROSS JOIN st GROUP BY 1, 2),
         r AS (SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM sc)
         SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM r
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "w27_stream_bm25" ->
      """WITH dt AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS tk
           FROM documents),
         st AS (SELECT count(*)::DOUBLE AS n, avg(len(tk)::DOUBLE) AS avgdl
           FROM dt),
         qt AS (SELECT DISTINCT doc_id AS query_id, unnest(tk[1:6]) AS term
           FROM dt WHERE doc_id % 97 = 0),
         tok AS (SELECT doc_id, len(tk)::DOUBLE AS dl, unnest(tk) AS term
           FROM dt),
         tfr AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM tok
           WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
         dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tfr GROUP BY 1),
         sc AS (SELECT q.query_id, t.doc_id,
             round(sum(ln(1 + (st.n - f.df + 0.5) / (f.df + 0.5)) * t.tf
               * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / st.avgdl))),
               4) AS score
           FROM qt q JOIN tfr t USING (term) JOIN dfr f USING (term)
           CROSS JOIN st GROUP BY 1, 2),
         r AS (SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM sc)
         SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM r
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "e31_rrf_hybrid" ->
      """WITH dt AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS tk
           FROM documents),
         st AS (SELECT count(*)::DOUBLE AS n, avg(len(tk)::DOUBLE) AS avgdl
           FROM dt),
         qt AS (SELECT DISTINCT doc_id AS query_id, unnest(tk[1:6]) AS term
           FROM dt WHERE doc_id % 97 = 0),
         tok AS (SELECT doc_id, len(tk)::DOUBLE AS dl, unnest(tk) AS term
           FROM dt),
         tfr AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM tok
           WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
         dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tfr GROUP BY 1),
         bsc AS (SELECT q.query_id, t.doc_id,
             round(sum(ln(1 + (st.n - f.df + 0.5) / (f.df + 0.5)) * t.tf
               * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / st.avgdl))),
               4) AS score
           FROM qt q JOIN tfr t USING (term) JOIN dfr f USING (term)
           CROSS JOIN st GROUP BY 1, 2),
         btop AS (SELECT query_id, doc_id, rank FROM (
             SELECT query_id, doc_id, row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
             FROM bsc) WHERE rank <= 10),
         qs AS (SELECT query_id, count(*)::DOUBLE AS qsize FROM qt GROUP BY 1),
         dd AS (SELECT doc_id, unnest(list_distinct(tk)) AS term FROM dt),
         ds AS (SELECT doc_id, count(*)::DOUBLE AS dsize FROM dd GROUP BY 1),
         ij AS (SELECT q.query_id, d.doc_id, count(*)::DOUBLE AS i
           FROM qt q JOIN dd d USING (term) GROUP BY 1, 2),
         jsc AS (SELECT ij.query_id, ij.doc_id,
             round(i / (qs.qsize + ds.dsize - i), 6) AS score
           FROM ij JOIN qs USING (query_id) JOIN ds USING (doc_id)),
         jtop AS (SELECT query_id, doc_id, rank FROM (
             SELECT query_id, doc_id, row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
             FROM jsc) WHERE rank <= 10),
         u AS (SELECT * FROM btop UNION ALL SELECT * FROM jtop),
         fus AS (SELECT query_id, doc_id,
             round(sum(1.0 / (60.0 + rank)), 6) AS score
           FROM u GROUP BY 1, 2),
         fr AS (SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM fus)
         SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM fr
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "m4_pixel_stats" ->
      """SELECT d.doc_id AS media_id,
         (16 + (d.doc_id % 48))::BIGINT AS width,
         (16 + ((d.doc_id // 7) % 40))::BIGINT AS height,
         sum((x.v*7 + y.v*13 + d.doc_id*31) % 256)::BIGINT AS sum_r,
         sum((x.v*3 + y.v*5 + d.doc_id*17) % 256)::BIGINT AS sum_g,
         sum((x.v*11 + y.v*2 + d.doc_id*7) % 256)::BIGINT AS sum_b
         FROM documents d,
           LATERAL (SELECT unnest(range(0, (16 + (d.doc_id % 48))::INT)) AS v) x,
           LATERAL (SELECT unnest(range(0, (16 + ((d.doc_id // 7) % 40))::INT)) AS v) y
         WHERE d.doc_id % 2 = 0
         GROUP BY 1 ORDER BY media_id""",
    // m10: m8's exact dHash chain extended with band buckets + Hamming
    "m10_image_dup_pairs" ->
      """WITH img AS (SELECT doc_id AS media_id,
             (16 + (doc_id % 48))::BIGINT AS w,
             (16 + ((doc_id // 7) % 40))::BIGINT AS h
           FROM documents WHERE doc_id % 2 = 0),
           px AS (SELECT media_id, w, h, x.v AS x, y.v AS y,
               (((x.v*7 + y.v*13 + media_id*31) % 256) * 299
                + ((x.v*3 + y.v*5 + media_id*17) % 256) * 587
                + ((x.v*11 + y.v*2 + media_id*7) % 256) * 114) // 1000 AS gray
             FROM img,
               LATERAL (SELECT unnest(range(0, w::INT)) AS v) x,
               LATERAL (SELECT unnest(range(0, h::INT)) AS v) y),
           cells AS (SELECT media_id, (y*8)//h AS cy, (x*9)//w AS cx,
               sum(gray)//count(*) AS cell
             FROM px GROUP BY 1, 2, 3),
           bits AS (SELECT a.media_id, a.cy*8 + a.cx AS k,
               CASE WHEN b.cell > a.cell THEN 1::BIGINT ELSE 0::BIGINT END AS bit
             FROM cells a JOIN cells b
               ON b.media_id = a.media_id AND b.cy = a.cy AND b.cx = a.cx + 1
             WHERE a.cx < 8),
           hh AS (SELECT media_id,
               sum(CASE WHEN k >= 32 THEN bit << (k - 32) ELSE 0 END)::BIGINT AS hi,
               sum(CASE WHEN k < 32 THEN bit << k ELSE 0 END)::BIGINT AS lo
             FROM bits GROUP BY 1),
           b AS (SELECT media_id, hi, lo, unnest(range(0, 4)) AS band FROM hh),
           k AS (SELECT media_id, hi, lo, band,
               CASE WHEN band < 2 THEN (lo >> (band*16)::INT) & 65535
                 ELSE (hi >> ((band-2)*16)::INT) & 65535 END AS key FROM b),
           cand AS (SELECT DISTINCT a.media_id AS id_a, c.media_id AS id_b,
               a.hi AS ha, a.lo AS la, c.hi AS hb, c.lo AS lb
             FROM k a JOIN k c ON a.band = c.band AND a.key = c.key
               AND a.media_id < c.media_id)
         SELECT id_a, id_b,
           (bit_count(xor(ha, hb)) + bit_count(xor(la, lb)))::INT AS hamming
         FROM cand
         WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 10
         ORDER BY id_a, id_b""",
    // m8: dHash recomputed from the closed-form raster — gray/means/bits
    // are all integer floor arithmetic, so the oracle is exact on PNG.
    "m8_image_dhash" ->
      """WITH img AS (SELECT doc_id AS media_id,
             (16 + (doc_id % 48))::BIGINT AS w,
             (16 + ((doc_id // 7) % 40))::BIGINT AS h
           FROM documents WHERE doc_id % 2 = 0),
           px AS (SELECT media_id, w, h, x.v AS x, y.v AS y,
               (((x.v*7 + y.v*13 + media_id*31) % 256) * 299
                + ((x.v*3 + y.v*5 + media_id*17) % 256) * 587
                + ((x.v*11 + y.v*2 + media_id*7) % 256) * 114) // 1000 AS gray
             FROM img,
               LATERAL (SELECT unnest(range(0, w::INT)) AS v) x,
               LATERAL (SELECT unnest(range(0, h::INT)) AS v) y),
           cells AS (SELECT media_id, (y*8)//h AS cy, (x*9)//w AS cx,
               sum(gray)//count(*) AS cell
             FROM px GROUP BY 1, 2, 3),
           bits AS (SELECT a.media_id, a.cy*8 + a.cx AS k,
               CASE WHEN b.cell > a.cell THEN 1::BIGINT ELSE 0::BIGINT END AS bit
             FROM cells a JOIN cells b
               ON b.media_id = a.media_id AND b.cy = a.cy AND b.cx = a.cx + 1
             WHERE a.cx < 8)
         SELECT media_id,
           sum(CASE WHEN k >= 32 THEN bit << (k - 32) ELSE 0 END)::BIGINT AS dhash_hi,
           sum(CASE WHEN k < 32 THEN bit << k ELSE 0 END)::BIGINT AS dhash_lo
         FROM bits GROUP BY 1 ORDER BY media_id""",
    "m2_frame_sample" ->
      """SELECT media_id, u::INT AS frame_idx, (u * 100)::BIGINT AS ts_ms
         FROM (SELECT doc_id AS media_id,
           unnest(range(0, octet_length(encode(text)) * 2 // 100 + 1)) AS u
           FROM documents)
         ORDER BY media_id, frame_idx""",
    "m11_video_probe" ->
      """SELECT doc_id AS media_id, (4 + doc_id % 5)::INT AS n_frames,
           (32 + doc_id % 16)::INT AS width, (24 + doc_id % 12)::INT AS height,
           (1000000 // (CASE doc_id % 3 WHEN 0 THEN 5 WHEN 1 THEN 10 ELSE 25 END))::BIGINT
             AS us_per_frame,
           ((1000000 // (CASE doc_id % 3 WHEN 0 THEN 5 WHEN 1 THEN 10 ELSE 25 END))
             * (4 + doc_id % 5) // 1000)::BIGINT AS duration_ms
         FROM documents ORDER BY media_id""",
    "m12_video_frames" ->
      """WITH v AS (SELECT doc_id AS media_id, 4 + doc_id % 5 AS n,
             1000000 // (CASE doc_id % 3 WHEN 0 THEN 5 WHEN 1 THEN 10 ELSE 25 END) AS uspf,
             32 + doc_id % 16 AS w, 24 + doc_id % 12 AS h
           FROM documents),
         g AS (SELECT media_id, n, uspf, w, h,
             unnest(range(0, (uspf * n // 1000 + 249) // 250)) AS k
           FROM v)
         SELECT media_id, k::INT AS sample_idx, (k * 250)::BIGINT AS ts_ms,
           least(n - 1, k * 250 * 1000 // uspf)::INT AS frame_idx,
           w::INT AS frame_w, h::INT AS frame_h
         FROM g ORDER BY media_id, sample_idx""",
    // m3: fixture oracle from the codec-free Python mirror — see
    // FixtureOracles (merged below).
    "w4_interval_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id
         FROM events c JOIN events p ON p.user_id = c.user_id
           AND c.event_type = 'click' AND p.event_type = 'purchase'
           AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
         ORDER BY click_id, purchase_id""",
    "d29_mixture_sample" ->
      """WITH b AS (SELECT doc_id, source,
           (('0x' || substr(md5(doc_id::VARCHAR || ':mix'), 1, 8))::UBIGINT % 10000)::BIGINT AS bucket,
           (CASE source WHEN 'src0' THEN 8000 WHEN 'src1' THEN 5000
              WHEN 'src2' THEN 2500 ELSE 1000 END)::BIGINT AS rate_bp
         FROM documents)
         SELECT doc_id, source, bucket, rate_bp FROM b
         WHERE bucket < rate_bp ORDER BY doc_id""",
    "d34_curriculum_shard" ->
      """WITH p AS (SELECT doc_id,
           row_number() OVER (ORDER BY (n_chars*13 + doc_id*5) % 101, doc_id) - 1 AS pos
         FROM documents)
         SELECT doc_id, pos::BIGINT AS pos, (pos // 50)::BIGINT AS shard,
           (pos % 50)::BIGINT AS pos_in_shard
         FROM p ORDER BY doc_id""",
    "d33_cluster_survivors" ->
      """WITH b AS (SELECT doc_id, n_chars % 50 AS bk,
             (n_chars*31 + doc_id*7) % 97 AS q, lang, n_chars FROM documents),
           sz AS (SELECT bk, count(*) AS n FROM b GROUP BY 1),
           keep AS (
             SELECT b.doc_id FROM b JOIN sz USING (bk) WHERE sz.n = 1
             UNION ALL
             SELECT doc_id FROM (
               SELECT b.doc_id,
                 row_number() OVER (PARTITION BY b.bk ORDER BY b.q DESC, b.doc_id) AS r
               FROM b JOIN sz USING (bk) WHERE sz.n > 1) WHERE r = 1)
         SELECT d.doc_id, d.lang, d.n_chars
         FROM documents d JOIN keep USING (doc_id) ORDER BY doc_id""",
    "d32_shuffle_shard" ->
      """WITH p AS (SELECT doc_id,
           row_number() OVER (ORDER BY md5(doc_id::VARCHAR), doc_id) - 1 AS pos
         FROM documents)
         SELECT doc_id, pos::BIGINT AS pos, (pos // 64)::BIGINT AS shard,
           (pos % 64)::BIGINT AS pos_in_shard
         FROM p ORDER BY doc_id""",
    "d24_hash_split" ->
      """WITH b AS (SELECT doc_id,
           (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT % 100)::BIGINT AS bucket
         FROM documents)
         SELECT doc_id, bucket,
           CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
             ELSE 'test' END AS split
         FROM b ORDER BY doc_id""",
    // d25: terms summed in ascending char order on both engines (the
    // expression's determinism contract); boundary margins on the frozen
    // corpus are checked by tools/check_entropy_margin.py.
    "q32_window_suite" ->
      """SELECT o_custkey, o_orderkey,
           (ntile(4) OVER w)::INT AS quartile,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd,
           lag(o_totalprice, 1) OVER w AS prev_price,
           lead(o_totalprice, 2) OVER w AS next2_price,
           first_value(o_orderkey) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_key
         FROM orders WHERE o_custkey < 50
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "q33_datetime_funcs" ->
      """SELECT o_orderkey,
           year(o_orderdate)::BIGINT AS y, quarter(o_orderdate)::BIGINT AS q,
           month(o_orderdate)::BIGINT AS m, day(o_orderdate)::BIGINT AS dom,
           (dayofweek(o_orderdate::DATE) + 1)::BIGINT AS dow,
           (o_orderdate::DATE + 90)::DATE AS due_date,
           last_day(o_orderdate::DATE) AS month_end,
           date_diff('day', o_orderdate::DATE, DATE '1998-12-31')::BIGINT AS days_to_end,
           strftime(o_orderdate::DATE, '%Y-%m') AS ym
         FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""",
    "q35_subqueries" ->
      """SELECT o.o_orderkey,
           (SELECT round(max(l.l_extendedprice), 2) FROM lineitem l
             WHERE l.l_orderkey = o.o_orderkey) AS max_line_price
         FROM orders o
         WHERE o.o_orderkey < 2000
           AND EXISTS (SELECT 1 FROM lineitem l
             WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
         ORDER BY o_orderkey""",
    "q38_min_cost_supplier" ->
      """WITH ps AS (
           SELECT l_partkey, l_suppkey,
             round(min(l_extendedprice / l_quantity), 4) AS unit_cost
           FROM lineitem GROUP BY 1, 2),
         eu AS (
           SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
           FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
           JOIN region r ON n.n_regionkey = r.r_regionkey
           WHERE r.r_name = 'EUROPE')
         SELECT eu.s_acctbal, eu.s_name, eu.n_name, p.p_partkey, ps.unit_cost
         FROM part p
         JOIN ps ON p.p_partkey = ps.l_partkey
         JOIN eu ON eu.s_suppkey = ps.l_suppkey
         WHERE p.p_size = 10 AND p.p_type = 'SMALL'
           AND ps.unit_cost = (
             SELECT min(ps2.unit_cost) FROM ps ps2
             JOIN eu eu2 ON eu2.s_suppkey = ps2.l_suppkey
             WHERE ps2.l_partkey = p.p_partkey)
         ORDER BY s_acctbal DESC, s_name, p_partkey""",
    "q39_product_profit" ->
      """SELECT n.n_name AS nation, year(o.o_orderdate)::INT AS o_year,
           round(sum(l.l_extendedprice::DECIMAL(12,2)
             * (1 - l.l_discount::DECIMAL(12,2))), 2)::DOUBLE AS profit
         FROM lineitem l
         JOIN part p ON p.p_partkey = l.l_partkey
         JOIN supplier s ON s.s_suppkey = l.l_suppkey
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         JOIN orders o ON o.o_orderkey = l.l_orderkey
         WHERE p.p_name LIKE '%gear%'
         GROUP BY 1, 2 ORDER BY nation, o_year DESC""",
    "q40_returned_items" ->
      """SELECT c.c_custkey, c.c_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           c.c_acctbal, n.n_name
         FROM customer c
         JOIN orders o ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         JOIN nation n ON n.n_nationkey = c.c_nationkey
         WHERE l.l_returnflag = 'R'
           AND o.o_orderdate >= TIMESTAMP '1997-01-01'
           AND o.o_orderdate < TIMESTAMP '1997-07-01'
         GROUP BY 1, 2, 4, 5
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q41_order_count_dist" ->
      """WITH co AS (
           SELECT c.c_custkey, count(o.o_orderkey) AS c_count
           FROM customer c LEFT JOIN orders o
             ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
           GROUP BY 1)
         SELECT c_count, count(*) AS custdist
         FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC""",
    "q42_top_supplier" ->
      """WITH rev AS (
           SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY 1)
         SELECT s.s_suppkey, s.s_name, r.total_revenue
         FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
         WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
         ORDER BY s_suppkey""",
    "q43_part_supplier_counts" ->
      """WITH sp AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
         SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT sp.l_suppkey) AS supplier_cnt
         FROM sp JOIN part p ON p.p_partkey = sp.l_partkey
         WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
           AND p.p_size IN (1, 10, 20, 30, 49)
         GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "q44_small_qty_revenue" ->
      """SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         WHERE p.p_brand = 'Brand#3'
           AND l.l_quantity < (
             SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
             WHERE l2.l_partkey = l.l_partkey)""",
    "q45_large_volume_cust" ->
      """SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           sum(l.l_quantity) AS total_qty
         FROM customer c
         JOIN orders o ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         WHERE o.o_orderkey IN (
           SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 350)
         GROUP BY 1, 2, 3, 4, 5
         ORDER BY o_totalprice DESC, o_orderkey""",
    "q46_late_suppliers" ->
      """WITH li AS (
           SELECT l.l_orderkey, l.l_suppkey,
             (l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY) AS late
           FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
           WHERE o.o_orderstatus = 'F')
         SELECT s.s_name, count(*) AS numwait
         FROM li l1
         JOIN supplier s ON s.s_suppkey = l1.l_suppkey
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         WHERE l1.late
           AND n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
           AND EXISTS (SELECT 1 FROM li l2
             WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM li l3
             WHERE l3.l_orderkey = l1.l_orderkey
               AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
         GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""",
    "q47_dormant_customers" ->
      """SELECT n.n_name AS nation, count(*) AS numcust,
           round(sum(c.c_acctbal), 2) AS totacctbal
         FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
         WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
           AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
             AND o.o_orderdate >= TIMESTAMP '1999-01-01')
         GROUP BY 1 ORDER BY nation""",
    "q50_recursive_cte" ->
      """WITH RECURSIVE anc(start_key, cur_key, depth) AS (
           SELECT c_custkey, c_custkey, 0 FROM customer
           WHERE c_custkey >= 1000 AND c_custkey < 1016
           UNION ALL
           SELECT a.start_key, a.cur_key // 2, a.depth + 1
           FROM anc a WHERE a.cur_key > 0)
         SELECT start_key, count(*) AS chain_len, max(depth) AS max_depth,
           round(sum(c.c_acctbal), 2) AS chain_acctbal
         FROM anc JOIN customer c ON c.c_custkey = anc.cur_key
         GROUP BY start_key ORDER BY start_key""",
    // q49's Morton interleave spelled out term by term — generated from
    // the same (bit, position) pairs the Spark expression uses
    "q49_zorder_cluster" -> {
      val z = (0 until 16).map(i =>
        s"((((l_partkey >> $i) & 1) << ${2 * i}) | " +
          s"(((l_suppkey >> $i) & 1) << ${2 * i + 1}))").mkString(" | ")
      s"""WITH z AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             ($z) AS zkey
           FROM lineitem WHERE l_orderkey < 2000),
         b AS (SELECT *, ntile(16) OVER (ORDER BY zkey, l_orderkey, l_linenumber)
             AS bucket FROM z)
         SELECT bucket::INT AS bucket, min(l_partkey) AS min_p, max(l_partkey) AS max_p,
           min(l_suppkey) AS min_s, max(l_suppkey) AS max_s, count(*) AS n
         FROM b GROUP BY 1 ORDER BY bucket"""
    },
    "q48_bucketed_join" ->
      """SELECT c.c_mktsegment, count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
         FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
         GROUP BY 1 ORDER BY c_mktsegment""",
    "q51_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l.l_shipdate)::INT AS l_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
         FROM lineitem l
         JOIN supplier s ON s.s_suppkey = l.l_suppkey
         JOIN orders o ON o.o_orderkey = l.l_orderkey
         JOIN customer c ON c.c_custkey = o.o_custkey
         JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
         JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
         WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
           AND l.l_shipdate < TIMESTAMP '1998-01-01'
           AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "q52_market_share" ->
      """WITH f AS (SELECT year(o.o_orderdate)::INT AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS supp_nation
           FROM lineitem l
           JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
           JOIN orders o ON o.o_orderkey = l.l_orderkey
           JOIN customer c ON c.c_custkey = o.o_custkey
           JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
           JOIN region r ON r.r_regionkey = n1.n_regionkey AND r.r_name = 'EUROPE'
           JOIN supplier s ON s.s_suppkey = l.l_suppkey
           JOIN nation n2 ON n2.n_nationkey = s.s_nationkey)
         SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
             / sum(volume), 6) AS mkt_share
         FROM f GROUP BY 1 ORDER BY o_year""",
    "q53_important_parts" ->
      """WITH pv AS (SELECT l_partkey AS p_partkey,
             sum(l_extendedprice * (1 - l_discount)) AS value
           FROM lineitem GROUP BY 1),
           tot AS (SELECT avg(value) AS tv FROM pv)
         SELECT p_partkey, round(value, 2) AS value FROM pv, tot
         WHERE value > tv * 1.5 ORDER BY value DESC, p_partkey""",
    "q54_dominant_suppliers" ->
      """WITH qty AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS sq
           FROM lineitem JOIN part ON p_partkey = l_partkey
           WHERE p_name LIKE '%gear%'
             AND l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1997-01-01'
           GROUP BY 1, 2),
           w AS (SELECT *, sum(sq) OVER (PARTITION BY l_partkey) AS part_total
             FROM qty)
         SELECT DISTINCT s.s_suppkey, s.s_name
         FROM w JOIN supplier s ON s.s_suppkey = w.l_suppkey
         WHERE sq * 10 > part_total * 3 ORDER BY s_suppkey""",
    "q55_late_priority" ->
      """SELECT CASE
             WHEN datediff('day', o.o_orderdate::DATE, l.l_shipdate::DATE) <= 15
               THEN '0-15'
             WHEN datediff('day', o.o_orderdate::DATE, l.l_shipdate::DATE) <= 45
               THEN '16-45'
             ELSE '46+' END AS latency_bucket,
           sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
           sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 0 ELSE 1 END)::BIGINT AS low_line_count
         FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
         WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
           AND l.l_shipdate < TIMESTAMP '1997-01-01'
         GROUP BY 1 ORDER BY latency_bucket""",
    "q56_column_profile" ->
      """WITH p AS (
           SELECT 'l_orderkey' AS column_name, count(*)::BIGINT AS n_rows,
             (count(*) - count(l_orderkey))::BIGINT AS n_null,
             count(DISTINCT l_orderkey)::BIGINT AS n_distinct FROM lineitem
           UNION ALL SELECT 'l_partkey', count(*), count(*) - count(l_partkey),
             count(DISTINCT l_partkey) FROM lineitem
           UNION ALL SELECT 'l_suppkey', count(*), count(*) - count(l_suppkey),
             count(DISTINCT l_suppkey) FROM lineitem
           UNION ALL SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
             count(DISTINCT l_returnflag) FROM lineitem
           UNION ALL SELECT 'l_shipdate', count(*), count(*) - count(l_shipdate),
             count(DISTINCT l_shipdate) FROM lineitem
           UNION ALL SELECT 'l_linestatus', count(*), count(*) - count(l_linestatus),
             count(DISTINCT l_linestatus) FROM lineitem)
         SELECT column_name, n_rows, n_null, n_distinct
         FROM p ORDER BY column_name""",
    "q57_skew_audit" ->
      """WITH freq AS (
           SELECT o_custkey, count(*)::BIGINT AS f FROM orders GROUP BY 1),
         t10 AS (SELECT sum(f)::BIGINT AS top10_rows FROM (
           SELECT f FROM freq ORDER BY f DESC, o_custkey LIMIT 10)),
         s AS (SELECT count(*)::BIGINT AS n_keys, sum(f)::BIGINT AS n_rows,
           max(f)::BIGINT AS max_freq FROM freq)
         SELECT n_rows, n_keys, max_freq,
           max_freq * 10000 // n_rows AS top1_bp,
           top10_rows * 10000 // n_rows AS top10_bp,
           max_freq * n_keys // n_rows AS max_vs_mean
         FROM s, t10""",
    "q37_lateral_topn" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
         FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_custkey = c.c_custkey
           ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
         WHERE c.c_custkey < 200
         ORDER BY c_custkey, o_totalprice DESC, o_orderkey""",
    "q36_full_outer" ->
      """WITH l AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 700),
           r AS (SELECT o_custkey, count(*)::BIGINT AS n_orders,
               round(sum(o_totalprice), 2) AS total_spent
             FROM orders WHERE o_custkey BETWEEN 400 AND 1100 GROUP BY 1)
         SELECT coalesce(l.c_custkey, r.o_custkey)::BIGINT AS custkey,
           l.c_name, r.n_orders, r.total_spent
         FROM l FULL OUTER JOIN r ON l.c_custkey = r.o_custkey
         ORDER BY custkey""",
    "q34_null_semantics" ->
      """WITH c AS (SELECT c_mktsegment,
           CASE WHEN c_custkey % 7 = 3 THEN NULL ELSE c_acctbal END AS nb
         FROM customer)
         SELECT c_mktsegment, count(*) AS n,
           count(nb) AS n_nonnull,
           sum(CASE WHEN nb IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
           round(sum(coalesce(nb, 0.0)), 2) AS sum_coalesced,
           round(avg(nb), 2) AS avg_nonnull,
           min(nb) AS min_nn, max(nb) AS max_nn
         FROM c GROUP BY 1 ORDER BY c_mktsegment""",
    "q31_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "d26_approx_distinct" ->
      """WITH toks AS (SELECT lang,
           unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             t -> length(t) > 0)) AS token
         FROM documents)
         SELECT lang, count(DISTINCT token) AS exact_distinct,
           true AS approx_within_5pct
         FROM toks GROUP BY lang ORDER BY lang""",
    "d25_char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
           counts AS (SELECT doc_id, c, count(*)::DOUBLE AS n FROM ch GROUP BY 1, 2),
           tot AS (SELECT doc_id, sum(n) AS nn FROM counts GROUP BY 1),
           ent AS (SELECT counts.doc_id,
               list_sum(list(-(n/nn)*log2(n/nn) ORDER BY c)) AS entropy,
               count(*) AS n_distinct
             FROM counts JOIN tot ON counts.doc_id = tot.doc_id GROUP BY 1)
         SELECT d.doc_id, round(coalesce(e.entropy, 0.0), 4) AS entropy,
           coalesce(e.n_distinct, 0) AS n_distinct
         FROM documents d LEFT JOIN ent e ON d.doc_id = e.doc_id
         ORDER BY d.doc_id""",
    "s19_xml_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey""",
    "s20_schema_evolution" ->
      """SELECT source, CASE WHEN doc_id % 2 = 1 THEN lang END AS lang,
           count(*)::BIGINT AS n, min(doc_id) AS min_id
         FROM documents GROUP BY 1, 2 ORDER BY source, lang""",
    // w28 = s22's oracle VERBATIM: the standing per-epoch export's
    // read-back union must equal the batch roundtrip
    // w29: the whole compacted chain replayed directly — curated corpus
    // (min-id per exact digest), e30's BM25 over it, w8's IVF probe, and
    // s22's vocab-encode integrals, normalized into one (family,k1,k2,k3,v)
    // relation; the engine side computes every row from post-compaction
    // state only
    "w29_compacted_chain" ->
      """WITH cur AS (SELECT d.doc_id, d.text FROM documents d
             JOIN (SELECT min(doc_id) AS mid FROM documents
                   GROUP BY md5(text)) k ON d.doc_id = k.mid),
         dt AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS tk
           FROM cur),
         st AS (SELECT count(*)::DOUBLE AS n, avg(len(tk)::DOUBLE) AS avgdl
           FROM dt),
         qt AS (SELECT DISTINCT doc_id AS query_id, unnest(tk[1:6]) AS term
           FROM dt WHERE doc_id % 97 = 0),
         tok AS (SELECT doc_id, len(tk)::DOUBLE AS dl, unnest(tk) AS term
           FROM dt),
         tfr AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM tok
           WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
         dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tfr GROUP BY 1),
         sc AS (SELECT q.query_id, t.doc_id,
             round(sum(ln(1 + (st.n - f.df + 0.5) / (f.df + 0.5)) * t.tf
               * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / st.avgdl))),
               4) AS score
           FROM qt q JOIN tfr t USING (term) JOIN dfr f USING (term)
           CROSS JOIN st GROUP BY 1, 2),
         bmr AS (SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM sc),
         c AS (SELECT vec_id::INT AS centroid_id, embedding::DOUBLE[] AS cv
           FROM embeddings WHERE vec_id < 8),
         corpus_cell AS (SELECT vec_id, centroid_id AS cell FROM (
             SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_distance(e.embedding::DOUBLE[], c.cv),
                   c.centroid_id) AS r
             FROM embeddings e, c) WHERE r = 1),
         query_cells AS (SELECT query_id, centroid_id AS cell FROM (
             SELECT q.vec_id AS query_id, c.centroid_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_distance(q.embedding::DOUBLE[], c.cv),
                   c.centroid_id) AS r
             FROM embeddings q, c WHERE q.vec_id < 3) WHERE r <= 2),
         scored AS (SELECT qc.query_id, cc.vec_id AS corpus_id,
             list_cosine_similarity(e.embedding::DOUBLE[],
               q.embedding::DOUBLE[]) AS cos
           FROM query_cells qc JOIN corpus_cell cc ON cc.cell = qc.cell
           JOIN embeddings e ON e.vec_id = cc.vec_id
           JOIN embeddings q ON q.vec_id = qc.query_id
           WHERE cc.vec_id <> qc.query_id),
         ivr AS (SELECT query_id, corpus_id, cos, row_number() OVER (
             PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
           FROM scored),
         pexp AS (SELECT doc_id, unnest(tk) AS token FROM dt
           WHERE len(tk) > 0),
         pcnt AS (SELECT token, count(*) AS cnt FROM pexp GROUP BY 1),
         pvoc AS (SELECT token, vid FROM (
             SELECT token,
               (row_number() OVER (ORDER BY cnt DESC, token) - 1)::BIGINT AS vid
             FROM pcnt) WHERE vid < 256),
         penc AS (SELECT e.doc_id, COALESCE(v.vid, -1)::BIGINT AS vid
           FROM pexp e LEFT JOIN pvoc v USING (token))
         SELECT family, k1, k2, k3, v FROM (
           SELECT 'bm25' AS family, query_id AS k1, rank::BIGINT AS k2,
             doc_id AS k3, score AS v FROM bmr WHERE rank <= 10
           UNION ALL
           SELECT 'ivf', query_id, rank::BIGINT, corpus_id, round(cos, 6)
             FROM ivr WHERE rank <= 5
           UNION ALL
           SELECT 'packed', doc_id, count(*)::BIGINT, sum(vid)::BIGINT, 0.0
             FROM penc GROUP BY doc_id)
         ORDER BY family, k1, k2, k3""",
    "w28_stream_packed" ->
      """WITH t AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS toks FROM documents),
         exp AS (SELECT doc_id, unnest(toks) AS token,
             unnest(range(1, len(toks)+1)) AS pos FROM t WHERE len(toks) > 0),
         cnts AS (SELECT token, count(*) AS cnt FROM exp GROUP BY 1),
         vocab AS (SELECT token, vid FROM (
             SELECT token, (row_number() OVER (ORDER BY cnt DESC, token) - 1)::BIGINT AS vid
             FROM cnts) WHERE vid < 256),
         enc AS (SELECT e.doc_id, COALESCE(v.vid, -1)::BIGINT AS vid
             FROM exp e LEFT JOIN vocab v USING (token))
         SELECT doc_id, count(*)::BIGINT AS n_tokens,
           sum(vid)::BIGINT AS sum_ids
         FROM enc GROUP BY doc_id ORDER BY doc_id""",
    // w35: s22's vocab/encode replay over the docs MINUS the tombstoned
    // ids — the post-compaction export must read as if they never landed
    // (vocab still builds over ALL docs: deletes happen after encoding)
    "w35_packed_tombstones" ->
      """WITH t AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS toks FROM documents),
         exp AS (SELECT doc_id, unnest(toks) AS token,
             unnest(range(1, len(toks)+1)) AS pos FROM t WHERE len(toks) > 0),
         cnts AS (SELECT token, count(*) AS cnt FROM exp GROUP BY 1),
         vocab AS (SELECT token, vid FROM (
             SELECT token, (row_number() OVER (ORDER BY cnt DESC, token) - 1)::BIGINT AS vid
             FROM cnts) WHERE vid < 256),
         enc AS (SELECT e.doc_id, COALESCE(v.vid, -1)::BIGINT AS vid
             FROM exp e LEFT JOIN vocab v USING (token))
         SELECT doc_id, count(*)::BIGINT AS n_tokens,
           sum(vid)::BIGINT AS sum_ids
         FROM enc WHERE doc_id % 13 <> 0
         GROUP BY doc_id ORDER BY doc_id""",
    // s22: d23's vocab/encode chain, reduced to the two integrals the
    // binary roundtrip must reproduce (count and sum of ids per doc)
    "s22_packed_roundtrip" ->
      """WITH t AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> length(x) > 0) AS toks FROM documents),
         exp AS (SELECT doc_id, unnest(toks) AS token,
             unnest(range(1, len(toks)+1)) AS pos FROM t WHERE len(toks) > 0),
         cnts AS (SELECT token, count(*) AS cnt FROM exp GROUP BY 1),
         vocab AS (SELECT token, vid FROM (
             SELECT token, (row_number() OVER (ORDER BY cnt DESC, token) - 1)::BIGINT AS vid
             FROM cnts) WHERE vid < 256),
         enc AS (SELECT e.doc_id, COALESCE(v.vid, -1)::BIGINT AS vid
             FROM exp e LEFT JOIN vocab v USING (token))
         SELECT doc_id, count(*)::BIGINT AS n_tokens,
           sum(vid)::BIGINT AS sum_ids
         FROM enc GROUP BY doc_id ORDER BY doc_id""",
    "s21_rotation_replay" ->
      """SELECT doc_id, 1::BIGINT AS n_copies, length(text)::BIGINT AS n_chars
         FROM documents ORDER BY doc_id""",
    "s17_orc_roundtrip" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
         FROM lineitem WHERE l_orderkey < 500 AND l_returnflag <> 'X'
         ORDER BY l_orderkey, l_linenumber""",
    "s18_gzip_text" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
         FROM orders WHERE o_orderkey < 3000 ORDER BY o_orderkey""",
    "s16_csv_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus,
           o_orderpriority || ',"q"' AS tricky,
           o_totalprice, o_orderdate::DATE AS odate
         FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""",
    "s15_jsonl_corrupt" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 37 = 0 THEN NULL ELSE lang END AS parsed_lang,
           CASE WHEN doc_id % 37 = 0 THEN NULL ELSE n_chars END AS parsed_n_chars,
           (doc_id % 37 = 0) AS is_corrupt
         FROM documents ORDER BY doc_id""",
    "w6_enriched_revenue" ->
      """SELECT date_trunc('hour', e.ts)::TIMESTAMP AS window_start, c.c_mktsegment,
         count(*) AS n, round(sum(e.value), 2) AS total_value
         FROM events e JOIN customer c ON c.c_custkey = e.user_id
         GROUP BY 1, 2 ORDER BY window_start, c_mktsegment""",
    "w1_hourly_counts" ->
      """SELECT date_trunc('hour', ts)::TIMESTAMP AS hour, event_type, count(*) AS n,
         round(sum(value), 2) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY hour, event_type""",
    "w9_funnel" ->
      """WITH s0 AS (SELECT user_id, min(ts) AS t0 FROM events
           WHERE event_type = 'click' GROUP BY 1),
         s1 AS (SELECT e.user_id, s0.t0, min(e.ts) AS t1 FROM events e
           JOIN s0 ON e.user_id = s0.user_id
           WHERE e.event_type = 'view' AND e.ts > s0.t0
             AND e.ts <= s0.t0 + INTERVAL 7 DAY GROUP BY 1, 2),
         s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s1.t1
             AND e.ts <= s1.t0 + INTERVAL 7 DAY GROUP BY 1)
         SELECT 0 AS stage_idx, 'click' AS stage, count(*) AS users FROM s0
         UNION ALL
         SELECT 1, 'view', count(*) FROM s1
         UNION ALL
         SELECT 2, 'purchase', count(*) FROM s2
         ORDER BY stage_idx""",
    "w10_retention" ->
      """WITH first_day AS (SELECT user_id, min(ts::DATE) AS cohort_day
           FROM events GROUP BY 1),
         active AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events)
         SELECT f.cohort_day, date_diff('day', f.cohort_day, a.day)::INT AS day_offset,
           count(DISTINCT f.user_id) AS retained
         FROM first_day f JOIN active a ON f.user_id = a.user_id
         WHERE date_diff('day', f.cohort_day, a.day) IN (0, 1, 3, 7, 14)
         GROUP BY 1, 2 ORDER BY cohort_day, day_offset""",
    "w11_top_paths" ->
      """WITH seq AS (SELECT user_id, event_type,
           lead(event_type, 1) OVER w AS e2, lead(event_type, 2) OVER w AS e3
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT concat_ws('>', event_type, e2, e3) AS path, count(*) AS cnt
         FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
         GROUP BY 1 ORDER BY cnt DESC, path LIMIT 20""",
    "w13_sliding_rate" ->
      """WITH s AS (SELECT time_bucket(INTERVAL '10 minutes', ts)
             - k.k * INTERVAL '10 minutes' AS window_start, event_type
           FROM events CROSS JOIN (VALUES (0), (1), (2)) AS k(k))
         SELECT window_start::TIMESTAMP AS window_start, event_type, count(*) AS n
         FROM s GROUP BY 1, 2 ORDER BY window_start, event_type""",
    "w14_daily_active" ->
      """SELECT ts::DATE AS day, count(DISTINCT user_id) AS dau,
           count(*) AS n_events,
           round(count(*)::DOUBLE / count(DISTINCT user_id), 3) AS events_per_user
         FROM events GROUP BY 1 ORDER BY day""",
    "w17_converted_clicks" ->
      """SELECT c.event_id AS click_id, c.user_id
         FROM events c
         WHERE c.event_type = 'click' AND EXISTS (
           SELECT 1 FROM events p
           WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
         ORDER BY click_id""",
    "w18_gap_fill" ->
      """WITH b AS (
           SELECT user_id AS b_user, bucket AS b_bucket, value AS obs_value FROM (
             SELECT user_id, date_trunc('hour', ts) AS bucket, value,
               row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                 ORDER BY ts DESC, event_id DESC) AS rn
             FROM events) WHERE rn = 1),
         s AS (SELECT user_id, date_trunc('hour', min(ts)) AS lo,
             date_trunc('hour', max(ts)) AS hi
           FROM events GROUP BY 1),
         g AS (SELECT user_id,
             unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS bucket
           FROM s)
         SELECT g.user_id, g.bucket,
           last_value(b.obs_value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
           b.obs_value IS NOT NULL AS is_observed
         FROM g LEFT JOIN b ON g.user_id = b.b_user AND g.bucket = b.b_bucket
         ORDER BY 1, 2""",
    "w19_ab_test" ->
      """WITH fc AS (
           SELECT user_id, min(ts) AS first_click FROM events
           WHERE event_type = 'click' GROUP BY 1),
         cu AS (SELECT user_id, user_id % 2 AS variant,
             EXISTS (SELECT 1 FROM events p
               WHERE p.event_type = 'purchase' AND p.user_id = fc.user_id
                 AND p.ts > fc.first_click
                 AND p.ts <= fc.first_click + INTERVAL '12 hours')::BIGINT AS conv
           FROM fc),
         agg AS (SELECT
             sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)::BIGINT AS users_a,
             sum(CASE WHEN variant = 0 THEN conv ELSE 0 END)::BIGINT AS conv_a,
             sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END)::BIGINT AS users_b,
             sum(CASE WHEN variant = 1 THEN conv ELSE 0 END)::BIGINT AS conv_b
           FROM cu)
         SELECT users_a, conv_a, conv_a * 10000 // users_a AS rate_a_bp,
           users_b, conv_b, conv_b * 10000 // users_b AS rate_b_bp,
           round((conv_a::DOUBLE / users_a - conv_b::DOUBLE / users_b) /
             sqrt(((conv_a + conv_b)::DOUBLE / (users_a + users_b)) *
               (1.0 - (conv_a + conv_b)::DOUBLE / (users_a + users_b)) *
               (1.0 / users_a + 1.0 / users_b)), 3) AS z_score
         FROM agg""",
    "w20_unmatched_interval" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           coalesce(c.user_id, p.user_id) AS user_id
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id AND p.ts >= c.ts
             AND p.ts <= c.ts + INTERVAL 30 MINUTE
         ORDER BY 1, 2""",
    "w16_session_window" ->
      """WITH x AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 1800000
               THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         y AS (
           SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM x)
         SELECT user_id, min(ts)::TIMESTAMP AS window_start,
           (max(ts) + INTERVAL 30 MINUTE)::TIMESTAMP AS window_end,
           count(*) AS n_events, round(sum(value), 2) AS total_value
         FROM y GROUP BY user_id, sid ORDER BY user_id, window_start""",
    "w15_attribution" ->
      """WITH clicks AS (
           SELECT event_id AS click_id, user_id, ts FROM events
           WHERE event_type = 'click'),
         purchases AS (
           SELECT event_id AS purchase_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
         joined AS (
           SELECT c.click_id, c.user_id, p.purchase_id,
             row_number() OVER (PARTITION BY c.click_id
               ORDER BY p.ts, p.purchase_id) AS rn
           FROM clicks c LEFT JOIN purchases p
             ON p.user_id = c.user_id AND p.ts >= c.ts
             AND p.ts <= c.ts + INTERVAL 30 MINUTE)
         SELECT click_id, user_id, purchase_id, purchase_id IS NOT NULL AS converted
         FROM joined WHERE rn = 1 ORDER BY click_id""",
    "w12_rate_anomaly" ->
      """WITH hourly AS (SELECT date_trunc('hour', ts)::TIMESTAMP AS hour,
           event_type, count(*) AS n FROM events GROUP BY 1, 2),
         scored AS (SELECT hour, event_type, n,
           avg(n) OVER w AS mu, stddev_samp(n) OVER w AS sd
           FROM hourly
           WINDOW w AS (PARTITION BY event_type ORDER BY hour
             ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING))
         SELECT hour, event_type, n, round((n - mu) / sd, 3) AS z
         FROM scored WHERE sd IS NOT NULL AND sd > 0 AND abs((n - mu) / sd) > 2
         ORDER BY hour, event_type""",
    "w23_stream_heavy_hitters" ->
      // capacity >= distinct items makes space-saving exact, so the fold
      // must reproduce plain GROUP BY counts
      """WITH c AS (SELECT event_type, user_id, count(*) AS n
           FROM events GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (
             PARTITION BY event_type ORDER BY n DESC, user_id) AS rank
           FROM c)
         SELECT event_type, user_id, n, rank FROM r
         WHERE rank <= 10 ORDER BY event_type, rank""",
    "w2_dedup_events" ->
      """SELECT user_id, event_type, min(event_id) AS first_event_id
         FROM events GROUP BY user_id, event_type ORDER BY user_id, event_type""",
    "w25_rocksdb_dedup" ->
      """SELECT md5(array_to_string(string_split(trim(text), ' ')[1:8], ' '))
             AS digest,
           count(*)::BIGINT AS n_copies, min(doc_id) AS keeper_id
         FROM documents GROUP BY 1 ORDER BY keeper_id""",
    "w26_stream_line_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS tk
           FROM documents),
         lns AS (SELECT doc_id,
             unnest(list_transform(range(0, CAST(ceil(len(tk)/8.0) AS BIGINT)),
               i -> {'pos': i, 'line': array_to_string(tk[i*8+1 : i*8+8], ' ')})) AS u
           FROM toks),
         l2 AS (SELECT doc_id, u.pos AS pos, u.line AS line FROM lns),
         mk AS (SELECT doc_id, pos, line, row_number() OVER (
             PARTITION BY line ORDER BY doc_id % 3, doc_id, pos) = 1
             AS keep FROM l2)
         SELECT doc_id, (doc_id % 3)::INT AS epoch,
           count(*)::BIGINT AS n_lines_before,
           sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_lines_after,
           md5(coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
             ORDER BY pos), '')) AS clean_md5
         FROM mk GROUP BY doc_id ORDER BY doc_id""",
    "w3_sessionize" ->
      """WITH x AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
               THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         y AS (
           SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM x)
         SELECT user_id, min(ts)::TIMESTAMP AS session_start,
           max(ts)::TIMESTAMP AS session_end, count(*) AS n_events,
           round(sum(value), 2) AS total_value
         FROM y GROUP BY user_id, session_id ORDER BY user_id, session_start""",
    // d6: raw xxhash chain values have no DuckDB builtin; the oracle checks
    // the fingerprint CONTRACT (equal iff normalized token streams equal)
    // by recomputing equality groups from the token stream itself.
    "d6_fingerprint" ->
      """WITH fp AS (SELECT doc_id,
           array_to_string(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
             t -> length(t) > 0), ' ') AS key
         FROM documents),
         g AS (SELECT key, min(doc_id) AS fp_group_min_id, count(*) AS fp_group_size
           FROM fp GROUP BY key)
         SELECT fp.doc_id, g.fp_group_min_id, g.fp_group_size
         FROM fp JOIN g USING (key) ORDER BY doc_id"""
  ) ++ FixtureOracles.sql
}
