package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.TableContracts

/** Pins the loud-failure contract of the verify/bench harness (round-6
  * postmortem: 20 queries crashed for two rounds and the gate showed fewer
  * rows instead of FAILs).
  *
  * Three layers, each spec'd:
  *  1. Verify.dumpQuery leaves an `_ERROR` marker (and clears stale output)
  *     when a query throws — a crash now produces an artifact, not silence.
  *  2. TableContracts fails fast, with a readable diff, on input-schema
  *     drift — 20 scattered AnalysisExceptions become one contract error.
  *  3. SparkEntry.events normalizes both physical `ts` encodings the driver
  *     has shipped (BIGINT nanos under nanosAsLong, and timestamp[us]) to
  *     identical TIMESTAMP values.
  */
class HarnessGateSpec extends AnyFunSuite with SparkTestBase {

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  // ------------------------------------------------------------ dumpQuery

  test("dumpQuery writes parquet and no _ERROR for a healthy query") {
    val out = tmp("gate-ok")
    val ok = Verify.dumpQuery(spark, "unused", out.toString, "good",
      (s, _) => s.range(5).toDF("id"))
    assert(ok)
    val dir = out.resolve("good")
    assert(Files.list(dir).anyMatch(p => p.toString.endsWith(".parquet")))
    assert(!Files.exists(dir.resolve("_ERROR")))
  }

  test("dumpQuery leaves an _ERROR marker and clears stale parquet when the query throws") {
    val out = tmp("gate-crash")
    // a previous good run left parquet behind
    assert(Verify.dumpQuery(spark, "unused", out.toString, "q",
      (s, _) => s.range(3).toDF("id")))
    // the query now crashes (e.g. input schema drifted underneath it)
    val ok = Verify.dumpQuery(spark, "unused", out.toString, "q",
      (_, _) => throw new IllegalStateException("schema drifted"))
    assert(!ok)
    val dir = out.resolve("q")
    assert(Files.exists(dir.resolve("_ERROR")),
      "a crashed query must leave a loud _ERROR artifact")
    assert(Files.readString(dir.resolve("_ERROR")).contains("schema drifted"))
    assert(!Files.list(dir).anyMatch(p => p.toString.endsWith(".parquet")),
      "stale parquet from the earlier good run must not read as a fresh result")
  }

  // -------------------------------------------------------- TableContracts

  /** Minimal conforming testdata dir: every contracted table with its
    * expected columns/types, zero rows (contract is schema-only). */
  private def writeConformingTables(dir: Path): Unit = {
    def empty(df: DataFrame, name: String): Unit =
      df.limit(0).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val s = spark
    import s.implicits._
    empty(Seq((1, "a")).toDF("r_regionkey", "r_name"), "region")
    empty(Seq((1, "a", 1)).toDF("n_nationkey", "n_name", "n_regionkey"), "nation")
    empty(Seq((1L, "a", 1, 0.0, "m")).toDF(
      "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), "customer")
    empty(Seq((1L, "a", 1, 0.0)).toDF(
      "s_suppkey", "s_name", "s_nationkey", "s_acctbal"), "supplier")
    empty(Seq((1L, "a", "b", "t", 1, 0.0)).toDF(
      "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"), "part")
    empty(Seq((1L, 1L, "O", 0.0, "p")).toDF(
      "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .withColumn("o_orderdate", lit("2024-01-01").cast("timestamp")), "orders")
    empty(Seq((1L, 1L, 1L, 1, 0.0, 0.0, 0.0, 0.0, "R", "F")).toDF(
      "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus")
      .withColumn("l_shipdate", lit("2024-01-01").cast("timestamp")), "lineitem")
    empty(Seq((1L, 1L, "t", 0.0, "{}")).toDF(
      "event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts", lit("2024-01-01").cast("timestamp")), "events")
    empty(Seq((1L, "t", "en", "s", 1L)).toDF(
      "doc_id", "text", "lang", "source", "n_chars"), "documents")
    empty(Seq((1L, Array(0.1f), 1)).toDF("vec_id", "embedding", "label"), "embeddings")
  }

  test("TableContracts passes a conforming testdata dir") {
    val dir = tmp("contract-ok")
    writeConformingTables(dir)
    assert(TableContracts.violations(spark, dir.toString).isEmpty)
    TableContracts.assertContract(spark, dir.toString) // must not throw
  }

  test("TableContracts fails fast with a readable diff on a mistyped events table") {
    val dir = tmp("contract-drift")
    writeConformingTables(dir)
    val s = spark
    import s.implicits._
    // the drift: ts shipped as a string column
    Seq((1L, "2024-01-01", 1L, "t", 0.0, "{}")).toDF(
      "event_id", "ts", "user_id", "event_type", "value", "props")
      .limit(0).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val v = TableContracts.violations(spark, dir.toString)
    assert(v.exists(line => line.contains("events.ts") && line.contains("string")),
      s"expected a readable events.ts type diff, got: $v")
    val err = intercept[IllegalStateException] {
      TableContracts.assertContract(spark, dir.toString)
    }
    assert(err.getMessage.contains("events.ts"))
  }

  test("TableContracts reports a missing column, not a scattered AnalysisException") {
    val dir = tmp("contract-missing")
    writeConformingTables(dir)
    val s = spark
    import s.implicits._
    Seq((1L, "t")).toDF("doc_id", "text")
      .limit(0).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val v = TableContracts.violations(spark, dir.toString)
    assert(v.exists(_.contains("documents.lang: MISSING")))
  }

  // ------------------------------------- check_oracle.py driver-faithful mode

  /** Round-7 postmortem: the local tolerance gate claimed "218 all green"
    * while the driver's typed-value hash FAILed 3 queries (HUGEINT-vs-BIGINT
    * result types; last-cent float drift). `--exact` mode must see BOTH
    * failure classes so the local gate can never again disagree with the
    * driver. Shells out to the real script; skipped when python3+duckdb or
    * the testdata dir is absent (e.g. bare CI). */
  test("check_oracle --exact FAILs type-mismatch and float-drift dumps that tolerance mode passes") {
    import scala.sys.process._
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory, "testdata not present")
    assume(Process(Seq("python3", "-c", "import duckdb"))
      .!(ProcessLogger(_ => ())) == 0, "python3+duckdb not available")
    val out = tmp("gate-exact")
    // t1: Spark dumps BIGINT 30; DuckDB types sum(INTEGER) as HUGEINT 30 —
    // equal values, different types: the d58/q55 failure class.
    spark.range(1).selectExpr("30L AS n")
      .coalesce(1).write.parquet(out.resolve("t1").toString)
    // t2: last-bit float difference — the q39 failure class.
    spark.range(1).selectExpr("CAST(0.30000000000000004 AS DOUBLE) AS v")
      .coalesce(1).write.parquet(out.resolve("t2").toString)
    Files.writeString(out.resolve("oracle_sql.json"),
      """{"t1": "SELECT sum(x) AS n FROM (VALUES (30)) t(x)",
         | "t2": "SELECT 0.3::DOUBLE AS v"}""".stripMargin)
    val buf = new StringBuilder
    val logger = ProcessLogger(l => buf.append(l).append('\n'), _ => ())
    val tol = Process(Seq("python3", "tools/check_oracle.py",
      sfDir, out.toString)).!(logger)
    assert(tol == 0, s"tolerance mode must pass both dumps:\n$buf")
    buf.clear()
    val exact = Process(Seq("python3", "tools/check_oracle.py", "--exact",
      sfDir, out.toString)).!(logger)
    assert(exact != 0, "exact mode must FAIL")
    val report = buf.toString
    assert(report.contains("t1") && report.contains("result type mismatch")
      && report.contains("HUGEINT"), s"expected a t1 type-mismatch row:\n$report")
    assert(report.contains("t2") && report.contains("float mismatch (exact)"),
      s"expected a t2 exact-float row:\n$report")
  }

  // ------------------------- driver harness output-schema compatibility

  /** Round-8 postmortem (third local-vs-driver gate divergence in three
    * rounds): d78 dumped a top-level `array<string>` column and the
    * driver's pandas canonicalization crashed sorting it (`unhashable
    * type: numpy.ndarray`) — rows/schema/hash were never evaluated, while
    * the local gate's list-aware comparator passed it. The output contract
    * is therefore structural: EVERY SparkEntry.queries entry must emit
    * scalar-only top-level columns (serialize collections with
    * concat_ws/to_json in the query projection — the operator API can keep
    * the nested type). check_oracle.py --exact enforces the same rule on
    * the dumped parquet; this spec catches it before a dump exists.
    * Authoring rule documented in tutorial/README.md ("Authoring oracled
    * queries"). */
  /** SchemaTimer's measurement inlined into the suite: build each
    * builder's schema under a unique job group, timing it AND counting the
    * Spark jobs the build triggered. A builder is flagged only when it both
    * ran ≥1 job and took eager-build wall time (over the threshold it is
    * retried once, best kept). The job count does NOT tell lazy from
    * eager: every `spark.read.parquet(...)` runs one schema-inference job,
    * so lazy builders run jobs too. Measured at sf0.001 on a 4-vCPU host:
    * a bare lineitem read runs 1 job; the lazy builders run 1-8 jobs in at
    * most ~640 ms (q52_market_share the slowest); the eager
    * d36_containment_pairs runs 20 jobs in 1.7-3.7 s. The wall-clock
    * threshold is the only separator, with about 2x margin over the
    * slowest lazy builder, so a heavily loaded machine can still flag a
    * lazy builder. */
  private val EagerBuildMs = 1200L
  private def slowBuilders(
      queries: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)],
      sfDir: String, thresholdMs: Long = EagerBuildMs): Seq[(String, Long)] =
    queries.flatMap { case (name, fn) =>
      val sc = spark.sparkContext
      def buildMsAndJobs(): (Long, Int) = {
        val group = s"eager-detect-$name-${System.nanoTime()}"
        sc.setJobGroup(group, "eager-builder auto-detect", false)
        val t0 = System.nanoTime()
        try fn(spark, sfDir).schema finally sc.clearJobGroup()
        val ms = (System.nanoTime() - t0) / 1000000
        // the status store is fed asynchronously off the listener bus —
        // poll briefly, but only when the wall time is suspicious (the
        // common fast-lazy case never waits)
        def jobs() = sc.statusTracker.getJobIdsForGroup(group).length
        var n = jobs()
        var waited = 0
        while (n == 0 && ms > thresholdMs && waited < 500) {
          Thread.sleep(50); waited += 50; n = jobs()
        }
        (ms, n)
      }
      val (firstMs, firstJobs) = buildMsAndJobs()
      if (firstMs <= thresholdMs || firstJobs == 0) None
      else {
        val (retryMs, _) = buildMsAndJobs()
        val best = math.min(firstMs, retryMs)
        if (best > thresholdMs) Some(name -> best) else None
      }
    }

  test("every queries() output schema is scalar-only (driver pandas-sortable)") {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory, "testdata not present")
    // EAGER builders (driver-side fits, folds, real micro-batch streams)
    // are not executed here — deriving their schema costs seconds each and
    // made this test's wall time grow with every eager query added
    // (round-10 advice). Their dumped outputs are still gated by the same
    // structural rule in tools/check_oracle.py (nested_cols), which the
    // subprocess test above exercises and the driver runs every round.
    // Parallel fan-out was measured first and does NOT help: the eager
    // builders' many tiny jobs serialize on the single-threaded
    // DAGScheduler event loop, not on the submitting thread.
    val stale = SparkEntry.eagerQueries -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"eagerQueries names absent from queries(): $stale")
    val nonEager = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => SparkEntry.eagerQueries(name) }
    val offenders = nonEager.flatMap { case (name, fn) =>
        fn(spark, sfDir).schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
              f.dataType.isInstanceOf[MapType] ||
              f.dataType.isInstanceOf[StructType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
      }
    assert(offenders.isEmpty,
      s"top-level nested columns crash the driver's pandas sort " +
        s"(see tutorial/README.md 'Authoring oracled queries'); serialize " +
        s"them in the query projection: ${offenders.mkString("; ")}")
    // AUTO-DETECT unflagged eager builders (round-11 verdict): the
    // hand-maintained eagerQueries set used to rot silently — a NEW eager
    // builder left unflagged only showed up if someone ran SchemaTimer by
    // hand. Now any supposedly-lazy builder that takes eager-build time
    // fails the suite. (The schema build above warmed every plan, so this
    // timing pass re-plans from the analysis cache — cheap.)
    val slow = slowBuilders(nonEager, sfDir)
    assert(slow.isEmpty,
      s"builders taking eager-build time (> ${EagerBuildMs} ms — driver-side " +
        s"jobs in the builder?) but not flagged in SparkEntry.eagerQueries: " +
        slow.map { case (n, ms) => s"$n ($ms ms)" }.mkString(", "))
  }

  test("the eager-builder auto-detect catches a deliberately-unflagged eager builder") {
    val sfDir = "/root/testdata/sf0.001"
    // an eager builder: runs a REAL Spark job before returning the frame
    // (job-count + wall time is the detection signature; a lowered
    // threshold keeps the fixture job short)
    val fakeEager: (org.apache.spark.sql.SparkSession, String) => DataFrame =
      (s, _) => {
        import s.implicits._
        s.range(4).as[Long]
          .mapPartitions { it => Thread.sleep(150); it }.toDF("x").count()
        s.range(1).toDF("x")
      }
    // slow but LAZY: burns driver wall time with ZERO jobs — the old
    // wall-clock-only gate would flag it; the job-count gate must not
    val slowLazy: (org.apache.spark.sql.SparkSession, String) => DataFrame =
      (s, _) => { Thread.sleep(200); s.range(1).toDF("x") }
    val lazyBuilder: (org.apache.spark.sql.SparkSession, String) => DataFrame =
      (s, _) => s.range(1).toDF("x")
    val caught = slowBuilders(
      Seq("fake_eager" -> fakeEager, "slow_lazy" -> slowLazy,
        "ok_lazy" -> lazyBuilder), sfDir, thresholdMs = 100L)
    assert(caught.map(_._1) == Seq("fake_eager"),
      s"auto-detect must flag exactly the job-running eager builder: $caught")
  }

  // ------------------------------------------------- events ts adaptivity

  test("SparkEntry.events normalizes BIGINT-nanos and timestamp[us] ts identically") {
    val s = spark
    import s.implicits._
    val base = Seq(
      (1L, 1706745600123456789L, 10L, "click", 1.0, "{}"),
      (2L, 1706745601987654321L, 11L, "view", 2.0, "{}"))
    val nanosDir = tmp("events-nanos")
    base.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$nanosDir/events.parquet")
    val microsDir = tmp("events-micros")
    base.map { case (id, ns, u, t, v, p) => (id, ns / 1000, u, t, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")))
      .write.mode("overwrite").parquet(s"$microsDir/events.parquet")

    val fromNanos = SparkEntry.events(spark, nanosDir.toString)
    val fromMicros = SparkEntry.events(spark, microsDir.toString)
    assert(fromNanos.schema("ts").dataType.typeName == "timestamp")
    assert(fromMicros.schema("ts").dataType.typeName == "timestamp")
    val a = fromNanos.orderBy("event_id").collect().map(_.toSeq).toSeq
    val b = fromMicros.orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(a == b, "both physical encodings must yield identical normalized rows")
  }
}
