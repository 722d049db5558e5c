package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.functions.{HashFunctions, TextFunctions}
import graft.model._
import graft.operators.{Bm25, Dedup, Transforms}
import graft.sources.LogSources
import graft.streaming.{AuditWriter, LogPipeline, StreamingBm25, StreamingCuration}

/** Runs one workload of the graft benchmark against the program's public
  * functions and writes what it measured to `<out>/result.json`. Inputs
  * were generated beforehand into `<in>`; the correctness checks run after
  * this process ends (perfbench/checks.py).
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --in DIR --out DIR --cores N --producer FILE --python EXE
  */
object Main {

  case class Ctx(spark: SparkSession, in: String, out: String, seconds: Double, seed: Long,
      tracing: Tracing, python: String, producer: String) {
    def tr: Tracer = tracing.tracer
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // built the way graft.GraftMain.main builds its session, on a fixed master
    val spark = SparkSession.builder()
      .appName("graft-agent")
      .master(s"local[${a("cores")}]")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val traced = a("trace") == "1"
    val ctx = Ctx(spark, a("in"), a("out"), a("seconds").toDouble, a("seed").toLong,
      new Tracing(spark, traced), a("python"), a("producer"))
    val result = a("workload") match {
      case "tail_thrift" => tailThrift(ctx)
      case "drain_text" => drainBacklog(ctx, "text")
      case "drain_thrift" => drainBacklog(ctx, "thrift")
      case "curate_stream" => curateStream(ctx)
      case "search_bm25" => searchBm25(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val reps = result("setup_reps_s").asInstanceOf[Seq[Double]]
    val heap = ctx.tracing.heap.map(h => "jvm.heap_peak_mb" -> h.peakBytes / 1048576.0)
    val layers = result.getOrElse("layers", Map.empty[String, Double]).asInstanceOf[Map[String, Double]] ++ heap
    Json.write(s"${ctx.out}/result.json", result ++ Map(
      "session_s" -> sessionS,
      "setup_s" -> (sessionS + Stats.median(reps)),
      "layers" -> layers))
    if (traced) ctx.tr.write(s"${ctx.out}/spans.jsonl")
    spark.stop()
  }

  private def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, elapsedS(t0))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def treeFiles(dir: String): Seq[java.io.File] = {
    val f = new java.io.File(dir)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(x => treeFiles(x.getPath))
    else if (f.isFile && !f.getName.startsWith(".")) Seq(f) else Nil
  }

  private def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }

  private def durP50(ps: Seq[StreamingQueryProgress], keys: String*): Double =
    Stats.median(ps.map(p => keys.map(Progress.dur(p, _)).sum))

  private val offsetMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def offsetMap(json: String): Map[String, Long] =
    if (json == null) Map.empty
    else offsetMapper.readValue(json, classOf[java.util.Map[String, Number]])
      .asScala.map { case (k, v) => k -> v.longValue }.toMap

  // ------------------------------------------------------------------ ingestion

  val FilterRe = "level=(INFO|WARN|ERROR)"
  val ModifyRe = "uid=([0-9]+)"
  val ModifyRepl = "uid=#$1"

  /** The agent pipeline of the ingestion workloads: graft-tail source,
    * the text filter and regex modifier (text only), envelope, rolled
    * objects with an audit side channel. */
  private def ingestCfg(c: Ctx, format: String, dir: String, tag: String) = PipelineConfig(
    name = "bench", logDir = dir,
    reader = if (format == "text") ReaderSpec.TextLine(filterRegex = Some(FilterRe))
      else ReaderSpec.ThriftFramed(),
    transforms = if (format == "text") Seq(TransformSpec.RegexModifier(ModifyRe, ModifyRepl)) else Nil,
    writer = WriterSpec.RolledObjects(s"${c.out}/$tag/objects", "{{LOGNAME}}/{{UUID}}"),
    checkpointDir = Some(s"${c.out}/$tag/checkpoint"), tailMode = true)

  /** Rung 4 is the full pipeline (LogPipeline.start with sink and audit);
    * rungs 1-3 end in a noop sink after read+decode (1), + the text filter,
    * newline trim and Transforms modifier (2), + the envelope of
    * LogPipeline.applyTransforms (3). Every rung runs with a zero-interval trigger. */
  private def startRung(c: Ctx, pc: PipelineConfig, tag: String, rung: Int): StreamingQuery = {
    import c._
    if (rung == 4) tr.span("streaming.LogPipeline.start") {
      LogPipeline.start(spark, pc, Trigger.ProcessingTime(0L),
        Some(new AuditWriter(spark, s"$out/$tag/audit")))
    } else {
      val src = tr.span("sources.LogSources.fromSpec") {
        LogSources.fromSpec(spark, pc.logDir, pc.reader, streaming = true,
          tailMode = true, fileRegex = Some(pc.logStreamRegex))
      }
      val df = rung match {
        case 1 => src
        case 2 => tr.span("operators.Transforms") {
          // the reader-level text options of LogPipeline.applyTransforms
          val read = pc.reader match {
            case ReaderSpec.TextLine(re, _, _, _, trim, _) =>
              val filtered = re.fold(src)(Transforms.filterRegex(src, "value", _))
              if (trim) filtered.withColumn("value", Transforms.trimTrailingNewline(col("value")))
              else filtered
            case _ => src
          }
          Transforms(read, pc.transforms)
        }
        case _ => tr.span("streaming.LogPipeline.applyTransforms") { LogPipeline.applyTransforms(src, pc) }
      }
      df.writeStream.queryName(s"rung$rung").trigger(Trigger.ProcessingTime(0L))
        .option("checkpointLocation", s"$out/$tag/checkpoint")
        .foreachBatch { (b: DataFrame, _: Long) => noop(b); () }
        .start()
    }
  }

  /** One closed drain of `dir` from a fresh checkpoint until everything is
    * committed; returns its seconds. */
  private def drainOnce(c: Ctx, format: String, dir: String, tag: String, rung: Int): Double =
    timed {
      val q = startRung(c, ingestCfg(c, format, dir, tag), tag, rung)
      c.tr.span(s"streaming.drain.rung$rung") { q.processAllAvailable() }
      q.stop()
    }._2

  /** Traced ingestion: every progress of the full pipeline, the backlog it
    * found at each trigger, and Spark counters around the measured work. */
  private class IngestTrace(c: Ctx, format: String, dir: String) {
    var backlogMax = 0L
    private val log = new ProgressLog(p => if (p.name == "bench") p.sources.headOption.foreach { s =>
      val appended = Option(new java.io.File(dir).listFiles).toSeq.flatten.map(_.length).sum
      backlogMax = math.max(backlogMax, appended - offsetMap(s.startOffset).values.sum)
    })
    c.spark.streams.addListener(log)
    private var counters = Map.empty[String, Double]
    private var windows = Vector.empty[(Long, Long)]

    def measure[T](body: => T): T = {
      val before = c.tracing.snapshot()
      val w0 = System.currentTimeMillis()
      val r = body
      windows :+= ((w0, System.currentTimeMillis()))
      counters = SparkCounters.delta(before, c.tracing.snapshot()).map { case (k, v) =>
        k -> (v + counters.getOrElse(k, 0.0)) }
      r
    }

    def stop(): Unit = c.spark.streams.removeListener(log)

    /** `ladder` holds the median seconds of rungs 1-4. */
    def layers(ladder: Map[Int, Double], drains: Int): Map[String, Double] = {
      stop()
      val ps = Progress.withData(log.all.filter(_.name == "bench"))
      Files.write(Paths.get(s"${c.out}/progress.jsonl"), ps.map(_.json.replace("\n", " ")).asJava)
      val audit = new AuditWriter(c.spark, s"${c.out}/audit_probe")
      val auditMs = (0 until 5).map(i => timed(c.tr.span("streaming.AuditWriter.record") {
        audit.record("probe", i.toLong, 1000L)
      })._2 * 1000)
      // progress reports latestOffset in whole ms; time the call itself
      val stream = new graft.sources.v2.TailMicroBatchStream(dir, format, None)
      val latestMs = (0 until 20).map(_ => timed(c.tr.span("sources.TailMicroBatchStream.latestOffset") {
        stream.latestOffset(stream.initialOffset(), ReadLimit.allAvailable())
      })._2 * 1000)
      Map(
        "sources.latest_offset_ms" -> Stats.median(latestMs),
        "sources.files_listed" -> Stats.median(ps.map(p =>
          p.sources.headOption.map(s => offsetMap(s.endOffset).size.toDouble).getOrElse(0.0))),
        "sources.backlog_bytes" -> backlogMax.toDouble,
        "sources.decode_s" -> ladder(1),
        "operators.transform_s" -> (ladder(2) - ladder(1)),
        "operators.envelope_s" -> (ladder(3) - ladder(2)),
        "streaming.sink_write_s" -> (ladder(4) - ladder(3)),
        "streaming.batches" -> ps.size.toDouble / drains,
        "streaming.rows_per_batch_p50" -> Stats.median(ps.map(_.numInputRows.toDouble)),
        "streaming.trigger_ms_p50" -> durP50(ps, "triggerExecution"),
        "streaming.trigger_ms_p90" -> Stats.pct(ps.map(Progress.dur(_, "triggerExecution")), 0.9),
        "streaming.query_planning_ms" -> durP50(ps, "queryPlanning"),
        "streaming.add_batch_ms" -> durP50(ps, "addBatch"),
        "streaming.commit_ms" -> durP50(ps, "walCommit", "commitOffsets"),
        "streaming.audit_record_ms" -> Stats.median(auditMs)
      ) ++ SparkCounters.layerMetrics(counters, ps.size,
        c.tracing.counters.get.idleShare(windows), 0)
    }
  }

  /** tail_thrift, open loop: the producer process appends thrift frames at a
    * fixed rate into one growing file while the pipeline delivers them. The
    * traced run then drains the delivered file once per ladder rung. */
  def tailThrift(c: Ctx): Map[String, Any] = {
    import c._
    val reps = (0 until 3).map(i => drainOnce(c, "thrift", s"$in/warm$i", s"warm$i", 4))
    val live = s"$in/live"
    Files.createDirectories(Paths.get(live))
    val trace = if (tracing.enabled) Some(new IngestTrace(c, "thrift", live)) else None
    def run(): Unit = {
      val q = startRung(c, ingestCfg(c, "thrift", live, "live"), "live", 4)
      // the producer starts once the query idles on the empty directory
      val deadline = System.currentTimeMillis() + 30000
      while (!Option(q.status.message).exists(_.startsWith("Waiting for")) &&
          System.currentTimeMillis() < deadline) Thread.sleep(10)
      val proc = new ProcessBuilder(python, producer, "--dir", live, "--rate", TailRate.toString,
        "--seconds", seconds.toString, "--seed", seed.toString, "--out", s"$out/producer.json")
        .redirectErrorStream(true).redirectOutput(new java.io.File(s"$out/producer.log")).start()
      try {
        if (!proc.waitFor((seconds + 60).toLong, TimeUnit.SECONDS))
          throw new IllegalStateException("producer did not finish")
      } finally if (proc.isAlive) { proc.destroyForcibly(); proc.waitFor() }
      require(proc.exitValue == 0, s"producer exited ${proc.exitValue}")
      tr.span("streaming.drain.rung4") { q.processAllAvailable() }
      q.stop()
    }
    trace match {
      case Some(t) => t.measure(run())
      case None => run()
    }
    val layers = trace.map { t =>
      t.stop()
      val ladder = (1 to 4).map(r => r -> drainOnce(c, "thrift", live, s"ladder$r", r)).toMap
      t.layers(ladder, 1)
    }.getOrElse(Map.empty)
    Map("setup_reps_s" -> reps, "failed" -> 0, "layers" -> layers)
  }

  /** Records per second the tail_thrift producer offers (about 1 MB/s). */
  val TailRate = 4000

  /** A fixed Spark job that uses no graft code: build 1M log-like strings
    * in 2 tasks (as many as a drain's decode tasks), rewrite them with a
    * regex and checksum them. The drains run it before every timed drain;
    * its wall time measures how fast the host runs Spark work just then. */
  private def referenceJob(spark: SparkSession): DataFrame = spark.range(0, 1000000, 1, 2)
    .selectExpr("concat('level=INFO uid=', cast(id % 1000003 as string), ' msg=', " +
      "repeat('alpha beta ', cast(id % 20 as int))) as v")
    .selectExpr("crc32(regexp_replace(v, 'uid=([0-9]+)', 'uid=#$1')) as c")

  /** drain_text / drain_thrift, closed: rotated files are on disk before the
    * pipeline starts; each drain starts a fresh pipeline that takes the
    * whole backlog and runs until everything is committed, round after
    * round. Each round runs the reference job, then the drain. Set-up is six
    * such rounds. A traced round also drains once per ladder rung. */
  def drainBacklog(c: Ctx, format: String): Map[String, Any] = {
    import c._
    val ref = referenceJob(spark)
    val reps = (0 until 6).map { i => noop(ref); drainOnce(c, format, s"$in/backlog", s"warm$i", 4) }
    val trace = if (tracing.enabled) Some(new IngestTrace(c, format, s"$in/backlog")) else None
    val t0 = System.nanoTime()
    var round = 0
    val times = Vector.newBuilder[Map[Int, Double]]
    val refTimes = Vector.newBuilder[Double]
    val objectBytes = Vector.newBuilder[Long]
    while (round == 0 || elapsedS(t0) < seconds) {
      tracing.tracer.op = round
      val dir = s"$out/round$round"
      def drain(r: Int) = drainOnce(c, format, s"$in/backlog", s"round$round/r$r", r)
      val rungs = trace.fold(Map.empty[Int, Double])(_ => (1 to 3).map(r => r -> drain(r)).toMap)
      refTimes += timed(noop(ref))._2
      times += rungs + (4 -> trace.fold(drain(4))(_.measure(drain(4))))
      objectBytes += treeFiles(s"$dir/r4/objects").map(_.length).sum
      // only the latest round's output stays for the checks: the earlier
      // ones are deleted before their pages reach the disk, so writeback of
      // finished rounds does not run under later drains
      if (round > 0) deleteTree(s"$out/round${round - 1}")
      round += 1
    }
    val t = times.result()
    val layers = trace.map(_.layers((1 to 4).map(r => r -> Stats.median(t.map(_(r)))).toMap, t.size))
      .getOrElse(Map.empty)
    Map("setup_reps_s" -> reps, "failed" -> 0, "drain_s" -> t.map(_(4)),
      "reference_s" -> refTimes.result(), "object_bytes" -> objectBytes.result(), "layers" -> layers)
  }

  // -------------------------------------------------------------- curate_stream

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val ProbeSchema: StructType = StructType(Seq(
    StructField("probe_id", LongType), StructField("text", StringType)))

  /** Closed: StreamingCuration.run over id-ordered document batches (one
    * file per micro-batch), each round on fresh state until the run time
    * is spent. */
  def curateStream(c: Ctx): Map[String, Any] = {
    import c._
    val probes = spark.read.schema(ProbeSchema).json(s"$in/probes.json")
    def runOnce(docsDir: String, tag: String): Seq[StreamingQueryProgress] = {
      val docs = spark.readStream.schema(DocSchema).option("maxFilesPerTrigger", 1).json(docsDir)
      val q = tr.span("streaming.StreamingCuration.run") {
        StreamingCuration.run(docs, probes, s"$out/$tag/state", s"$out/$tag/checkpoint")
      }
      tr.span("streaming.drain") { q.processAllAvailable() }
      val ps = q.recentProgress.toSeq
      q.stop()
      Progress.withData(ps)
    }
    val reps = (0 until 3).map(i => timed(runOnce(s"$in/warm_docs", s"warm$i"))._2)
    val before = tracing.snapshot()
    val t0 = System.nanoTime()
    var round = 0
    val rounds = Vector.newBuilder[Seq[StreamingQueryProgress]]
    while (round == 0 || elapsedS(t0) < seconds) {
      tracing.tracer.op = round
      rounds += runOnce(s"$in/docs", s"round$round")
      round += 1
    }
    val after = tracing.snapshot()
    val rs = rounds.result()
    val batchMs = rs.flatten.map(Progress.dur(_, "triggerExecution"))
    val docs = rs.flatten.map(_.numInputRows).sum
    val spanS = rs.map { ps =>
      (Progress.startMs(ps.last) + Progress.dur(ps.last, "triggerExecution") - Progress.startMs(ps.head)) / 1000.0
    }.sum
    val corpus = spark.read.schema(DocSchema).json(s"$in/docs")
    tr.span("streaming.StreamingCuration.curateFold") {
      StreamingCuration.curateFold(corpus, probes, 1).write.parquet(s"$out/fold")
    }
    val layers = if (!tracing.enabled) Map.empty[String, Double] else {
      val windows = rs.flatten.map(p => (Progress.startMs(p), Progress.startMs(p) + Progress.dur(p, "triggerExecution").toLong))
      curateLayers(c, probes, s"$out/round${round - 1}/state", batchMs) ++
        SparkCounters.layerMetrics(SparkCounters.delta(before, after), batchMs.size,
          tracing.counters.get.idleShare(windows), 0)
    }
    Map("setup_reps_s" -> reps, "failed" -> 0, "rounds" -> rs.size, "latencies_ms" -> batchMs,
      "ops_per_s" -> docs / spanS, "docs" -> docs, "layers" -> layers)
  }

  /** Traced curate_stream: each operator the standing pipeline calls, timed
    * on its own over the same batches. */
  private def curateLayers(c: Ctx, probes: DataFrame, stateDir: String,
      batchMs: Seq[Double]): Map[String, Double] = {
    import c._
    val files = Option(new java.io.File(s"$in/docs").listFiles).toSeq.flatten.map(_.getPath).sorted
    val batches = files.map(f => spark.read.schema(DocSchema).json(f).localCheckpoint(true))
    val corpus = batches.reduce(_ unionByName _).localCheckpoint(true)
    val probeH = StreamingCuration.probeHashSet(probes).localCheckpoint(true)
    def state(sub: String, upTo: Int, empty: StructType): DataFrame = {
      val dirs = (0 until upTo).map(e => s"$stateDir/$sub/batch=$e")
      if (dirs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), empty)
      else spark.read.parquet(dirs: _*)
    }
    val digestSchema = StructType(Seq(StructField("id", LongType), StructField("digest", StringType)))
    val sigSchema = StructType(Seq(StructField("id", LongType), StructField("sig", ArrayType(LongType)),
      StructField("band", IntegerType), StructField("key", LongType)))
    val judgeMs = batches.indices.map { b =>
      val digests = state("digests", b, digestSchema).localCheckpoint(true)
      val sigs = state("sigs", b, sigSchema).localCheckpoint(true)
      timed(tr.span("streaming.StreamingCuration.curateBatch") {
        val (v, dd, sd, release) = StreamingCuration.curateBatch(batches(b), digests, sigs, probeH)
        noop(v); noop(dd); noop(sd); release()
      })._2 * 1000
    }
    val stateRows = spark.read.parquet(s"$stateDir/digests").count() +
      spark.read.parquet(s"$stateDir/sigs").count()
    val (_, qualityS) = timed(tr.span("functions.TextFunctions.qualityScoreOfProfile") {
      noop(corpus.select(TextFunctions.qualityScoreOfProfile(TextFunctions.textProfile(col("text")))))
    })
    def perBatch(name: String)(f: DataFrame => Unit): Double =
      batches.map(b => timed(tr.span(name)(f(b)))._2).sum
    val exactS = perBatch("operators.Dedup.exactDuplicateGroups")(b => noop(Dedup.exactDuplicateGroups(b)))
    val pairs = batches.map(b => Dedup.ngramJaccardPairs(b, threshold = 0.3))
    val lshS = pairs.map(p => timed(tr.span("operators.Dedup.ngramJaccardPairs")(p.localCheckpoint(true)))._2).sum
    val pairsMat = pairs.map(_.localCheckpoint(true))
    val clustersS = pairsMat.map(p => timed(tr.span("operators.Dedup.duplicateClusters")(noop(Dedup.duplicateClusters(p))))._2).sum
    val decontamS = perBatch("operators.decontaminate") { b =>
      noop(b.select(col("doc_id"), explode(HashFunctions.shingleHashes(col("text"), 4)).as("h"))
        .join(broadcast(probeH), "h").select("doc_id").distinct())
    }
    val sig = Dedup.signatureIndex(corpus).localCheckpoint(true)
    val cand = sig.select(col("id").as("a"), col("band"), col("key"))
      .join(sig.select(col("id").as("b"), col("band"), col("key")), Seq("band", "key"))
      .filter(col("a") < col("b")).select("a", "b").distinct().localCheckpoint(true)
    val sig0 = sig.filter(col("band") === 0)
    val verified = cand
      .join(sig0.select(col("id").as("a"), col("sig").as("sa")), "a")
      .join(sig0.select(col("id").as("b"), col("sig").as("sb")), "b")
      .filter(HashFunctions.minHashJaccard(col("sa"), col("sb")) >= 0.3).count()
    val candN = cand.count()
    Map(
      "streaming.curate_batch_ms_p50" -> Stats.median(batchMs),
      "streaming.curate_judge_ms_p50" -> Stats.median(judgeMs),
      "streaming.curate_state_rows" -> stateRows.toDouble,
      "functions.quality_s" -> qualityS,
      "operators.exact_dedup_s" -> exactS,
      "operators.lsh_pairs_s" -> lshS,
      "operators.clusters_s" -> clustersS,
      "operators.decontam_s" -> decontamS,
      "operators.lsh_candidate_pairs" -> candN.toDouble,
      "operators.lsh_verified_pairs" -> verified.toDouble,
      "operators.lsh_yield" -> (if (candN == 0) 0.0 else verified.toDouble / candN))
  }

  // ---------------------------------------------------------------- search_bm25

  val QueriesPerSearch = 4
  val OpsPerRound = 4 // the last op of every round is an appendEpoch

  /** Closed loop, one client: StreamingBm25.search with small query batches
    * against a store built at set-up; every OpsPerRound-th operation
    * appends an epoch instead. */
  def searchBm25(c: Ctx): Map[String, Any] = {
    import c._
    def local(rows: Seq[Row], schema: StructType) = spark.createDataFrame(rows.asJava, schema)
    val base = spark.read.schema(DocSchema).json(s"$in/base.json").collect().toSeq
    val appends = spark.read.schema(DocSchema).json(s"$in/appends")
      .withColumn("f", input_file_name()).collect().toSeq
      .groupBy(_.getString(2)).toSeq.sortBy(_._1)
      .map(_._2.map(r => Row(r.getLong(0), r.getString(1))).sortBy(_.getLong(0)))
    val qSchema = StructType(Seq(StructField("query_id", LongType), StructField("text", StringType)))
    val queries = spark.read.schema(qSchema).json(s"$in/queries.json").collect().toSeq.sortBy(_.getLong(0))
    var qCursor = 0
    def nextQueries(): Seq[Row] = {
      val qs = (0 until QueriesPerSearch).map(i => queries((qCursor + i) % queries.size))
      qCursor += QueriesPerSearch
      qs
    }
    def search(store: String, qs: Seq[Row]): Array[Row] = tr.span("streaming.StreamingBm25.search") {
      StreamingBm25.search(spark, store, local(qs, qSchema), k = 10).collect()
    }
    var store = ""
    val reps = (0 until 3).map { i =>
      timed {
        store = s"$out/store$i"
        tr.span("streaming.StreamingBm25.appendEpoch") {
          StreamingBm25.appendEpoch(local(base, DocSchema), store, 0L)
        }
        search(store, nextQueries())
      }._2
    }
    qCursor = 0
    val before = tracing.snapshot()
    val searchMs, appendMs = Vector.newBuilder[Double]
    val opsLog = Vector.newBuilder[Map[String, Any]]
    val hits = Vector.newBuilder[Seq[Any]]
    var appendsDone = 0
    var op = 0
    val t0 = System.nanoTime()
    val w0 = System.currentTimeMillis()
    while (op % OpsPerRound != 0 || op == 0 || elapsedS(t0) < seconds) {
      tracing.tracer.op = op
      if (op % OpsPerRound == OpsPerRound - 1) {
        val rows = appends(appendsDone % appends.size)
        require(appendsDone < appends.size, "ran out of generated append batches")
        appendMs += timed(tr.span("streaming.StreamingBm25.appendEpoch") {
          StreamingBm25.appendEpoch(local(rows, DocSchema), store, (1 + appendsDone).toLong)
        })._2 * 1000
        appendsDone += 1
      } else {
        val qs = nextQueries()
        val (res, t) = timed(search(store, qs))
        searchMs += t * 1000
        opsLog += Map("op" -> op, "appends" -> appendsDone, "queries" -> qs.map(_.getLong(0)))
        res.foreach(r => hits += Seq(op, r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
          r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      }
      op += 1
    }
    val spanS = elapsedS(t0)
    val w1 = System.currentTimeMillis()
    val after = tracing.snapshot()
    Json.write(s"$out/search_ops.json", Map("ops" -> opsLog.result(), "hits" -> hits.result()))
    val sMs = searchMs.result()
    val layers = if (!tracing.enabled) Map.empty[String, Double] else {
      val corpus = local(base ++ appends.take(appendsDone).flatten, DocSchema).localCheckpoint(true)
      val q = local(nextQueries(), qSchema)
      val (_, topkS) = timed(tr.span("operators.Bm25.topK")(Bm25.topK(corpus, q, k = 10).collect()))
      Map(
        "streaming.bm25_epochs" -> (1 + appendsDone).toDouble,
        "streaming.append_p50_ms" -> Stats.median(appendMs.result()),
        "operators.bm25_topk_s" -> topkS
      ) ++ SparkCounters.layerMetrics(SparkCounters.delta(before, after), op,
        tracing.counters.get.idleShare(Seq((w0, w1))), sMs.size)
    }
    Map("setup_reps_s" -> reps, "failed" -> 0, "latencies_ms" -> sMs,
      "append_ms" -> appendMs.result(), "ops" -> op, "ops_per_s" -> op / spanS,
      "appends" -> appendsDone, "layers" -> layers)
  }
}
