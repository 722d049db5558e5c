package graft.streaming

import java.net.InetAddress

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model._
import graft.operators.Transforms
import graft.sources.LogSources

/** One `PipelineConfig` → one dataflow: source → per-record transforms →
  * partition assignment → sink (+ audit side-channel). The same logical plan
  * runs in two modes:
  *
  *  - **streaming** (`start`): `readStream` → `foreachBatch` sink with a
  *    checkpoint — the reference's standing pipeline with its watermark
  *    commit protocol (reference: SURVEY.md §3.2-3.3; checkpoint offsets/
  *    commits WAL ≙ WatermarkUtils tmp-file+rename). At-least-once: a batch
  *    is re-run from the checkpoint if the process dies mid-write.
  *  - **batch** (`runBatch`): `read` over the same directory — the
  *    reference's "replay this directory" use, identical operators.
  *
  * Audit parity (reference: writer/KafkaWriter.java:641-693): each epoch
  * writes `(batchId, numMessages)` to the audit directory, idempotently
  * keyed by batchId — re-executed epochs overwrite rather than double-count,
  * which is the at-least-once-safe upgrade over the reference's over-counting
  * audit (SURVEY.md §7.3.2).
  */
object LogPipeline {

  val hostname: String =
    try InetAddress.getLocalHost.getHostName catch { case _: Exception => "unknown" }

  /** The transform chain shared by both modes. Everything here is narrow and
    * codegen'd — no shuffle between source and sink. */
  def applyTransforms(df: DataFrame, cfg: PipelineConfig): DataFrame = {
    val valueCol = "value"
    // reader-level text options
    var out = df
    cfg.reader match {
      // packed readers fold filter/prepend/trim into the packing itself
      // (reference: TextLogFileReader.java:161-189); nothing to re-apply
      case tl: ReaderSpec.TextLine if tl.numMessagesPerLogMessage > 1 => ()
      // no newline trim: every line reader splits at '\n' and leaves it out
      case ReaderSpec.TextLine(filterRegex, prependTs, prependHost, delim, _, _) =>
        filterRegex.foreach(re => out = Transforms.filterRegex(out, valueCol, re))
        val prefixes =
          (if (prependTs) Seq(unix_millis(current_timestamp())) else Nil) ++
          (if (prependHost) Seq(lit(hostname)) else Nil)
        if (prefixes.nonEmpty)
          out = out.withColumn(valueCol, Transforms.prepend(col(valueCol), delim, prefixes: _*))
      case _ => ()
    }
    out = Transforms(out, cfg.transforms, valueCol)
    // envelope: key/value binary + checksum + headers
    if (!out.columns.contains("key")) out = out.withColumn("key", lit(null).cast("binary"))
    out = out.withColumn(valueCol, col(valueCol).cast("binary"))
    if (cfg.computeChecksum) out = Transforms.withChecksum(out, valueCol)
    out = Transforms.withHeaders(out, cfg.injectHeaders)
    Transforms.withPartition(out, cfg.partitioner)
  }

  def runBatch(spark: SparkSession, cfg: PipelineConfig): DataFrame =
    applyTransforms(
      LogSources.fromSpec(spark, cfg.logDir, cfg.reader, streaming = false,
        fileRegex = Some(cfg.logStreamRegex)), cfg)

  /** Write one epoch's records to the configured sink, returning the record
    * count for the audit side-channel. The count comes from `observe()` —
    * ONE pass, collected as a side effect of the sink write itself. The
    * previous cache()+count() shape ran two jobs per epoch and pinned the
    * whole epoch in block-manager memory — an OOM/spill hazard once an epoch
    * is tens of GB per executor. */
  private[streaming] def writeBatch(df: DataFrame, cfg: PipelineConfig, batchId: Long = 0L,
      replay: Boolean = false): Long = {
    cfg.writer match {
      case WriterSpec.RolledObjects(baseDir, keyFormat, maxBytes) =>
        val sink = new RolledObjectSink(baseDir,
          KeyTemplate(keyFormat, cfg.name), maxBytes)
        if (replay) sink.removeEpoch(batchId, df.sparkSession.sessionState.newHadoopConf())
        sink.writeEpoch(df, batchId).map(_.records).sum
      case WriterSpec.Files(path, format) =>
        // one overwritten directory per epoch: a retried epoch replaces its
        // own output instead of appending duplicates (at-least-once becomes
        // effectively exactly-once for this sink)
        countedWrite(df)(observed => observed.write.mode("overwrite").format(format)
          .save(s"$path/batch_id=$batchId"))
      case WriterSpec.Kafka(servers, topic, _, transactional, timeoutS) =>
        sendEpoch(df, topic, transactional, timeoutS, () => EpochProducers.factory(servers))
      case WriterSpec.Pulsar(serviceUrl, topic, _, timeoutS) =>
        // Pulsar producers have no transactions
        sendEpoch(df, topic, transactional = false, timeoutS,
          () => EpochProducers.pulsarFactory(serviceUrl))
      case WriterSpec.Noop =>
        df.count()
    }
  }

  /** The message-sink arm (Kafka, Pulsar): each sink task runs one
    * [[TransactionalEpochWriter]] over its own producer from `newProducer`
    * (a Kafka transaction is per producer, so a transactional epoch is
    * atomic per task — aborted attempts are invisible to read-committed
    * consumers, and a retried task re-sends; `_mid` headers keep
    * downstream dedup exact). Rows carry `key`, `value`, the `partition`
    * the writer routes onto the topic's writable partitions, and an
    * optional `headers` map (`map<string,binary>`). */
  private def sendEpoch(df: DataFrame, topic: String, transactional: Boolean,
      timeoutS: Int, newProducer: () => EpochProducer): Long =
    countedWrite(df) { observed =>
      val schema = observed.schema
      val (k, v, p) =
        (schema.fieldIndex("key"), schema.fieldIndex("value"), schema.fieldIndex("partition"))
      val h = Some(schema.fieldNames.indexOf("headers")).filter(_ >= 0)
      observed.foreachPartition { (rows: Iterator[Row]) =>
        val producer = newProducer()
        try {
          new TransactionalEpochWriter(producer, topic, transactional, timeoutS)
            .writeEpoch(rows.map { r =>
              val headers = h.filterNot(r.isNullAt)
                .fold(Seq.empty[(String, Array[Byte])])(r.getMap[String, Array[Byte]](_).toSeq)
              EpochRecord(r.getInt(p), r.getAs[Array[Byte]](k), r.getAs[Array[Byte]](v), headers)
            })
          ()
        } finally producer.close()
      }
    }

  /** Runs `write` over `df` with a row count observed on the way through,
    * and returns that count — one pass, no second job. */
  private def countedWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = org.apache.spark.sql.Observation()
    write(df.observe(obs, count(lit(1)).as("n")))
    obs.get("n").asInstanceOf[Long]
  }

  /** Start the standing streaming pipeline. */
  def start(spark: SparkSession, cfg: PipelineConfig,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      audit: Option[AuditWriter] = None): StreamingQuery = {
    // Kafka and Pulsar keep a file's order in a key-partitioned sink
    // partition, as the reference shipper reads a file sequentially: their
    // tail ranges stay whole
    val ordered = cfg.writer match {
      case _: WriterSpec.Kafka | _: WriterSpec.Pulsar => true
      case _ => false
    }
    val src = LogSources.fromSpec(spark, cfg.logDir, cfg.reader, streaming = true,
      cfg.maxFilesPerTrigger, cfg.tailMode, fileRegex = Some(cfg.logStreamRegex),
      retentionSeconds = cfg.logRetentionSeconds, splitRanges = !ordered)
    // the rolled-object sink writes `value` alone: selected here, in the
    // streaming plan, the envelope columns are pruned before they are
    // computed (the frame foreachBatch gets is RDD-backed, past pruning)
    val rolled = cfg.writer.isInstanceOf[WriterSpec.RolledObjects]
    val transformed =
      if (rolled) applyTransforms(src, cfg).select("value") else applyTransforms(src, cfg)
    val checkpoint = cfg.checkpointDir.getOrElse(
      s"/tmp/graft-checkpoints/${cfg.name}")
    // only a run's first batch can be one replayed from the offset log; its
    // earlier attempt may have been planned in other partitions
    var replay = true
    StateStores.withProvider(spark, cfg.stateStoreProvider) {
      transformed.writeStream
        .queryName(cfg.name)
        .option("checkpointLocation", checkpoint)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val n = writeBatch(
            if (rolled || batch.columns.contains("topic")) batch
            else batch.withColumn("topic", lit(cfg.name)), cfg, batchId, replay)
          replay = false
          audit.foreach(_.record(cfg.name, batchId, n))
          ()
        }
        .start()
    }
  }


  /** Per-cycle observability record of [[runAdaptiveCycles]]: the interval
    * chosen AFTER each cycle and the batch cap each cycle RAN with. */
  case class AdaptiveRun(intervals: Seq[Long], batchSizes: Seq[Option[Int]])

  /** Batch cap a failed UNBOUNDED cycle falls to before halving — a failing
    * cycle must not stay unbounded or the retry just fails the same way. */
  val FailureFallbackBatchFiles = 1024

  /** Adaptive polling loop — the reference's exponential poll backoff
    * (min→max ×2 on an empty cycle, reset on data; reference:
    * processor/DefaultLogStreamProcessor.java:387-402) plus its batch-size
    * adaptation (reference: DefaultLogStreamProcessor.java:356-364): a
    * FAILED cycle halves the file cap (floor 1) so the retry bites off less;
    * any successful cycle restores the configured cap. Each cycle runs the
    * pipeline with `Trigger.AvailableNow` (drain everything, then stop —
    * checkpoint-resumed next cycle) and sleeps the adapted interval; a
    * failed cycle also backs the interval off (the reference treats -1
    * processed like 0). `startCycle` is injectable so failure paths are
    * testable without poisoning a real sink. */
  def runAdaptiveCycles(spark: SparkSession, cfg: PipelineConfig,
      minIntervalMs: Long, maxIntervalMs: Long, cycles: Int,
      audit: Option[AuditWriter] = None,
      sleep: Long => Unit = Thread.sleep,
      startCycle: (SparkSession, PipelineConfig, Option[AuditWriter]) => StreamingQuery =
        (s, c, a) => start(s, c, Trigger.AvailableNow(), a)): AdaptiveRun = {
    var interval = minIntervalMs
    val configured = cfg.maxFilesPerTrigger
    var batch = configured
    val intervals = Seq.newBuilder[Long]
    val batches = Seq.newBuilder[Option[Int]]
    for (_ <- 1 to cycles) {
      batches += batch
      val rows: Long =
        try {
          val q = startCycle(spark, cfg.copy(maxFilesPerTrigger = batch), audit)
          q.awaitTermination()
          Option(q.lastProgress).map(_.numInputRows).getOrElse(0L)
        } catch { case _: Exception => -1L }
      batch =
        if (rows < 0) Some(math.max(1, batch.getOrElse(FailureFallbackBatchFiles) / 2))
        else configured
      interval = if (rows <= 0) math.min(interval * 2, maxIntervalMs) else minIntervalMs
      intervals += interval
      sleep(interval)
    }
    AdaptiveRun(intervals.result(), batches.result())
  }
}

/** Idempotent per-epoch audit sink: one one-row parquet file per batchId,
  * replaced on epoch retry — Σ num_messages over distinct batchIds equals
  * messages delivered (the e2e oracle of the reference's test strategy,
  * reference: e2e/SingerEndToEndTest.java:26-121). The row is written on
  * the driver with the parquet writer, not by a Spark job. */
class AuditWriter(spark: SparkSession, auditDir: String) extends Serializable {

  /** Keyed by (pipeline, batchId) via the directory layout: epoch retries
    * replace their own record, concurrent pipelines never share a
    * directory, and both come back as partition columns on read. The row
    * goes to a hidden temp file (readers skip `.` names), which is renamed
    * over `part-00000.parquet`; any other parquet file in the directory (an
    * earlier writer's) is removed. */
  def record(pipeline: String, batchId: Long, numMessages: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(s"$auditDir/pipeline=$pipeline/batch_id=$batchId")
    val fs = dir.getFileSystem(conf)
    val tmp = new Path(dir, s".part-00000-${java.util.UUID.randomUUID()}.parquet")
    val out = new Path(dir, "part-00000.parquet")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf).withType(AuditWriter.Schema).build()
    try writer.write(new SimpleGroupFactory(AuditWriter.Schema).newGroup()
      .append("num_messages", numMessages)
      .append("timestamp_ms", System.currentTimeMillis())
      .append("hostname", LogPipeline.hostname))
    finally writer.close()
    fs.delete(out, false)
    if (!fs.rename(tmp, out)) throw new java.io.IOException(s"audit: cannot rename $tmp to $out")
    fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith(".") &&
        p.getName != out.getName)
      .foreach(fs.delete(_, false))
  }

  /** Total delivered message count per pipeline (audit oracle). */
  def totals(): DataFrame =
    spark.read.parquet(auditDir)
      .groupBy("pipeline")
      .agg(sum("num_messages").as("total_messages"),
        count(lit(1)).as("num_batches"))
}

object AuditWriter {
  /** The audit row: the types Spark writes for a `(Long, Long, String)`
    * row, so files written by an earlier Spark job read as the same schema. */
  val Schema: MessageType =
    MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  required int64 num_messages;
        |  required int64 timestamp_ms;
        |  optional binary hostname (STRING);
        |}""".stripMargin)
}
