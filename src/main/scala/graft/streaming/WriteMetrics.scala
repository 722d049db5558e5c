package graft.streaming

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Write-path metrics parity with the reference's per-task accounting
  * (reference: writer/KafkaWritingTask.java:71-141 — WRITER_BATCH_SIZE per
  * topic, bytesWritten summed from record metadata, one end-to-end write
  * latency per task).
  *
  * Spark-first shape: counters live in ONE driver-side registry —
  * micro-batch writes are driver-coordinated (`foreachBatch` runs on the
  * driver; per-partition results come back as bounded metadata), so there
  * is nothing distributed to aggregate and no executor-side metric
  * registry to merge. The registry feeds [[StatusReporter]]'s heartbeat
  * JSON the way the reference feeds OpenTSDB.
  */
class WriteMetricsRegistry {

  /** Per-pipeline write totals (the WRITER_* family). */
  case class PipelineWrites(batches: Long, messages: Long, bytes: Long,
      failures: Long, lastLatencyMs: Long, maxLatencyMs: Long)

  private val pipelines = TrieMap.empty[String, PipelineWrites]

  /** One write batch finished (reference: one KafkaWritingTaskResult). */
  def recordBatch(pipeline: String, messages: Long, bytes: Long,
      latencyMs: Long, success: Boolean): Unit = {
    def next(prev: PipelineWrites) = PipelineWrites(
      prev.batches + 1,
      prev.messages + (if (success) messages else 0),
      prev.bytes + (if (success) bytes else 0),
      prev.failures + (if (success) 0 else 1),
      latencyMs,
      math.max(prev.maxLatencyMs, latencyMs))
    // lock-free atomic read-modify-write on the pipeline's key: putIfAbsent
    // wins the empty slot or replace(k, prev, next) CASes an occupied one;
    // retry on contention so concurrent listener buses never lose increments
    @annotation.tailrec
    def update(): Unit =
      pipelines.putIfAbsent(pipeline, next(PipelineWrites(0, 0, 0, 0, 0, 0))) match {
        case None => ()
        case Some(prev) => if (!pipelines.replace(pipeline, prev, next(prev))) update()
      }
    update()
  }

  def pipelineSnapshot: Map[String, PipelineWrites] = pipelines.toMap

  /** JSON fragment for [[StatusReporter]]. */
  private[streaming] def pipelinesJson: String =
    pipelines.toSeq.sortBy(_._1).map { case (name, w) =>
      s""""${StatusReporter.esc(name)}":{"batches":${w.batches},""" +
        s""""messages":${w.messages},"bytes":${w.bytes},""" +
        s""""failures":${w.failures},"lastLatencyMs":${w.lastLatencyMs},""" +
        s""""maxLatencyMs":${w.maxLatencyMs}}"""
    }.mkString("{", ",", "}")
}

/** Session-level wiring: every streaming query's per-batch trigger latency
  * and row counts flow into the registry without instrumenting each sink —
  * the Spark-native replacement for the reference's per-task stopwatch
  * (progress.durationMs("triggerExecution") IS the end-to-end batch write
  * latency the reference measures from task creation to last ack). Query
  * termination with an exception records a failure, mirroring
  * KafkaWritingTaskResult(success=false). */
class WriteLatencyListener(registry: WriteMetricsRegistry)
    extends StreamingQueryListener {

  // id -> name so a termination-with-exception (whose event carries no
  // name) lands under the same pipeline key as its progress rows
  private val names = TrieMap.empty[java.util.UUID, String]

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = {
    Option(e.name).foreach(n => names.put(e.id, n))
    ()
  }

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val latency = Option(p.durationMs.get("triggerExecution"))
      .map(_.longValue).getOrElse(0L)
    // queries started without queryName report a NULL progress name
    // (StreamingCuration/DataPipelines-started pipelines); fall back to
    // the query id so their batches are recorded instead of NPE-ing the
    // listener bus — mirrors onQueryTerminated's id fallback
    registry.recordBatch(Option(p.name).getOrElse(p.id.toString),
      p.numInputRows, bytes = 0L, latencyMs = latency, success = true)
  }

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach { _ =>
      registry.recordBatch(names.getOrElse(e.id, e.id.toString),
        0, 0, 0, success = false)
    }
}
