package graft.streaming

/** Engine status snapshot — the reference's `SingerStatus` heartbeat body
  * (reference: common/SingerStatus.java:63-93: version, hostname,
  * jvmUptime, timestamp, numLogStreams, numStuckLogStreams, per-topic
  * write/latency counters), sourced from the PipelineManager registry and
  * each query's `lastProgress` instead of a hand-rolled metrics registry.
  *
  * `maintenance` reports per-standing-store lease/intent state (the
  * reference surfaces per-stream health like numStuckLogStreams the same
  * way — an operator reads the heartbeat, not the filesystem): for each
  * store root in `storeRoots`, whether a [[MaintenanceLease]] is held,
  * by which op, since when, how recently renewed, and how many epoch
  * write intents are live. Supply `spark` to enable it (the lease files
  * are read through the same Hadoop FileSystem the stores use).
  */
class StatusReporter(mgr: PipelineManager, version: String = "graft-0.1",
    writeMetrics: Option[WriteMetricsRegistry] = None,
    spark: Option[org.apache.spark.sql.SparkSession] = None,
    storeRoots: () => Seq[(String, String)] = () => Nil) {

  private val startedAtMs = System.currentTimeMillis()

  private def esc(s: String): String = StatusReporter.esc(s)

  def statusJson(nowMs: Long = System.currentTimeMillis()): String = {
    val active = mgr.active
    val stuck = mgr.stuck(nowMs)
    val perPipeline = active.toSeq.sortBy(_._1).map { case (name, q) =>
      val p = Option(q.lastProgress)
      val batchId = p.map(_.batchId).getOrElse(-1L)
      val rows = p.map(_.numInputRows).getOrElse(0L)
      val rps = p.map(_.processedRowsPerSecond).filterNot(d => d.isNaN || d.isInfinite)
        .getOrElse(0.0)
      // late-data accounting: Spark drops rows older than the watermark
      // SILENTLY inside stateful operators — the only record is
      // StateOperatorProgress. Surfacing the counter here makes data loss
      // an observable metric instead of a mystery row-count gap (the
      // reference's audit stance: every dropped message is counted
      // somewhere).
      val lateDropped = p.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum)
        .getOrElse(0L)
      s""""${esc(name)}":{"batchId":$batchId,"numInputRows":$rows,""" +
        s""""processedRowsPerSecond":$rps,"numRowsDroppedByWatermark":$lateDropped}"""
    }.mkString("{", ",", "}")
    s"""{"version":"${esc(version)}","hostname":"${esc(LogPipeline.hostname)}",""" +
      s""""uptimeMs":${nowMs - startedAtMs},"timestamp":$nowMs,""" +
      s""""numPipelines":${active.size},"numStuckPipelines":${stuck.size},""" +
      s""""pipelines":$perPipeline""" +
      writeMetrics.map(m => s""","writeMetrics":${m.pipelinesJson}""").getOrElse("") +
      maintenanceJson.map(j => s""","maintenance":$j""").getOrElse("") +
      "}"
  }

  /** Per-store maintenance state, when a session and store roots are
    * wired: `{"<store>":{"lease":bool[,"op","acquiredAtMs","renewedAgeMs",
    * "host"],"intents":n}}`. A store whose lease/intent read fails
    * reports `"error"` rather than poisoning the whole status body. */
  private def maintenanceJson: Option[String] = spark.map { s =>
    storeRoots().sortBy(_._1).map { case (name, root) =>
      val body =
        try {
          // breakStale = false: a monitoring poll is a PURE read — never
          // deletes a stale marker (that is acquire/fence's job); stale
          // markers are excluded from the count either way
          val intents = MaintenanceLease.liveIntents(s, root,
            breakStale = false).size
          MaintenanceLease.status(s, root) match {
            case Some(st) =>
              s""""lease":true,"op":"${esc(st.op)}","acquiredAtMs":${st.acquiredAtMs},""" +
                s""""renewedAgeMs":${st.renewedAgeMs},"host":"${esc(st.host)}",""" +
                s""""intents":$intents"""
            case None => s""""lease":false,"intents":$intents"""
          }
        } catch {
          case e: Exception =>
            s""""error":"${esc(Option(e.getMessage).getOrElse(e.getClass.getSimpleName))}""""
        }
      s""""${esc(name)}":{$body}"""
    }.mkString("{", ",", "}")
  }
}

object StatusReporter {
  private[streaming] def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
}
