package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** Raw-object sink with size-based rolling and templated keys — the
  * reference's S3 writer re-expressed for executor-parallel writes
  * (reference: writer/s3/S3Writer.java:253-399: disk buffer rolled at
  * `maxFileSizeMB`/`minUploadTimeInSeconds`, uploaded under a templated
  * key).
  *
  * Differences by design:
  *  - The reference buffers on one host and uploads one object at a time;
  *    here every executor partition streams its records straight to the
  *    object store and rolls independently — N× the upload parallelism, no
  *    local disk staging, no recovery-scan of orphaned buffer files (epoch
  *    re-execution after a crash simply rewrites the epoch's objects).
  *  - Time-based rolling collapses into the trigger interval: one epoch =
  *    at most one open object per partition.
  *
  * Uses the Hadoop FileSystem API, so `file://` (tests) and `s3a://`
  * (production, with the S3A committer's retry semantics) share one code
  * path. Object names embed (batchId, partitionId, seq) so epoch retries
  * overwrite rather than duplicate — idempotent at-least-once. A batch
  * replayed after a restart may be planned in fewer partitions than its
  * first attempt (the split size follows the live parallelism), so the
  * pipeline removes that batch's earlier objects first ([[removeEpoch]]).
  */
class RolledObjectSink(
    baseDir: String,
    template: KeyTemplate,
    maxObjectBytes: Long = 50L * 1024 * 1024,
    recordSeparator: Array[Byte] = Array('\n'.toByte)) extends Serializable {

  case class ObjectMeta(path: String, records: Long, bytes: Long)

  /** Deletes the objects an earlier attempt of `batchId` wrote, found by
    * listing the directory the key template puts them in. Only a template
    * whose `{{UUID}}` is in the object's name (not its directory) and
    * without time tokens names a retry's objects as before; for any other
    * a retry writes new names, as the reference does, and nothing is found. */
  def removeEpoch(batchId: Long, conf: org.apache.hadoop.conf.Configuration): Unit = {
    val mark = "\u0000"
    val key = template.render(uuid = f"$batchId%04d-" + mark)
    val at = key.indexOf(mark)
    if (at < 0 || key.indexOf('/', at) >= 0) return
    val slash = key.lastIndexOf('/', at)
    val dir = new Path(if (slash < 0) baseDir else s"$baseDir/${key.substring(0, slash)}")
    val (prefix, suffix) = (key.substring(slash + 1, at), key.substring(at + 1))
    val fs = dir.getFileSystem(conf)
    if (fs.exists(dir)) fs.listStatus(dir).map(_.getPath).filter { p =>
      val n = p.getName
      n.length > prefix.length + suffix.length && n.startsWith(prefix) && n.endsWith(suffix) &&
        n.substring(prefix.length, n.length - suffix.length).matches("[0-9]{4,}-[0-9]{3,}")
    }.foreach(fs.delete(_, false))
  }

  /** Write one epoch's `value` binary column; returns metadata of written
    * objects (small — one entry per rolled object). Iterates the plan's own
    * rows: no encoder, so no generated deserializer per query. */
  def writeEpoch(df: DataFrame, batchId: Long): Seq[ObjectMeta] = {
    val base = baseDir
    val tmpl = template
    val maxBytes = maxObjectBytes
    val sep = recordSeparator
    // the SESSION's Hadoop conf (S3 credentials, endpoints) must reach the
    // executor-side FileSystem — a bare `new Configuration()` silently drops
    // anything set via spark.hadoop.* outside defaults
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sessionState.newHadoopConf())
    df.select("value").queryExecution.toRdd
      .mapPartitions { rows =>
        val partitionId = org.apache.spark.TaskContext.getPartitionId()
        val fs = FileSystem.get(new java.net.URI(base), serConf.value)
        val written = Seq.newBuilder[(String, Long, Long)]
        var seq = 0
        var out: org.apache.hadoop.fs.FSDataOutputStream = null
        var outPath: String = null
        var outBytes = 0L
        var outRecords = 0L
        def roll(): Unit = {
          if (out != null) {
            out.close()
            written += ((outPath, outRecords, outBytes))
          }
          // deterministic object name per (batch, partition, seq) ⇒ epoch
          // retries overwrite instead of duplicating
          val key = tmpl.render(uuid = f"$batchId%04d-$partitionId%04d-$seq%03d")
          outPath = s"$base/$key"
          out = fs.create(new Path(outPath), true)
          outBytes = 0L; outRecords = 0L; seq += 1
        }
        rows.foreach { row =>
          val value = row.getBinary(0)
          if (out == null || outBytes + value.length + sep.length > maxBytes) roll()
          out.write(value); out.write(sep)
          outBytes += value.length + sep.length
          outRecords += 1
        }
        if (out != null) {
          out.close()
          written += ((outPath, outRecords, outBytes))
        }
        written.result().iterator
      }
      .collect()
      .map { case (p, r, b) => ObjectMeta(p, r, b) }
      .toSeq
  }
}
