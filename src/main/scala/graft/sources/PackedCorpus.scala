package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Packed token-id corpus export/import — the indexed-binary layout
  * training loaders consume (the public Megatron-LM `.bin`/`.idx` family:
  * one flat little-endian token stream plus a sidecar index of sequence
  * offsets, so a loader can memory-map the stream and fetch sequence `i`
  * without parsing anything).
  *
  * Layout under `dir/` (one PAIR per Spark partition — executor-parallel
  * writes with no coordination, the RolledObjectSink stance):
  *  - `part-<p>.bin` — concatenated little-endian int32 token ids;
  *  - `part-<p>.idx` — magic "GRFTIDX1", int32 version, int64 nSeqs, then
  *    nSeqs × (int64 docId, int64 tokenOffset, int32 tokenLength) with
  *    offsets in TOKENS into the sibling `.bin`.
  *
  * Determinism/idempotence: part file names derive from the partition id,
  * so re-running an epoch (or a retried task whose attempt wins) simply
  * overwrites the same pair — the idempotent-overwrite stance every graft
  * sink takes. [[read]] validates magic/version and that the `.bin` byte
  * length matches the index's token count, so a torn pair fails loudly.
  *
  * Scale shape: write is one `mapPartitions` pass (no shuffle — callers
  * choose the partitioning/ordering they want on disk beforehand, e.g.
  * `repartitionByRange` on a curriculum key); read parallelizes by part
  * file and streams each `.bin` sequentially (entries are written in
  * offset order, so a full scan never seeks).
  */
object PackedCorpus {

  private val Magic: Array[Byte] = "GRFTIDX1".getBytes("US-ASCII")
  private val Version = 1

  case class PartMeta(binPath: String, nSeqs: Long, nTokens: Long)

  /** Write (idCol, tokensCol: array<int-compatible>) as part pairs;
    * returns one [[PartMeta]] per non-empty partition (bounded — metadata
    * only). Token ids must fit int32 (training vocabularies do); overflow
    * fails the job loudly rather than truncating. */
  def write(docs: DataFrame, dir: String, idCol: String = "doc_id",
      tokensCol: String = "token_ids"): Seq[PartMeta] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = dir
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    // TRUNCATE-before-write: per-pair overwrite alone only upholds the
    // idempotent-overwrite contract while the partition count is stable —
    // a replayed epoch that plans FEWER partitions would leave the old
    // run's higher-numbered pairs in place, internally consistent, and
    // read()/readAll() would silently union their ghost sequences (the
    // torn-pair check cannot see cross-run staleness). Driver-side delete
    // of every existing pair under the target dir mirrors
    // StreamingBm25.appendEpoch's parquet mode("overwrite") truncation;
    // the listing is part-count-bounded (metadata, never data).
    val driverFs = FileSystem.get(new java.net.URI(base),
      spark.sessionState.newHadoopConf())
    Seq(s"$base/part-*.idx", s"$base/part-*.bin").foreach { pat =>
      Option(driverFs.globStatus(new Path(pat))).getOrElse(Array.empty)
        .foreach(st => driverFs.delete(st.getPath, false))
    }
    docs.select(col(idCol).cast("long"),
        col(tokensCol).cast("array<int>"))
      .as[(Long, Seq[Int])]
      .mapPartitions { rows =>
        if (!rows.hasNext) Iterator.empty
        else {
          val p = org.apache.spark.TaskContext.getPartitionId()
          val fs = FileSystem.get(new java.net.URI(base), serConf.value)
          val binPath = new Path(f"$base/part-$p%05d.bin")
          val idxPath = new Path(f"$base/part-$p%05d.idx")
          val bin = new java.io.BufferedOutputStream(fs.create(binPath, true), 1 << 20)
          val index = Seq.newBuilder[(Long, Long, Int)]
          var offset = 0L
          val buf = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
          try {
            rows.foreach { case (id, toks) =>
              index += ((id, offset, toks.length))
              toks.foreach { t =>
                buf.clear(); buf.putInt(t)
                bin.write(buf.array(), 0, 4)
              }
              offset += toks.length
            }
          } finally bin.close()
          val entries = index.result()
          val idxBuf = ByteBuffer
            .allocate(Magic.length + 4 + 8 + entries.size * 20)
            .order(ByteOrder.LITTLE_ENDIAN)
          idxBuf.put(Magic).putInt(Version).putLong(entries.size.toLong)
          entries.foreach { case (id, off, len) =>
            idxBuf.putLong(id).putLong(off).putInt(len)
          }
          val idx = fs.create(idxPath, true)
          try idx.write(idxBuf.array(), 0, idxBuf.position())
          finally idx.close()
          Iterator.single(PartMeta(binPath.toString, entries.size.toLong, offset))
        }
      }
      .collect().toSeq
  }

  /** STANDING export: write one micro-batch's sequences under the
    * epoch's own subdirectory — the same per-epoch overwrite idempotence
    * as [[graft.streaming.StreamingIvf.appendEpoch]], so checkpoint
    * replay neither loses nor duplicates sequences. [[readAll]] unions
    * the epochs. */
  def writeEpoch(docs: DataFrame, dir: String, epoch: Long,
      idCol: String = "doc_id", tokensCol: String = "token_ids"): Seq[PartMeta] = {
    // write-intent protocol: refuse on a live maintenance lease at entry
    // AND publish an intent so a maintenance acquire refuses over this
    // in-flight write — see graft.streaming.MaintenanceLease
    graft.streaming.MaintenanceLease.withEpochWriteIntent(docs.sparkSession,
      dir, Seq(dir)) {
      write(docs, s"$dir/epoch=$epoch", idCol, tokensCol)
    }
  }

  /** The standing pipeline: token-id stream → per-epoch packed part
    * pairs. A training loader can mmap every epoch written so far while
    * the query keeps appending new ones. */
  def run(docs: DataFrame, dir: String, checkpointDir: String,
      idCol: String = "doc_id",
      tokensCol: String = "token_ids"): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        writeEpoch(batch, dir, epoch, idCol, tokensCol)
        ()
      }
      .start()

  /** Tombstone DELETE for the standing export — the packed-corpus leg of
    * the right-to-be-forgotten path ([[graft.streaming.StreamingIvf
    * .deleteEpoch]]'s stance, LSM form): deleted ids land as one
    * per-epoch [[graft.streaming.StoreTombstones]] relation (idempotent
    * overwrite, like every epoch write; its `tombstones` directory never
    * matches [[readAll]]'s `epoch=*` part-pair glob), [[readAll]] masks
    * them immediately, and the next [[compact]] folds them into the
    * rewrite: the compacted part pairs are written from the MASKED read,
    * and the whole-directory swap that promotes them atomically retires
    * the tombstone store (it lives inside the directory being swapped —
    * apply and clear are one commit). Precedence: a tombstone dominates
    * ANY epoch's sequence for that id, including re-appends after the
    * delete, until a compact clears it. Refuses during a maintenance
    * swap. */
  def deleteEpoch(ids: DataFrame, dir: String, epoch: Long,
      idCol: String = "doc_id"): Unit =
    graft.streaming.StoreTombstones.write(ids, "packed", dir, epoch, idCol,
      intentRoots = Seq(dir))

  /** Read a [[writeEpoch]]-produced directory (all epochs) back as
    * (idCol, token_ids), with any un-compacted tombstones masked
    * (broadcast anti-join — no shuffle joins the part-pair scan). */
  def readAll(spark: SparkSession, dir: String, idCol: String = "doc_id",
      tokensCol: String = "token_ids"): DataFrame =
    graft.streaming.StoreTombstones.mask(
      readGlob(spark, s"$dir/epoch=*/part-*.idx", idCol, tokensCol),
      "packed", dir, idCol)

  /** Fold every `epoch=<n>` part-pair set into one `epoch=-1` set — the
    * packed-corpus leg of the standing chain's maintenance path, sharing
    * [[graft.streaming.StateCompaction]]'s crash-safe staging swap (write
    * the union under `<dir>.compacting`, commit marker, promote; a crash
    * at any step is finished by recover on the next compact). Real
    * epochs are ≥ 0, so the compacted directory never collides with a
    * future epoch's idempotent overwrite and [[readAll]]'s `epoch=*` glob
    * still matches it. `numParts` sizes the compacted part count
    * (default: the session's default parallelism); run while the standing
    * export is stopped.
    *
    * Pending [[deleteEpoch]] tombstones fold into the rewrite for free:
    * the staging write reads through the MASKED [[readAll]], and the swap
    * that promotes it replaces the whole directory — tombstone store
    * included — so apply and clear commit together (no crash window where
    * the rewrite survives but the tombstones it applied do not). */
  def compact(spark: SparkSession, dir: String, numParts: Int = 0,
      idCol: String = "doc_id", tokensCol: String = "token_ids"): Unit = {
    val parts =
      if (numParts > 0) numParts else spark.sparkContext.defaultParallelism
    graft.streaming.MaintenanceLease.withLease(spark, dir, op = "compact") { fence =>
      graft.streaming.StateCompaction.compactWith(spark, dir, fence) { staging =>
        write(readAll(spark, dir, idCol, tokensCol)
            .repartitionByRange(parts, col(idCol)),
          s"$staging/epoch=-1", idCol, tokensCol)
        ()
      }
    }
  }

  /** Read a [[write]]-produced directory back as (idCol, token_ids).
    * Parallel by part pair; each `.bin` is streamed sequentially. */
  def read(spark: SparkSession, dir: String, idCol: String = "doc_id",
      tokensCol: String = "token_ids"): DataFrame =
    readGlob(spark, s"$dir/part-*.idx", idCol, tokensCol)

  private def readGlob(spark: SparkSession, pattern: String, idCol: String,
      tokensCol: String): DataFrame = {
    import spark.implicits._
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val fs = FileSystem.get(new java.net.URI(pattern),
      spark.sessionState.newHadoopConf())
    // globStatus returns NULL (not empty) for a nonexistent directory —
    // a never-written corpus reads as zero sequences, not an NPE
    val idxFiles = Option(fs.globStatus(new Path(pattern)))
      .getOrElse(Array.empty)
      .map(_.getPath.toString).sorted.toSeq
    spark.createDataset(idxFiles)
      .repartition(math.max(1, idxFiles.size))
      .flatMap { idxPath =>
        val fs = FileSystem.get(new java.net.URI(idxPath), serConf.value)
        val idxStatus = fs.getFileStatus(new Path(idxPath))
        val raw = new Array[Byte](idxStatus.getLen.toInt)
        val in = fs.open(new Path(idxPath))
        try in.readFully(0, raw) finally in.close()
        val buf = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
        val magic = new Array[Byte](Magic.length)
        buf.get(magic)
        require(java.util.Arrays.equals(magic, Magic),
          s"$idxPath: bad magic — not a packed-corpus index")
        val version = buf.getInt
        require(version == Version, s"$idxPath: unsupported version $version")
        val nSeqs = buf.getLong
        val entries = (0L until nSeqs).map { _ =>
          (buf.getLong, buf.getLong, buf.getInt)
        }
        val totalTokens = entries.map(_._3.toLong).sum
        val binPath = new Path(idxPath.stripSuffix(".idx") + ".bin")
        require(fs.getFileStatus(binPath).getLen == totalTokens * 4,
          s"$binPath: length != index token count * 4 — torn part pair")
        // LAZY per-sequence streaming: a strict map here would decode the
        // WHOLE part pair into JVM objects before the iterator is returned
        // — O(part tokens × 4 B) plus boxed Seq overhead per task, an
        // executor-OOM hazard the write path doesn't have (review
        // finding). The iterator opens the bin on first pull, decodes one
        // sequence per next(), and closes on exhaustion or error; the
        // task-completion listener covers partially-consumed iterators
        // (limit/take plans, task kill).
        val seqIt = sequenceIterator(entries,
          () => new java.io.BufferedInputStream(fs.open(binPath), 1 << 20),
          binPath.toString)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => seqIt.close()))
        seqIt
      }
      .toDF(idCol, tokensCol)
  }

  /** One-sequence-at-a-time decode over an index's entries (offset order —
    * the bin is streamed once, never seeked). Opens via `openBin` on the
    * first `next()`, closes on exhaustion AND on any decode error;
    * [[close]] is idempotent for completion-listener use.
    *
    * CLOSE CONTRACT: inside a Spark task, `readGlob` registers a
    * task-completion listener, so partially-consumed iterators
    * (limit/take plans, task kill) are closed by the harness. A caller
    * OUTSIDE a task (driver-side or test use of this helper) gets no such
    * hook and MUST `close()` the returned iterator itself unless it
    * consumes it to exhaustion — otherwise the lazily-opened bin stream
    * leaks. */
  private[sources] def sequenceIterator(entries: IndexedSeq[(Long, Long, Int)],
      openBin: () => java.io.InputStream,
      binDesc: String): Iterator[(Long, Seq[Int])] with java.io.Closeable =
    new scala.collection.AbstractIterator[(Long, Seq[Int])]
        with java.io.Closeable {
      private var i = 0
      private var in: java.io.InputStream = null
      override def close(): Unit = {
        val s = in
        in = null
        i = entries.length
        if (s != null) s.close()
      }
      override def hasNext: Boolean = i < entries.length
      override def next(): (Long, Seq[Int]) = {
        if (!hasNext) throw new NoSuchElementException(binDesc)
        try {
          if (in == null) in = openBin()
          val (id, _, len) = entries(i)
          val bytes = new Array[Byte](len * 4)
          var got = 0
          while (got < bytes.length) {
            val n = in.read(bytes, got, bytes.length - got)
            require(n >= 0, s"$binDesc: truncated token stream")
            got += n
          }
          val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
          i += 1
          if (i == entries.length) close()
          (id, Seq.fill(len)(bb.getInt))
        } catch {
          case t: Throwable =>
            try close()
            catch { case r: Throwable => t.addSuppressed(r) }
            throw t
        }
      }
    }
}
