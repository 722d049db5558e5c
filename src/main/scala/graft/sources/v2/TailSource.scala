package graft.sources.v2

import java.io.RandomAccessFile
import java.nio.file.{Files, Path, Paths}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{LogSources, ThriftLogCodec}

/** `graft-tail`: a DataSourceV2 streaming source that tails GROWING log
  * files with intra-file byte offsets — the faithful port of the
  * reference's `inode+byteOffset` watermark model
  * (reference: docs/DESIGN.md:14-24, singer.thrift:21-27 LogPosition,
  * reader/DefaultLogStreamReader.java:99-227), which Spark's built-in file
  * source cannot express (it only ingests closed, immutable files —
  * SURVEY.md §7.3).
  *
  * Streaming offset = `{path -> committed byte offset}` JSON, checkpointed
  * by the engine's WAL exactly where the reference persisted thrift-JSON
  * watermark files (reference: utils/WatermarkUtils.java:47-105). Each
  * micro-batch reads the per-file byte ranges `[committed, length-at-
  * listing)`; a crash re-reads from the last committed offset — the same
  * at-least-once contract.
  *
  * Options: `path` (directory), `format` = `text` | `multiline` | `thrift`,
  * `maxBytesPerTrigger` (rate limit, reference `batchSize` analog);
  * `messageStartRegex` and `maxMessageChars` for `multiline`;
  * `maxMessageBytes` (the thrift oversize drop, default 1 MiB — what
  * `reader.thrift.maxMessageSize` sets through `LogSources.fromSpec`).
  *
  * Assumptions, shared with the reference: appends are record-atomic
  * (thrift-logger writes whole frames; text loggers write whole lines —
  * reference: reader/ThriftReader.java framing), and rotation renames
  * never copy-truncate. A shrunken file is treated as rotated: its tail
  * restarts from 0.
  *
  * Scale: listing is O(files) on the driver per trigger; decode runs in
  * executors, one task per (file, range) — ranges of distinct files run in
  * parallel. At 100 TB/day the per-trigger work is bounded by
  * `maxBytesPerTrigger`, and file count per directory is bounded by
  * rotation retention (reference: logRetentionInSeconds).
  */
class TailSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-tail"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = TailSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new TailTable(properties.asScala.toMap)
}

object TailSource {
  val schema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("byteOffset", LongType),       // offset of the NEXT byte (LogPosition)
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("timestampNanos", LongType),
    StructField("checksum", LongType)))
}

class TailTable(properties: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"graft-tail(${properties.getOrElse("path", "?")})"
  override def schema(): StructType = TailSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new TailScan(
        options.get("path"),
        Option(options.get("format")).getOrElse("text"),
        Option(options.get("maxbytespertrigger")).map(_.toLong),
        Option(options.get("messagestartregex")),
        Option(options.get("fileregex")),
        Option(options.get("maxmessagechars")).map(_.toInt).getOrElse(1 << 20),
        Option(options.get("retentionseconds")).map(_.toLong),
        Option(options.get("maxmessagebytes")).map(_.toInt).getOrElse(1 << 20))
    }
}

class TailScan(dir: String, format: String, maxBytesPerTrigger: Option[Long],
    startRegex: Option[String], fileRegex: Option[String] = None,
    maxMessageChars: Int = 1 << 20,
    retentionSeconds: Option[Long] = None,
    maxMessageBytes: Int = 1 << 20) extends Scan {
  override def readSchema(): StructType = TailSource.schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new TailMicroBatchStream(dir, format, maxBytesPerTrigger, startRegex, fileRegex,
      maxMessageChars, retentionSeconds, maxMessageBytes)
}

/** Rotation retention — the reference's `logRetentionInSeconds` cleanup
  * (reference: processor/DefaultLogStreamProcessor.java:252-254,
  * common/LogStream.java:585-618: files BEFORE the committed position whose
  * mtime is past retention are deleted). The decision is pure for specs;
  * the sweep runs from the source's `commit()` hook, so only durably
  * committed data can be reclaimed (the same safety the reference gets by
  * cleaning after the watermark write). */
object TailRetention {
  /** Paths eligible for deletion: fully ingested at the committed offset,
    * older than retention, and never the active head (the most recently
    * modified file survives even when idle — the reference only deletes
    * files strictly before the one holding the committed position). */
  def sweep(files: Seq[(String, String, Long, Long)], // (id, path, len, mtimeMs)
      committed: Map[String, Long], retentionMs: Long, nowMs: Long): Seq[String] = {
    if (files.isEmpty) return Nil
    val newestMtime = files.map(_._4).max
    files.collect {
      case (id, path, len, mtime)
        if mtime != newestMtime &&
          nowMs - mtime > retentionMs &&
          committed.get(id).exists(_ >= len) => path
    }
  }
}

/** Offset: map of file path → next byte to read. */
case class TailOffset(files: Map[String, Long]) extends Offset {
  override def json(): String = {
    val m = new java.util.TreeMap[String, java.lang.Long]()
    files.foreach { case (k, v) => m.put(k, v) }
    TailOffset.mapper.writeValueAsString(m)
  }
}

object TailOffset {
  private[v2] val mapper = new ObjectMapper()
  def fromJson(json: String): TailOffset = {
    val m = mapper.readValue(json, classOf[java.util.Map[String, Number]])
    TailOffset(m.asScala.map { case (k, v) => k -> v.longValue() }.toMap)
  }
}

/** Driver-side multiline record alignment with BOUNDED IO: find the last
  * `messageStartRegex` match in `(startOff, cappedEnd)` by scanning backward
  * in doubling chunks from the window's tail. Byte↔char math uses ISO-8859-1
  * (1:1) so offsets are exact for arbitrary bytes; patterns are expected to
  * match ASCII. Pure over an injected `readRange` so specs can meter bytes
  * read. */
private[sources] object MultilineAlign {

  /** Returns the largest match start in `(startOff, cappedEnd)`, or
    * `startOff` when there is none. Candidate matches inside a chunk that
    * begins mid-stream only count AFTER the chunk's first newline (a
    * MULTILINE `^` would otherwise false-match at the chunk's cut point);
    * matches missed that way sit in the next, larger chunk. */
  def lastStartBoundary(pattern: java.util.regex.Pattern, startOff: Long, cappedEnd: Long,
      readRange: (Long, Long) => Array[Byte], initialChunkBytes: Int = 256 << 10): Long = {
    var chunk = math.max(initialChunkBytes.toLong, 16L)
    while (true) {
      val lo = math.max(startOff, cappedEnd - chunk)
      val text = new String(readRange(lo, cappedEnd),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      // a match AT startOff is the old boundary (no progress) — require > 0
      val minPos =
        if (lo == startOff) 1
        else text.indexOf('\n') match {
          case -1 => text.length // no line boundary in chunk: no valid starts
          case i => i + 1
        }
      val m = pattern.matcher(text)
      var last = -1
      while (m.find()) if (m.start() >= minPos) last = m.start()
      if (last >= 0) return lo + last
      if (lo == startOff) return startOff
      chunk *= 2
    }
    startOff // unreachable
  }
}

class TailMicroBatchStream(dir: String, format: String, maxBytesPerTrigger: Option[Long],
    startRegex: Option[String] = None, fileRegex: Option[String] = None,
    maxMessageChars: Int = 1 << 20,
    retentionSeconds: Option[Long] = None,
    maxMessageBytes: Int = 1 << 20)
    extends MicroBatchStream with SupportsAdmissionControl {

  @transient private lazy val startPattern =
    startRegex.map(r => java.util.regex.Pattern.compile(r, java.util.regex.Pattern.MULTILINE))

  // stream-membership gate: only file NAMES fully matching the configured
  // regex belong to this stream — non-matching files are never listed, so
  // never read (reference: monitor/LogStreamManager.java:384-477)
  @transient private lazy val filePattern =
    fileRegex.map(java.util.regex.Pattern.compile)

  /** Listing entry: (identity, path, length). Identity is the filesystem
    * fileKey (device+inode on POSIX) so RENAME-rotation (`app.log` →
    * `app.log.1`) keeps the committed offset — the reference's core
    * invariant (reference: singer.thrift:9-11 LogFile.inode,
    * docs/DESIGN.md:14-24). Falls back to the path where the filesystem
    * exposes no fileKey. */
  private def listFiles(): Seq[(String, String, Long)] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return Nil
    val s = Files.list(d)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .filter(p => filePattern.forall(_.matcher(p.getFileName.toString).matches()))
      .map { p =>
        val attrs = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
        val id = Option(attrs.fileKey()).map(_.toString).getOrElse(p.toString)
        (id, p.toString, attrs.size())
      }
      .toSeq.sortBy(_._2)
    finally s.close()
  }

  override def initialOffset(): Offset = TailOffset(Map.empty)

  /** Uncapped head of the stream (admission-control reporting). */
  override def reportLatestOffset(): Offset =
    TailOffset(listFiles().map { case (id, _, len) => id -> len }.toMap)

  /** Rate-limited head: the returned offset IS what gets committed, so the
    * per-trigger byte budget must be applied here, not at planning time —
    * otherwise capped-away bytes would be skipped forever. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[TailOffset].files
    var budget = maxBytesPerTrigger.getOrElse(Long.MaxValue)
    val out = Map.newBuilder[String, Long]
    listFiles().foreach { case (id, path, len) =>
      val startOff = s.get(id) match {
        case Some(off) if off <= len => off
        case Some(_) => 0L // file shrank ⇒ truncated in place: restart
        case None => 0L
      }
      val take = math.min(len - startOff, budget).max(0L)
      // a capped range must end on a RECORD boundary or the split record
      // would be emitted twice (fragment now, full line next trigger);
      // EOF is a boundary by the record-atomic-append assumption — EXCEPT
      // for multiline records, whose final record is only complete once the
      // NEXT record starts (reference: TextMessageReader.java:120-125), so
      // multiline always aligns, even at EOF
      val end =
        if (take == 0L) startOff
        else if (format == "multiline")
          alignToMultilineBoundary(path, startOff, startOff + take, len)
        else if (startOff + take >= len) startOff + take
        else alignToRecordBoundary(path, startOff, startOff + take, len)
      budget -= (end - startOff).max(0L)
      out += id -> end
    }
    TailOffset(out.result())
  }

  /** Multiline boundary: the last `messageStartRegex` match position in
    * (startOff, cappedEnd] — every record BEFORE a following start is
    * complete; the in-progress final record stays un-committed until its
    * successor appears. Delegates to [[MultilineAlign.lastStartBoundary]],
    * which scans BACKWARD in chunks so the driver reads O(distance to the
    * last record start), not O(new bytes) — a multi-GB append between
    * triggers costs one tail chunk, not a multi-GB driver read. */
  private def alignToMultilineBoundary(path: String, startOff: Long, cappedEnd: Long,
      fileLen: Long): Long = {
    val p = startPattern.getOrElse(throw new IllegalArgumentException(
      "format=multiline requires option messageStartRegex"))
    val raf = new RandomAccessFile(path, "r")
    try MultilineAlign.lastStartBoundary(p, startOff, math.min(cappedEnd, fileLen),
      (lo, hi) => {
        val buf = new Array[Byte]((hi - lo).toInt)
        raf.seek(lo)
        raf.readFully(buf)
        buf
      })
    finally raf.close()
  }

  /** Largest record boundary in (startOff, cappedEnd]; if a single record
    * exceeds the budget, extends FORWARD past the cap to the next boundary
    * so the stream always makes progress. Driver-side IO bounded by the
    * trigger budget (and only runs for rate-capped files). */
  private def alignToRecordBoundary(path: String, startOff: Long, cappedEnd: Long,
      fileLen: Long): Long = {
    val raf = new RandomAccessFile(path, "r")
    try {
      if (format == "thrift") {
        // walk 4-byte frame-length headers forward from startOff
        var pos = startOff
        var lastBoundary = startOff
        var grown = false
        while (pos + 4 <= fileLen && (pos < cappedEnd || !grown)) {
          raf.seek(pos)
          val len = raf.readInt()
          if (len < 0 || pos + 4 + len > fileLen) return lastBoundary // partial tail
          pos += 4 + len
          if (pos <= cappedEnd) lastBoundary = pos
          else if (lastBoundary == startOff) { lastBoundary = pos; grown = true } // oversize record
          else grown = true
        }
        lastBoundary
      } else {
        // scan backward from cappedEnd for '\n'
        val window = 8192
        var end = cappedEnd
        while (end > startOff) {
          val from = math.max(startOff, end - window)
          val buf = new Array[Byte]((end - from).toInt)
          raf.seek(from)
          raf.readFully(buf)
          var i = buf.length - 1
          while (i >= 0 && buf(i) != '\n') i -= 1
          if (i >= 0) return from + i + 1
          end = from
        }
        // no newline inside the budget: scan forward so we still progress
        raf.seek(cappedEnd)
        var pos = cappedEnd
        var b = raf.read()
        while (b != -1 && b != '\n') { pos += 1; b = raf.read() }
        if (b == '\n') pos + 1 else fileLen
      }
    } finally raf.close()
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TailOffset].files
    val e = end.asInstanceOf[TailOffset].files
    // offsets are keyed by file identity; resolve identities back to their
    // CURRENT paths (a file may have been renamed since the offset was cut)
    val idToPath = listFiles().map { case (id, path, _) => id -> path }.toMap
    val parts = Array.newBuilder[InputPartition]
    e.toSeq.sortBy(_._1).foreach { case (id, endOff) =>
      val startOff = s.get(id) match {
        case Some(off) if off <= endOff => off
        case Some(_) => 0L
        case None => 0L
      }
      // identity vanished from the directory (deleted/moved out): skip
      idToPath.get(id).foreach { path =>
        if (endOff > startOff) {
          parts += TailInputPartition(path, startOff, endOff, format, startRegex,
            maxMessageChars, maxMessageBytes)
        }
      }
    }
    parts.result()
  }

  override def createReaderFactory(): PartitionReaderFactory = new TailReaderFactory

  /** Engine WAL is the watermark; `commit` is also the rotation-retention
    * hook — the offsets in `end` are durable once this is called, so fully
    * ingested rotation files past retention can be reclaimed (reference:
    * DefaultLogStreamProcessor.java:252-254 cleans after the watermark
    * write). Deletions are logged, never silent. */
  override def commit(end: Offset): Unit = retentionSeconds.foreach { ret =>
    val committed = end.asInstanceOf[TailOffset].files
    val withMtime = listFiles().map { case (id, path, len) =>
      (id, path, len,
        try Files.getLastModifiedTime(Paths.get(path)).toMillis
        catch { case _: Exception => Long.MaxValue }) // vanished: never delete
    }
    TailRetention.sweep(withMtime, committed, ret * 1000L,
        System.currentTimeMillis()).foreach { path =>
      try {
        Files.deleteIfExists(Paths.get(path))
        org.slf4j.LoggerFactory.getLogger(getClass)
          .info(s"retention: deleted fully-ingested rotation file $path " +
            s"(older than ${ret}s)")
      } catch { case _: Exception => () } // next commit retries
    }
  }
  override def deserializeOffset(json: String): Offset = TailOffset.fromJson(json)
  override def stop(): Unit = ()
}

case class TailInputPartition(path: String, startOff: Long, endOff: Long, format: String,
    startRegex: Option[String] = None, maxMessageChars: Int = 1 << 20,
    maxMessageBytes: Int = 1 << 20)
    extends InputPartition

class TailReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[TailInputPartition]
    new TailPartitionReader(p)
  }
}

/** Reads one (file, byte-range) slice and decodes records.
  *
  * Memory contract: `text` and `thrift` STREAM the range through a bounded
  * buffer — an uncapped tail of a 50 GB file holds one buffer + one record,
  * never the range. `multiline` materializes its range: its boundaries are
  * start-regex positions the driver aligned (bounded-backward-scan), and the
  * multiline scan needs the regex over the assembled text; its ranges are
  * therefore sized by `maxBytesPerTrigger`, which the multiline tail treats
  * as required (it defaults on). */
class TailPartitionReader(p: TailInputPartition) extends PartitionReader[InternalRow] {

  private val pathUtf8 = UTF8String.fromString(p.path)

  // --- multiline path: whole-range buffer (see memory contract above)
  private def readWholeRange(): Array[Byte] = {
    val raf = new RandomAccessFile(p.path, "r")
    try {
      val len = (math.min(p.endOff, raf.length()) - p.startOff).max(0L).toInt
      val buf = new Array[Byte](len)
      raf.seek(p.startOff)
      raf.readFully(buf)
      buf
    } finally raf.close()
  }

  // --- streaming paths: bounded buffer over the byte range
  private var in: java.io.DataInputStream = _
  private var consumed: Long = 0L // bytes of the range consumed so far
  private var rangeLen: Long = 0L

  private def openStream(): Unit = {
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(p.path), java.nio.file.StandardOpenOption.READ)
    rangeLen = (math.min(p.endOff, ch.size()) - p.startOff).max(0L)
    ch.position(p.startOff)
    in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      java.nio.channels.Channels.newInputStream(ch), TailPartitionReader.BufferBytes))
  }

  private val iter: Iterator[InternalRow] = p.format match {
    case "multiline" =>
      // range boundaries are start-regex positions (driver-aligned), so
      // every record in the range is complete; ISO-8859-1 keeps byte math 1:1
      val text = new String(readWholeRange(), java.nio.charset.StandardCharsets.ISO_8859_1)
      LogSources.multilineRecords(text, p.startRegex.getOrElse("^"), p.maxMessageChars)
        .map { case (rec, end) =>
          new GenericInternalRow(Array[Any](
            pathUtf8, p.startOff + end, null,
            rec.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1), null, null))
        }
    case "thrift" =>
      // a partial tail (in-progress append) ends the iterator without
      // advancing the offset past the last complete frame
      openStream()
      ThriftLogCodec.decodeFrames(in, p.startOff, rangeLen, p.maxMessageBytes).map { d =>
        new GenericInternalRow(Array[Any](
          pathUtf8, d.nextByteOffset, d.key, d.message,
          if (d.timestampNanos == null) null else d.timestampNanos.longValue(),
          if (d.checksum == null) null else d.checksum.longValue()))
      }
    case _ =>
      // text: records end at '\n'; a trailing partial line is still emitted
      // (record-atomic-append assumption ⇒ only happens at a flush boundary
      // the producer itself wrote without a newline). Chunk-scanned: lines
      // assemble across chunk boundaries, memory = one chunk + one record.
      openStream()
      new Iterator[InternalRow] {
        private val chunk = new Array[Byte](64 << 10)
        private var chunkLen = 0
        private var chunkPos = 0
        private var pulled = 0L // bytes taken from the stream into chunks
        private def ensure(): Unit =
          if (chunkPos >= chunkLen && pulled < rangeLen) {
            val n = in.read(chunk, 0, math.min(chunk.length.toLong, rangeLen - pulled).toInt)
            if (n <= 0) pulled = rangeLen
            else { chunkLen = n; chunkPos = 0; pulled += n }
          }
        override def hasNext: Boolean = { ensure(); chunkPos < chunkLen }
        override def next(): InternalRow = {
          val line = new java.io.ByteArrayOutputStream(256)
          var done = false
          var terminated = false
          while (!done) {
            ensure()
            if (chunkPos >= chunkLen) done = true // end of range: partial line
            else {
              var i = chunkPos
              while (i < chunkLen && chunk(i) != '\n') i += 1
              line.write(chunk, chunkPos, i - chunkPos)
              consumed += i - chunkPos
              if (i < chunkLen) {
                consumed += 1; chunkPos = i + 1; done = true; terminated = true
              } else chunkPos = i
            }
          }
          // a CRLF line ending drops its '\r' too, as the replay readers
          // (Spark's text source) do; byteOffset still counts it
          val bytes = line.toByteArray
          val n = bytes.length
          val value =
            if (terminated && n > 0 && bytes(n - 1) == '\r') java.util.Arrays.copyOf(bytes, n - 1)
            else bytes
          new GenericInternalRow(Array[Any](
            pathUtf8, p.startOff + consumed, null, value, null, null))
        }
      }
  }

  private var current: InternalRow = _
  override def next(): Boolean = {
    if (iter.hasNext) { current = iter.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = if (in != null) in.close()
}

object TailPartitionReader {
  /** Streaming read buffer — the only per-task memory the text/thrift tail
    * formats hold besides the current record. */
  val BufferBytes: Int = 1 << 20
}
