package graft.sources.v2

import java.io.RandomAccessFile
import java.nio.file.{Files, Path, Paths}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
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
  * micro-batch reads the per-file byte ranges `[committed, record end at
  * or below the length at listing)`; a crash re-reads from the last
  * committed offset — the same at-least-once contract.
  *
  * Options: `path` (directory), `format` = `text` | `multiline` | `thrift`,
  * `maxBytesPerTrigger` (rate limit, reference `batchSize` analog);
  * `messageStartRegex` and `maxMessageChars` for `multiline`;
  * `maxMessageBytes` (the thrift oversize drop, default 1 MiB — what
  * `reader.thrift.maxMessageSize` sets through `LogSources.fromSpec`);
  * `splitRanges` (default true; `false` plans each file's range as one
  * partition, read in file order — what `LogPipeline.start` sets for the
  * Kafka and Pulsar writers).
  *
  * Record boundaries: every committed range ends at the last WHOLE record
  * ([[RecordAlign]]), as the reference persists the `nextPosition` of the
  * last whole message (reference: DefaultLogStreamProcessor.java:553-582).
  * A length listed mid-append is never taken as a boundary: a torn thrift
  * frame and an unterminated trailing line wait for the rest of their
  * bytes, a multiline record for its successor's start. So a file whose
  * tail never completes is never fully committed, and [[TailRetention]]
  * keeps it. Rotation renames never copy-truncate; a shrunken file is
  * treated as rotated: its tail restarts from 0.
  *
  * Splits: each file's committed range is planned as one or more input
  * partitions, cut at record boundaries into pieces of Spark's file-split
  * size (`spark.sql.files.maxPartitionBytes`, `openCostInBytes`,
  * `minPartitionNum`, as for a file scan), so a two-file backlog decodes on
  * every core. Thrift cuts come from the frame ends the driver's boundary
  * walk already visits; text and multiline cuts from the bounded backward
  * scan. Ordering: within one trigger, several tasks may then write the
  * records of one file, so their order across the pieces is lost. Writers
  * that keep a file's order in a sink partition (Kafka, Pulsar, as the
  * reference shipper reads a file sequentially) set `splitRanges=false`.
  * At-least-once delivery and the audit Σ are the same either way.
  *
  * Scale: listing is O(files) on the driver per trigger, and the thrift
  * boundary walk reads the new frames' headers there too; decode runs in
  * executors, one task per piece. At 100 TB/day the per-trigger work is
  * bounded by `maxBytesPerTrigger`, and file count per directory is
  * bounded by rotation retention (reference: logRetentionInSeconds).
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
        Option(options.get("maxmessagebytes")).map(_.toInt).getOrElse(1 << 20),
        Option(options.get("splitranges")).forall(_.toBoolean))
    }
}

class TailScan(dir: String, format: String, maxBytesPerTrigger: Option[Long],
    startRegex: Option[String], fileRegex: Option[String] = None,
    maxMessageChars: Int = 1 << 20,
    retentionSeconds: Option[Long] = None,
    maxMessageBytes: Int = 1 << 20,
    splitRanges: Boolean = true) extends Scan {
  override def readSchema(): StructType = TailSource.schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new TailMicroBatchStream(dir, format, maxBytesPerTrigger, startRegex, fileRegex,
      maxMessageChars, retentionSeconds, maxMessageBytes, splitRanges)
}

/** Rotation retention — the reference's `logRetentionInSeconds` cleanup
  * (reference: processor/DefaultLogStreamProcessor.java:252-254,
  * common/LogStream.java:585-618: files BEFORE the committed position whose
  * mtime is past retention are deleted). The decision is pure for specs;
  * the sweep runs from the source's `commit()` hook, so only durably
  * committed data can be reclaimed (the same safety the reference gets by
  * cleaning after the watermark write). */
object TailRetention {
  /** Paths eligible for deletion: fully ingested at the committed offset
    * (`committed >= len`, which a file with a torn tail never reaches, so
    * it is kept), older than retention, and never the active head (the most recently
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

/** Where graft-tail ranges end: every committed range ends at a whole
  * record. A range that starts at record boundary `startOff` with budget
  * end `cappedEnd` ends at the largest boundary in `(startOff, cappedEnd]`;
  * else, when one record is larger than the budget, at the first boundary
  * past the cap that is at or below the listed length; else at `startOff`
  * (nothing whole to read yet). A boundary is the byte after a `\n`
  * (text), a `messageStartRegex` match (multiline) or the end of a whole
  * frame (thrift). The listed length is no boundary: a `stat` can see an
  * append half done. Pure over injected reads so specs can meter bytes. */
private[sources] object RecordAlign {

  /** Text boundaries: the position after each `\n`. */
  val LineBoundary: java.util.regex.Pattern = java.util.regex.Pattern.compile("(?<=\n)")

  /** [[rangeEnd]] over regex boundaries (text and multiline): the bounded
    * backward scan, then a forward scan only when no boundary lies inside
    * the budget. */
  def rangeEnd(pattern: java.util.regex.Pattern, startOff: Long, cappedEnd: Long,
      fileLen: Long, readRange: (Long, Long) => Array[Byte]): Long = {
    val last = lastStartBoundary(pattern, startOff, cappedEnd, readRange)
    if (last > startOff) last
    else {
      // the whole of [startOff, cappedEnd) holds no boundary: read forward
      // from startOff (a line start) in doubling windows to the first one
      var hi = cappedEnd
      var chunk = 256L << 10
      while (hi < fileLen) {
        hi = math.min(fileLen, hi + chunk)
        chunk *= 2
        val m = pattern.matcher(latin1(readRange(startOff, hi)))
        if (m.find(1)) return startOff + m.start()
      }
      startOff
    }
  }

  /** [[rangeEnd]] over an ascending iterator of whole-record ends (thrift
    * frames); reads stop at the first end past the cap. */
  def rangeEnd(ends: Iterator[Long], startOff: Long, cappedEnd: Long): Long = {
    var end = startOff
    while (ends.hasNext) {
      val e = ends.next()
      if (e <= cappedEnd) end = e
      else return if (end > startOff) end else e
    }
    end
  }

  /** The bounded backward scan: the largest match start in
    * `(startOff, cappedEnd]` (a zero-width match may sit at `cappedEnd`),
    * or `startOff` when there is none, found by scanning backward in
    * doubling chunks from the window's tail, so the driver reads
    * O(distance to the last boundary), not O(new bytes). Candidate matches
    * inside a chunk that begins mid-stream only count AFTER the chunk's
    * first newline (a MULTILINE `^` would otherwise false-match at the
    * chunk's cut point); matches missed that way sit in the next, larger
    * chunk. Byte↔char math uses ISO-8859-1 (1:1) so offsets are exact for
    * arbitrary bytes; patterns are expected to match ASCII. */
  def lastStartBoundary(pattern: java.util.regex.Pattern, startOff: Long, cappedEnd: Long,
      readRange: (Long, Long) => Array[Byte], initialChunkBytes: Int = 256 << 10): Long = {
    var chunk = math.max(initialChunkBytes.toLong, 16L)
    while (true) {
      val lo = math.max(startOff, cappedEnd - chunk)
      val text = latin1(readRange(lo, cappedEnd))
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

  private def latin1(bytes: Array[Byte]): String =
    new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** The ends of the pieces a committed range `[startOff, endOff)` splits
    * into: each piece ends where `rangeEnd(lo, lo + splitBytes)` puts the
    * range that starts at `lo` (a [[rangeEnd]] over the format's
    * boundaries), the last one at `endOff`. A piece whose record runs past
    * `endOff` is folded into the last. */
  def pieceEnds(startOff: Long, endOff: Long, splitBytes: Long,
      rangeEnd: (Long, Long) => Long): Seq[Long] = {
    val out = Seq.newBuilder[Long]
    var lo = startOff
    while (lo < endOff) {
      val cut = if (endOff - lo <= splitBytes) endOff else rangeEnd(lo, lo + splitBytes)
      lo = if (cut > lo && cut < endOff) cut else endOff
      out += lo
    }
    out.result()
  }

  /** Spark's file-split size (`FilePartition.maxSplitBytes`) for ranges of
    * `sizes` bytes: `min(maxPartitionBytes, max(openCostInBytes, total /
    * minPartitionNum))`, each range counted with one open cost, and
    * `minPartitionNum` defaulting to the leaf-node parallelism. */
  def splitBytes(sizes: Seq[Long]): Long = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val openCost = conf.filesOpenCostInBytes
    val minParts = conf.filesMinPartitionNum.getOrElse(
      Option(conf.getConfString("spark.sql.leafNodeDefaultParallelism", null)).map(_.toInt)
        .orElse(SparkSession.getActiveSession.map(_.sparkContext.defaultParallelism))
        .getOrElse(1))
    val total = sizes.map(_ + openCost).sum
    math.min(conf.filesMaxPartitionBytes, math.max(openCost, total / math.max(1, minParts)))
  }

  /** Stride of the thrift cut index: no split is smaller than
    * `min(maxPartitionBytes, openCostInBytes)`, so frame ends kept this far
    * apart place every cut within a sixteenth of a split of its target. */
  def indexStride: Long = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    math.max(1L, math.min(conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes) / 16)
  }
}

class TailMicroBatchStream(dir: String, format: String, maxBytesPerTrigger: Option[Long],
    startRegex: Option[String] = None, fileRegex: Option[String] = None,
    maxMessageChars: Int = 1 << 20,
    retentionSeconds: Option[Long] = None,
    maxMessageBytes: Int = 1 << 20,
    splitRanges: Boolean = true)
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

  /** The thrift cut index of the last [[latestOffset]] walk: for each
    * (file identity, range start), the range end and the frame ends at
    * least [[RecordAlign.indexStride]] apart inside it. Replaced on every
    * call; [[planInputPartitions]] cuts thrift ranges from it. */
  @volatile private var frameIndex = Map.empty[(String, Long), FrameWalk]

  /** Rate-limited head: the returned offset IS what gets committed, so the
    * per-trigger byte budget must be applied here, not at planning time —
    * otherwise capped-away bytes would be skipped forever. Each file's
    * range ends at a whole record ([[RecordAlign]]); a multiline record is
    * whole only once the NEXT record starts (reference:
    * TextMessageReader.java:120-125). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[TailOffset].files
    var budget = maxBytesPerTrigger.getOrElse(Long.MaxValue)
    val out = Map.newBuilder[String, Long]
    val index = Map.newBuilder[(String, Long), FrameWalk]
    val stride = RecordAlign.indexStride
    listFiles().foreach { case (id, path, len) =>
      val startOff = s.get(id) match {
        case Some(off) if off <= len => off
        case Some(_) => 0L // file shrank ⇒ truncated in place: restart
        case None => 0L
      }
      val take = math.min(len - startOff, budget).max(0L)
      val end =
        if (take == 0L) startOff
        else if (format == "thrift") {
          val walk = walkFrames(path, startOff, startOff + take, len, stride)
          index += (id, startOff) -> walk
          walk.end
        } else withReader(path)(RecordAlign.rangeEnd(boundary, startOff, startOff + take, len, _))
      budget -= end - startOff
      out += id -> end
    }
    frameIndex = index.result()
    TailOffset(out.result())
  }

  /** [[RecordAlign.rangeEnd]] over the thrift frame ends of `[startOff,
    * cappedEnd]` (further only for a frame larger than the budget), read
    * through [[ThriftLogCodec.frameEnds]], keeping the ends `stride` apart
    * as the range's cut index. A corrupt frame header fails the trigger
    * with the file and offset. */
  private def walkFrames(path: String, startOff: Long, cappedEnd: Long, fileLen: Long,
      stride: Long): FrameWalk = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      new java.io.FileInputStream(path), TailPartitionReader.BufferBytes))
    try {
      in.skipNBytes(startOff)
      val kept = Array.newBuilder[Long]
      var last = startOff
      val ends = ThriftLogCodec.frameEnds(in, startOff, fileLen - startOff).map { e =>
        if (e - last >= stride) { kept += e; last = e }
        e
      }
      val end = RecordAlign.rangeEnd(ends, startOff, cappedEnd)
      FrameWalk(end, kept.result().filter(_ < end))
    } catch {
      case e: ThriftLogCodec.CorruptFrameException =>
        throw new java.io.IOException(s"graft-tail: $path: ${e.getMessage}", e)
    } finally in.close()
  }

  /** Text and multiline boundaries: after each `\n`, or at each
    * `messageStartRegex` match. */
  private def boundary: java.util.regex.Pattern =
    if (format != "multiline") RecordAlign.LineBoundary
    else startPattern.getOrElse(throw new IllegalArgumentException(
      "format=multiline requires option messageStartRegex"))

  /** Runs `body` with a positioned reader of `path`'s byte ranges. */
  private def withReader[T](path: String)(body: ((Long, Long) => Array[Byte]) => T): T = {
    val raf = new RandomAccessFile(path, "r")
    try body { (lo, hi) =>
      val buf = new Array[Byte]((hi - lo).toInt)
      raf.seek(lo)
      raf.readFully(buf)
      buf
    } finally raf.close()
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Each file's committed range, cut at record boundaries into pieces of
    * Spark's file-split size ([[RecordAlign.splitBytes]]), one input
    * partition per piece: thrift cuts come from the [[latestOffset]] walk's
    * cut index (a range it did not walk, as after a restart, is walked
    * again), text and multiline cuts from the bounded backward scan. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TailOffset].files
    val e = end.asInstanceOf[TailOffset].files
    // offsets are keyed by file identity; resolve identities back to their
    // CURRENT paths (a file may have been renamed since the offset was cut)
    val idToPath = listFiles().map { case (id, path, _) => id -> path }.toMap
    val ranges = e.toSeq.sortBy(_._1).flatMap { case (id, endOff) =>
      val startOff = s.get(id) match {
        case Some(off) if off <= endOff => off
        case Some(_) => 0L
        case None => 0L
      }
      // identity vanished from the directory (deleted/moved out): skip
      idToPath.get(id).filter(_ => endOff > startOff).map(path => (id, path, startOff, endOff))
    }
    val split = RecordAlign.splitBytes(ranges.map { case (_, _, lo, hi) => hi - lo })
    val index = frameIndex
    ranges.flatMap { case (id, path, startOff, endOff) =>
      val ends =
        if (!splitRanges || endOff - startOff <= split) Seq(endOff)
        else if (format == "thrift") {
          val cuts = index.get((id, startOff)) match {
            case Some(walk) if walk.end >= endOff => walk.cuts
            case _ => // not walked by this stream, as a batch replayed after a restart
              val len = math.min(endOff, new java.io.File(path).length)
              if (len > startOff) walkFrames(path, startOff, len, len, RecordAlign.indexStride).cuts
              else Array.emptyLongArray
          }
          RecordAlign.pieceEnds(startOff, endOff, split,
            (lo, cap) => RecordAlign.rangeEnd(cuts.iterator.filter(_ > lo), lo, cap))
        } else withReader(path) { read =>
          RecordAlign.pieceEnds(startOff, endOff, split,
            (lo, cap) => RecordAlign.rangeEnd(boundary, lo, cap, endOff, read))
        }
      (startOff +: ends).zip(ends).map { case (lo, hi) =>
        TailInputPartition(path, lo, hi, format, startRegex, maxMessageChars, maxMessageBytes)
      }
    }.toArray
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

/** A thrift range's end and its cut index (see `frameIndex`). */
private case class FrameWalk(end: Long, cuts: Array[Long])

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
      // text: records end at '\n', and so does every range the driver cut,
      // so every line is whole. Chunk-scanned: lines assemble across chunk
      // boundaries, memory = one chunk + one record.
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
          while (!done) {
            ensure()
            if (chunkPos >= chunkLen) done = true // end of range
            else {
              var i = chunkPos
              while (i < chunkLen && chunk(i) != '\n') i += 1
              line.write(chunk, chunkPos, i - chunkPos)
              consumed += i - chunkPos
              if (i < chunkLen) { consumed += 1; chunkPos = i + 1; done = true }
              else chunkPos = i
            }
          }
          // a CRLF line ending drops its '\r' too, as the replay readers
          // (Spark's text source) do; byteOffset still counts it
          val bytes = line.toByteArray
          val n = bytes.length
          val value =
            if (n > 0 && bytes(n - 1) == '\r') java.util.Arrays.copyOf(bytes, n - 1)
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
