package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.ReaderSpec

/** Source readers: directory of log files → envelope DataFrame, in both batch
  * (replay) and streaming (tail) modes from ONE definition — the reference's
  * reader layer re-expressed on Spark's file source
  * (reference: SURVEY.md §2.1).
  *
  * Rotation-aware convention (SURVEY.md §7.3 option b): files are ingested
  * once closed/rotated; the streaming file source tracks seen files in the
  * checkpoint, replacing the reference's inode+offset watermark
  * (reference: utils/WatermarkUtils.java:47-105). Intra-file tailing is
  * traded for idiomatic, exactly-tracked file-granularity progress.
  *
  * Scale: file listing is driver-side but O(new files/trigger) with
  * `maxFileAge`/`cleanSource`; decode runs distributed, one task per file
  * group, and all downstream transforms are narrow.
  */
object LogSources {

  private lazy val hostname: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: Exception => "unknown" }

  /** Full-match file-NAME gate for `logStreamRegex` — only files whose name
    * matches belong to the stream (reference:
    * monitor/LogStreamManager.java:384-477 uses Matcher.matches on the file
    * name). Anchored so `rlike`'s find() behaves like matches(). */
  private def nameMatch(pathCol: org.apache.spark.sql.Column, re: String) =
    element_at(split(pathCol, "/"), -1).rlike(s"^(?:$re)$$")

  private def filterName(df: DataFrame, fileRegex: Option[String]): DataFrame =
    fileRegex.filterNot(_ == ".*").map(re => df.filter(nameMatch(col("path"), re)))
      .getOrElse(df)

  /** Decoded thrift record row — the `LogMessageAndPosition` DTO
    * (reference: singer-commons/src/main/thrift/singer.thrift:29-39). */
  case class ThriftLogRow(
      path: String,
      key: Array[Byte],
      value: Array[Byte],
      timestampNanos: Option[Long],
      checksum: Option[Long],
      nextByteOffset: Long)

  /** One text record (single- or multi-line) with its source file. */
  case class TextLogRow(path: String, value: String)

  /** The file listing every format reads through: `dir/glob` via Spark's
    * batch reader, or via its streaming twin when `streaming` — the one
    * place the two modes differ. Columns: the format's own, then `path`. */
  private def files(spark: SparkSession, dir: String, glob: String, format: String,
      options: Map[String, String], streaming: Boolean, maxFilesPerTrigger: Option[Int],
      fileRegex: Option[String]): DataFrame = {
    val df =
      if (!streaming) spark.read.format(format).options(options).load(s"$dir/$glob")
      else {
        val r = spark.readStream.format(format).options(options)
        maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
        // the binaryFile source requires its schema stated in streaming mode
        if (format == "binaryFile") r.schema(BinaryFileSchema)
        r.load(s"$dir/$glob")
      }
    // binaryFile rows carry their own `path`; the text source's do not
    filterName(if (df.columns.contains("path")) df
      else df.withColumn("path", input_file_name()), fileRegex)
  }

  private val BinaryFileSchema = StructType(Seq(
    StructField("path", StringType), StructField("modificationTime", TimestampType),
    StructField("length", LongType), StructField("content", BinaryType)))

  /** Whole files as (content, path) rows: one row per rotation-bounded file
    * (the reference caps file size the same way via rotation). Streaming
    * processes each file exactly once, so records assembled per file never
    * straddle a trigger boundary. */
  private def wholeTextFiles(spark: SparkSession, dir: String, glob: String,
      streaming: Boolean, maxFilesPerTrigger: Option[Int],
      fileRegex: Option[String]): Dataset[(String, String)] = {
    import spark.implicits._
    files(spark, dir, glob, "text", Map("wholetext" -> "true"), streaming,
      maxFilesPerTrigger, fileRegex).as[(String, String)]
  }

  // ------------------------------------------------------------ text: lines

  /** One record per line. Spark's line reader splits at the line end and
    * leaves it out, so records carry no trailing `\n`. */
  def textLines(spark: SparkSession, dir: String, glob: String = "*",
      streaming: Boolean = false, maxFilesPerTrigger: Option[Int] = None,
      fileRegex: Option[String] = None): DataFrame =
    files(spark, dir, glob, "text", Map.empty, streaming, maxFilesPerTrigger, fileRegex)

  // -------------------------------------------------------- text: multiline

  /** Split one file's content into records that START at `messageStartRegex`
    * matches and run to the next match or EOF
    * (reference: reader/TextMessageReader.java:88-138). Content before the
    * first start-line is dropped (no record boundary); records longer than
    * `maxMessageChars` are truncated, not fatal
    * (reference: TextMessageReader.java:107-115). */
  def splitMultiline(content: String, startRegex: String,
      maxMessageChars: Int): Iterator[String] =
    multilineRecords(content, startRegex, maxMessageChars).map(_._1)

  /** [[splitMultiline]] with each record's end offset in `content`: where
    * its successor starts, or the content's end — a truncated record still
    * consumes its full extent. The one multiline splitter, shared by the
    * file readers here and the graft-tail reader. */
  def multilineRecords(content: String, startRegex: String,
      maxMessageChars: Int): Iterator[(String, Int)] = {
    val m = java.util.regex.Pattern.compile(startRegex, java.util.regex.Pattern.MULTILINE)
      .matcher(content)
    val starts = Iterator.continually(if (m.find()) m.start() else -1)
      .takeWhile(_ >= 0).toArray
    starts.iterator.zipWithIndex.map { case (s, i) =>
      val end = if (i + 1 < starts.length) starts(i + 1) else content.length
      (content.substring(s, math.min(end, s + maxMessageChars)).stripSuffix("\n"), end)
    }
  }

  /** Multi-line records assembled per file. */
  def textMultiline(spark: SparkSession, dir: String, startRegex: String,
      maxMessageChars: Int = 1 << 20, glob: String = "*", streaming: Boolean = false,
      maxFilesPerTrigger: Option[Int] = None,
      fileRegex: Option[String] = None): DataFrame = {
    import spark.implicits._
    wholeTextFiles(spark, dir, glob, streaming, maxFilesPerTrigger, fileRegex)
      .flatMap { case (content, path) =>
        splitMultiline(content, startRegex, maxMessageChars).map(TextLogRow(path, _))
      }.toDF()
  }

  /** Packed text lines: `n` consecutive lines per message, assembled per
    * file (wholetext keeps order exact, the flatMap is narrow and
    * streaming-safe). Reader-level filter/prepend fold INTO the packing
    * (reference: TextLogFileReader.java:161-189 — filter marks the whole
    * pack skipped, ts/host prepends per member). */
  def textLinesPacked(spark: SparkSession, dir: String, spec: graft.model.ReaderSpec.TextLine,
      hostname: String, glob: String = "*", streaming: Boolean = false,
      maxFilesPerTrigger: Option[Int] = None,
      fileRegex: Option[String] = None): DataFrame = {
    import spark.implicits._
    val n = spec.numMessagesPerLogMessage
    val filter = spec.filterRegex
    val (prependTs, prependHost, delim) =
      (spec.prependTimestamp, spec.prependHostname, spec.prependDelimiter)
    wholeTextFiles(spark, dir, glob, streaming, maxFilesPerTrigger, fileRegex)
      .flatMap { case (content, path) =>
        val lines = content.split("\n", -1)
        val trimmed = if (lines.nonEmpty && lines.last.isEmpty) lines.dropRight(1) else lines
        val prefix: String => String = m => {
          val sb = new StringBuilder
          if (prependTs) { sb.append(System.currentTimeMillis()); sb.append(delim) }
          if (prependHost) { sb.append(hostname); sb.append(delim) }
          sb.append(m); sb.toString
        }
        graft.operators.Transforms.packLines(trimmed.iterator, n, filter, prefix)
          .map(TextLogRow(path, _))
      }.toDF()
  }

  // ------------------------------------------------------------------ thrift

  /** Framed-thrift LogMessage files (reference: reader/ThriftLogFileReader.java),
    * decoded by [[ThriftLogCodec.decodeFrames]] — the same frame loop, and so
    * the same oversize drop, as the graft-tail reader. */
  def thriftFramed(spark: SparkSession, dir: String,
      maxMessageBytes: Int = 1 << 20, glob: String = "*", streaming: Boolean = false,
      maxFilesPerTrigger: Option[Int] = None,
      fileRegex: Option[String] = None): DataFrame = {
    import spark.implicits._
    files(spark, dir, glob, "binaryFile", Map.empty, streaming, maxFilesPerTrigger, fileRegex)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        ThriftLogCodec.decodeFrames(bytes, 0L, maxMessageBytes).map { d =>
          ThriftLogRow(path, d.key, d.message,
            Option(d.timestampNanos).map(_.longValue),
            Option(d.checksum).map(_.longValue),
            d.nextByteOffset)
        }
      }.toDF()
  }

  /** Source per config spec, batch or streaming. `tailMode` streams with
    * the `graft-tail` DSv2 source (growing files, intra-file offsets);
    * multiline tail emits a record once its successor starts (the
    * reference's partial-record buffering semantics); `splitRanges = false`
    * keeps each file's new bytes in one tail partition, in file order. */
  def fromSpec(spark: SparkSession, dir: String, spec: ReaderSpec, streaming: Boolean,
      maxFilesPerTrigger: Option[Int] = None, tailMode: Boolean = false,
      fileRegex: Option[String] = None,
      retentionSeconds: Option[Long] = None, splitRanges: Boolean = true): DataFrame = {
    val fre = fileRegex.filterNot(_ == ".*")
    def tail(fmt: String) = {
      val r = spark.readStream.format("graft-tail")
        .option("path", dir).option("format", fmt)
        .option("splitRanges", splitRanges.toString)
      fre.foreach(re => r.option("fileRegex", re))
      retentionSeconds.foreach(s => r.option("retentionSeconds", s.toString))
      r
    }
    spec match {
      case tl: ReaderSpec.TextLine if streaming && tailMode =>
        require(tl.numMessagesPerLogMessage == 1,
          "numMessagesPerLogMessage > 1 is not supported in tail mode " +
            "(packing needs whole-file assembly; tail emits partial windows)")
        tail("text").load()
          .select(col("value").cast("string").as("value"), col("path"))
      case ReaderSpec.TextMultiline(re, maxChars) if streaming && tailMode =>
        tail("multiline").option("messageStartRegex", re)
          .option("maxMessageChars", maxChars.toString).load()
          .select(col("value").cast("string").as("value"), col("path"))
      case ReaderSpec.ThriftFramed(maxBytes) if streaming && tailMode =>
        tail("thrift").option("maxMessageBytes", maxBytes.toString).load()
          .select(col("path"), col("key"), col("value"), col("timestampNanos"),
            col("checksum"), col("byteOffset").as("nextByteOffset"))
      case tl: ReaderSpec.TextLine =>
        if (tl.numMessagesPerLogMessage > 1)
          textLinesPacked(spark, dir, tl, hostname, streaming = streaming,
            maxFilesPerTrigger = maxFilesPerTrigger, fileRegex = fre)
        else textLines(spark, dir, streaming = streaming,
          maxFilesPerTrigger = maxFilesPerTrigger, fileRegex = fre)
      case ReaderSpec.TextMultiline(re, maxChars) =>
        textMultiline(spark, dir, re, maxChars, streaming = streaming,
          maxFilesPerTrigger = maxFilesPerTrigger, fileRegex = fre)
      case ReaderSpec.ThriftFramed(maxBytes) =>
        thriftFramed(spark, dir, maxBytes, streaming = streaming,
          maxFilesPerTrigger = maxFilesPerTrigger, fileRegex = fre)
    }
  }
}
