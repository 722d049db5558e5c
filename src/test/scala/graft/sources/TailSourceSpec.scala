package graft.sources

import java.nio.file.{Files, Path, StandardOpenOption}

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The capability the built-in file source lacks: ingesting APPENDS to a
  * file it has already read, resuming from intra-file byte offsets. */
class TailSourceSpec extends AnyFunSuite with SparkTestBase {

  private def tempDir(): Path = {
    val d = Files.createTempDirectory("graft-tail-")
    d.toFile.deleteOnExit()
    d
  }

  private def values(table: String): Set[String] =
    spark.table(table).collect()
      .map(r => new String(r.getAs[Array[Byte]]("value"))).toSet

  test("tails a growing text file across micro-batches") {
    val dir = tempDir()
    val f = dir.resolve("app.log")
    Files.writeString(f, "line1\nline2\n")
    val q = spark.readStream.format("graft-tail")
      .option("path", dir.toString).option("format", "text")
      .load()
      .writeStream.format("memory").queryName("tail_text")
      .option("checkpointLocation", tempDir().toString)
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      q.processAllAvailable()
      assert(values("tail_text") == Set("line1", "line2"))
      // APPEND to the same file — the built-in file source would never see this
      Files.writeString(f, "line3\nline4\n", StandardOpenOption.APPEND)
      q.processAllAvailable()
      assert(values("tail_text") == Set("line1", "line2", "line3", "line4"))
      // new file alongside
      Files.writeString(dir.resolve("b.log"), "line5\n")
      q.processAllAvailable()
      assert(values("tail_text") == Set("line1", "line2", "line3", "line4", "line5"))
    } finally q.stop()
  }

  test("tails growing thrift-framed files with offset chain") {
    val dir = tempDir()
    val f = dir.resolve("t.log")
    Files.write(f, ThriftLogCodec.encodeFrame("k1".getBytes, "m1".getBytes, Some(1L), None))
    val q = spark.readStream.format("graft-tail")
      .option("path", dir.toString).option("format", "thrift")
      .load()
      .writeStream.format("memory").queryName("tail_thrift")
      .option("checkpointLocation", tempDir().toString)
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      q.processAllAvailable()
      assert(values("tail_thrift") == Set("m1"))
      Files.write(f, ThriftLogCodec.encodeFrame(null, "m2".getBytes, Some(2L), Some(9L)),
        StandardOpenOption.APPEND)
      q.processAllAvailable()
      assert(values("tail_thrift") == Set("m1", "m2"))
      val rows = spark.table("tail_thrift").collect().sortBy(_.getAs[Long]("byteOffset"))
      assert(rows.last.getAs[Long]("byteOffset") == Files.size(f))
      assert(rows.last.getAs[Long]("checksum") == 9L)
    } finally q.stop()
  }

  test("restart resumes from intra-file byte offset (no loss, no dupes)") {
    val dir = tempDir()
    val cp = tempDir()
    val f = dir.resolve("app.log")
    Files.writeString(f, "a1\na2\n")
    def start(name: String) = spark.readStream.format("graft-tail")
      .option("path", dir.toString).option("format", "text")
      .load()
      .writeStream.format("parquet")
      .option("path", dir.resolve("out").toString)
      .option("checkpointLocation", cp.toString)
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    val q1 = start("t1")
    q1.processAllAvailable(); q1.stop()
    // append while the query is DOWN
    Files.writeString(f, "a3\n", StandardOpenOption.APPEND)
    val q2 = start("t2")
    q2.processAllAvailable(); q2.stop()
    val out = spark.read.parquet(dir.resolve("out").toString).collect()
      .map(r => new String(r.getAs[Array[Byte]]("value")))
    assert(out.sorted.toList == List("a1", "a2", "a3"))
  }

  test("rate limit caps bytes per micro-batch but eventually drains") {
    val dir = tempDir()
    Files.writeString(dir.resolve("big.log"), (1 to 100).map(i => s"r$i").mkString("", "\n", "\n"))
    val q = spark.readStream.format("graft-tail")
      .option("path", dir.toString).option("format", "text")
      .option("maxBytesPerTrigger", "64")
      .load()
      .writeStream.format("memory").queryName("tail_rate")
      .option("checkpointLocation", tempDir().toString)
      .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    try {
      q.processAllAvailable()
      assert(spark.table("tail_rate").count() == 100)
    } finally q.stop()
  }

  test("rate limit aligns to thrift frame boundaries (no torn frames)") {
    val dir = tempDir()
    val frames = (1 to 50).map(i =>
      ThriftLogCodec.encodeFrame(null, s"msg-$i".getBytes, Some(i.toLong), None))
    Files.write(dir.resolve("t.log"), frames.reduce(_ ++ _))
    val q = spark.readStream.format("graft-tail")
      .option("path", dir.toString).option("format", "thrift")
      .option("maxBytesPerTrigger", "100")
      .load()
      .writeStream.format("memory").queryName("tail_thrift_rate")
      .option("checkpointLocation", tempDir().toString)
      .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    try {
      q.processAllAvailable()
      val vals = values("tail_thrift_rate")
      assert(vals == (1 to 50).map(i => s"msg-$i").toSet)
    } finally q.stop()
  }

  test("multiline tail: record emits only once its successor starts") {
    val dir = tempDir()
    val f = dir.resolve("g.log")
    Files.writeString(f, "I00001 first\n  cont-1\nI00002 second\n")
    val q = spark.readStream.format("graft-tail")
      .option("path", dir.toString).option("format", "multiline")
      .option("messageStartRegex", "^I[0-9]{5}")
      .load()
      .writeStream.format("memory").queryName("tail_ml")
      .option("checkpointLocation", tempDir().toString)
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      q.processAllAvailable()
      // record 2 may still be growing — only record 1 is complete
      assert(values("tail_ml") == Set("I00001 first\n  cont-1"))
      // continuation of record 2 arrives, then record 3 starts ⇒ 2 completes
      Files.writeString(f, "  cont-2\nI00003 third\n", StandardOpenOption.APPEND)
      q.processAllAvailable()
      assert(values("tail_ml") ==
        Set("I00001 first\n  cont-1", "I00002 second\n  cont-2"))
    } finally q.stop()
  }

  private var drains = 0

  /** Appends each of `writes` to one file in turn and drains a graft-tail
    * stream of `format` after each; returns the values delivered so far
    * after each drain, sorted. */
  private def drainAfterEach(format: String, writes: Seq[Array[Byte]],
      options: (String, String)*): Seq[List[String]] = {
    val dir = tempDir()
    val f = Files.write(dir.resolve("app.log"), Array.emptyByteArray)
    drains += 1
    val name = s"tail_steps_$drains"
    val q = spark.readStream.format("graft-tail")
      .option("path", dir.toString).option("format", format).options(options.toMap)
      .load()
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tempDir().toString)
      .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    try writes.map { w =>
      Files.write(f, w, StandardOpenOption.APPEND)
      q.processAllAvailable()
      spark.table(name).collect()
        .map(r => new String(r.getAs[Array[Byte]]("value"), "ISO-8859-1")).toList.sorted
    } finally q.stop()
  }

  private def ascii(s: String): Array[Byte] = s.getBytes("ISO-8859-1")

  private def frame(m: String): Array[Byte] =
    ThriftLogCodec.encodeFrame(null, ascii(m), Some(m.length.toLong), None)

  private val startRegex = "messageStartRegex" -> "^I[0-9]{5}"

  test("text: a torn append waits for the rest of its line, which is delivered once and whole") {
    assert(drainAfterEach("text", Seq("a1\na2\nhal", "f\na3\n").map(ascii)) ==
      Seq(List("a1", "a2"), List("a1", "a2", "a3", "half")))
  }

  test("thrift: a torn append waits for the rest of its frame, which is delivered once and whole") {
    // cut inside the third frame's length header, then inside its body
    val f3 = frame("m3")
    assert(drainAfterEach("thrift", Seq(frame("m1") ++ frame("m2") ++ f3.take(2),
        f3.slice(2, 9), f3.drop(9) ++ frame("m4"))) ==
      Seq(List("m1", "m2"), List("m1", "m2"), List("m1", "m2", "m3", "m4")))
  }

  test("multiline: a torn append waits for the next start line, and each record is delivered once and whole") {
    assert(drainAfterEach("multiline",
        Seq("I00001 a\n  cont\nI000", "02 b\n  co", "nt\nI00003 c\n").map(ascii), startRegex) ==
      Seq(Nil, List("I00001 a\n  cont"), List("I00001 a\n  cont", "I00002 b\n  cont")))
  }

  private val budget = "maxBytesPerTrigger" -> "64"
  private val big = "x" * 200

  test("text: a line longer than maxBytesPerTrigger is delivered whole once its \\n lands") {
    val ys = "y" * 100
    assert(drainAfterEach("text", Seq(s"short\n$ys", s"$ys\nnext\n").map(ascii), budget) ==
      Seq(List("short"), List("next", "short", ys + ys)))
  }

  test("thrift: a frame larger than maxBytesPerTrigger is delivered whole") {
    assert(drainAfterEach("thrift", Seq(frame("m1") ++ frame(big) ++ frame("m3")), budget) ==
      Seq(List("m1", "m3", big)))
  }

  test("multiline: a record larger than maxBytesPerTrigger is delivered whole") {
    assert(drainAfterEach("multiline",
        Seq(s"I00001 a\nI00002 $big\nI00003 c\n", "I00004 d\n").map(ascii), budget, startRegex) ==
      Seq(List("I00001 a", s"I00002 $big"), List("I00001 a", s"I00002 $big", "I00003 c")))
  }

  test("multiline alignment reads O(tail chunk), not O(new bytes)") {
    import graft.sources.v2.RecordAlign
    val p = java.util.regex.Pattern.compile("^REC", java.util.regex.Pattern.MULTILINE)
    // an 8 MB appended window of complete records, ~40 bytes each
    val rec = "REC " + ("x" * 35) + "\n"
    val n = (8 << 20) / rec.length
    val window = (rec * n).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    var bytesRead = 0L
    val readRange = (lo: Long, hi: Long) => {
      bytesRead += hi - lo
      java.util.Arrays.copyOfRange(window, lo.toInt, hi.toInt)
    }
    val boundary = RecordAlign.lastStartBoundary(p, 0L, window.length.toLong, readRange)
    // the last record start is the final REC line
    assert(boundary == (n - 1).toLong * rec.length, s"boundary $boundary")
    // driver IO is one 256 KB tail chunk, NOT the 8 MB window
    assert(bytesRead <= (256 << 10), s"read $bytesRead bytes")

    // correctness when the only start is far from the tail: scan extends
    // backward and still finds it
    bytesRead = 0L
    val sparse = ("REC head\n" + ("cont line\n" * 200000)).getBytes("ISO-8859-1")
    val b2 = RecordAlign.lastStartBoundary(p, 0L, sparse.length.toLong, readRange2(sparse,
      add = d => bytesRead += d))
    assert(b2 == 0L) // match at offset 0 is the old boundary — no progress
    // a start appended mid-window is found even when outside the first chunk
    val mid = ("REC head\n" + ("cont\n" * 300000) + "REC mid\n" + ("cont\n" * 300000))
      .getBytes("ISO-8859-1")
    val b3 = RecordAlign.lastStartBoundary(p, 0L, mid.length.toLong, readRange2(mid, _ => ()))
    assert(b3 == "REC head\n".length + 5L * 300000)
  }

  private def readRange2(data: Array[Byte], add: Long => Unit): (Long, Long) => Array[Byte] =
    (lo, hi) => { add(hi - lo); java.util.Arrays.copyOfRange(data, lo.toInt, hi.toInt) }

  test("multiline tail truncates oversize records at maxMessageChars but still consumes them") {
    val dir = tempDir()
    val f = dir.resolve("big.log")
    // record 1 is oversize (200 chars of body); record 2 closes it; record 3
    // pending (no successor yet)
    Files.writeString(f, "REC one " + ("x" * 200) + "\nREC two\nREC three\n")
    val q = spark.readStream.format("graft-tail")
      .option("path", dir.toString).option("format", "multiline")
      .option("messageStartRegex", "^REC")
      .option("maxMessageChars", "20").load()
      .writeStream.format("memory").queryName("tail_trunc")
      .option("checkpointLocation", tempDir().toString).start()
    try {
      q.processAllAvailable()
      val vals = values("tail_trunc")
      // oversize record truncated to 20 chars; its full extent was consumed
      // (record two follows immediately); record three awaits a successor
      assert(vals == Set("REC one " + ("x" * 12), "REC two"), vals.toString)
    } finally q.stop()
  }

  test("multiline tail reader and splitMultiline agree on records and end offsets") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.sources.v2.{TailInputPartition, TailPartitionReader}
    val re = "^I[0-9]{5}"
    val maxChars = 40
    val startLine = Gen.chooseNum(0, 99999).map(n => f"I$n%05d payload")
    val contLine = Gen.alphaNumStr.map("  " + _)
    val linesGen = Gen.listOfN(8, Gen.oneOf(startLine, contLine))
    (0 until 10).foreach { i =>
      linesGen(Gen.Parameters.default, Seed(42L + i)).foreach { lines =>
        // one oversize record in every input: truncated, yet fully consumed
        val content = ("I00000 " + "x" * (2 * maxChars) :: lines).mkString("", "\n", "\n")
        val f = tempDir().resolve("m.log")
        Files.writeString(f, content)
        val expected = LogSources.multilineRecords(content, re, maxChars).toList
        assert(expected.map(_._1) == LogSources.splitMultiline(content, re, maxChars).toList)
        assert(expected.head._1.length == maxChars)
        // each record ends where its successor's start line begins, the
        // last at EOF
        val allLines = content.split("\n")
        val startOffsets = allLines.scanLeft(0)(_ + _.length + 1).zip(allLines)
          .collect { case (off, l) if l.matches("I[0-9]{5}.*") => off }
        assert(expected.map(_._2) == startOffsets.tail.toList :+ content.length)
        // latestOffset cuts ranges at record starts: read from the second one
        val from = expected.head._2
        val reader = new TailPartitionReader(TailInputPartition(f.toString,
          from.toLong, content.length.toLong, "multiline", Some(re), maxChars))
        val got = Iterator.continually(reader.next()).takeWhile(identity)
          .map(_ => (new String(reader.get().getBinary(3), "ISO-8859-1"),
            reader.get().getLong(1)))
          .toList
        reader.close()
        assert(got == expected.tail.map { case (r, end) => (r, end.toLong) })
      }
    }
  }

  test("rename-rotation keeps inode offsets: no re-ingest, tail follows the renamed file") {
    val dir = tempDir()
    val f = dir.resolve("app.log")
    Files.writeString(f, "r1\nr2\n")
    val q = spark.readStream.format("graft-tail")
      .option("path", dir.toString).option("format", "text")
      .load()
      .writeStream.format("memory").queryName("tail_rename")
      .option("checkpointLocation", tempDir().toString)
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      q.processAllAvailable()
      assert(spark.table("tail_rename").count() == 2)
      // rename-rotate, then create a fresh file under the old name and
      // keep appending to the rotated one — the reference's exact scenario
      Files.move(f, dir.resolve("app.log.1"))
      Files.writeString(f, "r3\n")
      Files.writeString(dir.resolve("app.log.1"), "r4\n", StandardOpenOption.APPEND)
      q.processAllAvailable()
      val vals = values("tail_rename")
      assert(vals == Set("r1", "r2", "r3", "r4"), s"got $vals")
      assert(spark.table("tail_rename").count() == 4) // exactly once each
    } finally q.stop()
  }

  test("shrunken (rotated-in-place) file restarts from zero") {
    val dir = tempDir()
    val f = dir.resolve("rot.log")
    Files.writeString(f, "old1\nold2\nold3\n")
    val q = spark.readStream.format("graft-tail")
      .option("path", dir.toString).option("format", "text")
      .load()
      .writeStream.format("memory").queryName("tail_rot")
      .option("checkpointLocation", tempDir().toString)
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      q.processAllAvailable()
      assert(spark.table("tail_rot").count() == 3)
      Files.writeString(f, "new1\n") // truncate + rewrite, shorter than before
      q.processAllAvailable()
      assert(values("tail_rot").contains("new1"))
    } finally q.stop()
  }

  // ------------------------------------------------ splitting ranges into pieces

  import graft.sources.v2.{TailInputPartition, TailMicroBatchStream, TailOffset, TailPartitionReader}
  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  /** Runs `body` with Spark's file-split size at `bytes`, and the session
    * active on this thread (planning reads the split conf through it). */
  private def withMaxPartitionBytes[T](bytes: Long)(body: => T): T = {
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    spark.conf.set("spark.sql.files.maxPartitionBytes", bytes)
    try body finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  private val mlRegex = "^I[0-9]{5}"

  /** Two files of `format` records, about 2 KB each; a multiline file ends
    * in a start line `I99999`, so its last real record is whole. Returns
    * the directory. */
  private def splitFixture(format: String): Path = {
    val dir = tempDir()
    Seq("a.log", "b.log").foreach { name =>
      val bytes = format match {
        case "text" => ascii((1 to 80).map(i => s"$name-$i " + "x" * (i % 23)).mkString("", "\n", "\n"))
        case "multiline" => ascii((1 to 50).map(i =>
          f"I$i%05d $name" + "\n  cont" * (i % 3)).mkString("", "\n", "\nI99999 end\n"))
        case _ => (1 to 60).map(i => frame(s"$name-$i " + "y" * (i % 29))).reduce(_ ++ _)
      }
      Files.write(dir.resolve(name), bytes)
    }
    dir
  }

  private def streamFor(dir: Path, format: String, maxBytes: Option[Long] = None) =
    new TailMicroBatchStream(dir.toString, format, maxBytes,
      Option.when(format == "multiline")(mlRegex))

  /** Every record boundary of `file` in `format`, 0 included. */
  private def boundaries(file: Path, format: String): Set[Long] = {
    val bytes = Files.readAllBytes(file)
    format match {
      case "text" => (0 +: bytes.indices.filter(bytes(_) == '\n').map(_ + 1)).map(_.toLong).toSet
      case "multiline" =>
        val m = java.util.regex.Pattern.compile(mlRegex, java.util.regex.Pattern.MULTILINE)
          .matcher(new String(bytes, "ISO-8859-1"))
        Iterator.continually(m.find()).takeWhile(identity).map(_ => m.start().toLong).toSet
      case _ => ThriftLogCodec.decodeFrames(bytes).map(_.nextByteOffset).toSet + 0L
    }
  }

  private def read(parts: Seq[TailInputPartition]): Seq[String] = parts.flatMap { p =>
    val r = new TailPartitionReader(p)
    try Iterator.continually(r.next()).takeWhile(identity)
      .map(_ => new String(r.get().getBinary(3), "ISO-8859-1")).toList
    finally r.close()
  }

  /** The records of `dir` through the `LogSources` batch reader, sorted,
    * without the multiline fixture's trailing `I99999` records. */
  private def batchRecords(dir: Path, format: String): Seq[String] = {
    val spec = format match {
      case "text" => graft.model.ReaderSpec.TextLine()
      case "multiline" => graft.model.ReaderSpec.TextMultiline(mlRegex)
      case _ => graft.model.ReaderSpec.ThriftFramed()
    }
    LogSources.fromSpec(spark, dir.toString, spec, streaming = false)
      .select(org.apache.spark.sql.functions.col("value").cast("binary")).collect()
      .map(r => new String(r.getAs[Array[Byte]](0), "ISO-8859-1"))
      .filterNot(_.startsWith("I99999")).toSeq.sorted
  }

  private def planAll(stream: TailMicroBatchStream, start: TailOffset): (TailOffset, Seq[TailInputPartition]) = {
    val end = stream.latestOffset(start, ReadLimit.allAvailable()).asInstanceOf[TailOffset]
    (end, stream.planInputPartitions(start, end).toSeq.map(_.asInstanceOf[TailInputPartition]))
  }

  Seq("text", "multiline", "thrift").foreach { format =>
    test(s"$format: a file's range is planned as several partitions, each cut at a record boundary") {
      val dir = splitFixture(format)
      withMaxPartitionBytes(256) {
        val (_, parts) = planAll(streamFor(dir, format), TailOffset(Map.empty))
        val byFile = parts.groupBy(_.path)
        assert(byFile.size == 2)
        byFile.foreach { case (path, ps) =>
          assert(ps.size >= 2, s"$path planned as ${ps.size} partition(s)")
          val b = boundaries(java.nio.file.Paths.get(path), format)
          ps.foreach { p =>
            assert(b(p.startOff) && b(p.endOff), s"$path piece [${p.startOff}, ${p.endOff})")
          }
          // the pieces tile the committed range
          assert(ps.sortBy(_.startOff).sliding(2).forall(w => w.size < 2 || w(0).endOff == w(1).startOff))
        }
        assert(read(parts).sorted == batchRecords(dir, format))
      }
    }
  }

  test("splitRanges=false plans each file's range as one partition") {
    val dir = splitFixture("thrift")
    withMaxPartitionBytes(256) {
      val stream = new TailMicroBatchStream(dir.toString, "thrift", None, splitRanges = false)
      val (_, parts) = planAll(stream, TailOffset(Map.empty))
      assert(parts.size == 2)
      assert(read(parts).sorted == batchRecords(dir, "thrift"))
    }
  }

  test("thrift: split pieces under maxBytesPerTrigger deliver every record once") {
    val dir = splitFixture("thrift")
    withMaxPartitionBytes(256) {
      val stream = streamFor(dir, "thrift", Some(900L))
      var start = TailOffset(Map.empty)
      var split = false
      val got = Seq.newBuilder[String]
      var done = false
      while (!done) {
        val (end, parts) = planAll(stream, start)
        done = end == start
        split ||= parts.groupBy(_.path).values.exists(_.size >= 2)
        got ++= read(parts)
        start = end
      }
      assert(split, "no batch split a file's range")
      assert(got.result().sorted == batchRecords(dir, "thrift"))
    }
  }

  test("thrift: a restarted stream plans a WAL-replayed batch without latestOffset, to the same records") {
    val dir = splitFixture("thrift")
    withMaxPartitionBytes(256) {
      val (end, parts) = planAll(streamFor(dir, "thrift"), TailOffset(Map.empty))
      // a fresh stream never walked the range: it walks it again
      val replayed = streamFor(dir, "thrift").planInputPartitions(TailOffset(Map.empty), end)
        .toSeq.map(_.asInstanceOf[TailInputPartition])
      assert(replayed.size > 2)
      assert(replayed == parts)
      assert(read(replayed).sorted == batchRecords(dir, "thrift"))
    }
  }

  test("thrift: a negative frame length header fails the trigger, naming the file and offset") {
    val dir = tempDir()
    val f = dir.resolve("t.log")
    val m1 = ThriftLogCodec.encodeFrame(null, ascii("m1"))
    Files.write(f, m1 ++ Array.fill[Byte](4)(-1) ++ ThriftLogCodec.encodeFrame(null, ascii("m2")))
    val e = intercept[java.io.IOException] {
      streamFor(dir, "thrift").latestOffset(TailOffset(Map.empty), ReadLimit.allAvailable())
    }
    assert(e.getMessage.contains(f.toString) && e.getMessage.contains(s"byte ${m1.length}"),
      e.getMessage)
    val q = spark.readStream.format("graft-tail")
      .option("path", dir.toString).option("format", "thrift").load()
      .writeStream.format("memory").queryName("tail_corrupt")
      .option("checkpointLocation", tempDir().toString).start()
    try {
      val qe = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.processAllAvailable())
      assert(qe.getMessage.contains(f.toString), qe.getMessage)
    } finally q.stop()
  }

  test("TailRetention.sweep deletes only fully-ingested old files, never the head") {
    import graft.sources.v2.TailRetention
    val now = 1000000000L
    val hour = 3600000L
    val files = Seq(
      ("id-a", "/logs/a.log", 100L, now - 3 * hour), // old, fully ingested → delete
      ("id-b", "/logs/b.log", 200L, now - 3 * hour), // old, PARTIAL → keep
      ("id-c", "/logs/c.log", 50L, now - 30 * 60000L), // fully ingested, too young → keep
      ("id-d", "/logs/d.log", 10L, now - 1000L))    // active head (newest) → keep
    val committed = Map("id-a" -> 100L, "id-b" -> 150L, "id-c" -> 50L, "id-d" -> 10L)
    assert(TailRetention.sweep(files, committed, hour, now) == Seq("/logs/a.log"))
    // an old fully-ingested file that IS the newest still survives
    val only = Seq(("id-a", "/logs/a.log", 100L, now - 3 * hour))
    assert(TailRetention.sweep(only, Map("id-a" -> 100L), hour, now).isEmpty)
    // a file with no committed offset (never ingested) is never deleted
    assert(TailRetention.sweep(files, committed - "id-a", hour, now).isEmpty)
  }

  test("retention deletes drained rotation files through the live source (ref logRetentionInSeconds)") {
    val dir = tempDir()
    val old = dir.resolve("app.log.1")
    val head = dir.resolve("app.log")
    Files.writeString(old, "r1\nr2\n")
    Files.writeString(head, "r3\n")
    // make the rotated file an hour old; the head stays fresh
    Files.setLastModifiedTime(old,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    val q = spark.readStream.format("graft-tail")
      .option("path", dir.toString).option("format", "text")
      .option("retentionSeconds", "60")
      .load()
      .writeStream.format("memory").queryName("tail_ret")
      .option("checkpointLocation", tempDir().toString)
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      q.processAllAvailable()
      assert(values("tail_ret") == Set("r1", "r2", "r3"), "all data delivered first")
      // the engine commits batch N when batch N+1 starts — append fresh data
      // so the drained batch's commit fires and sweeps the old file
      Files.writeString(head, "r4\n", StandardOpenOption.APPEND)
      q.processAllAvailable()
      assert(values("tail_ret") == Set("r1", "r2", "r3", "r4"))
      val deadline = System.currentTimeMillis() + 15000
      while (System.currentTimeMillis() < deadline && Files.exists(old)) {
        Files.writeString(head, "tick\n", StandardOpenOption.APPEND)
        q.processAllAvailable()
        Thread.sleep(100)
      }
      assert(!Files.exists(old), "drained rotation file past retention is deleted")
      assert(Files.exists(head), "active head never deleted")
    } finally q.stop()
  }
}
