package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model._

class LogPipelineSpec extends AnyFunSuite with SparkTestBase {

  private def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  private def cfgFor(name: String, logDir: Path, outDir: Path, cp: Path): PipelineConfig =
    PipelineConfig(
      name = name,
      logDir = logDir.toString,
      reader = ReaderSpec.TextLine(filterRegex = Some("^data")),
      transforms = Seq(TransformSpec.RegexModifier("^data:(\\w+)", "payload=$1")),
      partitioner = PartitionerSpec.Crc32Key(8),
      writer = WriterSpec.Files(outDir.toString),
      checkpointDir = Some(cp.toString),
      injectHeaders = Map("az" -> "test-az"))

  test("batch replay applies the full transform chain") {
    val logDir = tempDir("graft-batch-logs")
    Files.writeString(logDir.resolve("x.log"), "data:a\nnoise line\ndata:b\n")
    val cfg = cfgFor("batch-test", logDir, tempDir("o"), tempDir("c"))
    val out = LogPipeline.runBatch(spark, cfg).collect()
    assert(out.length == 2) // noise filtered
    val values = out.map(r => new String(r.getAs[Array[Byte]]("value"))).toSet
    assert(values == Set("payload=a", "payload=b"))
    assert(out.forall(r => r.getAs[Int]("partition") >= 0 && r.getAs[Int]("partition") < 8))
    assert(out.forall(_.getAs[Boolean]("checksumValid")))
    assert(out.forall(r =>
      new String(r.getAs[Map[String, Array[Byte]]]("headers")("az")) == "test-az"))
  }

  test("streaming pipeline delivers, resumes after restart without loss or dupes, audits") {
    val logDir = tempDir("graft-stream-logs")
    val outDir = tempDir("graft-stream-out")
    val cpDir = tempDir("graft-stream-cp")
    val auditDir = tempDir("graft-audit")
    val audit = new AuditWriter(spark, auditDir.toString)
    val cfg = PipelineConfig(
      name = "stream-test",
      logDir = logDir.toString,
      reader = ReaderSpec.TextLine(),
      partitioner = PartitionerSpec.Crc32Key(4),
      writer = WriterSpec.Files(outDir.toString),
      checkpointDir = Some(cpDir.toString))

    Files.writeString(logDir.resolve("f1.log"), (1 to 10).map(i => s"m$i").mkString("", "\n", "\n"))
    val q1 = LogPipeline.start(spark, cfg, Trigger.ProcessingTime("100 milliseconds"), Some(audit))
    q1.processAllAvailable()
    assert(spark.read.parquet(outDir.toString).count() == 10)

    Files.writeString(logDir.resolve("f2.log"), (11 to 15).map(i => s"m$i").mkString("", "\n", "\n"))
    q1.processAllAvailable()
    assert(spark.read.parquet(outDir.toString).count() == 15)
    q1.stop()

    // restart from checkpoint; add more data — resumed query must deliver
    // only the new file (at-least-once, no reprocessing of committed files)
    Files.writeString(logDir.resolve("f3.log"), (16 to 20).map(i => s"m$i").mkString("", "\n", "\n"))
    val q2 = LogPipeline.start(spark, cfg, Trigger.ProcessingTime("100 milliseconds"), Some(audit))
    q2.processAllAvailable()
    q2.stop()
    val out = spark.read.parquet(outDir.toString)
    assert(out.count() == 20)
    val values = out.collect().map(r => new String(r.getAs[Array[Byte]]("value"))).toSet
    assert(values == (1 to 20).map(i => s"m$i").toSet)

    // audit oracle: sum of per-batch counts == delivered rows
    val totals = audit.totals().collect().head
    assert(totals.getAs[Long]("total_messages") == 20)
  }

  test("multiline streaming pipeline assembles records per file") {
    val logDir = tempDir("graft-ml-logs")
    val outDir = tempDir("graft-ml-out")
    val cfg = PipelineConfig(
      name = "ml-test",
      logDir = logDir.toString,
      reader = ReaderSpec.TextMultiline("^I[0-9]{5}"),
      partitioner = PartitionerSpec.RoundRobin(4),
      writer = WriterSpec.Files(outDir.toString),
      checkpointDir = Some(tempDir("graft-ml-cp").toString))
    Files.writeString(logDir.resolve("g.log"), "I00001 a\n cont-a\nI00002 b\n")
    val q = LogPipeline.start(spark, cfg, Trigger.ProcessingTime("100 milliseconds"))
    q.processAllAvailable()
    q.stop()
    val vals = spark.read.parquet(outDir.toString).collect()
      .map(r => new String(r.getAs[Array[Byte]]("value"))).toSet
    assert(vals == Set("I00001 a\n cont-a", "I00002 b"))
  }

  test("thrift streaming pipeline decodes frames end-to-end") {
    val logDir = tempDir("graft-th-logs")
    val outDir = tempDir("graft-th-out")
    import graft.sources.ThriftLogCodec
    val frames = (1 to 5).map(i =>
      ThriftLogCodec.encodeFrame(s"k$i".getBytes, s"msg$i".getBytes, Some(i.toLong), None))
    Files.write(logDir.resolve("t.log"), frames.reduce(_ ++ _))
    val cfg = PipelineConfig(
      name = "thrift-test",
      logDir = logDir.toString,
      reader = ReaderSpec.ThriftFramed(),
      partitioner = PartitionerSpec.MurmurKey(4),
      writer = WriterSpec.Files(outDir.toString),
      checkpointDir = Some(tempDir("graft-th-cp").toString))
    val q = LogPipeline.start(spark, cfg, Trigger.ProcessingTime("100 milliseconds"))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(outDir.toString).collect()
    assert(out.length == 5)
    assert(out.map(r => new String(r.getAs[Array[Byte]]("value"))).toSet ==
      (1 to 5).map(i => s"msg$i").toSet)
  }

  test("tail-mode pipeline ingests appends to a growing file end-to-end") {
    val logDir = tempDir("graft-tailp-logs")
    val outDir = tempDir("graft-tailp-out")
    val cfg = PipelineConfig(
      name = "tailp-test", logDir = logDir.toString,
      reader = ReaderSpec.TextLine(filterRegex = Some("^keep")),
      partitioner = PartitionerSpec.Crc32Key(4),
      writer = WriterSpec.Files(outDir.toString),
      checkpointDir = Some(tempDir("graft-tailp-cp").toString),
      tailMode = true)
    val f = logDir.resolve("grow.log")
    Files.writeString(f, "keep-1\ndrop-1\n")
    val q = LogPipeline.start(spark, cfg, Trigger.ProcessingTime("100 milliseconds"))
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(outDir.toString).count() == 1)
      Files.writeString(f, "keep-2\nkeep-3\n", java.nio.file.StandardOpenOption.APPEND)
      q.processAllAvailable()
      val vals = spark.read.parquet(outDir.toString).collect()
        .map(r => new String(r.getAs[Array[Byte]]("value"))).toSet
      assert(vals == Set("keep-1", "keep-2", "keep-3"))
    } finally q.stop()
  }

  test("rolled-object pipeline with the default partitioner, checksum and headers delivers the batch records") {
    val logDir = tempDir("graft-rov-logs")
    val outDir = tempDir("graft-rov-out")
    import graft.sources.ThriftLogCodec
    Files.write(logDir.resolve("t.log"), (1 to 40).map(i => ThriftLogCodec.encodeFrame(
      s"k${i % 3}".getBytes, s"msg-${i % 7}".getBytes, Some(i.toLong), None)).reduce(_ ++ _))
    val cfg = PipelineConfig(
      name = "rov-test", logDir = logDir.toString,
      reader = ReaderSpec.ThriftFramed(),
      partitioner = PartitionerSpec.Default,
      writer = WriterSpec.RolledObjects(s"file://$outDir", "{{LOGNAME}}/{{UUID}}.log"),
      checkpointDir = Some(tempDir("graft-rov-cp").toString),
      computeChecksum = true, injectHeaders = Map("az" -> "test-az"), tailMode = true)
    val q = LogPipeline.start(spark, cfg, Trigger.ProcessingTime("100 milliseconds"))
    q.processAllAvailable()
    q.stop()
    val delivered = Files.walk(outDir).toArray.map(_.asInstanceOf[Path])
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".log"))
      .flatMap(p => new String(Files.readAllBytes(p)).split("\n")).toSeq.sorted
    val batch = LogPipeline.runBatch(spark, cfg).collect()
      .map(r => new String(r.getAs[Array[Byte]]("value"))).toSeq.sorted
    assert(batch.size == 40)
    assert(delivered == batch) // the same multiset, duplicates included
  }

  test("a batch replayed after a restart in fewer partitions replaces its earlier objects") {
    import graft.sources.ThriftLogCodec
    val logDir = tempDir("graft-replay-logs")
    val outDir = tempDir("graft-replay-out")
    val cp = tempDir("graft-replay-cp")
    Seq("a.log", "b.log").foreach(n => Files.write(logDir.resolve(n), (1 to 60).map(i =>
      ThriftLogCodec.encodeFrame(null, s"$n-$i ${"z" * (i % 17)}".getBytes)).reduce(_ ++ _)))
    val cfg = PipelineConfig(name = "replay-test", logDir = logDir.toString,
      reader = ReaderSpec.ThriftFramed(),
      writer = WriterSpec.RolledObjects(s"file://$outDir", "{{LOGNAME}}/{{UUID}}.log"),
      checkpointDir = Some(cp.toString), tailMode = true)
    def objects(): Map[String, Seq[String]] = Files.walk(outDir).toArray.map(_.asInstanceOf[Path])
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".log"))
      .map(p => p.getFileName.toString -> new String(Files.readAllBytes(p)).split("\n").toSeq)
      .toMap
    def drain(): Unit = {
      val q = LogPipeline.start(spark, cfg, Trigger.ProcessingTime("100 milliseconds"))
      try q.processAllAvailable() finally q.stop()
    }
    // first attempt: small pieces, then batch 0 loses its commit, as when
    // the agent dies after the sink write
    spark.conf.set("spark.sql.files.maxPartitionBytes", 512L)
    try drain() finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    val first = objects()
    assert(first.size > 2 && first.keys.forall(_.startsWith("0000-")), first.keys)
    Seq("0", ".0.crc").foreach(f => Files.deleteIfExists(cp.resolve("commits").resolve(f)))
    // the replay plans one piece per file
    drain()
    val second = objects()
    assert(second.size == 2, second.keys)
    val records = second.values.flatten.toSeq
    assert(records.size == 120 && records.distinct.size == 120)
    assert(records.sorted == first.values.flatten.toSeq.sorted)
  }

  test("AuditWriter.record writes one row per batch on retry, readable by spark.read.parquet") {
    val auditDir = tempDir("graft-audit-row")
    val audit = new AuditWriter(spark, auditDir.toString)
    audit.record("p1", 5L, 7L)
    audit.record("p1", 5L, 9L) // the batch retried
    val rows = spark.read.parquet(auditDir.toString).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("num_messages") == 9L)
    assert(r.getAs[Long]("timestamp_ms") > 0L)
    assert(r.getAs[String]("hostname") == LogPipeline.hostname)
    assert(r.getAs[String]("pipeline") == "p1")
    assert(r.get(r.fieldIndex("batch_id")) == 5)
    val t = audit.totals().collect().head
    assert(t.getAs[Long]("total_messages") == 9L && t.getAs[Long]("num_batches") == 1L)
  }

  test("AuditWriter.totals counts a batch once when its directory holds an older Spark-written file") {
    import spark.implicits._
    val auditDir = tempDir("graft-audit-old")
    // the layout a Spark job wrote audit rows in
    def sparkWritten(batchId: Long, n: Long): Unit =
      Seq((n, 1L, "old-host")).toDF("num_messages", "timestamp_ms", "hostname")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$auditDir/pipeline=p/batch_id=$batchId")
    sparkWritten(1L, 10L)
    sparkWritten(2L, 20L)
    val audit = new AuditWriter(spark, auditDir.toString)
    audit.record("p", 2L, 20L) // batch 2 re-run after the upgrade
    audit.record("p", 3L, 30L)
    val t = audit.totals().collect().head
    assert(t.getAs[Long]("total_messages") == 60L)
    assert(t.getAs[Long]("num_batches") == 3L)
    // the older file of the re-run batch is gone, so plain sums agree too
    assert(spark.read.parquet(auditDir.toString).agg(org.apache.spark.sql.functions.sum("num_messages"))
      .head().getLong(0) == 60L)
  }

  test("heartbeat listener emits progress JSON") {
    val buf = new BufferingHeartbeat
    val listener = new HeartbeatListener(buf)
    spark.streams.addListener(listener)
    try {
      val logDir = tempDir("graft-hb-logs")
      Files.writeString(logDir.resolve("h.log"), "a\nb\n")
      val cfg = PipelineConfig(
        name = "hb-test", logDir = logDir.toString,
        writer = WriterSpec.Noop,
        checkpointDir = Some(tempDir("graft-hb-cp").toString))
      val q = LogPipeline.start(spark, cfg, Trigger.ProcessingTime("100 milliseconds"))
      q.processAllAvailable()
      q.stop()
      q.awaitTermination(10000)
      // listener delivery is async; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline &&
        !buf.messages.exists(_.contains("\"event\":\"progress\""))) Thread.sleep(100)
      assert(buf.messages.exists(_.contains("\"event\":\"started\"")))
      assert(buf.messages.exists(m =>
        m.contains("\"event\":\"progress\"") && m.contains("\"name\":\"hb-test\"")))
    } finally spark.streams.removeListener(listener)
  }

  test("numMessagesPerLogMessage packs lines in batch and streaming; filter skips whole pack") {
    val logDir = tempDir("graft-pk-logs")
    // 5 lines, n=2: pack0 (a,b) kept, pack1 (c, BAD d) dropped, pack2 (e) kept
    Files.writeString(logDir.resolve("p.log"), "ok a\nok b\nok c\nBAD d\nok e\n")
    def cfg(name: String) = PipelineConfig(
      name = name, logDir = logDir.toString,
      reader = ReaderSpec.TextLine(filterRegex = Some("ok.*"),
        prependHostname = true, prependDelimiter = "|", numMessagesPerLogMessage = 2),
      writer = WriterSpec.Files(tempDir(s"graft-pk-o-$name").toString),
      checkpointDir = Some(tempDir(s"graft-pk-c-$name").toString))
    val host = LogPipeline.hostname
    val expected = Set(s"$host|ok a\n$host|ok b", s"$host|ok e")

    val batch = LogPipeline.runBatch(spark, cfg("pk-b")).collect()
      .map(r => new String(r.getAs[Array[Byte]]("value"))).toSet
    assert(batch == expected)

    val c = cfg("pk-s")
    val q = LogPipeline.start(spark, c, Trigger.ProcessingTime("100 milliseconds"))
    q.processAllAvailable(); q.stop()
    val streamed = spark.read.parquet(c.writer.asInstanceOf[WriterSpec.Files].path)
      .collect().map(r => new String(r.getAs[Array[Byte]]("value"))).toSet
    assert(streamed == expected)
  }

  test("numMessagesPerLogMessage round-trips through properties") {
    val cfg = PipelineConfig.fromProperties(
      "logName=pk\nreader.type=text\nreader.text.numMessagesPerLogMessage=5\n")
    assert(cfg.reader.asInstanceOf[ReaderSpec.TextLine].numMessagesPerLogMessage == 5)
  }

  test("logStreamRegex gates stream membership in batch, file-stream and tail modes") {
    // reference: monitor/LogStreamManager.java:384-477 — only file NAMES
    // fully matching the regex belong to the stream
    val logDir = tempDir("graft-re-logs")
    Files.writeString(logDir.resolve("app.log"), "data:in1\n")
    Files.writeString(logDir.resolve("app.log.1"), "data:in2\n")
    Files.writeString(logDir.resolve("other.log"), "data:out\n")

    def cfg(name: String, tail: Boolean) = cfgFor(name, logDir,
      tempDir(s"graft-re-o-$name"), tempDir(s"graft-re-c-$name"))
      .copy(logStreamRegex = "app\\.log.*", tailMode = tail)

    def values(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => new String(r.getAs[Array[Byte]]("value"))).toSet

    // batch replay
    assert(values(LogPipeline.runBatch(spark, cfg("re-b", tail = false)).collect()) ==
      Set("payload=in1", "payload=in2"))

    // streaming file source
    val c1 = cfg("re-s", tail = false)
    val q1 = LogPipeline.start(spark, c1, Trigger.ProcessingTime("100 milliseconds"))
    q1.processAllAvailable(); q1.stop()
    val outDir1 = c1.writer.asInstanceOf[WriterSpec.Files].path
    assert(values(spark.read.parquet(outDir1).collect()) == Set("payload=in1", "payload=in2"))

    // tail mode: the non-matching file is never even listed
    val c2 = cfg("re-t", tail = true)
    val q2 = LogPipeline.start(spark, c2, Trigger.ProcessingTime("100 milliseconds"))
    q2.processAllAvailable(); q2.stop()
    val outDir2 = c2.writer.asInstanceOf[WriterSpec.Files].path
    assert(values(spark.read.parquet(outDir2).collect()) == Set("payload=in1", "payload=in2"))
  }

  test("pulsar writer: config validation, random default router") {
    // reference: writer/pulsar/PulsarWriter.java validateConfig +
    // DefaultPartitioner (random) + PulsarMessageRouter key routing
    intercept[IllegalArgumentException] {
      WriterSpec.Pulsar("pulsar://x:6650", "t", compressionType = "BROTLI")
    }
    intercept[IllegalArgumentException] {
      WriterSpec.Pulsar("pulsar://x:6650", "t", writeTimeoutSeconds = -1)
    }
    val cfg = PipelineConfig.fromProperties(
      """logName=pl
        |writer.type=pulsar
        |writer.pulsar.serviceUrl=pulsar://broker:6650
        |writer.pulsar.topic=pt
        |writer.pulsar.compressionType=zstd
        |writer.pulsar.numPartitions=16
        |""".stripMargin)
    assert(cfg.writer == WriterSpec.Pulsar("pulsar://broker:6650", "pt", "zstd", 60))
    // no partitionerClass → reference's DefaultPartitioner (random)
    assert(cfg.partitioner == PartitionerSpec.Default)
    val cfg2 = PipelineConfig.fromProperties(
      "logName=pl2\nwriter.type=pulsar\nwriter.pulsar.partitionerClass=com.x.Crc32\n" +
        "writer.pulsar.numPartitions=16\n")
    assert(cfg2.partitioner == PartitionerSpec.Crc32Key(16))
  }

  test("PipelineConfig.fromProperties parses singer-style properties") {
    val props =
      """logName=app_log
        |logDir=/var/log/app
        |logStreamRegex=app\.log.*
        |reader.type=text
        |reader.text.filterMessageRegex=^INFO.*
        |reader.text.prependTimestamp=true
        |reader.text.prependHostname=true
        |transformer.regex=^(\w+) (.*)$
        |transformer.replacement=$2 [$1]
        |writer.type=kafka
        |writer.kafka.topic=app-topic
        |writer.kafka.bootstrap.servers=broker:9092
        |writer.kafka.numPartitions=64
        |writer.kafka.partitioner.class=com.example.Crc32Partitioner
        |processor.maxFilesPerTrigger=10
        |""".stripMargin
    val cfg = PipelineConfig.fromProperties(props)
    assert(cfg.name == "app_log")
    assert(cfg.logDir == "/var/log/app")
    cfg.reader match {
      case ReaderSpec.TextLine(filter, ts, host, _, _, _) =>
        assert(filter.contains("^INFO.*")); assert(ts); assert(host)
      case other => fail(s"wrong reader: $other")
    }
    assert(cfg.transforms.exists {
      case TransformSpec.RegexModifier(re, repl, _) => repl == "$2 [$1]" && re.nonEmpty
      case _ => false
    })
    cfg.writer match {
      case WriterSpec.Kafka(servers, topic, _, transactional, _) =>
        assert(servers == "broker:9092"); assert(topic == "app-topic")
        assert(!transactional)
      case other => fail(s"wrong writer: $other")
    }
    assert(cfg.partitioner == PartitionerSpec.Crc32Key(64))
    assert(cfg.maxFilesPerTrigger.contains(10))
  }
}
