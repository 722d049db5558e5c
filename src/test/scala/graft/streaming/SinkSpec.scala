package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.functions.PartitionMetadata

class SinkSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("KeyTemplate renders default tokens, env vars, filename groups") {
    val t = KeyTemplate(
      keyFormat = "logs/{{LOGNAME}}/{{y}}/{{M}}/{{d}}/${STAGE}/%{app}-{{UUID}}.log",
      logName = "mylog",
      hostname = "h1",
      filenamePattern = Some("(?<app>[a-z]+)\\.log.*"),
      filenameTokens = Seq("app"),
      env = Map("STAGE" -> "prod"))
    val key = t.render(sourceFilename = "frontend.log.1",
      nowMs = 1704067200000L, uuid = "abcd1234") // 2024-01-01T00:00:00Z
    assert(key == "logs/mylog/2024/01/01/prod/frontend-abcd1234.log")
  }

  test("KeyTemplate leaves filename tokens unreplaced on pattern miss (reference behavior)") {
    val t = KeyTemplate("k/%{app}.log", "l",
      filenamePattern = Some("(?<app>[a-z]+)\\.log"), filenameTokens = Seq("app"))
    assert(t.render(sourceFilename = "UNMATCHED", nowMs = 0L, uuid = "u") == "k/%{app}.log")
  }

  test("KeyTemplate passes unknown tokens through verbatim") {
    val t = KeyTemplate("a/{{NOPE}}/b", "l")
    assert(t.render(nowMs = 0L, uuid = "u") == "a/{{NOPE}}/b")
  }

  test("RolledObjectSink rolls at size threshold and reports metadata") {
    val outDir = Files.createTempDirectory("graft-objsink")
    val tmpl = KeyTemplate("{{LOGNAME}}-{{UUID}}.log", "roll")
    val sink = new RolledObjectSink(s"file://$outDir", tmpl, maxObjectBytes = 64)
    val df = (1 to 20).map(i => f"record-$i%03d".getBytes).toDF("value").coalesce(1)
    val metas = sink.writeEpoch(df, batchId = 7L)
    assert(metas.map(_.records).sum == 20)
    assert(metas.size > 1, "should roll into multiple objects at 64-byte threshold")
    assert(metas.forall(_.bytes <= 64))
    // content roundtrip
    val all = metas.sortBy(_.path).flatMap { m =>
      new String(Files.readAllBytes(java.nio.file.Paths.get(
        m.path.stripPrefix("file:")))).split("\n").toSeq
    }
    assert(all.size == 20)
    assert(all.head.startsWith("record-"))
    // deterministic names: batchId embedded => retry overwrites
    assert(metas.forall(_.path.contains("roll-0007-")))
  }

  test("streaming pipeline with RolledObjects writer delivers templated raw objects") {
    import graft.model._
    import org.apache.spark.sql.streaming.Trigger
    val logDir = Files.createTempDirectory("graft-ro-logs")
    val outDir = Files.createTempDirectory("graft-ro-out")
    Files.writeString(logDir.resolve("a.log"), "x1\nx2\nx3\n")
    val cfg = PipelineConfig(
      name = "ro-test", logDir = logDir.toString,
      writer = WriterSpec.RolledObjects(s"file://$outDir", "{{LOGNAME}}/{{y}}/{{UUID}}.log"),
      checkpointDir = Some(Files.createTempDirectory("graft-ro-cp").toString))
    val q = LogPipeline.start(spark, cfg, Trigger.ProcessingTime("100 milliseconds"))
    q.processAllAvailable()
    q.stop()
    val files = java.nio.file.Files.walk(outDir).filter(_.toString.endsWith(".log"))
      .toArray.map(_.toString)
    assert(files.nonEmpty)
    assert(files.head.contains("ro-test/"))
    val lines = files.flatMap(f =>
      new String(Files.readAllBytes(java.nio.file.Paths.get(f))).split("\n").toSeq)
    assert(lines.toSet == Set("x1", "x2", "x3"))
  }

  test("PartitionMetadata: locality filter with fallback; leaderless skip") {
    val racks = Map(0 -> "us-east-1a", 1 -> "us-east-1b", 2 -> "us-east-1a", 3 -> "us-east-1c")
    assert(PartitionMetadata.localPartitions(racks, "us-east-1a") == Seq(0, 2))
    assert(PartitionMetadata.localPartitions(racks, "eu-west-1a") == Seq(0, 1, 2, 3))
    val leaders = Map(0 -> Some(101), 1 -> None, 2 -> Some(103))
    assert(PartitionMetadata.skipLeaderless(leaders) == Seq(0, 2))
  }

  test("PartitionMetadataCache: interval refresh, stale-on-failure, locality+leader compose") {
    import graft.functions.{PartitionInfo, PartitionMetadataCache}
    var now = 0L
    var fetches = 0
    var fail = false
    var meta = Map(
      0 -> PartitionInfo(Some(101), "az-1"),
      1 -> PartitionInfo(Some(102), "az-2"),
      2 -> PartitionInfo(None, "az-1"))
    val cache = new PartitionMetadataCache(
      () => { fetches += 1; if (fail) throw new RuntimeException("broker down"); meta },
      refreshIntervalMs = 10000L, clock = () => now)

    // leaderless 2 dropped, locality picks az-1 → {0}; az-3 falls back to all live
    assert(cache.writablePartitions("az-1") == Seq(0))
    assert(cache.writablePartitions("az-3") == Seq(0, 1))
    assert(fetches == 1, "within interval: no second fetch")

    // past the interval: refetch picks up new metadata
    now = 10000L
    meta = meta + (2 -> PartitionInfo(Some(103), "az-1")) + (3 -> PartitionInfo(Some(104), "az-1"))
    assert(cache.writablePartitions("az-1") == Seq(0, 2, 3))
    assert(fetches == 2)

    // a failing refresh keeps last-known-good (stale beats none)
    now = 20000L; fail = true
    assert(cache.writablePartitions("az-1") == Seq(0, 2, 3))
    assert(fetches == 3)
    // failure doesn't hot-loop the broker: next call inside interval skips
    assert(cache.writablePartitions("az-1") == Seq(0, 2, 3))
    assert(fetches == 3)

    // no metadata at all → empty (caller degrades to Default partitioner)
    val empty = new PartitionMetadataCache(() => throw new RuntimeException("down"),
      clock = () => 0L)
    assert(empty.writablePartitions("az-1").isEmpty)
  }

  test("BrokerAdmin fetcher: describeCluster/describeTopic join drives the cache end-to-end") {
    import graft.functions.{BrokerAdmin, BrokerNode, PartitionMetadataCache, TopicPartitionMeta}
    var now = 0L
    var down = false
    // scripted AdminClient-shaped fake: leader of p1 moves az-2→az-1 between
    // refreshes; p2 starts leaderless then recovers; p3's leader node is
    // absent from describeCluster (rack unknown)
    var nodes = Seq(BrokerNode(101, "az-1"), BrokerNode(102, "az-2"))
    var parts = Seq(
      TopicPartitionMeta(0, Some(101)),
      TopicPartitionMeta(1, Some(102)),
      TopicPartitionMeta(2, None),
      TopicPartitionMeta(3, Some(999)))
    val admin = new BrokerAdmin {
      def describeCluster(): Seq[BrokerNode] =
        if (down) throw new RuntimeException("admin timeout") else nodes
      def describeTopic(topic: String): Seq[TopicPartitionMeta] = {
        assert(topic == "events_out"); parts
      }
    }
    val cache = new PartitionMetadataCache(
      BrokerAdmin.fetcher(admin, "events_out"),
      refreshIntervalMs = 10000L, clock = () => now)

    // p2 leaderless-dropped; p3's unknown-rack leader survives the skip but
    // never matches a real rack; az-1 locality → {0}
    assert(cache.writablePartitions("az-1") == Seq(0))
    // unknown rack falls back to all live (0,1,3) for a foreign-rack writer
    assert(cache.writablePartitions("az-9") == Seq(0, 1, 3))

    // 10 s later: p1's leader moved onto an az-1 node, p2 recovered on 103/az-1
    now = 10000L
    nodes = nodes :+ BrokerNode(103, "az-1")
    parts = Seq(
      TopicPartitionMeta(0, Some(101)),
      TopicPartitionMeta(1, Some(103)),
      TopicPartitionMeta(2, Some(103)),
      TopicPartitionMeta(3, Some(999)))
    assert(cache.writablePartitions("az-1") == Seq(0, 1, 2))

    // admin outage past the interval: stale-but-served, no throw
    now = 20000L; down = true
    assert(cache.writablePartitions("az-1") == Seq(0, 1, 2))
  }

  // ---------------------------------------------------------------- epoch
  // transactions: fake producer records the protocol calls

  import java.util.concurrent.CompletableFuture

  /** Scripted producer: `failPartitions` fail their sends async;
    * `hangPartitions` never complete (exercises the endCommit timeout).
    * `sentAtFlush` is the number of sends made when `flush` was called. */
  class FakeProducer(partitions: Seq[(Int, Option[Int])],
      failPartitions: Set[Int] = Set.empty,
      hangPartitions: Set[Int] = Set.empty) extends EpochProducer {
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    val sent = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    val sentHeaders = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Array[Byte])]]
    var sentAtFlush = -1
    override def partitionsFor(topic: String): Seq[(Int, Option[Int])] = {
      calls += "partitionsFor"; partitions
    }
    override def beginTransaction(): Unit = calls += "begin"
    override def send(topic: String, partition: Int, key: Array[Byte],
        value: Array[Byte], headers: Seq[(String, Array[Byte])]): CompletableFuture[Void] = {
      sent += ((partition, new String(value)))
      sentHeaders += headers
      val f = new CompletableFuture[Void]()
      if (hangPartitions.contains(partition)) () // never completes
      else if (failPartitions.contains(partition))
        f.completeExceptionally(new RuntimeException(s"broker $partition down"))
      else f.complete(null)
      f
    }
    override def flush(): Unit = { calls += "flush"; sentAtFlush = sent.size }
    override def commitTransaction(): Unit = calls += "commit"
    override def abortTransaction(): Unit = calls += "abort"
  }

  private def records(n: Int): Iterator[EpochRecord] =
    (0 until n).iterator.map(i =>
      EpochRecord(i, Array.emptyByteArray, s"m$i".getBytes))

  test("TransactionalEpochWriter commits when every bucket acks") {
    val p = new FakeProducer(Seq(0 -> Some(100), 1 -> Some(101), 2 -> Some(102)))
    val w = new TransactionalEpochWriter(p, "t", transactional = true)
    val commit = w.writeEpoch(records(9))
    assert(commit.total == 9)
    assert(commit.counts == Map(0 -> 3, 1 -> 3, 2 -> 3)) // round-robin routing
    assert(p.calls == Seq("partitionsFor", "begin", "flush", "commit"))
    // reference ordering (PulsarWriter.java:190-210): every send precedes the flush
    assert(p.sentAtFlush == 9)
  }

  test("TransactionalEpochWriter aborts when ANY bucket fails; commit never called") {
    val p = new FakeProducer(Seq(0 -> Some(100), 1 -> Some(101)), failPartitions = Set(1))
    val w = new TransactionalEpochWriter(p, "t", transactional = true)
    val e = intercept[EpochWriteException] { w.writeEpoch(records(6)) }
    assert(e.getMessage.contains("failed"))
    assert(p.calls == Seq("partitionsFor", "begin", "flush", "abort"))
    // the healthy bucket's sends DID go out — the abort is what voids them
    assert(p.sent.count(_._1 == 0) == 3)
  }

  test("TransactionalEpochWriter endCommit barrier times out and aborts") {
    val p = new FakeProducer(Seq(0 -> Some(100), 1 -> Some(101)), hangPartitions = Set(1))
    val w = new TransactionalEpochWriter(p, "t", transactional = true,
      writeTimeoutSeconds = 1)
    val e = intercept[EpochWriteException] { w.writeEpoch(records(4)) }
    assert(e.getMessage.contains("timed out"))
    assert(p.calls == Seq("partitionsFor", "begin", "flush", "abort"))
  }

  test("TransactionalEpochWriter skips leaderless partitions when routing") {
    val p = new FakeProducer(Seq(0 -> Some(100), 1 -> None, 2 -> Some(102)))
    val w = new TransactionalEpochWriter(p, "t", transactional = true)
    val commit = w.writeEpoch(records(8))
    assert(commit.total == 8)
    assert(commit.counts.keySet == Set(0, 2), "leaderless partition 1 must get nothing")
  }

  test("TransactionalEpochWriter non-transactional mode never begins/commits/aborts") {
    val ok = new FakeProducer(Seq(0 -> Some(100)))
    new TransactionalEpochWriter(ok, "t", transactional = false).writeEpoch(records(3))
    assert(ok.calls == Seq("partitionsFor", "flush"))
    val bad = new FakeProducer(Seq(0 -> Some(100)), failPartitions = Set(0))
    intercept[EpochWriteException] {
      new TransactionalEpochWriter(bad, "t", transactional = false).writeEpoch(records(3))
    }
    assert(bad.calls == Seq("partitionsFor", "flush"), "no abort without a transaction")
  }

  // The Pulsar batch write protocol (reference: PulsarWriter.java:190-210)
  // is the writer as the Pulsar arm of writeBatch builds it: no transaction.
  private def pulsarWriter(p: FakeProducer, timeoutS: Int = 60) =
    new TransactionalEpochWriter(p, "t", transactional = false, writeTimeoutSeconds = timeoutS)

  test("PulsarEpochWriter sends all, flushes, then awaits the batch barrier") {
    val p = new FakeProducer(Seq(0 -> Some(0), 1 -> Some(0)))
    assert(pulsarWriter(p).writeEpoch(records(5)).total == 5)
    // reference ordering: every send precedes the flush
    assert(p.calls == Seq("partitionsFor", "flush"))
    assert(p.sentAtFlush == 5)
    // the barrier comes after the flush: a send that never completes holds
    // the epoch until the timeout, with every send already out
    val hung = new FakeProducer(Seq(0 -> Some(0), 1 -> Some(0)), hangPartitions = Set(1))
    val e = intercept[EpochWriteException] { pulsarWriter(hung, timeoutS = 1).writeEpoch(records(4)) }
    assert(e.getMessage.contains("timed out"))
    assert(hung.calls == Seq("partitionsFor", "flush"))
    assert(hung.sentAtFlush == 4)
  }

  test("PulsarEpochWriter fails the whole epoch when any send fails") {
    // all sends fail, or one partition of two
    Seq(Set(0, 1), Set(1)).foreach { failing =>
      val p = new FakeProducer(Seq(0 -> Some(0), 1 -> Some(0)), failPartitions = failing)
      val e = intercept[EpochWriteException] { pulsarWriter(p).writeEpoch(records(4)) }
      assert(e.getMessage.contains("failed"))
      assert(p.calls == Seq("partitionsFor", "flush"))
      assert(p.sent.size == 4)
    }
  }

  test("WriterSpec.Pulsar drives the per-task protocol through writeBatch") {
    import graft.model._
    val made = new java.util.concurrent.CopyOnWriteArrayList[FakeProducer]()
    val saved = EpochProducers.pulsarFactory
    EpochProducers.pulsarFactory = _ => {
      val p = new FakeProducer(Seq(0 -> Some(0), 1 -> Some(0), 2 -> Some(0)))
      made.add(p); p
    }
    try {
      val df = (0 until 12).map(i => (s"k$i".getBytes, s"v$i".getBytes, i, "t"))
        .toDF("key", "value", "partition", "topic").repartition(3)
      val cfg = PipelineConfig(name = "pl", logDir = "/tmp",
        writer = WriterSpec.Pulsar("pulsar://fake:6650", "t"))
      assert(LogPipeline.writeBatch(df, cfg) == 12)
      val all = made.toArray(Array.empty[FakeProducer])
      assert(all.flatMap(_.sent).sortBy(_._2).toSeq == (0 until 12).map(i => (i % 3, s"v$i")).sortBy(_._2),
        "the partition column routes mod the topic's partition count")
      // no transaction; every send precedes the flush
      all.foreach { p =>
        assert(p.calls == Seq("partitionsFor", "flush"))
        assert(p.sentAtFlush == p.sent.size)
      }
    } finally EpochProducers.pulsarFactory = saved
  }

  test("WriterSpec.Kafka(transactional = false) sends every record once with its headers through writeBatch") {
    import graft.model._
    import graft.operators.Transforms
    import org.apache.spark.sql.functions._
    val logDir = Files.createTempDirectory("graft-kafka-plain")
    val payloads = (1 to 10).map(i => s"m$i")
    Files.writeString(logDir.resolve("k.log"), payloads.map(_ + "\n").mkString)
    val made = new java.util.concurrent.CopyOnWriteArrayList[FakeProducer]()
    val saved = EpochProducers.factory
    // partition 1 has no leader: routing skips it
    EpochProducers.factory = _ => {
      val p = new FakeProducer(Seq(0 -> Some(100), 1 -> None, 2 -> Some(102)))
      made.add(p); p
    }
    try {
      val cfg = PipelineConfig(name = "kafka-plain", logDir = logDir.toString,
        partitioner = PartitionerSpec.Crc32Key(8),
        writer = WriterSpec.Kafka("fake:9092", "t"),
        injectHeaders = Map("az" -> "test-az"))
      // the frame `start` hands writeBatch: the envelope plus a topic column
      val df = LogPipeline.runBatch(spark, cfg).withColumn("topic", lit("t"))
        .withColumn("headers", map_concat(col("headers"),
          map(lit("_mid"), Transforms.midHeader(lit(7L), lit(42L)),
              lit("_ots"), Transforms.otsHeader(lit(123456789L)))))
        .repartition(3)
      assert(LogPipeline.writeBatch(df, cfg) == 10)
      val all = made.toArray(Array.empty[FakeProducer])
      assert(all.flatMap(_.sent.map(_._2)).sorted.toSeq == payloads.sorted)
      assert(all.flatMap(_.sent.map(_._1)).toSet.subsetOf(Set(0, 2)))
      all.foreach(p => assert(p.calls == Seq("partitionsFor", "flush")))
      val mid = java.nio.ByteBuffer.allocate(16).putLong(7L).putLong(42L).array()
      val ots = java.nio.ByteBuffer.allocate(8).putLong(123456789L).array()
      all.flatMap(_.sentHeaders).foreach { hs =>
        val m = hs.toMap
        assert(m.keySet == Set("az", "_mid", "_ots"))
        assert(m("az").sameElements("test-az".getBytes("UTF-8")))
        assert(m("_mid").sameElements(mid))
        assert(m("_ots").sameElements(ots))
      }
    } finally EpochProducers.factory = saved
  }

  test("WriterSpec.Kafka(transactional) drives the per-task protocol through writeBatch") {
    import graft.model._
    val made = new java.util.concurrent.CopyOnWriteArrayList[FakeProducer]()
    val saved = EpochProducers.factory
    EpochProducers.factory = _ => {
      val p = new FakeProducer(Seq(0 -> Some(100), 1 -> Some(101)))
      made.add(p); p
    }
    try {
      val df = (0 until 20).map(i => (s"k$i".getBytes, s"v$i".getBytes, i, "t"))
        .toDF("key", "value", "partition", "topic").repartition(4)
      val cfg = PipelineConfig(name = "tx", logDir = "/tmp",
        writer = WriterSpec.Kafka("fake:9092", "t", transactional = true))
      val n = LogPipeline.writeBatch(df, cfg)
      assert(n == 20)
      val all = made.toArray(Array.empty[FakeProducer])
      assert(all.nonEmpty)
      // every task's producer ran the full begin→commit protocol
      all.filter(_.sent.nonEmpty).foreach(p =>
        assert(p.calls == Seq("partitionsFor", "begin", "flush", "commit")))
      assert(all.map(_.sent.size).sum == 20)
    } finally EpochProducers.factory = saved
  }

  test("a tail pipeline with a Kafka writer sends each file's records from one task, in file order") {
    import graft.model._
    val logDir = Files.createTempDirectory("graft-kafka-order")
    val names = Seq("a.log", "b.log")
    names.foreach(n => Files.write(logDir.resolve(n), (1 to 60).map(i =>
      graft.sources.ThriftLogCodec.encodeFrame(null, f"$n-$i%03d".getBytes)).reduce(_ ++ _)))
    val made = new java.util.concurrent.CopyOnWriteArrayList[FakeProducer]()
    val saved = EpochProducers.factory
    EpochProducers.factory = _ => { val p = new FakeProducer(Seq(0 -> Some(100))); made.add(p); p }
    // small enough that a rolled-object pipeline splits each file
    spark.conf.set("spark.sql.files.maxPartitionBytes", 256L)
    try {
      val cfg = PipelineConfig(name = "kafka-order", logDir = logDir.toString,
        reader = ReaderSpec.ThriftFramed(), partitioner = PartitionerSpec.Crc32Key(1),
        writer = WriterSpec.Kafka("fake:9092", "t", transactional = true),
        checkpointDir = Some(Files.createTempDirectory("graft-kafka-order-cp").toString),
        tailMode = true)
      val q = LogPipeline.start(spark, cfg,
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      try q.processAllAvailable() finally q.stop()
      val sends = made.toArray(Array.empty[FakeProducer]).map(_.sent.map(_._2).toSeq)
      names.foreach { n =>
        val from = sends.filter(_.exists(_.startsWith(n)))
        assert(from.length == 1, s"$n sent by ${from.length} tasks")
        assert(from.head.filter(_.startsWith(n)) == (1 to 60).map(i => f"$n-$i%03d"))
      }
    } finally {
      EpochProducers.factory = saved
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }
}
