package graft.model

import java.io.StringReader
import java.util.Properties
import scala.jdk.CollectionConverters._

/** Pipeline definition ADT — one instance per logical log pipeline, mirroring
  * the reference's `SingerLogConfig`
  * (reference: singer-commons/src/main/thrift/config.thrift:261-302) and its
  * properties-file loader (reference: utils/LogConfigUtils.java:813-958).
  *
  * One `PipelineConfig` ⇒ one `StreamingQuery` (streaming mode) or one batch
  * plan (replay mode).
  */
sealed trait ReaderSpec
object ReaderSpec {
  /** One record per line (reference: reader/TextLogFileReader.java).
    * `numMessagesPerLogMessage` > 1 packs that many consecutive lines into
    * one message (reference: TextLogFileReader.java:161-189).
    * `trimTailingNewline` changes nothing: every line reader (Spark's text
    * source, the graft-tail text reader, the packer) already splits at
    * `\n` and drops it, so the pipeline runs no newline trim. */
  case class TextLine(
      filterRegex: Option[String] = None,
      prependTimestamp: Boolean = false,
      prependHostname: Boolean = false,
      prependDelimiter: String = " ",
      trimTailingNewline: Boolean = true,
      numMessagesPerLogMessage: Int = 1) extends ReaderSpec
  /** Multi-line records delimited by a start-pattern
    * (reference: reader/TextMessageReader.java:88-138). */
  case class TextMultiline(
      messageStartRegex: String,
      maxMessageChars: Int = 1 << 20) extends ReaderSpec
  /** Thrift-framed LogMessage stream
    * (reference: reader/ThriftLogFileReader.java). */
  case class ThriftFramed(maxMessageBytes: Int = 1 << 20) extends ReaderSpec
}

sealed trait TransformSpec
object TransformSpec {
  /** Regex capture-group rewrite (reference: transforms/RegexBasedModifier.java:60-107). */
  case class RegexModifier(regex: String, replacement: String, appendNewline: Boolean = false)
      extends TransformSpec
  /** Decider-based message sampling, pass iff percentile < value
    * (reference: processor/MemoryEfficientLogStreamProcessor.java:114-120). */
  case class SampleDecider(percent: Int) extends TransformSpec
}

sealed trait PartitionerSpec
object PartitionerSpec {
  case object Default extends PartitionerSpec                      // uniform random
  case class Crc32Key(numPartitions: Int) extends PartitionerSpec
  case class MurmurKey(numPartitions: Int) extends PartitionerSpec
  case class Md5StringKey(numPartitions: Int) extends PartitionerSpec
  case class RoundRobin(numPartitions: Int) extends PartitionerSpec
  case class SinglePartition(numPartitions: Int, seed: Long = 0L) extends PartitionerSpec
  case class FixedPartitions(partitions: Seq[Int]) extends PartitionerSpec
}

sealed trait WriterSpec
object WriterSpec {
  /** Kafka sink through the per-task epoch protocol; `transactional` wraps
    * each task's epoch in a Kafka transaction (reference:
    * `enableTransactions` — writer/KafkaWriter.java:512-516,584-608,
    * writer/kafka/CommittableKafkaWriter.java:147-149,335-356; see
    * [[graft.streaming.TransactionalEpochWriter]]). */
  case class Kafka(bootstrapServers: String, topic: String, auditTopic: Option[String] = None,
      transactional: Boolean = false, writeTimeoutSeconds: Int = 60)
      extends WriterSpec
  /** File sink (parquet) — also the local stand-in for S3
    * (reference: writer/s3/S3Writer.java key-templating collapses to a path). */
  case class Files(path: String, format: String = "parquet") extends WriterSpec
  /** Raw-object sink with size rolling + templated keys
    * (reference: writer/s3/S3Writer.java; see graft.streaming.RolledObjectSink). */
  case class RolledObjects(baseDir: String, keyFormat: String,
      maxObjectBytes: Long = 50L * 1024 * 1024) extends WriterSpec
  /** Pulsar sink family (reference: writer/pulsar/PulsarWriter.java).
    * Config-validation and message-routing parity are implemented and
    * spec-pinned; the producer itself needs a pulsar-client jar this build
    * does not ship, so an executed write fails with a clear error.
    * Compression values per the reference's CompressionType check
    * (PulsarWriter.java validateConfig). */
  case class Pulsar(serviceUrl: String, topic: String,
      compressionType: String = "LZ4",
      writeTimeoutSeconds: Int = 60) extends WriterSpec {
    require(WriterSpec.pulsarCompressionTypes.contains(compressionType.toUpperCase),
      s"Invalid compression type:$compressionType")
    require(writeTimeoutSeconds >= 0, "Write timeout can't be a negative number")
  }
  private[model] val pulsarCompressionTypes = Set("NONE", "LZ4", "ZLIB", "ZSTD", "SNAPPY")
  case object Noop extends WriterSpec
}

case class PipelineConfig(
    name: String,
    logDir: String,
    logStreamRegex: String = ".*",
    reader: ReaderSpec = ReaderSpec.TextLine(),
    transforms: Seq[TransformSpec] = Nil,
    partitioner: PartitionerSpec = PartitionerSpec.Crc32Key(32),
    writer: WriterSpec = WriterSpec.Noop,
    checkpointDir: Option[String] = None,
    computeChecksum: Boolean = true,
    injectHeaders: Map[String, String] = Map.empty,
    maxFilesPerTrigger: Option[Int] = None,
    /** true ⇒ stream with the `graft-tail` source: growing files ingested
      * from intra-file byte offsets (the reference's inode+offset model)
      * instead of the closed-file rotation convention. */
    tailMode: Boolean = false,
    /** Named instance decider gating whether this host runs the pipeline
      * (reference: config.thrift logDecider). */
    instanceDecider: Option[String] = None,
    /** Restart a crashed query from its checkpoint up to this many times
      * (reference: restart-on-failures policy). 0 = no supervision. */
    maxRestarts: Int = 0,
    /** Tail mode only: delete fully-ingested rotation files this many
      * seconds after their last modification (reference:
      * logRetentionInSeconds, DefaultLogStreamProcessor.java:252-254).
      * None = never delete. */
    logRetentionSeconds: Option[Long] = None,
    /** Streaming state-store provider for this pipeline's stateful
      * operators: "rocksdb", "hdfs"/"default", or a provider FQCN
      * (see [[graft.streaming.StateStores]]). None = the session's
      * setting (Spark's in-heap default). Pipelines with unbounded key
      * domains should set "rocksdb" — the in-heap store is the first
      * thing to fall over at 100-TB key scale. */
    stateStoreProvider: Option[String] = None)

object PipelineConfig {
  /** Parse a singer-style `.properties` pipeline definition
    * (reference: tutorial/etc/singer/conf.d/tutorial.text_log.properties,
    * parser at utils/LogConfigUtils.java:813-958). Unknown keys ignored. */
  def fromProperties(text: String, name: String = "pipeline"): PipelineConfig = {
    val p = new Properties()
    p.load(new StringReader(text))
    val m = p.asScala.toMap
    def opt(k: String): Option[String] = m.get(k).map(_.trim).filter(_.nonEmpty)

    val reader = opt("reader.type").map(_.toLowerCase).getOrElse("text") match {
      case "thrift" => ReaderSpec.ThriftFramed(
        maxMessageBytes = opt("reader.thrift.maxMessageSize").map(_.toInt).getOrElse(1 << 20))
      case _ =>
        opt("reader.text.messageStartRegex") match {
          case Some(re) if re != "^" && re != "^.*$" =>
            ReaderSpec.TextMultiline(re,
              opt("reader.text.maxMessageSize").map(_.toInt).getOrElse(1 << 20))
          case _ => ReaderSpec.TextLine(
            filterRegex = opt("reader.text.filterMessageRegex"),
            prependTimestamp = opt("reader.text.prependTimestamp").exists(_.toBoolean),
            prependHostname = opt("reader.text.prependHostname").exists(_.toBoolean),
            prependDelimiter = opt("reader.text.prependFieldDelimiter").getOrElse(" "),
            numMessagesPerLogMessage =
              opt("reader.text.numMessagesPerLogMessage").map(_.toInt).getOrElse(1))
        }
    }
    val transforms = Seq.newBuilder[TransformSpec]
    for (re <- opt("transformer.regex"); repl <- opt("transformer.replacement"))
      transforms += TransformSpec.RegexModifier(re, repl)
    for (pct <- opt("processor.samplingPercent")) transforms += TransformSpec.SampleDecider(pct.toInt)

    val writerType = opt("writer.type").map(_.toLowerCase).getOrElse("noop")
    val numPartitions = opt("writer.kafka.numPartitions")
      .orElse(opt("writer.pulsar.numPartitions")).map(_.toInt).getOrElse(32)
    val partitioner = opt("writer.kafka.partitioner.class")
        .orElse(opt("writer.pulsar.partitionerClass")).map(_.toLowerCase) match {
      case Some(c) if c.contains("crc32") => PartitionerSpec.Crc32Key(numPartitions)
      case Some(c) if c.contains("murmur") => PartitionerSpec.MurmurKey(numPartitions)
      case Some(c) if c.contains("md5") => PartitionerSpec.Md5StringKey(numPartitions)
      case Some(c) if c.contains("roundrobin") => PartitionerSpec.RoundRobin(numPartitions)
      case Some(c) if c.contains("singlepartition") => PartitionerSpec.SinglePartition(numPartitions)
      case Some(_) => PartitionerSpec.Default
      // the reference's pulsar DefaultPartitioner is RANDOM
      // (writer/pulsar/DefaultPartitioner.java), kafka's default is crc32
      case None if writerType == "pulsar" => PartitionerSpec.Default
      case None => PartitionerSpec.Crc32Key(numPartitions)
    }
    val writer = writerType match {
      case "kafka" => WriterSpec.Kafka(
        opt("writer.kafka.bootstrap.servers").getOrElse("localhost:9092"),
        opt("writer.kafka.topic").getOrElse(name),
        opt("writer.kafka.auditTopic"),
        // the reference's producerConfig.isTransactionEnabled
        opt("writer.kafka.enableTransactions").exists(_.toBoolean),
        opt("writer.kafka.writeTimeoutInSeconds").map(_.toInt).getOrElse(60))
      case "file" | "s3" => WriterSpec.Files(opt("writer.file.path").getOrElse(s"/tmp/$name"))
      case "pulsar" => WriterSpec.Pulsar(
        opt("writer.pulsar.serviceUrl").getOrElse("pulsar://localhost:6650"),
        opt("writer.pulsar.topic").getOrElse(name),
        opt("writer.pulsar.compressionType").getOrElse("LZ4"),
        opt("writer.pulsar.writeTimeoutInSeconds").map(_.toInt).getOrElse(60))
      case _ => WriterSpec.Noop
    }
    PipelineConfig(
      name = opt("logName").getOrElse(name),
      logDir = opt("logDir").getOrElse("."),
      logStreamRegex = opt("logStreamRegex").getOrElse(".*"),
      reader = reader,
      transforms = transforms.result(),
      partitioner = partitioner,
      writer = writer,
      checkpointDir = opt("checkpointDir"),
      maxFilesPerTrigger = opt("processor.maxFilesPerTrigger").map(_.toInt),
      tailMode = opt("reader.tailMode").exists(_.toBoolean),
      instanceDecider = opt("logDecider"),
      maxRestarts = opt("processor.maxRestarts").map(_.toInt).getOrElse(0),
      logRetentionSeconds = opt("processor.logRetentionInSeconds").map(_.toLong),
      stateStoreProvider = opt("processor.stateStoreProvider"))
  }
}
