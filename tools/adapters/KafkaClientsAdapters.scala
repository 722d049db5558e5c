// UNBUILT OPTIONAL SOURCE — not on the default compile path.
//
// This file is the thin live-client half of the two injectable seams the
// engine ships spec-tested against scripted fakes:
//
//   graft.streaming.EpochProducer                 (Kafka and Pulsar epoch writer,
//     from EpochProducers.factory / EpochProducers.pulsarFactory)
//   graft.functions.PartitionMetadataCache fetch  (locality-aware partitioner)
//
// The build container ships no kafka-clients / pulsar-client jar (zero
// egress, fixed unmanaged classpath), so this directory is NOT in
// `Compile / unmanagedSourceDirectories`. To wire it up in a deployment:
//
//   1. put kafka-clients (>= 3.x) and/or pulsar-client (>= 3.x) on the
//      classpath;
//   2. add to build.sbt:
//        Compile / unmanagedSourceDirectories += baseDirectory.value / "tools" / "adapters"
//   3. at driver startup:
//        EpochProducers.factory = s => new KafkaClientsEpochProducer(s, txnId)
//        EpochProducers.pulsarFactory = url => new PulsarClientsEpochProducer(url)
//      and build locality metadata caches with
//        new PartitionMetadataCache(KafkaAdminMetadata.fetcher(servers, topic))
//
// Everything protocol-level (begin/send/flush/barrier/commit-or-abort,
// leaderless skip, partition routing, refresh/stale-on-failure) already lives, tested, behind the seams —
// these classes only translate the seam's narrow API onto the client jars.
//
// Bit-rot guard: `sbt adapterStubCompile` typechecks this file against
// embedded public-API stubs (tools/adapter-stubs/ClientApiStubs.scala), so
// seam-signature drift is caught in CI without the client jars.

package graft.adapters

import java.util.Properties
import java.util.concurrent.CompletableFuture

import scala.jdk.CollectionConverters._

import org.apache.kafka.clients.admin.AdminClient
import org.apache.kafka.clients.producer.{KafkaProducer, ProducerRecord, RecordMetadata}
import org.apache.kafka.common.header.internals.RecordHeader

import graft.functions.PartitionInfo
import graft.streaming.EpochProducer

/** [[graft.streaming.EpochProducer]] over a real KafkaProducer.
  *
  * One instance per sink task (matching TransactionalEpochWriter's
  * task-scoped transaction): `transactionalId` must be unique per task for
  * transactional use — pass e.g. s"$queryId-$partitionId" — and
  * `initTransactions()` is called once at construction, as the reference
  * does at producer creation (writer/KafkaWriter.java:514-516). */
final class KafkaClientsEpochProducer(bootstrapServers: String,
    transactionalId: Option[String] = None) extends EpochProducer {

  private val producer: KafkaProducer[Array[Byte], Array[Byte]] = {
    val p = new Properties()
    p.put("bootstrap.servers", bootstrapServers)
    p.put("key.serializer", "org.apache.kafka.common.serialization.ByteArraySerializer")
    p.put("value.serializer", "org.apache.kafka.common.serialization.ByteArraySerializer")
    p.put("enable.idempotence", "true")
    p.put("acks", "all")
    transactionalId.foreach(id => p.put("transactional.id", id))
    val kp = new KafkaProducer[Array[Byte], Array[Byte]](p)
    if (transactionalId.isDefined) kp.initTransactions()
    kp
  }

  override def partitionsFor(topic: String): Seq[(Int, Option[Int])] =
    producer.partitionsFor(topic).asScala.toSeq
      .map(pi => (pi.partition(), Option(pi.leader()).filter(_.id() >= 0).map(_.id())))

  override def beginTransaction(): Unit = producer.beginTransaction()

  override def send(topic: String, partition: Int, key: Array[Byte],
      value: Array[Byte], headers: Seq[(String, Array[Byte])]): CompletableFuture[Void] = {
    val hs = headers.map { case (k, v) => new RecordHeader(k, v): org.apache.kafka.common.header.Header }
    val rec = new ProducerRecord[Array[Byte], Array[Byte]](
      topic, partition, key, value, hs.asJava)
    val cf = new CompletableFuture[Void]()
    // callback→future bridge, the reference's shape
    // (writer/kafka/CommittableKafkaWriter.java:215-223)
    producer.send(rec, (_: RecordMetadata, e: Exception) =>
      if (e == null) cf.complete(null) else cf.completeExceptionally(e))
    cf
  }

  override def commitTransaction(): Unit = producer.commitTransaction()
  override def abortTransaction(): Unit = producer.abortTransaction()
  override def close(): Unit = producer.close()
}

/** AdminClient-backed `fetch` for [[graft.functions.PartitionMetadataCache]]
  * — the reference's describeTopics refresh
  * (writer/partitioners/LocalityAwarePartitioner.java:60-104). The cache
  * already owns interval limiting and stale-on-failure; this is only the
  * RPC. One AdminClient per driver, shared across topics. */
object KafkaAdminMetadata {
  def fetcher(bootstrapServers: String, topic: String): () => Map[Int, PartitionInfo] = {
    val p = new Properties()
    p.put("bootstrap.servers", bootstrapServers)
    lazy val admin = AdminClient.create(p)
    () => {
      val desc = admin.describeTopics(java.util.List.of(topic))
        .allTopicNames().get().get(topic)
      desc.partitions().asScala.map { tpi =>
        val leader = Option(tpi.leader()).filter(_.id() >= 0)
        (tpi.partition(),
          PartitionInfo(leader.map(_.id()), leader.flatMap(n => Option(n.rack())).getOrElse("")))
      }.toMap
    }
  }
}

/** [[graft.functions.BrokerAdmin]] over a real AdminClient — the typed
  * describeCluster/describeTopics pair, for callers that prefer the shaped
  * interface (+ its scripted-fake specs) over the raw fetcher above:
  * `new PartitionMetadataCache(BrokerAdmin.fetcher(new KafkaBrokerAdmin(s), topic))`. */
final class KafkaBrokerAdmin(bootstrapServers: String)
    extends graft.functions.BrokerAdmin {
  private val admin = {
    val p = new Properties()
    p.put("bootstrap.servers", bootstrapServers)
    AdminClient.create(p)
  }
  override def describeCluster(): Seq[graft.functions.BrokerNode] =
    admin.describeCluster().nodes().get().asScala.toSeq
      .map(n => graft.functions.BrokerNode(n.id(), Option(n.rack()).getOrElse("")))
  override def describeTopic(topic: String): Seq[graft.functions.TopicPartitionMeta] =
    admin.describeTopics(java.util.List.of(topic))
      .allTopicNames().get().get(topic).partitions().asScala.toSeq
      .map(tpi => graft.functions.TopicPartitionMeta(
        tpi.partition(), Option(tpi.leader()).filter(_.id() >= 0).map(_.id())))
  override def close(): Unit = admin.close()
}

/** [[graft.streaming.EpochProducer]] over a real Pulsar client.
  * `partitionsFor` lists the topic's partitions (Pulsar assigns their
  * brokers itself, so every one is writable); the epoch writer routes the
  * engine's partition column onto them `mod n`, the reference's
  * writer/pulsar/PulsarMessageRouter.java:40-51. A send addresses the
  * partition's own topic name as the client lists it. Headers travel as
  * message properties, decoded as UTF-8. Pulsar producers have no
  * transactions: the engine runs this producer with `transactional = false`. */
final class PulsarClientsEpochProducer(serviceUrl: String) extends EpochProducer {

  private val client = org.apache.pulsar.client.api.PulsarClient.builder()
    .serviceUrl(serviceUrl).build()
  private val partitionNames =
    new java.util.concurrent.ConcurrentHashMap[String, IndexedSeq[String]]()
  private val producers =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.pulsar.client.api.Producer[Array[Byte]]]()

  private def producerFor(topic: String, partition: Int) =
    producers.computeIfAbsent(partitionNames.get(topic)(partition), n =>
      client.newProducer().topic(n)
        .enableBatching(true) // the reference's batch path (PulsarWriter.java:68)
        .blockIfQueueFull(true)
        .create())

  override def partitionsFor(topic: String): Seq[(Int, Option[Int])] = {
    val names = client.getPartitionsForTopic(topic).get().asScala.toIndexedSeq
    partitionNames.put(topic, names)
    names.indices.map(p => (p, Some(0)))
  }

  override def beginTransaction(): Unit = notTransactional()

  override def send(topic: String, partition: Int, key: Array[Byte],
      value: Array[Byte], headers: Seq[(String, Array[Byte])]): CompletableFuture[Void] = {
    val properties = headers.map { case (k, v) =>
      k -> Option(v).map(new String(_, java.nio.charset.StandardCharsets.UTF_8)).orNull
    }.toMap
    producerFor(topic, partition).newMessage()
      .keyBytes(key).value(value).properties(properties.asJava)
      .sendAsync().thenApply(_ => null: Void).toCompletableFuture
  }

  override def flush(): Unit =
    producers.values().asScala.foreach(_.flush())

  override def commitTransaction(): Unit = notTransactional()
  override def abortTransaction(): Unit = notTransactional()

  private def notTransactional(): Nothing =
    throw new UnsupportedOperationException("Pulsar producers have no transactions")

  override def close(): Unit = {
    producers.values().asScala.foreach(_.close())
    client.close()
  }
}
