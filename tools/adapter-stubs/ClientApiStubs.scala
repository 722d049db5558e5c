// COMPILE-ONLY STUBS — never on a runtime classpath.
//
// The zero-egress build image ships no kafka-clients / pulsar-client jar,
// so `tools/adapters/KafkaClientsAdapters.scala` (the live-client half of
// the engine's two injectable seams: the `EpochProducer` sink seam shared
// by Kafka and Pulsar, and the partition-metadata fetch) cannot be
// compiled on the default path and would bit-rot silently. These stubs reproduce ONLY the
// public API signatures that file uses — method names, parameter and
// return types, from the published Apache Kafka and Apache Pulsar client
// Javadoc — so `sbt adapterStubCompile` can typecheck the adapters without
// network. Every body is `???`: linking against these at runtime is a
// programming error and fails immediately.
//
// If a future adapter edit uses a client API not stubbed here, the check
// fails to compile — add the missing signature (from the public Javadoc)
// rather than widening a stub beyond what the adapter needs.

// ---------------------------------------------------------------- kafka

package org.apache.kafka.common {
  abstract class KafkaFuture[T] {
    def get(): T
  }
  class Node private () {
    def id(): Int = ???
    def rack(): String = ???
  }
  class PartitionInfo private () {
    def partition(): Int = ???
    def leader(): Node = ???
  }
  class TopicPartitionInfo private () {
    def partition(): Int = ???
    def leader(): Node = ???
  }
}

package org.apache.kafka.common.header {
  trait Header {
    def key(): String
    def value(): Array[Byte]
  }
}

package org.apache.kafka.common.header.internals {
  import org.apache.kafka.common.header.Header
  class RecordHeader(k: String, v: Array[Byte]) extends Header {
    def key(): String = ???
    def value(): Array[Byte] = ???
  }
}

package org.apache.kafka.clients.producer {
  import java.util.concurrent.Future
  import org.apache.kafka.common.PartitionInfo
  import org.apache.kafka.common.header.Header

  class ProducerRecord[K, V](topic: String, partition: java.lang.Integer,
      key: K, value: V, headers: java.lang.Iterable[Header])

  class RecordMetadata private ()

  trait Callback {
    def onCompletion(metadata: RecordMetadata, exception: Exception): Unit
  }

  class KafkaProducer[K, V](props: java.util.Properties) {
    def initTransactions(): Unit = ???
    def partitionsFor(topic: String): java.util.List[PartitionInfo] = ???
    def beginTransaction(): Unit = ???
    def send(record: ProducerRecord[K, V], callback: Callback): Future[RecordMetadata] = ???
    def commitTransaction(): Unit = ???
    def abortTransaction(): Unit = ???
    def close(): Unit = ???
  }
}

package org.apache.kafka.clients.admin {
  import org.apache.kafka.common.{KafkaFuture, Node, TopicPartitionInfo}

  class TopicDescription private () {
    def partitions(): java.util.List[TopicPartitionInfo] = ???
  }
  class DescribeTopicsResult private () {
    def allTopicNames(): KafkaFuture[java.util.Map[String, TopicDescription]] = ???
  }
  class DescribeClusterResult private () {
    def nodes(): KafkaFuture[java.util.Collection[Node]] = ???
  }
  class AdminClient private () {
    def describeTopics(topics: java.util.Collection[String]): DescribeTopicsResult = ???
    def describeCluster(): DescribeClusterResult = ???
    def close(): Unit = ???
  }
  object AdminClient {
    def create(props: java.util.Properties): AdminClient = ???
  }
}

// ---------------------------------------------------------------- pulsar

package org.apache.pulsar.client.api {
  import java.util.concurrent.CompletableFuture

  trait MessageId

  trait TypedMessageBuilder[T] {
    def keyBytes(key: Array[Byte]): TypedMessageBuilder[T]
    def value(value: T): TypedMessageBuilder[T]
    def properties(properties: java.util.Map[String, String]): TypedMessageBuilder[T]
    def sendAsync(): CompletableFuture[MessageId]
  }

  trait Producer[T] {
    def newMessage(): TypedMessageBuilder[T]
    def flush(): Unit
    def close(): Unit
  }

  trait ProducerBuilder[T] {
    def topic(topicName: String): ProducerBuilder[T]
    def enableBatching(enable: Boolean): ProducerBuilder[T]
    def blockIfQueueFull(block: Boolean): ProducerBuilder[T]
    def create(): Producer[T]
  }

  trait ClientBuilder {
    def serviceUrl(url: String): ClientBuilder
    def build(): PulsarClient
  }

  trait PulsarClient {
    def newProducer(): ProducerBuilder[Array[Byte]]
    def getPartitionsForTopic(topic: String): CompletableFuture[java.util.List[String]]
    def close(): Unit
  }

  object PulsarClient {
    def builder(): ClientBuilder = ???
  }
}
