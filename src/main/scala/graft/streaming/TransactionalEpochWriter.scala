package graft.streaming

import java.util.concurrent.{CompletableFuture, TimeUnit, TimeoutException}

import scala.collection.mutable

/** Producer-shaped seam for the message-sink epoch protocol — the same
  * stance as [[graft.functions.PartitionMetadataCache]]'s `fetch`: the slice
  * of the Kafka and Pulsar producer APIs the protocol needs, injectable for
  * specs and swappable for a kafka-clients- or pulsar-client-backed
  * implementation where that jar is on the classpath (this build ships
  * neither, so the default factories throw a clear error instead of failing
  * deep inside a connector).
  */
trait EpochProducer {
  /** (partition id, leader broker id or None when leaderless) for `topic` —
    * the reference's `producer.partitionsFor` (reference:
    * writer/kafka/CommittableKafkaWriter.java:133-146); a Pulsar producer
    * lists the topic's partitions, every one with a leader. A thrown
    * exception aborts the epoch before any send. */
  def partitionsFor(topic: String): Seq[(Int, Option[Int])]
  def beginTransaction(): Unit
  /** Async send; the returned future completes when the transport acks
    * (reference: CommittableKafkaWriter.java:215-223 callback→future). */
  def send(topic: String, partition: Int, key: Array[Byte], value: Array[Byte],
      headers: Seq[(String, Array[Byte])]): CompletableFuture[Void]
  /** Push out sends the client still buffers; called once after the last
    * send, before the barrier (reference: writer/pulsar/PulsarWriter.java:
    * 190-210). */
  def flush(): Unit = ()
  def commitTransaction(): Unit
  def abortTransaction(): Unit
  def close(): Unit = ()
}

/** One routed record of an epoch: `partition` is the PARTITIONER's output
  * (an index the writer maps onto the currently-writable partition list,
  * exactly as the reference maps partitioner output through
  * `committableValidPartitions` — CommittableKafkaWriter.java:185-193). */
case class EpochRecord(partition: Int, key: Array[Byte], value: Array[Byte],
    headers: Seq[(String, Array[Byte])] = Nil)

/** A committed epoch: acked message count per actual partition. */
case class EpochCommit(counts: Map[Int, Int]) {
  def total: Int = counts.valuesIterator.sum
}

class EpochWriteException(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

/** The reference's batch write protocol for message sinks — Kafka with or
  * without transactions, and Pulsar (reference:
  * writer/kafka/CommittableKafkaWriter.java:130-360,
  * writer/KafkaWriter.java:512-516,584-608,
  * writer/pulsar/PulsarWriter.java:190-210) — re-expressed for Spark's
  * execution model: ONE instance runs per sink TASK (inside
  * `foreachPartition`), so a transaction is atomic per task — the honest
  * Spark shape, since a Kafka transaction is a per-producer construct and a
  * distributed epoch cannot share one producer. Cross-task exactly-once
  * stays with the engine's idempotent mechanisms (`_mid` dedup headers,
  * batchId-keyed audit) exactly as at-least-once did before.
  *
  * Protocol, mirroring startCommit / writeLogMessageToCommit / endCommit:
  *  1. `partitionsFor` (a failure aborts before any send), leaderless
  *     partitions dropped when `skipNoLeaderPartitions`;
  *  2. `beginTransaction` when transactional;
  *  3. every record routed onto the writable list and sent async, futures
  *     collected per partition bucket, then one `flush`;
  *  4. endCommit BARRIER: all buckets must ack within
  *     `writeTimeoutSeconds` (reference's executionTimer race,
  *     CommittableKafkaWriter.java:278-292) — then `commitTransaction`;
  *     any bucket failure or the timeout ⇒ `abortTransaction` and throw
  *     (reference: handleBatchException → abort,
  *     CommittableKafkaWriter.java:346-362). The task failure makes Spark
  *     retry the whole epoch partition — at-least-once with an aborted
  *     (invisible to read-committed consumers) first attempt.
  */
class TransactionalEpochWriter(producer: EpochProducer, topic: String,
    transactional: Boolean, writeTimeoutSeconds: Int = 60,
    skipNoLeaderPartitions: Boolean = true) {

  def writeEpoch(records: Iterator[EpochRecord]): EpochCommit = {
    // ---- startCommit
    val partitions = producer.partitionsFor(topic)
    val valid: IndexedSeq[Int] =
      (if (skipNoLeaderPartitions) partitions.collect { case (p, Some(_)) => p }
       else partitions.map(_._1)).sorted.toIndexedSeq
    if (valid.isEmpty)
      throw new EpochWriteException(s"no writable partitions for topic $topic", null)
    if (transactional) producer.beginTransaction()
    val buckets = mutable.Map.empty[Int, mutable.ArrayBuffer[CompletableFuture[Void]]]
    try {
      // ---- write phase: route + async send per record
      records.foreach { r =>
        val pid = valid(math.floorMod(r.partition, valid.length))
        buckets.getOrElseUpdate(pid, mutable.ArrayBuffer.empty) +=
          producer.send(topic, pid, r.key, r.value, r.headers)
      }
      producer.flush()
      // ---- endCommit barrier with timeout
      val all = CompletableFuture.allOf(buckets.valuesIterator.flatten.toArray: _*)
      try all.get(writeTimeoutSeconds.toLong, TimeUnit.SECONDS)
      catch {
        case e: TimeoutException =>
          throw new EpochWriteException(
            s"epoch write to $topic timed out after $writeTimeoutSeconds s", e)
        case e: Exception =>
          throw new EpochWriteException(s"epoch write to $topic failed", e)
      }
      if (transactional) producer.commitTransaction()
      EpochCommit(buckets.view.mapValues(_.size).toMap)
    } catch {
      case e: Throwable =>
        // abort-on-any-bucket-failure: the aborted attempt is invisible to
        // read-committed consumers; the thrown exception fails the task so
        // Spark re-runs the epoch partition
        if (transactional)
          try producer.abortTransaction() catch { case _: Exception => () }
        throw e
    }
  }
}

/** Driver-set producer factories — the injection points the sink task
  * calls: `factory` from Kafka bootstrap servers, `pulsarFactory` from a
  * Pulsar service URL. The defaults throw (no client jars in this build);
  * specs and real deployments install their own. Local-mode note: the vars
  * are shared JVM-wide; a cluster deployment replaces the defaults with
  * compiled-in client factories rather than a runtime injection. */
object EpochProducers {
  @volatile var factory: String => EpochProducer = servers =>
    throw new UnsupportedOperationException(
      s"Kafka writer for $servers requires kafka-clients on the classpath " +
        "(not shipped in this build); inject EpochProducers.factory or add " +
        "the jar — see ROADMAP.md")
  @volatile var pulsarFactory: String => EpochProducer = serviceUrl =>
    throw new UnsupportedOperationException(
      s"Pulsar writer for $serviceUrl requires pulsar-client on the classpath " +
        "(not shipped in this build); inject EpochProducers.pulsarFactory or " +
        "add the jar — see ROADMAP.md")
}
