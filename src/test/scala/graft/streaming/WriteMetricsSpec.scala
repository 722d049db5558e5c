package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.streaming.EventAnalytics.Ev

/** Write-latency/throughput metrics parity with the reference's
  * per-task accounting (writer/KafkaWritingTask.java:71-141): batch size,
  * bytes, end-to-end latency, failure counting. */
class WriteMetricsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

  test("registry aggregates per-pipeline batches and failures") {
    val r = new WriteMetricsRegistry
    r.recordBatch("p1", messages = 50, bytes = 5000, latencyMs = 12, success = true)
    r.recordBatch("p1", messages = 70, bytes = 7000, latencyMs = 30, success = true)
    r.recordBatch("p1", messages = 10, bytes = 999, latencyMs = 4, success = false)
    val w = r.pipelineSnapshot("p1")
    assert(w.batches == 3)
    assert(w.messages == 120)     // failed batch contributes NO messages
    assert(w.bytes == 12000)
    assert(w.failures == 1)
    assert(w.lastLatencyMs == 4 && w.maxLatencyMs == 30)
  }

  test("listener feeds per-batch trigger latency into the registry; status JSON carries both families") {
    implicit val sq = spark.sqlContext
    val registry = new WriteMetricsRegistry
    val listener = new WriteLatencyListener(registry)
    spark.streams.addListener(listener)
    val input = MemoryStream[Ev]
    val q = input.toDS().writeStream.outputMode("append").format("noop")
      .queryName("wm_pipe").trigger(Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      input.addData(Ev(1, ts(1), "a", 1.0), Ev(2, ts(2), "b", 2.0))
      q.processAllAvailable()
      // listener events are async — wait for the progress callback
      val deadline = System.currentTimeMillis() + 10000
      while (!registry.pipelineSnapshot.contains("wm_pipe") &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val w = registry.pipelineSnapshot("wm_pipe")
      assert(w.batches >= 1 && w.failures == 0)
      assert(w.messages >= 2) // both rows counted through progress

      val mgr = new PipelineManager(spark)
      mgr.adopt("wm_pipe", q)
      val json = new StatusReporter(mgr, writeMetrics = Some(registry)).statusJson()
      // the per-query progress family and the write-metrics family
      assert(json.contains("\"pipelines\":{\"wm_pipe\":{\"batchId\":"), json)
      assert(json.contains("\"writeMetrics\":{"), json)
      assert(json.contains("\"wm_pipe\":{\"batches\":"), json)
      // no-registry reporters keep the old shape
      assert(!new StatusReporter(mgr).statusJson().contains("writeMetrics"))
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("listener records UNNAMED queries under their id instead of NPE-ing the bus") {
    // StreamingCuration/DataPipelines-started queries set no queryName, so
    // their progress events carry a NULL name; the listener must fall back
    // to the query id (TrieMap rejects null keys — regression for the
    // round-10 review finding)
    implicit val sq = spark.sqlContext
    val registry = new WriteMetricsRegistry
    val listener = new WriteLatencyListener(registry)
    spark.streams.addListener(listener)
    val input = MemoryStream[Ev]
    val q = input.toDS().writeStream.outputMode("append").format("noop").start()
    try {
      input.addData(Ev(1, ts(1), "a", 1.0))
      q.processAllAvailable()
      val key = q.id.toString
      val deadline = System.currentTimeMillis() + 10000
      while (!registry.pipelineSnapshot.contains(key) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val w = registry.pipelineSnapshot(key)
      assert(w.batches >= 1 && w.failures == 0,
        s"unnamed query's batches must land under its id: $w")
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("concurrent recordBatch calls lose no increments") {
    // the registry's read-modify-write is a CAS retry loop; interleaved
    // getOrElse-then-put used to drop counter increments under two
    // listener buses (round-10 review finding)
    val r = new WriteMetricsRegistry
    val threads = 8
    val perThread = 2000
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val done = new java.util.concurrent.CountDownLatch(threads)
    (0 until threads).foreach { _ =>
      pool.execute { () =>
        (0 until perThread).foreach { i =>
          r.recordBatch("p", messages = 1, bytes = 2, latencyMs = i, success = true)
        }
        done.countDown()
      }
    }
    assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    val w = r.pipelineSnapshot("p")
    assert(w.batches == threads.toLong * perThread, s"lost batch increments: $w")
    assert(w.messages == threads.toLong * perThread)
    assert(w.bytes == 2L * threads * perThread)
  }
}
