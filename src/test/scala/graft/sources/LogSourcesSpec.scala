package graft.sources

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class LogSourcesSpec extends AnyFunSuite with SparkTestBase {

  private def tempDir(): Path = {
    val d = Files.createTempDirectory("graft-src-")
    d.toFile.deleteOnExit()
    d
  }

  // ------------------------------------------------ multiline assembly unit

  test("splitMultiline: records start at pattern, run to next start") {
    val content = "I00001 first\n  continuation\nI00002 second\nI00003 third\n"
    val recs = LogSources.splitMultiline(content, "^I[0-9]{5}", 1 << 20).toList
    assert(recs == List("I00001 first\n  continuation", "I00002 second", "I00003 third"))
  }

  test("splitMultiline: preamble before first start is dropped") {
    val content = "garbage preamble\nI00001 real\n"
    val recs = LogSources.splitMultiline(content, "^I[0-9]{5}", 1 << 20).toList
    assert(recs == List("I00001 real"))
  }

  test("splitMultiline: oversize record truncated at maxMessageChars") {
    val content = "I00001 " + ("x" * 100) + "\nI00002 ok\n"
    val recs = LogSources.splitMultiline(content, "^I[0-9]{5}", 20).toList
    assert(recs.head.length == 20)
    assert(recs(1) == "I00002 ok")
  }

  // ------------------------------------------------------------- batch reads

  test("textLines reads one record per line across files") {
    val dir = tempDir()
    Files.writeString(dir.resolve("a.log"), "l1\nl2\n")
    Files.writeString(dir.resolve("b.log"), "l3\n")
    val df = LogSources.textLines(spark, dir.toString)
    assert(df.count() == 3)
    assert(df.columns.toSet == Set("value", "path"))
  }

  test("textMultiline assembles records per file") {
    val dir = tempDir()
    Files.writeString(dir.resolve("a.log"), "E1 x\n cont\nE2 y\n")
    Files.writeString(dir.resolve("b.log"), "E3 z\n")
    val df = LogSources.textMultiline(spark, dir.toString, "^E[0-9]")
    val recs = df.select("value").collect().map(_.getString(0)).toSet
    assert(recs == Set("E1 x\n cont", "E2 y", "E3 z"))
  }

  test("thriftFramed decodes framed files with offsets") {
    val dir = tempDir()
    val f1 = ThriftLogCodec.encodeFrame("k1".getBytes, "m1".getBytes, Some(1L), None)
    val f2 = ThriftLogCodec.encodeFrame(null, "m2".getBytes, Some(2L), Some(9L))
    Files.write(dir.resolve("t.log"), f1 ++ f2)
    val df = LogSources.thriftFramed(spark, dir.toString)
    val rows = df.orderBy("nextByteOffset").collect()
    assert(rows.length == 2)
    assert(new String(rows(0).getAs[Array[Byte]]("value")) == "m1")
    assert(new String(rows(1).getAs[Array[Byte]]("value")) == "m2")
    assert(rows(1).getAs[Long]("nextByteOffset") == (f1.length + f2.length).toLong)
  }

  test("thriftFramed skips oversize messages but keeps the rest") {
    val dir = tempDir()
    val big = ThriftLogCodec.encodeFrame(null, Array.fill[Byte](5000)('b'))
    val ok = ThriftLogCodec.encodeFrame(null, "fine".getBytes)
    Files.write(dir.resolve("t.log"), big ++ ok)
    val df = LogSources.thriftFramed(spark, dir.toString, maxMessageBytes = 1000)
    val vals = df.collect().map(r => new String(r.getAs[Array[Byte]]("value")))
    assert(vals.toList == List("fine"))

    // the same directory through the file-stream and graft-tail readers:
    // `reader.thrift.maxMessageSize` drops the same frame in every mode
    import graft.model._
    import graft.streaming.LogPipeline
    def streamed(tail: Boolean): List[String] = {
      val out = tempDir()
      val cfg = PipelineConfig(name = s"oversize-$tail", logDir = dir.toString,
        reader = ReaderSpec.ThriftFramed(maxMessageBytes = 1000),
        writer = WriterSpec.Files(out.toString),
        checkpointDir = Some(tempDir().toString), tailMode = tail)
      LogPipeline.start(spark, cfg, org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .awaitTermination()
      spark.read.parquet(out.toString).collect()
        .map(r => new String(r.getAs[Array[Byte]]("value"))).toList
    }
    assert(streamed(tail = false) == List("fine"))
    assert(streamed(tail = true) == List("fine"))
  }
}
