package graft.sources

import java.io.ByteArrayOutputStream

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ThriftLogCodec._

class ThriftLogCodecSpec extends AnyFunSuite {

  private def concat(frames: Array[Byte]*): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    frames.foreach(out.write)
    out.toByteArray
  }

  test("roundtrip: key/message/timestamp/checksum") {
    val f = encodeFrame("k1".getBytes, "hello".getBytes, Some(123456789L), Some(42L))
    val decoded = decodeFrames(f).toList
    assert(decoded.size == 1)
    val d = decoded.head
    assert(new String(d.key) == "k1")
    assert(new String(d.message) == "hello")
    assert(d.timestampNanos == 123456789L)
    assert(d.checksum == 42L)
    assert(d.nextByteOffset == f.length)
  }

  test("roundtrip: optional fields absent") {
    val f = encodeFrame(null, "payload".getBytes)
    val d = decodeFrames(f).toList.head
    assert(d.key == null)
    assert(new String(d.message) == "payload")
    assert(d.timestampNanos == null)
    assert(d.checksum == null)
  }

  test("multiple frames with correct nextByteOffset chain") {
    val f1 = encodeFrame(null, "a".getBytes)
    val f2 = encodeFrame(null, "bb".getBytes, Some(7L))
    val f3 = encodeFrame("k".getBytes, "ccc".getBytes)
    val all = concat(f1, f2, f3)
    val ds = decodeFrames(all).toList
    assert(ds.map(d => new String(d.message)) == List("a", "bb", "ccc"))
    assert(ds.map(_.nextByteOffset) ==
      List(f1.length.toLong, (f1.length + f2.length).toLong, all.length.toLong))
  }

  test("start from mid-stream offset") {
    val f1 = encodeFrame(null, "first".getBytes)
    val f2 = encodeFrame(null, "second".getBytes)
    val ds = decodeFrames(concat(f1, f2), startOffset = f1.length.toLong).toList
    assert(ds.map(d => new String(d.message)) == List("second"))
  }

  test("trailing partial frame is tolerated (in-progress append)") {
    val f1 = encodeFrame(null, "complete".getBytes)
    val f2 = encodeFrame(null, "truncated-message".getBytes)
    val cut = concat(f1, f2.take(f2.length - 5))
    val ds = decodeFrames(cut).toList
    assert(ds.map(d => new String(d.message)) == List("complete"))
  }

  test("oversize frame skipped, stream continues") {
    val big = encodeFrame(null, Array.fill[Byte](1000)('x'))
    val small = encodeFrame(null, "small".getBytes)
    val ds = decodeFrames(concat(big, small), maxMessageBytes = 500).toList
    assert(ds.map(d => new String(d.message)) == List("small"))
  }

  test("a struct overrunning its frame drops that frame only") {
    // message field claims 100 bytes inside a 9-byte frame body
    val body = Array[Byte](TBinary, 0, 2, 0, 0, 0, 100, 'x', TStop)
    val bad = java.nio.ByteBuffer.allocate(4 + body.length)
      .putInt(body.length).put(body).array()
    val good = encodeFrame(null, "after".getBytes)
    val ds = decodeFrames(concat(bad, good)).toList
    assert(ds.map(d => new String(d.message)) == List("after"))
    assert(ds.head.nextByteOffset == (bad.length + good.length).toLong)
  }

  test("unknown extra fields are skipped") {
    // hand-build a frame with an extra i32 field id 9 before message
    val body = new ByteArrayOutputStream()
    body.write(TI32); body.write(0); body.write(9)
    body.write(Array[Byte](0, 0, 0, 99)) // value 99
    val msg = "x".getBytes
    body.write(TBinary); body.write(0); body.write(2)
    body.write(Array[Byte](0, 0, 0, msg.length.toByte)); body.write(msg)
    body.write(TStop)
    val payload = body.toByteArray
    val framed = java.nio.ByteBuffer.allocate(4 + payload.length)
      .putInt(payload.length).put(payload).array()
    val ds = decodeFrames(framed).toList
    assert(ds.size == 1 && new String(ds.head.message) == "x")
  }
}
