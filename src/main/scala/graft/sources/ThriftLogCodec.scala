package graft.sources

import java.io.{ByteArrayOutputStream, DataInputStream}
import java.nio.{BufferUnderflowException, ByteBuffer}

/** Framed-thrift `LogMessage` codec — the reference's on-disk log format
  * (reference: singer-commons/src/main/thrift/singer_if.thrift:11-21, written
  * by thrift-logger clients via TFramedTransport + TBinaryProtocol,
  * reference: reader/ThriftReader.java:42-141).
  *
  * Wire format (public Apache Thrift binary protocol):
  *   frame   := i32 length, struct
  *   struct  := (field)* stop
  *   field   := byte type, i16 id, value
  *   binary  := i32 length, bytes      (type 11)
  *   i64     := 8 bytes big-endian     (type 10)
  *
  * LogMessage fields: 1=key(binary,optional), 2=message(binary,required),
  * 3=timestampInNanos(i64,optional), 4=checksum(i64,optional).
  *
  * Implemented directly on ByteBuffer — no thrift library dependency, no
  * per-record object churn beyond the emitted arrays.
  */
object ThriftLogCodec {

  final val TStop: Byte = 0
  final val TBool: Byte = 2
  final val TByte: Byte = 3
  final val TDouble: Byte = 4
  final val TI16: Byte = 6
  final val TI32: Byte = 8
  final val TI64: Byte = 10
  final val TBinary: Byte = 11
  final val TStruct: Byte = 12
  final val TMap: Byte = 13
  final val TSet: Byte = 14
  final val TList: Byte = 15

  /** One decoded record plus the byte offset of the NEXT frame — the
    * reference's `LogPosition.byteOffset` semantics
    * (reference: singer-commons/src/main/thrift/singer.thrift:21-27). */
  case class DecodedMessage(
      key: Array[Byte],
      message: Array[Byte],
      timestampNanos: java.lang.Long,
      checksum: java.lang.Long,
      nextByteOffset: Long)

  /** Encode one LogMessage as a framed-thrift record. */
  def encodeFrame(key: Array[Byte], message: Array[Byte],
      timestampNanos: Option[Long] = None, checksum: Option[Long] = None): Array[Byte] = {
    val body = new ByteArrayOutputStream(message.length + 64)
    def writeFieldHeader(tpe: Byte, id: Short): Unit = {
      body.write(tpe)
      body.write((id >> 8) & 0xFF); body.write(id & 0xFF)
    }
    def writeI32(v: Int): Unit = {
      body.write((v >> 24) & 0xFF); body.write((v >> 16) & 0xFF)
      body.write((v >> 8) & 0xFF); body.write(v & 0xFF)
    }
    def writeI64(v: Long): Unit = { writeI32((v >> 32).toInt); writeI32(v.toInt) }
    if (key != null) {
      writeFieldHeader(TBinary, 1); writeI32(key.length); body.write(key)
    }
    writeFieldHeader(TBinary, 2); writeI32(message.length); body.write(message)
    timestampNanos.foreach { ts => writeFieldHeader(TI64, 3); writeI64(ts) }
    checksum.foreach { c => writeFieldHeader(TI64, 4); writeI64(c) }
    body.write(TStop)
    val payload = body.toByteArray
    val out = ByteBuffer.allocate(4 + payload.length)
    out.putInt(payload.length).put(payload)
    out.array()
  }

  /** Decode all complete frames from `bytes` starting at `startOffset` into
    * the buffer. Tolerates a trailing partial frame (in-progress append) by
    * stopping; frames whose payload exceeds `maxMessageBytes` are skipped,
    * not fatal — the reference's oversize-drop behavior
    * (reference: reader/ThriftLogFileReader.java:80-87,148-163). */
  def decodeFrames(bytes: Array[Byte], startOffset: Long = 0L,
      maxMessageBytes: Int = Int.MaxValue): Iterator[DecodedMessage] = {
    val buf = ByteBuffer.wrap(bytes)
    buf.position(math.min(startOffset, bytes.length.toLong).toInt)
    decoded(new FrameInput {
      def offset: Long = buf.position()
      def remaining: Long = buf.remaining()
      def readInt(): Int = buf.getInt
      def skip(n: Int): Unit = buf.position(buf.position() + n)
      def body(n: Int): ByteBuffer = { val b = buf.slice(buf.position(), n); skip(n); b }
    }, maxMessageBytes)
  }

  /** The same frames from `rangeLen` bytes of a stream positioned at byte
    * `startOffset` of its file (`nextByteOffset` stays file-absolute). Only
    * the current frame is materialized; an oversize frame is skipped unread. */
  def decodeFrames(in: DataInputStream, startOffset: Long, rangeLen: Long,
      maxMessageBytes: Int): Iterator[DecodedMessage] =
    decoded(streamInput(in, startOffset, rangeLen), maxMessageBytes)

  /** The file-absolute end of every WHOLE frame in `rangeLen` bytes of a
    * stream positioned at byte `startOffset`, oversize and malformed frames
    * included — the record boundaries graft-tail commits at. Bodies are
    * skipped unread. A negative length header is corruption, never a torn
    * append (all four of its bytes are there): it throws
    * [[CorruptFrameException]] rather than ending the walk, which would
    * stall the file at that header forever. */
  def frameEnds(in: DataInputStream, startOffset: Long, rangeLen: Long): Iterator[Long] = {
    val input = streamInput(in, startOffset, rangeLen)
    frames(input, off => throw new CorruptFrameException(off)).map { len =>
      input.skip(len); input.offset
    }
  }

  /** A frame header at file offset `offset` holds a negative length. */
  class CorruptFrameException(val offset: Long)
      extends java.io.IOException(s"corrupt thrift frame header at byte $offset: negative length")

  /** What the frame loop reads: an in-memory buffer (frames decode in
    * place, uncopied) or a bounded stream. */
  private trait FrameInput {
    def offset: Long // absolute offset of the next unread byte
    def remaining: Long
    def readInt(): Int
    def skip(n: Int): Unit
    def body(n: Int): ByteBuffer // the next `n` bytes as their own buffer
  }

  private def streamInput(in: DataInputStream, startOffset: Long, rangeLen: Long): FrameInput = {
    var consumed = 0L
    new FrameInput {
      def offset: Long = startOffset + consumed
      def remaining: Long = rangeLen - consumed
      def readInt(): Int = { consumed += 4; in.readInt() }
      def skip(n: Int): Unit = { consumed += n; in.skipNBytes(n) }
      def body(n: Int): ByteBuffer = {
        val b = new Array[Byte](n)
        in.readFully(b)
        consumed += n
        ByteBuffer.wrap(b)
      }
    }
  }

  /** The one frame loop: the body length of each WHOLE frame, read from its
    * header, stopping at a partial tail or at a negative length header,
    * whose offset goes to `onCorrupt` first. The caller consumes the body
    * before asking for the next frame. */
  private def frames(in: FrameInput, onCorrupt: Long => Unit = _ => ()): Iterator[Int] =
    Iterator.continually(
      if (in.remaining < 4) -1
      else { val len = in.readInt(); if (len < 0) onCorrupt(in.offset - 4); len })
      .takeWhile(len => len >= 0 && len <= in.remaining)

  /** Decoded messages: an oversize frame is skipped, and a malformed
    * struct (required message missing, or fields overrunning their frame)
    * drops that frame only — the length header keeps the loop aligned on
    * the next one. */
  private def decoded(in: FrameInput, maxMessageBytes: Int): Iterator[DecodedMessage] =
    frames(in).flatMap { len =>
      if (len > maxMessageBytes) { in.skip(len); None }
      else try Option(decodeStruct(in.body(len), in.offset))
      catch { case _: BufferUnderflowException | _: IllegalArgumentException => None }
    }

  private def decodeStruct(buf: ByteBuffer, nextByteOffset: Long): DecodedMessage = {
    var key: Array[Byte] = null
    var message: Array[Byte] = null
    var ts: java.lang.Long = null
    var crc: java.lang.Long = null
    var done = false
    while (!done && buf.hasRemaining) {
      val tpe = buf.get()
      if (tpe == TStop) done = true
      else {
        val id = buf.getShort
        (tpe, id) match {
          case (TBinary, 1) => key = readBinary(buf)
          case (TBinary, 2) => message = readBinary(buf)
          case (TI64, 3) => ts = buf.getLong
          case (TI64, 4) => crc = buf.getLong
          case _ => skip(buf, tpe)
        }
      }
    }
    if (message == null) null // malformed: required field missing — drop
    else DecodedMessage(key, message, ts, crc, nextByteOffset)
  }

  private def readBinary(buf: ByteBuffer): Array[Byte] = {
    val len = buf.getInt
    if (len < 0 || len > buf.remaining()) throw new BufferUnderflowException
    val out = new Array[Byte](len)
    buf.get(out)
    out
  }

  private def skip(buf: ByteBuffer, tpe: Byte): Unit = tpe match {
    case TBool | TByte => buf.position(buf.position() + 1)
    case TI16 => buf.position(buf.position() + 2)
    case TI32 => buf.position(buf.position() + 4)
    case TI64 | TDouble => buf.position(buf.position() + 8)
    case TBinary => buf.position(buf.position() + buf.getInt)
    case TStruct =>
      var done = false
      while (!done) {
        val t = buf.get()
        if (t == TStop) done = true else { buf.getShort; skip(buf, t) }
      }
    case TList | TSet =>
      val elemType = buf.get(); val n = buf.getInt
      var i = 0; while (i < n) { skip(buf, elemType); i += 1 }
    case TMap =>
      val kt = buf.get(); val vt = buf.get(); val n = buf.getInt
      var i = 0; while (i < n) { skip(buf, kt); skip(buf, vt); i += 1 }
    case _ => throw new IllegalArgumentException(s"unknown thrift type $tpe")
  }
}
