package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

/** Codec for the Docker log-driver protobuf `LogEntry` frame — the wire
  * format the reference ingests (logsqlite `src/entry.proto:5-17`,
  * framed reader `src/logger.rs:84-131`):
  *
  * ```
  * message LogEntry {                      // entry.proto:5-11
  *   string source = 1;                    // "stdout"|"stderr"
  *   int64  time_nano = 2;
  *   bytes  line = 3;
  *   bool   partial = 4;
  *   PartialLogEntryMetadata partial_log_metadata = 5; // {last,id,ordinal}
  * }
  * ```
  * Frames are a u32 big-endian length prefix + the message bytes
  * (`src/logger.rs:90-104,126-128`).
  *
  * Hand-rolled varint walk (the proto is 5 flat fields; no spark-protobuf
  * jar ships in /opt/spark/jars). Used from the ingest path as a
  * deserializer inside `mapPartitions` — per-partition, allocation-light,
  * no driver involvement. The reference appends '\n' to every line before
  * storing (`src/logger.rs:123`); `decode` preserves the raw bytes and the
  * ingest layer applies that newline rule so byte fidelity is a storage
  * concern, not a codec one.
  */
object ProtoLogCodec {

  final case class PartialMeta(last: Boolean, id: String, ordinal: Int)
  final case class LogEntry(
      source: String,
      timeNano: Long,
      line: Array[Byte],
      partial: Boolean,
      partialMeta: Option[PartialMeta])

  // ---- varint primitives -------------------------------------------------

  private def readVarint(buf: ByteBuffer): Long = {
    var shift = 0
    var result = 0L
    var b = 0
    do {
      b = buf.get() & 0xFF
      result |= (b & 0x7FL) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    result
  }

  private def varintSize(v: Long): Int = {
    var n = 1
    var rest = v >>> 7
    while (rest != 0) { n += 1; rest >>>= 7 }
    n
  }

  /** Bytes of a length-delimited field of a field number below 16 (one
    * tag byte, the length varint, the payload).
    */
  private def bytesFieldSize(len: Int): Int = 1 + varintSize(len.toLong) + len

  /** Writer into an array sized exactly for the message, so encoding
    * makes one allocation and no copy.
    */
  private final class Out(size: Int) {
    val buf = new Array[Byte](size)
    private var pos = 0
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7FL) != 0) { buf(pos) = ((v & 0x7F) | 0x80).toByte; pos += 1; v >>>= 7 }
      buf(pos) = v.toByte
      pos += 1
    }
    def tag(field: Int, wire: Int): Unit = varint((field.toLong << 3) | wire)
    def bytesField(field: Int, b: Array[Byte]): Unit = {
      tag(field, 2); varint(b.length.toLong)
      System.arraycopy(b, 0, buf, pos, b.length)
      pos += b.length
    }
  }

  private def readBytes(buf: ByteBuffer): Array[Byte] = {
    val len = readVarint(buf).toInt
    val arr = new Array[Byte](len)
    buf.get(arr)
    arr
  }

  // ---- LogEntry message --------------------------------------------------

  def decode(message: Array[Byte]): LogEntry = {
    val buf = ByteBuffer.wrap(message)
    var source = ""
    var timeNano = 0L
    var line = Array.emptyByteArray
    var partial = false
    var meta: Option[PartialMeta] = None
    while (buf.hasRemaining) {
      val key = readVarint(buf)
      val field = (key >>> 3).toInt
      val wire = (key & 7).toInt
      (field, wire) match {
        case (1, 2) => source = new String(readBytes(buf), "UTF-8")
        case (2, 0) => timeNano = readVarint(buf)
        case (3, 2) => line = readBytes(buf)
        case (4, 0) => partial = readVarint(buf) != 0
        case (5, 2) => meta = Some(decodeMeta(readBytes(buf)))
        case (_, 0) => readVarint(buf) // skip unknown varint field
        case (_, 2) => readBytes(buf)  // skip unknown length-delimited field
        case _ => throw new IllegalArgumentException(
          s"unsupported wire type $wire for field $field")
      }
    }
    LogEntry(source, timeNano, line, partial, meta)
  }

  private def decodeMeta(bytes: Array[Byte]): PartialMeta = {
    val buf = ByteBuffer.wrap(bytes)
    var last = false
    var id = ""
    var ordinal = 0
    while (buf.hasRemaining) {
      val key = readVarint(buf)
      ((key >>> 3).toInt, (key & 7).toInt) match {
        case (1, 0) => last = readVarint(buf) != 0
        case (2, 2) => id = new String(readBytes(buf), "UTF-8")
        case (3, 0) => ordinal = readVarint(buf).toInt
        case (_, 0) => readVarint(buf)
        case (_, 2) => readBytes(buf)
        case (f, w) => throw new IllegalArgumentException(s"meta field $f wire $w")
      }
    }
    PartialMeta(last, id, ordinal)
  }

  def encode(e: LogEntry): Array[Byte] = {
    val source = e.source.getBytes(UTF_8)
    val meta = e.partialMeta.map(encodeMeta)
    val out = new Out(
      (if (source.nonEmpty) bytesFieldSize(source.length) else 0) +
      (if (e.timeNano != 0) 1 + varintSize(e.timeNano) else 0) +
      (if (e.line.nonEmpty) bytesFieldSize(e.line.length) else 0) +
      (if (e.partial) 2 else 0) +
      meta.fold(0)(m => bytesFieldSize(m.length)))
    if (source.nonEmpty) out.bytesField(1, source)
    if (e.timeNano != 0) { out.tag(2, 0); out.varint(e.timeNano) }
    if (e.line.nonEmpty) out.bytesField(3, e.line)
    if (e.partial) { out.tag(4, 0); out.varint(1) }
    meta.foreach(out.bytesField(5, _))
    out.buf
  }

  private def encodeMeta(m: PartialMeta): Array[Byte] = {
    val id = m.id.getBytes(UTF_8)
    val out = new Out(
      (if (m.last) 2 else 0) +
      (if (id.nonEmpty) bytesFieldSize(id.length) else 0) +
      (if (m.ordinal != 0) 1 + varintSize(m.ordinal.toLong) else 0))
    if (m.last) { out.tag(1, 0); out.varint(1) }
    if (id.nonEmpty) out.bytesField(2, id)
    if (m.ordinal != 0) { out.tag(3, 0); out.varint(m.ordinal.toLong) }
    out.buf
  }

  // ---- framing (u32 big-endian length prefix, src/logger.rs:90-104) ------

  def frame(message: Array[Byte]): Array[Byte] = {
    val out = ByteBuffer.allocate(4 + message.length)
    out.putInt(message.length)
    out.put(message)
    out.array()
  }

  /** Split a byte stream of concatenated frames into messages. A truncated
    * tail (shipper flushed mid-frame, or torn write) ends iteration cleanly
    * instead of throwing — mirroring the reference's tolerant framed reader,
    * which treats a short read as end-of-stream (`src/logger.rs:90-104`).
    */
  def deframe(stream: Array[Byte]): Iterator[Array[Byte]] = new Iterator[Array[Byte]] {
    private val buf = ByteBuffer.wrap(stream)
    def hasNext: Boolean =
      buf.remaining() >= 4 && {
        val len = buf.getInt(buf.position())
        len >= 0 && buf.remaining() - 4 >= len
      }
    def next(): Array[Byte] = {
      val len = buf.getInt()
      val arr = new Array[Byte](len)
      buf.get(arr)
      arr
    }
  }
}
