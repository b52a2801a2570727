package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import ProtoLogCodec._

/** Codec semantics lifted from the reference wire format
  * (logsqlite `src/entry.proto:5-17`, `src/logger.rs:84-131`).
  */
class ProtoLogCodecSpec extends AnyFunSuite with graft.PropSpec {

  private val genEntry: Gen[LogEntry] = for {
    source <- Gen.oneOf("stdout", "stderr", "")
    ts <- Gen.chooseNum(0L, Long.MaxValue / 2)
    line <- Gen.containerOf[Array, Byte](Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
    partial <- Gen.oneOf(true, false)
    meta <- Gen.option(for {
      last <- Gen.oneOf(true, false)
      id <- Gen.alphaNumStr.map(_.take(12))
      ord <- Gen.chooseNum(0, 100)
    } yield PartialMeta(last, id, ord))
  } yield LogEntry(source, ts, line, partial, meta)

  test("decode ∘ encode is identity on semantic fields") {
    forSamples(genEntry) { e =>
      val back = decode(encode(e))
      assert(back.source === e.source)
      assert(back.timeNano === e.timeNano)
      assert(back.line.toSeq === e.line.toSeq)
      assert(back.partial === e.partial)
      // proto3 presence: default-valued meta fields round-trip as defaults
      (e.partialMeta, back.partialMeta) match {
        case (Some(m), Some(b)) =>
          assert(b.last === m.last && b.id === m.id && b.ordinal === m.ordinal)
        case (Some(m), None) =>
          assert(!m.last && m.id.isEmpty && m.ordinal === 0)
        case (None, b) => assert(b.isEmpty)
      }
    }
  }

  test("encode writes the proto3 wire bytes: defaults omitted, int32 sign-extended") {
    def bytes(xs: Int*): Seq[Byte] = xs.map(_.toByte)
    assert(encode(LogEntry("stdout", 300L, "hi".getBytes, partial = true,
      Some(PartialMeta(last = true, "p", 2)))).toSeq === bytes(
      0x0A, 6, 's', 't', 'd', 'o', 'u', 't', // source
      0x10, 0xAC, 0x02,                      // time_nano = 300
      0x1A, 2, 'h', 'i',                     // line
      0x20, 1,                               // partial
      0x2A, 7, 0x08, 1, 0x12, 1, 'p', 0x18, 2)) // {last, id, ordinal}
    assert(encode(LogEntry("", 0L, Array.emptyByteArray, partial = false, None)).isEmpty)
    assert(encode(LogEntry("", 0L, Array.emptyByteArray, partial = false,
      Some(PartialMeta(last = false, "", -1)))).toSeq ===
      bytes(0x2A, 11, 0x18) ++ Seq.fill(9)(0xFF.toByte) ++ bytes(0x01))
  }

  test("frame/deframe round-trips a concatenated stream") {
    forSamples(Gen.listOfN(5, genEntry), n = 40) { entries =>
      val stream = entries.map(e => frame(encode(e))).foldLeft(Array.emptyByteArray)(_ ++ _)
      val back = deframe(stream).map(decode).toList
      assert(back.map(_.timeNano) === entries.map(_.timeNano))
      assert(back.map(_.line.toSeq) === entries.map(_.line.toSeq))
    }
  }

  test("decode skips unknown fields (forward compatibility)") {
    // field 9, varint wire type, then a normal time_nano field
    val unknown = Array[Byte]((9 << 3).toByte, 0x05) // field 9 = 5
    val e = LogEntry("stdout", 42L, "x".getBytes, partial = false, None)
    val withUnknown = unknown ++ encode(e)
    assert(decode(withUnknown).timeNano === 42L)
  }

  test("deframe tolerates a truncated tail (torn shipper write)") {
    val e1 = LogEntry("stdout", 1L, "full".getBytes, partial = false, None)
    val whole = frame(encode(e1))
    val torn = whole ++ frame(encode(e1)).dropRight(3) // second frame cut short
    val back = deframe(torn).toList
    assert(back.size === 1)
    assert(decode(back.head).timeNano === 1L)
    assert(deframe(Array[Byte](0, 0)).isEmpty)         // not even a length
  }

  test("framing is u32 big-endian length prefix (src/logger.rs:90-104)") {
    val msg = Array[Byte](1, 2, 3)
    val framed = frame(msg)
    assert(framed.take(4).toSeq === Seq[Byte](0, 0, 0, 3))
    assert(framed.drop(4).toSeq === msg.toSeq)
  }
}
