package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.{Graft, SparkSpec}
import graft.functions.ProtoLogCodec
import graft.functions.ProtoLogCodec.{LogEntry, PartialMeta}

/** Each log line is stored once: decode keeps `message` only where
  * [[LogIngest.frameOf]] cannot rebuild it from the decoded columns, and
  * every reader is served the encoded, newline-appended entry.
  */
class MessageStorageSpec extends SparkSpec {

  private val t0 = 1700000000000000000L // ns

  private def tmp(): String = Files.createTempDirectory("graft-stored").toString

  private def framed(messages: Seq[Array[Byte]]): Array[Byte] =
    messages.map(ProtoLogCodec.frame).foldLeft(Array.emptyByteArray)(_ ++ _)

  private def withNl(e: LogEntry): LogEntry = e.copy(line = e.line :+ '\n'.toByte)

  private def frameOf(r: LogIngest.LogRow): Array[Byte] =
    LogIngest.frameOf(r.source, r.ts_nano, r.line.getBytes(UTF_8), r.partial, r.partial_id.orNull,
      r.partial_last.map(java.lang.Boolean.valueOf).orNull,
      r.partial_ordinal.map(Integer.valueOf).orNull)

  private def ascii(i: Int): LogEntry =
    LogEntry(if (i % 2 == 0) "stdout" else "stderr", t0 + i * 1000000000L,
      s"line $i".getBytes(UTF_8), partial = false, None)

  /** Stage `messages` as one burst and run the ingest to completion. */
  private def ingest(staging: String, table: String, ckpt: String, burst: String,
      messages: Seq[Array[Byte]]): Unit = {
    val dir = Paths.get(staging, "c1")
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"$burst.pblog"), framed(messages))
    LogIngest.start(spark, staging, table, ckpt, Trigger.AvailableNow())
      .awaitTermination(60000)
  }

  private def served(g: Graft, tail: Long = 0): Seq[Seq[Byte]] =
    g.frames(g.readLogs(Some("c1"), tail = tail)).map(_._2.toSeq).toSeq

  private def storedNonNull(table: String): Long =
    LogIngest.storedTable(spark, table).where(col("message").isNotNull).count()

  test("frameOf rebuilds every decoded row's frame: partial metadata, empty source, time 0, unknown fields") {
    val entries = Seq(
      LogEntry("stdout", t0, "part a".getBytes(UTF_8), partial = true,
        Some(PartialMeta(last = false, "p1", 0))),
      LogEntry("stderr", t0 + 1, "part b".getBytes(UTF_8), partial = true,
        Some(PartialMeta(last = true, "p1", 3))),
      LogEntry("stdout", t0 + 2, "default meta".getBytes(UTF_8), partial = true,
        Some(PartialMeta(last = false, "", 0))),
      LogEntry("", t0 + 3, "empty source".getBytes(UTF_8), partial = false, None),
      LogEntry("stdout", 0L, "time zero".getBytes(UTF_8), partial = false, None),
      LogEntry("stdout", t0 + 4, Array.emptyByteArray, partial = false, None),
      LogEntry("stdout", t0 + 5, "unicode é ✓".getBytes(UTF_8), partial = false, None))
    // unknown top-level fields (9: varint, 10: bytes) and an unknown field
    // (4: varint) inside the partial metadata
    val unknownMeta = Array[Byte](0x08, 0x01, 0x12, 0x02, 0x69, 0x64, 0x18, 0x02, 0x20, 0x07) // id = "id"
    val withUnknown = ProtoLogCodec.encode(LogEntry("stdout", t0 + 6,
      "unknown fields".getBytes(UTF_8), partial = true, None)) ++
      Array[Byte](0x48, 0x05, 0x52, 0x02, 0x78, 0x79, 0x2A, unknownMeta.length.toByte) ++
      unknownMeta
    val withUnknownEntry = LogEntry("stdout", t0 + 6, "unknown fields".getBytes(UTF_8),
      partial = true, Some(PartialMeta(last = true, "id", 2)))

    val rows = LogIngest.decodeBurst("c1",
      framed(entries.map(ProtoLogCodec.encode) :+ withUnknown)).toSeq
    assert(rows.size === entries.size + 1)
    rows.zip(entries :+ withUnknownEntry).foreach { case (r, e) =>
      val want = ProtoLogCodec.encode(withNl(e))
      assert(frameOf(r).toSeq === want.toSeq, r.line)
      assert(r.message == null, r.line)
    }
    // partial rows carry their metadata columns; the others none
    assert(rows.map(_.partial_ordinal) ===
      Seq(Some(0), Some(3), Some(0), None, None, None, None, Some(2)))

    // a line that is not valid UTF-8 loses bytes in the `line` column, so
    // its columns do not rebuild the frame and decode must keep it
    val binary = LogEntry("stdout", t0, Array[Byte](-1, -2, 0x78), partial = false, None)
    val row = LogIngest.decodeBurst("c1", framed(Seq(ProtoLogCodec.encode(binary)))).next()
    assert(row.message.toSeq === ProtoLogCodec.encode(withNl(binary)).toSeq)
    assert(frameOf(row).toSeq !== row.message.toSeq)
  }

  test("an ASCII ingest stores no message; non-UTF-8 lines keep theirs and serve it byte-for-byte") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    val badLine = LogEntry("stdout", t0 + 20 * 1000000000L,
      Array[Byte](0x61, -61, 0x28, 0x62), partial = false, None) // C3 28: a broken pair
    val badSource = ProtoLogCodec.encode(ascii(21)).drop(8) // drop `source = "stderr"`
    val badSourceMsg = Array[Byte](0x0A, 0x02, -61, 0x28) ++ badSource
    val messages = (0 until 20).map(i => ProtoLogCodec.encode(ascii(i))) ++
      Seq(ProtoLogCodec.encode(badLine), badSourceMsg)

    ingest(staging, table, ckpt, "b0", (0 until 20).map(i => ProtoLogCodec.encode(ascii(i))))
    assert(storedNonNull(table) === 0)
    ingest(staging, table, ckpt, "b1", messages.drop(20))
    // only the broken line keeps a stored frame: the codec decodes `source`
    // to a string, so the stored frame of a broken source was re-encoded
    // from that string to begin with, and frameOf rebuilds it exactly
    assert(storedNonNull(table) === 1)

    // decode stores a frame for the broken line only
    assert(LogIngest.decodeBurst("c1", framed(messages)).map(_.message != null).toSeq ===
      (0 until 22).map(_ == 20))
    // served = each entry encoded with its newline, byte-for-byte
    val want = messages.map(m => ProtoLogCodec.encode(withNl(ProtoLogCodec.decode(m))).toSeq)
    val g = new Graft(spark, staging, table, ckpt)
    assert(served(g) === want)
    assert(served(g, tail = 2) === want.takeRight(2))
    assert(want(20) === ProtoLogCodec.encode(withNl(badLine)).toSeq)
    // Graft.logs serves the same frames
    assert(g.logs.orderBy("seq").select("message").collect().map(_.getAs[Array[Byte]](0).toSeq)
      .toSeq === want)
  }

  test("retention and compaction keep the compact form; an old-form table serves the same frames") {
    val (staging, table, ckpt) = (tmp(), tmp() + "/logs", tmp() + "/ckpt")
    val all = (0 until 60).map(ascii)
    // six bursts, six batches: six files in the one date partition
    all.grouped(10).zipWithIndex.foreach { case (es, b) =>
      ingest(staging, table, ckpt, s"b$b", es.map(ProtoLogCodec.encode))
    }
    val want = all.map(e => ProtoLogCodec.encode(withNl(e)).toSeq)
    val g = new Graft(spark, staging, table, ckpt)
    assert(served(g) === want)

    // the old form: the same rows with every frame stored
    val oldTable = tmp() + "/logs"
    g.logs.write.partitionBy("container_id", "date").parquet(oldTable)
    val gOld = new Graft(spark, staging, oldTable, tmp() + "/ckpt")
    assert(storedNonNull(oldTable) === 60)
    assert(served(gOld) === want)

    assert(g.compact() === 1)
    assert(g.cleanup(age = None, maxLines = Some(40L)).total === 1)
    assert(storedNonNull(table) === 0)
    assert(served(g) === want.takeRight(40))

    gOld.compact()
    assert(gOld.cleanup(age = None, maxLines = Some(30L)).total === 1)
    assert(storedNonNull(oldTable) === 30) // rewritten as stored
    assert(served(gOld) === want.takeRight(30))
  }
}
