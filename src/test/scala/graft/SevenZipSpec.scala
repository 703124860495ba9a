package graft

import graft.ops.SevenZip
import org.scalatest.funsuite.AnyFunSuite

/** 7z archive walk: round trip, header-CRC quarantine (torn and
  * flipped archives), the member/total bomb budgets, and empty
  * archives. */
class SevenZipSpec extends AnyFunSuite {

  private val members = Seq(
    "Posts.xml" -> ("<posts><row Id=\"1\" Body=\"hello\"/></posts>" * 20).getBytes("UTF-8"),
    "Users.xml" -> ("<users><row Id=\"2\"/></users>" * 10).getBytes("UTF-8"),
    "dir/readme.txt" -> "nested member".getBytes("UTF-8"))

  /** `archive` with its LZMA2 coder's one-byte dictionary property set to
    * `prop` (a (2 | prop & 1) << (prop / 2 + 11)-byte dictionary) and both
    * header CRCs recomputed. */
  private def withDictProp(archive: Array[Byte], prop: Int): Array[Byte] = {
    val a = archive.clone()
    val le = java.nio.ByteBuffer.wrap(a).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val start = 32 + le.getLong(12).toInt
    val end = start + le.getLong(20).toInt
    // coder flags 0x21 (one-byte id, has properties), id 0x21 (LZMA2),
    // one property byte
    val at = (start until end - 3).find(i => a(i) == 0x21 && a(i + 1) == 0x21 && a(i + 2) == 1)
      .get + 3
    a(at) = prop.toByte
    def crc(from: Int, until: Int): Int = {
      val c = new java.util.zip.CRC32
      c.update(a, from, until - from)
      c.getValue.toInt
    }
    le.putInt(28, crc(start, end)) // next-header CRC
    le.putInt(8, crc(12, 32))      // start-header CRC
    a
  }

  test("round trip: names, sizes, and content survive LZMA2") {
    val a = SevenZip.encode(members)
    val ms = SevenZip.members(a).get
    assert(ms.map(_.name) == members.map(_._1))
    ms.zip(members).foreach { case (got, (_, want)) =>
      assert(got.size == want.length)
      assert(java.util.Arrays.equals(got.data, want))
    }
  }

  test("torn and flipped archives quarantine; garbage and null fail closed") {
    val a = SevenZip.encode(members)
    for (cut <- Seq(a.length - 4, a.length / 2, 20))
      assert(SevenZip.members(java.util.Arrays.copyOf(a, cut)).isEmpty, s"cut $cut")
    val flip = a.clone()
    // offset 34 is inside the packed LZMA2 stream (the signature header
    // occupies the first 32 bytes) — a mid-file flip can land in slack
    flip(34) = (flip(34) ^ 0x20).toByte
    // 7z headers carry CRCs: a mid-archive flip must quarantine (either
    // header parse or member extraction), never return wrong bytes
    SevenZip.members(flip) match {
      case None => ()
      case Some(ms) =>
        assert(!ms.zip(members).forall { case (g, (_, w)) =>
          g.data != null && java.util.Arrays.equals(g.data, w) },
          "flip silently returned the original archive")
    }
    assert(SevenZip.members(null).isEmpty)
    assert(SevenZip.members("not a seven zip archive at all".getBytes).isEmpty)
    // a header declaring a huge LZMA2 dictionary must quarantine via the
    // decoder memory limit, never OutOfMemoryError the task (512 MiB
    // declared dictionary, far past the 256 MiB decode cap). The archive
    // is encoded with a 4 KiB dictionary and then declares 512 MiB, so
    // building it allocates no large encoder; an 8 MiB declaration of the
    // same bytes still extracts, so only the cap quarantines it.
    val small = SevenZip.encode(Seq("a.txt" -> "x".getBytes), preset = 0, dictSize = 4096)
    assert(SevenZip.members(withDictProp(small, 22)).exists(_.map(_.name) == Seq("a.txt")))
    val bigDict = withDictProp(small, 34)
    assert(SevenZip.members(bigDict).isEmpty, "past-cap dictionary must quarantine")

  }

  test("budgets: oversized members keep metadata with null payload; caps fail closed") {
    val big = SevenZip.encode(Seq("big.bin" -> new Array[Byte](100000),
      "small.txt" -> "ok".getBytes))
    val ms = SevenZip.members(big, maxMemberBytes = 1024).get
    assert(ms.map(_.name) == Seq("big.bin", "small.txt"))
    assert(ms(0).data == null && ms(0).size == 100000L)
    assert(new String(ms(1).data) == "ok")
    assert(SevenZip.members(big, maxMembers = 1).isEmpty)
    // an oversized LAST member is still read through (no later entry's
    // read would touch its bytes), so damage inside it quarantines
    val last = SevenZip.encode(Seq("big.bin" -> Array.tabulate(4096)(i => (i * 31 + i / 7).toByte)),
      preset = 0, dictSize = 4096)
    assert(SevenZip.members(last, maxMemberBytes = 1024).exists(_.map(_.data) == Seq(null)))
    val packed = java.nio.ByteBuffer.wrap(last).order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong(12)
    val damaged = last.clone()
    damaged(32 + packed.toInt / 2) = (damaged(32 + packed.toInt / 2) ^ 0x20).toByte
    assert(SevenZip.members(damaged, maxMemberBytes = 1024).isEmpty,
      "damage inside an oversized last member must quarantine")
    // valid empty archive → Some(empty)
    assert(SevenZip.members(SevenZip.encode(Seq.empty)).exists(_.isEmpty))
  }
}
