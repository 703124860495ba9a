package graft

import graft.ops.{Codecs, Cpio}
import org.scalatest.funsuite.AnyFunSuite

/** cpio (newc) walk: round trip, quarantine, budgets, and the
  * RPM-payload shape (cpio inside a compressed member). */
class CpioSpec extends AnyFunSuite {

  private val members = Seq(
    "./usr/bin/tool" -> "#!/bin/sh\necho rpm\n".getBytes("UTF-8"),
    "./etc/conf" -> ("k=v\n" * 10).getBytes("UTF-8"))

  test("round trip: names, sizes, content; newc magic") {
    val a = Cpio.encode(members)
    assert(new String(a, 0, 6) == "070701") // newc magic
    val got = Cpio.members(a).get
    assert(got.map(_.name) == members.map(_._1))
    got.zip(members).foreach { case (g, (_, w)) =>
      assert(g.size == w.length && java.util.Arrays.equals(g.data, w))
    }
  }

  test("torn archives, garbage, nulls quarantine; budgets bind") {
    val a = Cpio.encode(members)
    // mid-member truncation must quarantine; a cut INSIDE the trailing
    // TRAILER!!! record (all real members complete) is recoverable and
    // keeps the full member set — cpio has no integrity data, so that
    // leniency is the library's documented EOF semantics
    for (cut <- Seq(a.length / 2, 7))
      assert(Cpio.members(java.util.Arrays.copyOf(a, cut)).isEmpty, s"cut $cut")
    assert(Cpio.members(java.util.Arrays.copyOf(a, a.length - 3))
      .exists(_.map(_.name) == members.map(_._1)))
    assert(Cpio.members(null).isEmpty)
    assert(Cpio.members("not a cpio archive".getBytes).isEmpty)
    val budget = Cpio.members(a, maxMemberBytes = 30).get
    assert(budget(0).data != null)
    assert(budget(1).data == null && budget(1).size == 40L)
    assert(Cpio.members(a, maxMembers = 1).isEmpty)
    assert(Cpio.members(Cpio.encode(Seq.empty)).exists(_.isEmpty))
  }

  test("memberStage: a row per member, marker row when empty, null struct when malformed") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq((1, Cpio.encode(members)), (2, Cpio.encode(Seq.empty)),
      (3, "not a cpio archive".getBytes)).toDF("id", "payload")
    val rows = Cpio.memberStage(df, "payload", "m")
      .selectExpr("id", "m IS NULL", "m.name", "m.size").collect()
      .map(r => (r.getInt(0), r.getBoolean(1), Option(r.getString(2)), Option(r.get(3))))
      .sortBy(r => (r._1, r._3))
    assert(rows.toSeq == Seq(
      (1, false, Some("./etc/conf"), Some(40L)), (1, false, Some("./usr/bin/tool"), Some(19L)),
      (2, false, None, None), (3, true, None, None)))
  }

  test("the RPM-payload shape: cpio through a compressed member decodes composed") {
    // modern RPM payloads are cpio.zstd (or .xz) — both codecs exist
    for (codec <- Seq[(Array[Byte] => Array[Byte], Array[Byte] => Option[Array[Byte]])](
        (Codecs.zstd(_, 3), Codecs.unzstd(_, 1 << 26)),
        (Codecs.xz(_, 0, 1 << 12), Codecs.unxz(_, 1 << 26)))) {
      val wrapped = codec._1(Cpio.encode(members))
      val back = codec._2(wrapped).flatMap(b => Cpio.members(b))
      assert(back.exists(ms => ms.map(_.name) == members.map(_._1)))
    }
  }
}
