package graft

import scala.util.Random
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.functions._
import graft.functions.MojibakeRepairExpr

/** Mojibake repair: single/double encoding, cp1252 specials, C1-gap
  * bytes, and the conservative identity on clean text. */
class MojibakeSpec extends SparkSpec {
  import spark.implicits._

  private def fix(ss: String*): Seq[String] =
    ss.toDF("t").select(MojibakeRepairExpr(col("t")))
      .collect().map(_.getString(0)).toSeq

  test("classic latin-1 mojibake repairs") {
    assert(fix("cafÃ©") == Seq("café"))
    assert(fix("ZÃ¼rich ist schÃ¶n") ==
      Seq("Zürich ist schön"))
  }

  test("cp1252 specials repair: curly quote, dash, ellipsis") {
    // ’ = E2 80 99 read as cp1252 -> â € ™
    assert(fix("itâ€™s") == Seq("it’s"))
    // — = E2 80 94 read as cp1252 -> â € ”
    assert(fix("aâ€”b") == Seq("a—b"))
    // … = E2 80 A6 -> â € ¦
    assert(fix("waitâ€¦") == Seq("wait…"))
  }

  test("C1-gap byte (0x9D) rides the identity branch: left quote pair") {
    // “ = E2 80 9C -> â € œ ; ” = E2 80 9D -> â € <U+009D>
    assert(fix("â€œqâ€") ==
      Seq("“q”"))
  }

  test("double encoding repairs to the fixpoint") {
    // e-acute twice-encoded is bytes C3 83 C2 A9; a latin-1 reader
    // shows the invisible C1 control u0083, a cp1252 reader shows the
    // florin sign - both must collapse through two rounds
    assert(fix("caf" + "\u00C3\u0083\u00C2\u00A9") == Seq("café"))
    assert(fix("cafÃƒÂ©") == Seq("café"))
  }

  test("clean text is untouched") {
    val clean = Seq(
      "plain ascii stays",
      "café correctly encoded",      // é alone is invalid UTF-8 bytes
      "真正の unicode",       // CJK has no cp1252 byte -> identity
      "naïve résumé")
    assert(fix(clean: _*) == clean)
  }

  test("nulls and empties pass through") {
    val r = Seq[(java.lang.Long, String)]((1L, null), (2L, ""))
      .toDF("id", "t")
      .select(MojibakeRepairExpr(col("t"))).collect()
    assert(r(0).isNullAt(0) && r(1).getString(0) == "")
  }

  private def u(s: String) = UTF8String.fromString(s)

  test("mojibake repair is total, idempotent-safe and never lengthens") {
    val rnd = new Random(20260816L)
    for (_ <- 1 to 400) {
      val len = 1 + rnd.nextInt(120)
      val sb = new StringBuilder
      for (_ <- 0 until len) {
        rnd.nextInt(5) match {
          case 0 => sb.append((32 + rnd.nextInt(95)).toChar)       // ascii
          case 1 => sb.append((0x80 + rnd.nextInt(0x80)).toChar)   // latin1 high
          case 2 => sb.append(Seq('€', '’', '™',
            'Œ', '˜')(rnd.nextInt(5)))                   // cp1252 specials
          case 3 => sb.append((0x100 + rnd.nextInt(0x3000)).toChar) // genuine unicode
          case _ => sb.append(Seq('Ã', 'Â', 'â')(rnd.nextInt(3)))
        }
      }
      val in = sb.toString
      val out = graft.functions.MojibakeRepairImpl.repair(u(in)).toString
      assert(out.length <= in.length, s"repair lengthened: $in -> $out")
      // a second pass over already-repaired text must also be total
      val out2 = graft.functions.MojibakeRepairImpl.repair(u(out)).toString
      assert(out2.length <= out.length)
    }
  }
}
