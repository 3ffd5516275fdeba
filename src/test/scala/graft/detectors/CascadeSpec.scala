package graft.detectors

import java.util.regex.Pattern
import org.scalatest.funsuite.AnyFunSuite

/** The claim primitive under the rule-based detectors, one row per
  * boundary rule, and the cascade's ordering guarantees.
  */
class CascadeSpec extends AnyFunSuite {
  import CascadeSpec.R

  private def cascade(text: String, boundary: String => Pattern = Cascade.literal) =
    new Cascade[R](text, "_t_", boundary, _.original)

  test("claim: the first occurrence under each boundary rule") {
    // (rule, boundary, text, span, position or -1, text after the claim)
    val rows: Seq[(String, String => Pattern, String, String, Int, String)] = Seq(
      ("literal", Cascade.literal, "55 and 5", "5", 0, "_t_5 and 5"),
      ("literal", Cascade.literal, "at 5 today", "6", -1, "at 5 today"),
      ("word", Cascade.wordBounded, "55 and 5", "5", 7, "55 and _t_"),
      ("word", Cascade.wordBounded, "chat 9", "at 9", -1, "chat 9"),
      ("span", SpanBoundary.pattern, "55,5 and 5", "5", 3, "55,_t_ and 5"),
      ("span", SpanBoundary.pattern, "a5 5", "5", 3, "a5 _t_"),
      // the reason SpanBoundary exists: `\b` fails after the final vowel
      // sign of सौ, the explicit character classes do not
      ("word", Cascade.wordBounded, "ढाई सौ रुपये", "सौ", -1, "ढाई सौ रुपये"),
      ("span", SpanBoundary.pattern, "ढाई सौ रुपये", "सौ", 4, "ढाई _t_ रुपये"))
    for ((rule, boundary, text, span, at, after) <- rows) {
      val c = cascade(text, boundary)
      assert(c.claim(span) == at, s"$rule: $span in $text")
      assert(c.text == after, s"$rule: $span in $text")
    }
  }

  test("of two occurrences, the first is claimed, then the second") {
    val c = cascade("today or today", Cascade.wordBounded)
    assert(c.run(Pattern.compile("today"))(m => Some(R(m.start(), m.group()))) == 2)
    assert(c.text == "_t_ or _t_")
    assert(c.results == Seq(R(0, "today"), R(9, "today")))
  }

  test("a span an earlier claim removed yields no result, but counts as found") {
    val c = cascade("meet at 5 pm")
    // one match, two results over overlapping spans: the second is gone
    // once the first is claimed
    assert(c.run(Pattern.compile("5 pm"))(_ => Seq(R(1, "at 5 pm"), R(2, "5 pm"))) == 2)
    assert(c.results == Seq(R(1, "at 5 pm")))
    // a later sub-detector never sees the claimed span
    assert(c.run(Pattern.compile("5"))(m => Some(R(3, m.group()))) == 0)
  }

  test("a shared span's results keep their insertion order at one position") {
    val c = cascade("from 2nd to 5th, then 1st")
    c.runShared(Pattern.compile("2nd to 5th"))(m =>
      Some(Seq(R(3, m.group()), R(1, m.group()), R(2, m.group()))))
    c.run(Pattern.compile("1st"))(m => Some(R(0, m.group())))
    c.run(Pattern.compile("from"))(m => Some(R(9, m.group())))
    assert(c.results.map(_.v) == Seq(9, 3, 1, 2, 0))
  }

  test("find matches the padded text and claims nothing") {
    val c = cascade("first week of jan")
    val p = Pattern.compile(raw"(week of [a-z]+)\s")
    assert(c.find(p)(m => Some(m.group(1))).isEmpty)
    assert(c.find(p, pad = " ")(m => Some(m.group(1))) == Seq("week of jan"))
    assert(c.text == "first week of jan" && c.results.isEmpty)
  }
}

object CascadeSpec {
  final case class R(v: Int, original: String)
}
