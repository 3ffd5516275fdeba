package graft

import org.scalatest.funsuite.AnyFunSuite

class BundledResourceSpec extends AnyFunSuite {

  test("a shipped resource reads whole") {
    assert(BundledResource.lines("/graft/lang/time/en/timezones.csv").next()
      .nonEmpty)
  }

  test("a missing resource throws and names the path") {
    val path = "/graft/lang/time/xx/timezones.csv"
    val e = intercept[IllegalStateException](BundledResource.text(path))
    assert(e.getMessage.contains(path))
  }
}
