package graft.props

import org.scalatest.funsuite.AnyFunSuite

class PropReportSpec extends AnyFunSuite {
  test("unpaired surrogates are escaped, pairs and other text kept") {
    assert(PropReport("*evil\uD83D*") == "*evil\\uD83D*")
    assert(PropReport("a\uDE00b\uD800") == "a\\uDE00b\\uD800")
    assert(PropReport("evil😀.com ü") == "evil😀.com ü")
  }
}
