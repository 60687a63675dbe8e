package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class ScaleSampleSpec extends AnyFunSuite {

  test("--gen refuses a K whose key shift passes 2^32, before any session is built") {
    // 43 copies at the 1e8 key stride shift keys past 2^32, which would
    // silently corrupt the packed u·2^32+v pair keys downstream.
    val e = intercept[IllegalArgumentException] {
      ScaleSample.main(Array("--gen", "no-such-src", "no-such-out", "43"))
    }
    assert(e.getMessage.contains("2^32"), e.getMessage)
  }
}
