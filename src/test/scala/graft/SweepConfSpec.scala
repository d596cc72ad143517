package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the SPARK_GRAFT_CONF sweep-knob parser that `Session` applies
  * to every entry point: the ten-axis correctness matrix and any axis
  * timing both ride this one function, so a silent parse change would
  * quietly run the PLAIN axis while claiming a sweep. */
class SweepConfSpec extends AnyFunSuite {

  test("parseConf splits entries on ';' and key=value on the FIRST '='") {
    assert(Session.parseConf(None) === Seq.empty)
    assert(Session.parseConf(Some("")) === Seq.empty)
    assert(Session.parseConf(Some("a=1")) === Seq("a" -> "1"))
    assert(Session.parseConf(Some("a=1;b=x yz; c = 2 ")) ===
      Seq("a" -> "1", "b" -> "x yz", "c" -> "2"))
    // '=' inside the VALUE stays in the value (first-'=' split)
    assert(Session.parseConf(Some("spark.x.extra=k=v")) ===
      Seq("spark.x.extra" -> "k=v"))
    // empty segments (trailing/doubled ';') are ignored
    assert(Session.parseConf(Some(";a=1;;")) === Seq("a" -> "1"))
  }

  test("parseConf fails fast naming a malformed token") {
    val e = intercept[IllegalArgumentException] {
      Session.parseConf(Some("a=1;oops;b=2"))
    }
    assert(e.getMessage.contains("oops"), e.getMessage)
    // '=key' (empty key) is malformed too, not a silent empty-string key
    val e2 = intercept[IllegalArgumentException] {
      Session.parseConf(Some("=v"))
    }
    assert(e2.getMessage.contains("=v"), e2.getMessage)
  }
}
