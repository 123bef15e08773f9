package graft

import org.scalatest.funsuite.AnyFunSuite

class CacheLogSpec extends AnyFunSuite {

  test("esc escapes quotes, backslashes and control characters for JSON") {
    assert(CacheLog.esc("plain") == "plain")
    assert(CacheLog.esc("a\"b\\c") == "a\\\"b\\\\c")
    assert(CacheLog.esc("t\tn\n\u0001") == "t\\u0009n\\u000a\\u0001")
    assert(CacheLog.esc("é ü") == "é ü") // non-ASCII passes through
  }
}
