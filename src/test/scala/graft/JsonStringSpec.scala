package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one JSON string escaper behind `oracle_sql.json` and
  * `target/bench.json`: an unescaped control character makes the whole
  * file unparseable, which zeroes every graded row at once. */
class JsonStringSpec extends AnyFunSuite {

  test("jsonString escapes quote, backslash, \\n, \\r, \\t and control characters") {
    val raw = "a\"b\\c\nd\re\tf\u0001g"
    assert(Verify.jsonString(raw) == "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001g\"")
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Verify.jsonString(raw), classOf[String]) == raw)
  }
}
