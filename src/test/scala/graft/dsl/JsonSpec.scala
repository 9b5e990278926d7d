package graft.dsl

import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("scalars, nesting, arrays, key order") {
    val v = Json.parse(
      """{"a": 1, "b": -2.5, "c": "x", "d": true, "e": null,
          "f": [1, "two", {"g": 3e2}], "h": {}}""")
      .asInstanceOf[Map[String, Any]]
    assert(v("a") == 1L && v("b") == -2.5 && v("c") == "x")
    assert(v("d") == true && v("e") == null)
    val f = v("f").asInstanceOf[Vector[Any]]
    assert(f(0) == 1L && f(1) == "two")
    assert(f(2).asInstanceOf[Map[String, Any]]("g") == 300.0)
    assert(v("h") == Map.empty)
  }

  test("string escapes including unicode") {
    // JSON document: {"s": "a\"b\\c\nA"} (built by concat so the
    // Scala lexer doesn't pre-process the \u escape)
    val js = "{\"s\": \"a\\\"b\\\\c\\n\\" + "u0041\"}"
    val v = Json.parse(js).asInstanceOf[Map[String, Any]]
    assert(v("s") == "a\"b\\c\nA")
  }

  test("quote round-trips quote, backslash and control characters") {
    val raw = "a\"b\\c\td\ne" + '\u0001'
    val quoted = Json.quote(raw)
    assert(!quoted.exists(_ < ' '), "a raw control character reached the output")
    assert(Json.parse(quoted) == raw)
    assert(Json.parse(s"{${Json.quote("k\t")}: $quoted}") == Map("k\t" -> raw))
  }

  test("malformed documents rejected") {
    for (bad <- Seq("{", """{"a" 1}""", """{"a": }""", """[1,]""",
        """{"a": 1} trailing""", "\"unterminated", """{"a": 01x}""", ""))
      intercept[Json.JsonError](Json.parse(bad))
  }
}
