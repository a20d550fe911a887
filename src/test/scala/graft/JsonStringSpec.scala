package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The one JSON string escaper behind `bench.json` and oracle_sql.json. */
class JsonStringSpec extends AnyFlatSpec with Matchers {

  "Bench.jstr" should "escape quote, backslash, tab, CR and U+0001 so a strict parser reads them back" in {
    val raw = "q\"b\\t\tr\rc\u0001."
    val lit = Bench.jstr(raw)
    lit shouldBe "\"q\\\"b\\\\t\\tr\\rc\\u0001.\""
    // Jackson rejects raw control characters inside strings by default
    new ObjectMapper().readValue(lit, classOf[String]) shouldBe raw
  }
}
