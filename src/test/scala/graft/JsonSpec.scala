package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** [[Json.str]] output must parse back, through a real JSON parser, to the
  * exact input string — Bench's line and Verify's oracle_sql.json are read
  * back with json.load.
  */
class JsonSpec extends AnyFunSuite {

  test("escaped quote, backslash and control characters parse back exactly") {
    val mapper = new ObjectMapper()
    for (s <- Seq("", "plain", "a\"b", "back\\slash", "tab\there", "cr\rlf\n",
        "ctl\u0001x", "all \" \\ \t \r \n \u0001 \u001f é漢")) {
      assert(mapper.readValue(Json.str(s), classOf[String]) == s, s"round trip of ${Json.str(s)}")
    }
  }
}
