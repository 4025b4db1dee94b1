package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Json.str output parses back to its input with a real JSON parser:
  * every ASCII char (all control chars included) and non-ASCII text. */
class JsonSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private def roundTrip(s: String): String = mapper.readValue(Json.str(s), classOf[String])

  test("every char 0x00-0x7f escapes to JSON that parses back to itself") {
    (0 to 0x7f).map(_.toChar.toString).foreach(c => assert(roundTrip(c) == c, f"char 0x${c.head.toInt}%02x"))
    val ascii = (0 to 0x7f).map(_.toChar).mkString
    assert(roundTrip(ascii) == ascii)
  }

  test("non-ASCII text passes through unchanged") {
    val s = "naïve — 数据湖 😀  "
    assert(roundTrip(s) == s)
  }
}
