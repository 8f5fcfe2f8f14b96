package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.result.ResultJson

/** The one JSON string writer every serving and artifact path uses. */
class JsonQuoteSpec extends AnyFunSuite {

  test("quote escapes quote, backslash and control characters; non-ASCII passes raw") {
    val bs = "\\"
    def u(hex: String) = bs + "u" + hex
    assert(ResultJson.quote("say \"hi\" " + bs) == "\"say " + bs + "\"hi" + bs + "\" " + bs + bs + "\"")
    assert(ResultJson.quote("a\nb\rc\td") == "\"a" + bs + "nb" + bs + "rc" + bs + "td\"")
    val ctrl = new String(Array[Char](0, 1, 8, 12, 0x1f))
    assert(ResultJson.quote(ctrl) == "\"" + Seq("0000", "0001", "0008", "000c", "001f").map(u).mkString + "\"")
    val wide = "é€" + new String(Character.toChars(0x1F600)) + new String(Array[Char](0x7f))
    assert(ResultJson.quote(wide) == "\"" + wide + "\"")
    assert(ResultJson.quote(null) == "\"null\"")
  }
}
