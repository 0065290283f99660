package graft.jq

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.JsonNode
import org.scalatest.funsuite.AnyFunSuite

/** Soundness tests for the parse-projection footprint analysis: the
  * pruned-parse lane must be OBSERVABLY IDENTICAL to the full parse on
  * every certified program — outputs, errors, $error binding, trailing-
  * garbage rejection — and must refuse certification for any program
  * that can observe the whole input. */
class FootprintSpec extends AnyFunSuite {

  private def fpOf(prog: String): Option[Footprint.Fields] = Jq.compile(prog).footprint

  /** whole-subtree need for each name (the level-1 shape) */
  private def w(names: String*): Option[Footprint.Fields] =
    Some(names.map(_ -> (None: Option[Set[String]])).toMap)

  test("footprint identifies top-level field sets") {
    assert(fpOf(".k") == w("k"))
    assert(fpOf("{k}") == w("k"))
    assert(fpOf("{k, d: (.k*2), s: (.k|tostring)}") == w("k"))
    assert(fpOf(".a[0].b") == w("a")) // array index: whole subtree
    assert(fpOf(".a[] | .x") == w("a"))
    assert(fpOf(""".["weird key"]""") == w("weird key"))
    assert(fpOf(".a, .b") == w("a", "b"))
    assert(fpOf("[.xs[] | . + 1]") == w("xs"))
    assert(fpOf("if .a > 1 then .b else .c end") == w("a", "b", "c"))
    assert(fpOf(""""\(.name): \(.age)"""") == w("name", "age"))
    assert(fpOf(".a as $x | .b + $x") == w("a", "b"))
    assert(fpOf("reduce .xs[] as $i (.init; . + $i)") == w("xs", "init"))
    assert(fpOf(".k | select(. > 2)") == w("k"))
    assert(fpOf("42") == Some(Map.empty))
    assert(fpOf(".a // .b") == w("a", "b"))
    assert(fpOf("try .a catch .b") == w("a", "b"))
    assert(fpOf(".missing?") == w("missing"))
  }

  test("footprint tracks one more path level for static access chains") {
    assert(fpOf(".a.b") == Some(Map("a" -> Some(Set("b")))))
    assert(fpOf(".a.b.c") == Some(Map("a" -> Some(Set("b"))))) // deeper stays inside a.b
    assert(fpOf(""".a["k2"]""") == Some(Map("a" -> Some(Set("k2")))))
    assert(fpOf(".a?.b") == Some(Map("a" -> Some(Set("b")))))
    assert(fpOf("{x: .a.b, y: .a.c}") == Some(Map("a" -> Some(Set("b", "c")))))
    assert(fpOf(".a.b, .c.d") ==
      Some(Map("a" -> Some(Set("b")), "c" -> Some(Set("d")))))
    // merging with a whole-subtree use widens to the whole subtree
    assert(fpOf(".a.b, .a") == w("a"))
    assert(fpOf(".a.b, (.a | length)") == w("a"))
    // constructed values never qualify for the sharpening: {x: .a} | .x
    // outputs ALL of .a even though a field access follows
    assert(fpOf("{x: .a} | .x") == w("a"))
    // dynamic subfield index on .a needs all of a (and the index reads .k)
    assert(fpOf(".a[.k]") == w("a", "k"))
  }

  test("footprint refuses whole-input programs") {
    assert(fpOf(".") == None)
    assert(fpOf("..") == None)
    assert(fpOf(".[]") == None)
    assert(fpOf("keys") == None)
    assert(fpOf("length") == None)
    assert(fpOf("to_entries") == None)
    assert(fpOf("select(.k > 2)") == None) // outputs the WHOLE input
    assert(fpOf("if .a then .b end") == None) // missing else = `.` passthrough
    assert(fpOf(".a = 1") == None) // returns the modified whole input
    assert(fpOf(".a |= . + 1") == None)
    assert(fpOf("{(.k): 1, a: 2}") == w("k")) // computed key reads only .k
    assert(fpOf("tojson") == None)
    assert(fpOf("@json") == None)
    assert(fpOf("def f: .x; f") == None) // user defs not tracked
    assert(fpOf(".[.k]") == None) // dynamic index on the input
    assert(fpOf(". as $x | .a | $x") == None)
  }

  test("pruned lane agrees with the full parse on outputs, errors, and $error") {
    val programs = Seq(
      ".k", "{k}", "{k, d: (.k*2), s: (.k|tostring)}", ".a.b", ".a[0]",
      ".a[] | . + 1", ".a, .k", "if .k > 5 then \"big\" else \"small\" end",
      ".k | select(. > 2)", "[.a[] | {v: .}]", ".miss", ".miss?",
      "\"k=\\(.k)\"", ".a as $x | ($x | length) + .k",
      "reduce .a[] as $i (0; . + $i)", "try (.k + \"x\") catch \"caught\"",
      "if $error == null then .k else -1 end", "{e: $error, k}",
      // level-2 chains: subfield pruning inside .z / .a
      ".z.deep", ".z.deep.more", "{d: .z.deep, k}", ".a.b, .a.b",
      ".z.deep // .k", ".a.b?", "try .a.b catch \"no\"")
    val inputs = Seq(
      """{"k": 7, "a": [1,2,3], "z": {"deep": [true, null]}, "s": "txt"}""",
      """{"k": 1}""",
      """{"a": [], "k": 99, "extra1": 1, "extra2": [1,2], "extra3": {"x": 1}}""",
      """{"k": "str", "a": 3}""", // wrong types: errors must match
      """{"z": {"deep": {"more": 1, "hidden": [1,2,3]}, "other": "skip"}}""",
      """{"a": {"b": 5, "c": {"nested": true}}, "z": 4}""", // object a: sub-pruned
      """{"a": {"b": {"x": 1}, "b": 7}, "k": 0}""", // duplicate nested key: last wins
      """{"z": [1, 2]}""", // non-object z under a sub-tracked field
      """{}""",
      """[1, 2, 3]""", // non-object input
      """42""",
      """"plain string"""",
      """null""",
      """{"k": 1} trailing""", // trailing garbage → $error
      """{"k": """, // truncated → $error
      """not json at all""",
      """{"k": 1, "k": 2}""", // duplicate key: last wins in both lanes
      null).map(t => if (t == null) null else t.getBytes(UTF_8)) ++ FootprintSpec.byteLevelInputs
    for (p <- programs; in <- inputs) {
      val c = Jq.compile(p)
      assert(c.footprint.isDefined, s"program '$p' should be footprint-eligible")
      val text = if (in == null) null else new String(in, UTF_8)
      def run(lane: => Iterator[JsonNode]): Either[String, List[String]] =
        try Right(lane.map(Json.serialize).toList)
        catch { case e: JqError => Left(e.getMessage) }
      def parsed(parse: String => (JsonNode, JsonNode)) = run {
        val (v, err) = parse(text)
        c(v, Map("error" -> err))
      }
      val full = parsed(Jq.parseWithError)
      val pruned = parsed(Jq.parsePrunedWithError(_, c.footprint.get))
      val shown = if (in == null) "null" else FootprintSpec.hex(in)
      assert(full == pruned, s"lane mismatch for program '$p' on input $shown: $full vs $pruned")
      if (in != null) {
        // the byte lane reads a slice of a larger buffer, as from a Spark row
        val buf = Array[Byte](0x7b, 0xff.toByte) ++ in ++ Array(0xff.toByte)
        val bytes = run(c.applyToUtf8(buf, 2, in.length))
        assert(full == bytes, s"byte lane mismatch for program '$p' on input $shown: $full vs $bytes")
      }
    }
  }

  test("pruned parse builds nodes only for the needed fields") {
    val node = Jq.parsePruned("""{"keep": {"a": [1,2]}, "drop": {"big": [1,2,3,4]}, "x": 9}""",
      Map("keep" -> None))
    assert(node.isObject && node.size() == 1 && node.has("keep"))
    assert(Json.serialize(node.get("keep")) == """{"a":[1,2]}""")
  }

  test("pruned parse builds only the needed SUBfields of a sub-tracked field") {
    val node = Jq.parsePruned(
      """{"a": {"b": 1, "huge": {"x": [1,2,3]}, "c": 2}, "drop": [9,9,9]}""",
      Map("a" -> Some(Set("b"))))
    assert(node.isObject && node.size() == 1 && node.has("a"))
    assert(Json.serialize(node.get("a")) == """{"b":1}""",
      "only subfield b of a may be materialized")
    // non-object value of a sub-tracked field is materialized in full
    val scalar = Jq.parsePruned("""{"a": [1,2], "z": 0}""", Map("a" -> Some(Set("b"))))
    assert(Json.serialize(scalar.get("a")) == "[1,2]")
  }

  test("pruned parse still rejects malformed content inside skipped fields") {
    val (v, err) = Jq.parsePrunedWithError("""{"keep": 1, "drop": {"bad": }}""",
      Map("keep" -> None))
    assert(v.isNull && err.isObject, "malformed skipped field must still fail the row")
    val (_, err2) = Jq.parsePrunedWithError("""{"keep": 1} extra""", Map("keep" -> None))
    assert(err2.isObject, "trailing garbage must still fail the row")
    // malformed content inside a skipped SUBfield must also fail the row
    val (v3, err3) = Jq.parsePrunedWithError("""{"a": {"b": 1, "bad": }}""",
      Map("a" -> Some(Set("b"))))
    assert(v3.isNull && err3.isObject)
  }
}

object FootprintSpec {
  def bytes(hex: String): Array[Byte] = hex.split(' ').map(Integer.parseInt(_, 16).toByte)
  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02X").mkString(" ")
  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** Inputs whose bytes matter: the byte lane must parse the valid UTF-8
    * ones in place and hand every other one to the String lane, so that all
    * of them give the String lane's outputs and `$error`. */
  val byteLevelInputs: Seq[Array[Byte]] = Seq(
    bytes("EF BB BF") ++ utf8("""{"k": 1}"""), // BOM: the String lane rejects it
    bytes("EF BB BF"),
    bytes("00 7B 00 7D"), // UTF-16BE-looking {}
    bytes("7B 00 7D 00"),
    utf8("""{"k": """") ++ bytes("C0 80") ++ utf8("""", "a": [1]}"""), // overlong NUL
    utf8("""{"k": """") ++ bytes("ED A0 80") ++ utf8(""""}"""), // surrogate
    utf8("""{"k": """") ++ bytes("F4 90 80 80") ++ utf8(""""}"""), // above U+10FFFF
    utf8("""{"k": """") ++ bytes("F5") ++ utf8(""""}"""),
    utf8("""{"k": """") ++ bytes("F5 80 80 80") ++ utf8(""""}"""), // a 4-byte form past F4
    utf8("""{"k": "ab""") ++ bytes("80") ++ utf8("""cd"}"""), // stray continuation
    utf8("""{"k": """") ++ bytes("E4 B8") ++ utf8(""""}"""), // truncated CJK
    utf8("""{"k": 1, "skipped": """") ++ bytes("ED A0 80") ++ utf8(""""}"""), // in a pruned field
    utf8("""{"k""") ++ bytes("C0 80") ++ utf8("""": 1}"""), // in a key
    utf8("""{"k": "a"}""") ++ bytes("E4 B8"), // truncated after the value
    utf8("""{"k": "smile 😀 🇯🇵", "a": ["😀"]}"""), // 4-byte sequences
    utf8("""{"k": "中文字符", "中": "值", "a": [1]}"""), // CJK text and key
    utf8("{\"k\": \"\\u00e9\\u4e2d\\ud83d\\ude00\", \"a\": [\"\\u0041\"]}"), // \\u escapes
    utf8("""{"k": "é"} é"""), // non-ASCII trailing garbage
    utf8("""{"k": "中"""), // truncated inside a non-ASCII string
    utf8("""{"k": 12345678, "a": [1, 2, 3, 4, 5, 6, 7, 8, 9], "s": "abcdefghé"}"""))
}
