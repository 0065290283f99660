package graft.jq


import com.fasterxml.jackson.core.{JsonFactory, JsonParseException, JsonParser, JsonToken}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.charset.StandardCharsets

/** Public entry point: compile a jq program once, run it per JSON value.
  *
  * Mirrors the reference flow (JsonQueryUDTF.java:53 compile-once;
  * :74-107 per-row parse → `$error` binding → apply → stream of outputs).
  * Instances are immutable and thread-safe; executor threads share the
  * compiled AST via `compileCached`.
  */
final class CompiledJq private[jq] (val ast: JqExpr) extends Serializable {

  /** Static field footprint (see [[Footprint]]): `Some(m)` when the
    * program observes object inputs only through fields in m.keySet —
    * with per-field subfield sets one level down — so the per-row parse
    * skips every other field's (and subfield's) node construction. */
  @transient lazy val footprint: Option[Footprint.Fields] = Footprint(ast)

  /** Run on an already-parsed JSON value. */
  def apply(input: JsonNode, vars: Map[String, JsonNode] = Map.empty): Iterator[JsonNode] =
    Interp.eval(ast, input, Env(vars, Map.empty)).iterator

  /** Run with the reference's corrupt-input contract: a null or unparsable
    * `jsonText` makes the input `null` and binds `$error` to
    * {message, class, input}; a valid parse binds `$error` to null.
    * jq runtime errors surface as JqError (caller maps to its failure model).
    *
    * Rows parse through the footprint-pruned path when the program
    * certifies one — identical error/trailing-garbage/type semantics (the
    * pruned parse still lexes every byte), minus the tree-building cost of
    * untouched fields. */
  def applyToText(jsonText: String): Iterator[JsonNode] = {
    val (input, error) = Jq.withErrorContract(jsonText)(t => parse(Jq.parser(t)))
    apply(input, Map("error" -> error))
  }

  /** [[applyToText]] of `new String(bytes, off, len, UTF_8)`, without
    * decoding when it can: strict UTF-8 parses in place with Jackson's byte
    * parser. The String lane runs instead when the bytes are not strict
    * UTF-8 (Java's decoder would replace some of them, so the byte parser
    * would see a different text) or the byte parse fails (`$error` carries
    * the String lane's message and the decoded input, as in the reference).
    * Outputs and `$error` are therefore always those of [[applyToText]]. */
  def applyToUtf8(bytes: Array[Byte], off: Int, len: Int): Iterator[JsonNode] = {
    val input =
      if (!Utf8.isStrict(bytes, off, len)) null
      else try parse(Jq.parser(bytes, off, len)) catch { case _: Exception => null }
    if (input == null) applyToText(new String(bytes, off, len, StandardCharsets.UTF_8))
    else apply(input, Map("error" -> Json.NullN))
  }

  private def parse(parser: JsonParser): JsonNode = footprint match {
    case Some(fields) => Jq.parsePruned(parser, fields)
    case None => Jq.parseJson(parser)
  }
}

object Jq {
  // unescaped-control-chars tolerance matches JsonQueryUDTF.java:61.
  // Byte input is always UTF-8: charset detection would skip a BOM and read
  // 00-padded bytes as UTF-16/32, where the String lane rejects both.
  private val factory: JsonFactory = {
    val f = new JsonFactory()
    f.enable(JsonParser.Feature.ALLOW_UNQUOTED_CONTROL_CHARS)
    f.disable(JsonFactory.Feature.CHARSET_DETECTION)
    f
  }

  private val mappers: ThreadLocal[ObjectMapper] =
    ThreadLocal.withInitial(() => new ObjectMapper(factory))

  private[jq] val compileCache = new BoundedCache[String, CompiledJq](4096)

  /** Parse + desugar + singularity-rewrite a jq program.
    * Throws JqSyntaxError on bad programs. */
  def compile(program: String): CompiledJq =
    new CompiledJq(StrictRewrite(Parser.parse(program)))

  /** Per-JVM compile cache — executors compile each distinct program once.
    * Bounded like the regex cache: past 4096 programs, compile uncached. */
  def compileCached(program: String): CompiledJq =
    compileCache.getOrCompute(program)(compile)

  /** Jackson parser over a JSON text. */
  private[jq] def parser(text: String): JsonParser = mappers.get().createParser(text)

  /** Jackson parser over UTF-8 bytes (no BOM or UTF-16/32 detection). */
  private[jq] def parser(bytes: Array[Byte], off: Int, len: Int): JsonParser =
    mappers.get().createParser(bytes, off, len)

  /** Strict JSON parse incl. trailing-garbage rejection
    * (JsonQueryUDTF.java:83-87). */
  def parseJson(text: String): JsonNode = parseJson(parser(text))

  /** [[parseJson]] over a parser from [[parser]]; closes it. */
  private[jq] def parseJson(parser: JsonParser): JsonNode = {
    val mapper = mappers.get()
    try {
      val node = mapper.readTree[JsonNode](parser)
      if (parser.nextToken() != null)
        throw new JsonParseException(parser, "trailing characters")
      if (node == null) Json.NullN else node
    } finally parser.close()
  }

  /** The corrupt-input contract shared by the full and pruned parse lanes:
    * null input → (null, no error); parse failure → (null, the reference's
    * three-field $error object). ONE definition so the lanes cannot drift. */
  private[jq] def withErrorContract(text: String)(parse: String => JsonNode): (JsonNode, JsonNode) =
    if (text == null) (Json.NullN, Json.NullN)
    else
      try (parse(text), Json.NullN)
      catch {
        case e: Exception =>
          (Json.NullN, Json.obj(List(
            "message" -> Json.text(if (e.getMessage == null) e.toString else e.getMessage),
            "class" -> Json.text(e.getClass.getName),
            "input" -> Json.text(text))))
      }

  /** (input, $error) with the reference's corrupt-input semantics. */
  def parseWithError(text: String): (JsonNode, JsonNode) =
    withErrorContract(text)(parseJson)

  /** Footprint-pruned strict parse: object inputs build JsonNode subtrees
    * ONLY for top-level fields in `fields`, and for a field mapped to
    * `Some(S)` only the subfields in S of an OBJECT value (one more path
    * level — `.a.b` programs no longer materialize all of `.a`); everything
    * else is `skipChildren()`ed (lexed for validity, never materialized).
    * Non-object inputs — and non-object values of a sub-tracked field —
    * parse fully (the program may legitimately error on them, previewing
    * the value). Trailing garbage rejected exactly like [[parseJson]];
    * duplicate keys keep the LAST occurrence at every level (Jackson
    * readTree behavior: ObjectNode.set overwrites). */
  def parsePruned(text: String, fields: Footprint.Fields): JsonNode = parsePruned(parser(text), fields)

  /** [[parsePruned]] over a parser from [[parser]]; closes it. */
  private[jq] def parsePruned(parser: JsonParser, fields: Footprint.Fields): JsonNode = {
    val mapper = mappers.get()
    def prunedObject(keep: String => Option[Option[Set[String]]]): JsonNode = {
      val obj = mapper.createObjectNode()
      while (parser.nextToken() != JsonToken.END_OBJECT) {
        val name = parser.currentName()
        parser.nextToken() // advance to the value
        keep(name) match {
          case None => parser.skipChildren() // no-op on scalars; skips whole subtrees
          case Some(None) => obj.set[JsonNode](name, mapper.readTree[JsonNode](parser))
          case Some(Some(sub)) =>
            if (parser.currentToken() == JsonToken.START_OBJECT)
              obj.set[JsonNode](name, prunedObject(n => if (sub.contains(n)) Some(None) else None))
            else // non-object value: the subfield certificate says nothing — materialize
              obj.set[JsonNode](name, mapper.readTree[JsonNode](parser))
        }
      }
      obj
    }
    try {
      val first = parser.nextToken()
      val node: JsonNode =
        if (first == null) null
        else if (first == JsonToken.START_OBJECT)
          prunedObject(fields.get)
        else mapper.readTree[JsonNode](parser)
      if (parser.nextToken() != null)
        throw new JsonParseException(parser, "trailing characters")
      if (node == null) Json.NullN else node
    } finally parser.close()
  }

  /** [[parsePruned]] with the corrupt-input contract of [[parseWithError]]. */
  def parsePrunedWithError(text: String, fields: Footprint.Fields): (JsonNode, JsonNode) =
    withErrorContract(text)(parsePruned(_, fields))
}
