package jqbench

import java.util.SplittableRandom

/** One generated input row: its JSON text (possibly corrupt), how many
  * rows the workload's jq program must emit for it, and the planted
  * ground truth where the workload has one. */
final case class Gen(json: String, outputs: Int, truth: Option[Truth] = None)

/** Expected `corrupt_recover` output row for one input. */
final case class Truth(id: Long, status: String, amount: Long, badLen: Int)

/** A benchmark workload: a seeded row generator plus the jq call it runs.
  * Row `rid` of seed `s` is a pure function of (s, rid), so any process
  * can regenerate any row — the corpus, the driver-side layer loop and the
  * reference checks all see the same text. */
sealed trait Workload extends Serializable {
  def name: String
  def rows: Int
  def program: String
  def types: Seq[String]
  /** Spark-native speed-of-light counterparts of the jq call, reading the
    * same fields with `get_json_object` and with `from_json`. */
  def solGetJsonObject: String
  def solFromJson: String
  protected def make(r: SplittableRandom, rid: Long): Gen

  final def gen(seed: Long, rid: Long): Gen =
    make(new SplittableRandom(Corpus.mix(Corpus.mix(seed) ^ (rid * 0x9E3779B97F4A7C15L) ^ name.hashCode)), rid)
}

object Corpus {
  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  val workloads: Seq[Workload] = Seq(ExtractWide, ExplodeTransform, CorruptRecover)
  def byName(n: String): Workload =
    workloads.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $n; one of ${workloads.map(_.name).mkString(", ")}"))

  // ---- text pieces -------------------------------------------------------

  val words = Array(
    "spark", "json", "query", "stream", "data", "graph", "cloud", "rain", "coffee", "morning",
    "release", "build", "deploy", "latency", "cache", "river", "music", "game", "win", "love",
    "today", "never", "again", "great", "news", "launch", "team", "world", "city", "night",
    "café", "naïve", "東京", "données", "straße", "😀", "🚀", "привет", "Ünïcödé", "señor")
  val firstNames = Array("Ada", "Grace", "Alan", "Edsger", "Barbara", "Donald", "Frances",
    "Ken", "Radia", "Tony", "Margaret", "Niklaus", "Jean", "Chloé", "Jürgen", "Akira")
  val lastNames = Array("Lovelace", "Hopper", "Turing", "Dijkstra", "Liskov", "Knuth",
    "Allen", "Thompson", "Perlman", "Hoare", "Hamilton", "Wirth", "Sammet", "Müller", "Kurosawa")
  val cities = Array("Osaka", "Lyon", "Porto", "Bergen", "Quito", "Tartu", "Kraków",
    "Aarhus", "Cusco", "Nagoya", "São Paulo", "Zürich")
  val langs = Array("en", "en", "en", "ja", "es", "fr", "de", "pt", "und")
  val statuses = Array("ok", "ok", "ok", "retry", "failed", "pending")

  /** The row ids of partition `p` of `parts` for an `n`-row corpus. */
  def partitionRids(n: Int, parts: Int, p: Int): Iterator[Long] =
    (n.toLong * p / parts until n.toLong * (p + 1) / parts).iterator

  def pick[A](r: SplittableRandom, a: Array[A]): A = a(r.nextInt(a.length))

  def sentence(r: SplittableRandom, minChars: Int, maxChars: Int): String = {
    val target = minChars + r.nextInt(maxChars - minChars + 1)
    val sb = new StringBuilder
    while (sb.length < target) {
      if (sb.nonEmpty) sb.append(' ')
      r.nextInt(40) match {
        case 0 => sb.append("#").append(pick(r, words))
        case 1 => sb.append("@").append(pick(r, firstNames).toLowerCase)
        case 2 => sb.append("\"").append(pick(r, words)).append("\"")
        case 3 => sb.append("line\nbreak")
        case 4 => sb.append("tab\tsep")
        case 5 => sb.append("back\\slash")
        case _ => sb.append(pick(r, words))
      }
    }
    sb.toString
  }

  /** Heavy-tailed count in [0, e^scale). */
  def heavy(r: SplittableRandom, scale: Double): Long = math.exp(r.nextDouble() * scale).toLong

  /** 1 + a geometric-ish tail with the given mean excess, capped at max. */
  def count(r: SplittableRandom, meanExcess: Double, max: Int): Int =
    math.min(max, 1 + (-math.log(1.0 - r.nextDouble()) * meanExcess).toInt)

  def date(r: SplittableRandom): String = {
    val days = Array("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")
    val months = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
    f"${pick(r, days)} ${pick(r, months)} ${1 + r.nextInt(28)}%02d ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d +0000 20${10 + r.nextInt(15)}"
  }
}

/** Minimal JSON text writer. Non-ASCII is written raw or, now and then,
  * as a `\\uXXXX` escape, so both decoding paths of a parser are used. */
final class JsonOut(r: SplittableRandom) {
  private val sb = new java.lang.StringBuilder(1024)
  private var first = true

  def obj(body: => Unit): JsonOut = { open('{'); body; sb.append('}'); first = false; this }
  def arr(body: => Unit): JsonOut = { open('['); body; sb.append(']'); first = false; this }
  private def open(c: Char): Unit = { sep(); sb.append(c); first = true }
  private def sep(): Unit = { if (!first) sb.append(','); first = false }

  def key(k: String): JsonOut = { sep(); str0(k); sb.append(':'); first = true; this }
  def str(s: String): JsonOut = { sep(); str0(s); this }
  def num(n: Long): JsonOut = { sep(); sb.append(n); this }
  def dbl(d: Double): JsonOut = { sep(); sb.append(d); this }
  def bool(b: Boolean): JsonOut = { sep(); sb.append(b); this }
  def nul(): JsonOut = { sep(); sb.append("null"); this }

  def field(k: String, s: String): JsonOut = { key(k); if (s == null) nul() else str(s) }
  def field(k: String, n: Long): JsonOut = key(k).num(n)
  def fieldB(k: String, b: Boolean): JsonOut = key(k).bool(b)

  private def str0(s: String): Unit = {
    val escapeNonAscii = r.nextInt(8) == 0
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\t' => sb.append("\\t")
        case '\r' => sb.append("\\r")
        case _ if c < 0x20 || (escapeNonAscii && c > 0x7e) => sb.append(f"\\u${c.toInt}%04x")
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  override def toString: String = sb.toString
}

/** Tweet-shaped records (200 B – 20 KB, long tail: retweets nest a whole
  * tweet, a few carry big media lists), with a 4-field extraction the
  * Footprint analysis certifies, so the pruned parse lane carries it.
  * The record mix (10% compact, 15% nest a retweet, 3% carry 4–43 media
  * entries) is an assumption, not measured traffic; the README's "Corpus
  * assumptions" gives the reason for each share. */
object ExtractWide extends Workload {
  import Corpus._
  val name = "extract_wide"
  val rows = 40000
  /** The extracted fields as (output column, JSON path, Spark type). The jq
    * program, its types and both Spark-native queries are built from them. */
  val fields = Seq(("id", "id_str", "STRING"), ("user", "user.screen_name", "STRING"),
    ("followers", "user.followers_count", "BIGINT"), ("lang", "lang", "STRING"))
  /** The `from_json` schema that holds every path of `fields`. */
  val fromJsonSchema = "id_str STRING, user STRUCT<screen_name: STRING, followers_count: BIGINT>, lang STRING"
  val program = fields.map { case (c, p, _) => s"$c: .$p" }.mkString("{", ", ", "}")
  val types = fields.map { case (c, _, t) => s"$c:${t.toLowerCase}" }

  /** `fields` read with `get_json_object` and with `from_json`, `rid` first
    * when asked for (the reference checks join on it). */
  def getJsonObjectSql(withRid: Boolean): String =
    select(withRid, fields.map { case (c, p, t) => s"CAST(get_json_object(json, '$$.$p') AS $t) AS $c" },
      "jqbench_corpus")
  def fromJsonSql(withRid: Boolean): String =
    select(withRid, fields.map { case (c, p, _) => s"r.$p AS $c" },
      s"(SELECT rid, from_json(json, '$fromJsonSchema') AS r FROM jqbench_corpus)")
  private def select(withRid: Boolean, cols: Seq[String], from: String): String =
    s"SELECT ${((if (withRid) Seq("rid") else Nil) ++ cols).mkString(", ")} FROM $from"

  val solGetJsonObject = getJsonObjectSql(withRid = false)
  val solFromJson = fromJsonSql(withRid = false)

  protected def make(r: SplittableRandom, rid: Long): Gen = {
    val o = new JsonOut(r)
    if (r.nextInt(10) == 0) compact(o, r, rid) else tweet(o, r, rid, nested = false)
    Gen(o.toString, 1)
  }

  private def screenName(r: SplittableRandom): String =
    pick(r, firstNames).toLowerCase + "_" + r.nextInt(100000)

  private def compact(o: JsonOut, r: SplittableRandom, rid: Long): Unit = o.obj {
    o.field("id_str", (1000000000000000000L + rid).toString)
    o.field("text", sentence(r, 5, 60))
    o.key("user").obj {
      o.field("screen_name", screenName(r))
      o.field("followers_count", heavy(r, 10))
    }
    o.field("lang", pick(r, langs))
  }

  private def user(o: JsonOut, r: SplittableRandom): Unit = o.obj {
    val uid = 10000000L + r.nextInt(1 << 30)
    o.field("id", uid)
    o.field("id_str", uid.toString)
    o.field("name", pick(r, firstNames) + " " + pick(r, lastNames))
    o.field("screen_name", screenName(r))
    o.field("location", if (r.nextInt(3) == 0) null else pick(r, cities))
    o.field("description", sentence(r, 0, 160))
    o.field("url", if (r.nextBoolean()) null else s"https://t.example/${r.nextInt(1 << 20)}")
    o.fieldB("protected", false)
    o.fieldB("verified", r.nextInt(50) == 0)
    o.field("followers_count", heavy(r, 14))
    o.field("friends_count", heavy(r, 9))
    o.field("listed_count", heavy(r, 6))
    o.field("favourites_count", heavy(r, 11))
    o.field("statuses_count", heavy(r, 12))
    o.field("created_at", date(r))
    o.field("profile_image_url_https", s"https://pbs.example/profile_images/${r.nextInt(1 << 30)}/a_normal.jpg")
    o.fieldB("default_profile", r.nextBoolean())
  }

  private def indices(o: JsonOut, r: SplittableRandom): Unit = {
    val a = r.nextInt(200)
    o.key("indices").arr { o.num(a); o.num(a + 1 + r.nextInt(20)) }
  }

  private def tweet(o: JsonOut, r: SplittableRandom, rid: Long, nested: Boolean): Unit = o.obj {
    val id = 1000000000000000000L + (if (nested) r.nextLong(1L << 50) else rid)
    o.field("created_at", date(r))
    o.field("id", id)
    o.field("id_str", id.toString)
    o.field("text", sentence(r, 20, 280))
    o.field("source", s"""<a href="https://app.example/${r.nextInt(9)}" rel="nofollow">Client ${r.nextInt(9)}</a>""")
    o.fieldB("truncated", r.nextInt(10) == 0)
    if (r.nextInt(4) == 0) {
      o.field("in_reply_to_status_id", 1000000000000000000L + r.nextLong(1L << 50))
      o.field("in_reply_to_screen_name", screenName(r))
    } else {
      o.key("in_reply_to_status_id").nul()
      o.key("in_reply_to_screen_name").nul()
    }
    o.key("user"); user(o, r)
    o.key("geo").nul()
    if (r.nextInt(20) == 0)
      o.key("coordinates").obj {
        o.field("type", "Point")
        o.key("coordinates").arr { o.dbl(r.nextDouble() * 360 - 180); o.dbl(r.nextDouble() * 180 - 90) }
      }
    else o.key("coordinates").nul()
    o.field("quote_count", heavy(r, 4))
    o.field("reply_count", heavy(r, 5))
    o.field("retweet_count", heavy(r, 8))
    o.field("favorite_count", heavy(r, 9))
    o.key("entities").obj {
      o.key("hashtags").arr {
        (1 until count(r, 0.8, 12)).foreach { _ => o.obj { o.field("text", pick(r, words)); indices(o, r) } }
      }
      o.key("urls").arr {
        (1 until count(r, 0.4, 6)).foreach { _ =>
          o.obj {
            val u = r.nextInt(1 << 24)
            o.field("url", s"https://t.example/$u")
            o.field("expanded_url", s"https://www.example.org/articles/$u/${pick(r, words)}")
            o.field("display_url", s"example.org/articles/$u")
            indices(o, r)
          }
        }
      }
      o.key("user_mentions").arr {
        (1 until count(r, 0.6, 10)).foreach { _ =>
          o.obj {
            val uid = 10000000L + r.nextInt(1 << 30)
            o.field("screen_name", screenName(r))
            o.field("name", pick(r, firstNames) + " " + pick(r, lastNames))
            o.field("id", uid)
            o.field("id_str", uid.toString)
            indices(o, r)
          }
        }
      }
      o.key("symbols").arr(())
    }
    if (!nested && r.nextInt(100) < 3)
      o.key("extended_entities").obj {
        o.key("media").arr {
          (0 until 4 + r.nextInt(40)).foreach { i =>
            o.obj {
              val m = r.nextLong(1L << 50)
              o.field("id", m)
              o.field("id_str", m.toString)
              o.field("media_url_https", s"https://pbs.example/media/$m.jpg")
              o.field("type", "photo")
              o.field("alt_text", sentence(r, 0, 120))
              o.key("sizes").obj {
                Seq("thumb", "small", "large").foreach { s =>
                  o.key(s).obj { o.field("w", 150L + r.nextInt(2000)); o.field("h", 150L + r.nextInt(2000)); o.field("resize", "fit") }
                }
              }
              indices(o, r)
            }
          }
        }
      }
    o.fieldB("favorited", false)
    o.fieldB("retweeted", false)
    o.field("filter_level", "low")
    o.field("lang", if (r.nextInt(30) == 0) null else pick(r, langs))
    o.field("timestamp_ms", (1500000000000L + r.nextLong(1L << 38)).toString)
    if (!nested && r.nextInt(100) < 15) { o.key("retweeted_status"); tweet(o, r, rid, nested = true) }
  }
}

/** Order records with item arrays. The program binds the whole record
  * (`. as $o`), which defeats Footprint, so the full parse, the
  * interpreter (string builtins, arithmetic, object construction) and
  * nested-type marshalling carry the load at ~2.1 outputs per row. The
  * item count (1–8, mean about 2.1) is an assumption; see the README. */
object ExplodeTransform extends Workload {
  import Corpus._
  val name = "explode_transform"
  val rows = 30000
  val program =
    """. as $o | .items[] | {order: $o.id, sku: (.sku | ascii_downcase), """ +
      """line_cents: (.qty * .price_cents), share_bp: ((.qty * .price_cents * 10000 / $o.total_cents) | floor), """ +
      """tags: (.tags | map(ascii_upcase)), attrs: .attrs, """ +
      """ship: {city: $o.ship.city, zip: ($o.ship.zip | tostring)}, """ +
      """who: "\($o.customer.name | split(" ") | .[0]):\(.title | length)"}"""
  val types = Seq("order:bigint", "sku:string", "line_cents:bigint", "share_bp:int", "tags:array<string>",
    "attrs:map<string,int>", "ship:struct<city:string,zip:string>", "who:string")
  val solGetJsonObject =
    """SELECT get_json_object(json, '$.id'), get_json_object(json, '$.total_cents'),
      |  get_json_object(json, '$.customer.name'), get_json_object(json, '$.ship.city'),
      |  get_json_object(json, '$.ship.zip'), get_json_object(json, '$.items[*].sku'),
      |  get_json_object(json, '$.items[*].qty'), get_json_object(json, '$.items[*].price_cents'),
      |  get_json_object(json, '$.items[*].tags'), get_json_object(json, '$.items[*].attrs'),
      |  get_json_object(json, '$.items[*].title')
      |FROM jqbench_corpus""".stripMargin
  val solFromJson =
    """SELECT o.id, i.sku, i.qty * i.price_cents, i.tags, i.attrs, o.ship.city, o.ship.zip, o.customer.name, i.title
      |FROM (SELECT from_json(json, 'id BIGINT, total_cents BIGINT, customer STRUCT<name: STRING>,
      |  ship STRUCT<city: STRING, zip: BIGINT>, items ARRAY<STRUCT<sku: STRING, title: STRING, qty: BIGINT,
      |  price_cents: BIGINT, tags: ARRAY<STRING>, attrs: MAP<STRING, INT>>>') AS o FROM jqbench_corpus)
      |LATERAL VIEW explode(o.items) t AS i""".stripMargin

  private val tiers = Array("gold", "silver", "bronze")
  private val attrKeys = Array("w", "h", "d", "kg", "ml", "pack")
  private val letters = "ABCDEFGHJKLMNPQRSTUVWXYZabcdefghjkmnpqrstuvwxyz"

  protected def make(r: SplittableRandom, rid: Long): Gen = {
    val o = new JsonOut(r)
    val n = count(r, 1.6, 8)
    val qty = Array.fill(n)(1L + r.nextInt(5))
    val price = Array.fill(n)(99L + r.nextInt(99901))
    o.obj {
      o.field("id", 5000000000L + rid)
      o.field("ts", f"2024-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02dT${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:00Z")
      o.field("channel", pick(r, Array("web", "app", "store")))
      o.key("customer").obj {
        o.field("id", 100000L + r.nextInt(1 << 24))
        o.field("name", pick(r, firstNames) + " " + pick(r, lastNames))
        o.field("tier", pick(r, tiers))
        o.field("email", s"user${r.nextInt(1 << 24)}@mail.example")
      }
      o.key("ship").obj {
        o.field("city", pick(r, cities))
        o.field("zip", 10000L + r.nextInt(90000))
        o.field("country", pick(r, Array("JP", "FR", "PT", "NO", "EC", "EE", "PL", "DK")))
      }
      o.field("currency", "EUR")
      o.key("items").arr {
        (0 until n).foreach { i =>
          o.obj {
            val sku = new StringBuilder("SKU-")
            (0 until 3).foreach(_ => sku.append(letters.charAt(r.nextInt(letters.length))))
            sku.append('-').append(r.nextInt(100000))
            o.field("sku", sku.toString)
            o.field("title", sentence(r, 8, 60))
            o.field("qty", qty(i))
            o.field("price_cents", price(i))
            o.key("tags").arr { (1 until count(r, 1.0, 6)).foreach(_ => o.str(pick(r, words))) }
            o.key("attrs").obj {
              attrKeys.foreach(k => if (r.nextBoolean()) o.field(k, r.nextInt(1000).toLong))
            }
            o.fieldB("gift", r.nextInt(10) == 0)
          }
        }
      }
      o.field("total_cents", qty.zip(price).map { case (q, p) => q * p }.sum)
      o.field("notes", if (r.nextInt(3) == 0) sentence(r, 10, 200) else null)
    }
    Gen(o.toString, n)
  }
}

/** Extraction records of which a planted tenth are corrupt (trailing
  * garbage, truncation, bad tokens), run under the README substitute
  * pattern, so the parse layer's exception path and `$error.input` are
  * on the hot path. The tenth and the even split of the three kinds are
  * assumptions; see the README. */
object CorruptRecover extends Workload {
  import Corpus._
  val name = "corrupt_recover"
  val rows = 60000
  val program =
    """if $error then {id: -1, status: "INVALID", amount: 0, bad_len: ($error.input | length)} """ +
      """else {id: .id, status: .status, amount: .amount_cents, bad_len: 0} end"""
  val types = Seq("id:bigint", "status:string", "amount:bigint", "bad_len:int")
  val solGetJsonObject =
    """SELECT get_json_object(json, '$.id'), get_json_object(json, '$.status'),
      |  get_json_object(json, '$.amount_cents'), length(json)
      |FROM jqbench_corpus""".stripMargin
  val solFromJson =
    """SELECT r.id, r.status, r.amount_cents, length(json)
      |FROM (SELECT json, from_json(json, 'id BIGINT, status STRING, amount_cents BIGINT') AS r FROM jqbench_corpus)""".stripMargin

  protected def make(r: SplittableRandom, rid: Long): Gen = {
    val o = new JsonOut(r)
    val id = 7000000000L + rid
    val status = pick(r, statuses)
    val amount = heavy(r, 13)
    o.obj {
      o.field("id", id)
      o.field("status", status)
      o.field("amount_cents", amount)
      o.fieldB("flag", r.nextBoolean())
      o.key("device").obj {
        o.field("os", pick(r, Array("android", "ios", "linux", "windows")))
        o.field("ver", s"${r.nextInt(20)}.${r.nextInt(10)}.${r.nextInt(100)}")
        o.field("model", pick(r, words) + "-" + r.nextInt(1000))
      }
      o.key("geo").obj { o.key("lat").dbl(r.nextDouble() * 180 - 90); o.key("lon").dbl(r.nextDouble() * 360 - 180) }
      o.key("tags").arr { (1 until count(r, 1.0, 8)).foreach(_ => o.str(pick(r, words))) }
      o.key("payload").obj {
        (0 until count(r, 3.0, 30)).foreach(i => o.field(s"k$i", sentence(r, 0, 90)))
      }
      o.field("note", sentence(r, 0, 120))
    }
    val clean = o.toString
    if (r.nextInt(10) != 0) Gen(clean, 1, Some(Truth(id, status, amount, 0)))
    else {
      val bad = corrupt(r, clean)
      Gen(bad, 1, Some(Truth(-1, "INVALID", 0, bad.codePointCount(0, bad.length))))
    }
  }

  private val trailers = Array(" x", "}", "]", ",{}", " 1", " \"tail\"")

  /** A corrupt variant of a JSON object text: trailing garbage, a proper
    * prefix (never valid for an object), or a bad token where the text has
    * one to break. */
  def corrupt(r: SplittableRandom, clean: String): String = r.nextInt(3) match {
    case 0 => clean + pick(r, trailers)
    case 1 =>
      var cut = 1 + r.nextInt(clean.length - 1)
      if (Character.isHighSurrogate(clean.charAt(cut - 1))) cut -= 1
      clean.substring(0, cut)
    case _ =>
      val broken = r.nextInt(3) match {
        case 0 => clean.replaceFirst("\"flag\":(tru|fals)e", "\"flag\":$1")
        case 1 => clean.replaceFirst("\"amount_cents\":", "\"amount_cents\":00")
        case _ => clean.replaceFirst("\"status\":\"([a-z]+)\"", "\"status\":'$1'")
      }
      if (broken != clean) broken else clean.replaceFirst(":", ":tru")
  }
}
