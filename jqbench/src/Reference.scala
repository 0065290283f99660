package jqbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Output checks against references that share no code with graft:
  * Spark's own JSON functions, the jq-1.6 binary and the generator's
  * planted ground truth. Each returns the number of mismatching rows. */
object Reference {
  private val mapper = new ObjectMapper()

  /** Rows in one frame and not the other, both ways (multiset difference). */
  def diff(a: DataFrame, b: DataFrame): Long = a.exceptAll(b).count() + b.exceptAll(a).count()

  /** `extract_wide`: the jq rows against `get_json_object` and `from_json`. */
  def extractWide(spark: SparkSession, jqRows: DataFrame): Long =
    diff(jqRows, spark.sql(ExtractWide.getJsonObjectSql(withRid = true))) +
      diff(jqRows, spark.sql(ExtractWide.fromJsonSql(withRid = true)))

  /** `corrupt_recover`: the jq rows against the generator's truth. */
  def corruptRecover(spark: SparkSession, w: Workload, seed: Long, parts: Int, jqRows: DataFrame): Long = {
    val n = w.rows
    val truth = spark.sparkContext.parallelize(0 until parts, parts).flatMap { p =>
      Corpus.partitionRids(n, parts, p).map { rid =>
        val t = w.gen(seed, rid).truth.get
        Row(rid, t.id, t.status, t.amount, t.badLen)
      }
    }
    val schema = StructType(Seq(StructField("rid", LongType), StructField("id", LongType),
      StructField("status", StringType), StructField("amount", LongType), StructField("bad_len", IntegerType)))
    diff(jqRows, spark.createDataFrame(truth, schema))
  }

  /** `explode_transform`: per sampled input row, the ordered outputs of the
    * jq rows against `jq -c '[PROGRAM]'` (jq-1.6) on the same text. */
  def explodeTransform(w: Workload, seed: Long, sample: Seq[Long], jqRows: DataFrame, dir: Path): Long = {
    val texts = sample.map(rid => w.gen(seed, rid).json)
    val input = dir.resolve(s"jq-sample-$seed.jsonl")
    Files.write(input, texts.mkString("", "\n", "\n").getBytes(UTF_8))
    val proc = new ProcessBuilder("jq", "-c", s"[${w.program}]")
      .redirectInput(input.toFile)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
      .start()
    val lines = try new String(proc.getInputStream.readAllBytes(), UTF_8).split("\n").toSeq
    finally { proc.waitFor(); Files.deleteIfExists(input) }
    if (proc.exitValue() != 0 || lines.length != sample.length)
      throw new IllegalStateException(s"jq exited ${proc.exitValue()} with ${lines.length} lines for ${sample.length} inputs")
    val expected = sample.zip(lines.map(l => mapper.readTree(l).elements().asScala.map(canon).toSeq)).toMap

    val schema = jqRows.schema
    val got = jqRows.collect().toSeq
      .groupBy(_.getLong(0))
      .map { case (rid, rows) => rid -> rows.map(r => canon(toJson(r, schema, skip = 1))) }
    sample.count(rid => got.getOrElse(rid, Seq.empty) != expected(rid)).toLong
  }

  /** A Spark row as a JSON tree, by its schema (the first `skip` columns
    * dropped). */
  private def toJson(r: Row, st: StructType, skip: Int): JsonNode = {
    val o = mapper.createObjectNode()
    st.fields.zipWithIndex.drop(skip).foreach { case (f, i) => o.set[JsonNode](f.name, value(r.get(i), f.dataType)) }
    o
  }

  private def value(v: Any, dt: DataType): JsonNode = (v, dt) match {
    case (null, _) => mapper.nullNode()
    case (s: String, _) => mapper.getNodeFactory.textNode(s)
    case (n: Int, _) => mapper.getNodeFactory.numberNode(n)
    case (n: Long, _) => mapper.getNodeFactory.numberNode(n)
    case (n: Double, _) => mapper.getNodeFactory.numberNode(n)
    case (b: Boolean, _) => mapper.getNodeFactory.booleanNode(b)
    case (xs: scala.collection.Seq[_], ArrayType(el, _)) =>
      val a = mapper.createArrayNode(); xs.foreach(x => a.add(value(x, el))); a
    case (m: scala.collection.Map[_, _], MapType(_, vt, _)) =>
      val o = mapper.createObjectNode(); m.foreach { case (k, x) => o.set[JsonNode](k.toString, value(x, vt)) }; o
    case (row: Row, st: StructType) => toJson(row, st, skip = 0)
    case other => throw new IllegalArgumentException(s"no JSON form for $other")
  }

  /** Canonical text of a JSON value: object keys sorted, null-valued
    * fields dropped (Spark omits them), numbers in plain decimal form. */
  def canon(n: JsonNode): String =
    if (n.isObject)
      n.properties().asScala.toSeq.filterNot(_.getValue.isNull).sortBy(_.getKey)
        .map(e => mapper.writeValueAsString(e.getKey) + ":" + canon(e.getValue)).mkString("{", ",", "}")
    else if (n.isArray) n.elements().asScala.map(canon).mkString("[", ",", "]")
    else if (n.isNumber) new java.math.BigDecimal(n.asText()).stripTrailingZeros().toPlainString
    else mapper.writeValueAsString(n)
}
