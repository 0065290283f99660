package jqbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.JqBenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.Graft
import graft.operators.JsonQueryGenerator

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = xs.sum / xs.length

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** JqBench: one workload of the graft jq path, end to end through Spark's
  * `Generate` node into a `noop` sink, and (with `--trace 1`) layer by
  * layer. Prints every metric by name with its unit; the last stdout line
  * is one JSON object {correct, attempted, failed, metrics}.
  *
  *   JqBench --workload NAME --seed N --seconds S --trace 0|1 --out-dir DIR
  */
object JqBench {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, outDir: Path)

  final case class Metric(name: String, value: Double, unit: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1", Paths.get(need("out-dir")))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Corpus.byName(o.workload)
    val nproc = Runtime.getRuntime.availableProcessors
    Files.createDirectories(o.outDir)
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("jqbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", o.outDir.resolve("warehouse").toString)
      .getOrCreate()
    val ok =
      try new JqBench(spark, w, o, nproc).run()
      finally spark.stop()
    if (!ok) sys.exit(2)
  }

  def sqlString(s: String): String = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** The seeded corpus (rid, json, outputs, corrupt), generated in parallel. */
  def corpus(spark: SparkSession, w: Workload, seed: Long, parts: Int): DataFrame = {
    val rows = spark.sparkContext.parallelize(0 until parts, parts).flatMap { p =>
      Corpus.partitionRids(w.rows, parts, p).map { rid =>
        val g = w.gen(seed, rid)
        Row(rid, g.json, g.outputs, g.truth.exists(_.id == -1))
      }
    }
    val schema = StructType(Seq(StructField("rid", LongType), StructField("json", StringType),
      StructField("outputs", IntegerType), StructField("corrupt", BooleanType)))
    spark.createDataFrame(rows, schema)
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  def gcMs(): Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum

  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM, GC and JIT threads included. */
  def processCpuNs(): Long = os.getProcessCpuTime
}

final class JqBench(spark: SparkSession, w: Workload, o: JqBench.Opts, nproc: Int) {
  import JqBench._

  private val sc = spark.sparkContext
  private val stats = new SparkStats
  private val parts = 4 * nproc
  private var attempted = 0
  private var failed = 0
  private var passNo = 0
  /** The JIT keeps speeding passes up for about this many passes; they
    * belong to set-up, not to the timed window. */
  private val WarmupPasses = 30

  /** One timed pass of `df` into the `noop` sink. */
  final case class Pass(seconds: Double, stats: PassStats, gcSeconds: Double, processCpuSeconds: Double,
      scanned: Long, generated: Long)

  private def pass(df: DataFrame, spanName: String = ""): Pass = {
    passNo += 1
    val group = s"pass-$passNo"
    sc.setJobGroup(group, group)
    val spanId = Tracer.nextId()
    sc.setLocalProperty("jqbench.span", spanId.toString)
    val gc0 = gcMs()
    val cpu0 = processCpuNs()
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val t1 = System.nanoTime()
    val cpu1 = processCpuNs()
    val gc1 = gcMs()
    sc.clearJobGroup()
    sc.setLocalProperty("jqbench.span", null)
    JqBenchBus.drain(sc)
    if (spanName.nonEmpty) Tracer.record(Span(spanId, 0, spanName, t0, t1, Thread.currentThread.getName, Map.empty))
    val (scanned, generated) = stats.takeRows()
    Pass((t1 - t0) / 1e9, stats.pass(group), (gc1 - gc0) / 1e3, (cpu1 - cpu0) / 1e9, scanned, generated)
  }

  /** A pass of the jq query, counted as attempted, and failed when the
    * `Generate` node emitted other than the expected number of rows. */
  private def checkedPass(df: DataFrame, expected: Long, spanName: String = ""): Pass = {
    val p = pass(df, spanName)
    attempted += 1
    if (p.generated != expected) {
      failed += 1
      println(s"MISMATCH: pass $passNo emitted ${p.generated} rows, expected $expected")
    }
    p
  }

  /** Passes of each frame in turn until `seconds` have gone by (at least
    * five of each); interleaving keeps JIT and machine drift out of the
    * comparison between the frames. */
  private def timedPasses(frames: Seq[(DataFrame, String)], expected: Long, seconds: Double): Seq[Seq[Pass]] = {
    val out = frames.map(_ => mutable.ArrayBuffer.empty[Pass])
    val t0 = System.nanoTime()
    while (out.head.length < 5 || System.nanoTime() - t0 < seconds * 1e9)
      frames.zip(out).foreach { case ((df, span), buf) => buf += checkedPass(df, expected, span) }
    out.map(_.toSeq)
  }

  private def jqSql(fn: String, withRid: Boolean): String =
    s"SELECT ${if (withRid) "rid, " else ""}t.* FROM jqbench_corpus " +
      s"LATERAL VIEW $fn(json, ${sqlString(w.program)}, ${w.types.map(sqlString).mkString(", ")}) t"

  def run(): Boolean = {
    sc.addSparkListener(stats)
    spark.listenerManager.register(stats)
    val metrics = mutable.ArrayBuffer.empty[Metric]
    val layer = mutable.ArrayBuffer.empty[Metric]

    // ---- set-up: corpus, registration, plan, warm-up ----------------------
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val corpus = JqBench.corpus(spark, w, o.seed, parts).persist(StorageLevel.MEMORY_ONLY)
    corpus.createOrReplaceTempView("jqbench_corpus")
    val summary = corpus.selectExpr("count(*)", "sum(octet_length(json))", "sum(outputs)", "count_if(corrupt)").head()
    val (nRows, bytes, expected, corruptRows) = (summary.getLong(0), summary.getLong(1), summary.getLong(2), summary.getLong(3))
    val mb = bytes / 1e6
    val corpusS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3 - sessionS

    val regNs = timeNs(Tracer.span("graft.register", 0) { _ => (Graft.register(spark), Map.empty) })
    var df: DataFrame = null
    val planNs = timeNs(Tracer.span("graft.sql", 0) { _ =>
      df = spark.sql(jqSql("jq", withRid = false))
      (df.queryExecution.executedPlan, Map.empty)
    })
    val warm = (0 until WarmupPasses).map(_ => checkedPass(df, expected).seconds)
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    println(f"corpus: ${w.name} seed=${o.seed} rows=$nRows%d bytes=$bytes%d outputs=$expected%d corrupt=$corruptRows%d nproc=$nproc")

    // ---- timed passes: untraced, or untraced and traced in turn ------------
    val frames = Seq(df -> "") ++ (if (o.trace) Seq(tracedFrame(expected) -> "spark.pass.traced") else Nil)
    val windows = timedPasses(frames, expected, o.seconds)
    val timed = windows.head
    val qs = timed.map(_.seconds)
    println("passes_s: " + (warm ++ qs).map(x => f"$x%.3f").mkString(" "))
    // The mean, not the median: a collection lands in only some passes, and
    // the mean charges every pass its share of them.
    val query = Stats.mean(qs)
    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

    metrics += Metric("setup_s", setupS, "s")
    metrics += Metric("query_s", query, "s")
    metrics += Metric("mb_s", mb / query, "MB/s")
    metrics += Metric("cpu_s", Stats.mean(timed.map(_.stats.cpuNs / 1e9)), "s")
    metrics += Metric("heap_mb", heapMb, "MB")
    val detail = mutable.ArrayBuffer(
      Metric("setup.session_s", sessionS, "s"),
      Metric("setup.corpus_s", corpusS, "s"),
      Metric("setup.warmup_s", warm.sum, "s"),
      Metric("setup.first_pass_s", warm.head, "s"),
      Metric("query_s.samples", qs.length, "count"),
      Metric("query_s.min", qs.min, "s"),
      Metric("query_s.median", Stats.median(qs), "s"),
      Metric("query_s.p75", Stats.quantile(qs, 0.75), "s"),
      Metric("query_s.max", qs.max, "s"),
      Metric("corpus.rows", nRows, "count"),
      Metric("corpus.mb", mb, "MB"),
      Metric("corpus.outputs", expected, "count"),
      Metric("corpus.corrupt_rows", corruptRows, "count"),
      Metric("cpu.process_s", Stats.mean(timed.map(_.processCpuSeconds)), "s"),
      Metric("spark.records_in", Stats.median(timed.map(_.scanned.toDouble)), "count"),
      Metric("spark.records_out", Stats.median(timed.map(_.generated.toDouble)), "count"),
      Metric("nproc", nproc, "count"))

    if (o.trace) layer ++= traced(timed, windows(1), query, nRows, regNs, planNs)

    // ---- reference check, outside the timed passes -------------------------
    val jqRows = spark.sql(jqSql("jq", withRid = true))
    val mismatches = w match {
      case ExtractWide => Reference.extractWide(spark, jqRows)
      case CorruptRecover => Reference.corruptRecover(spark, w, o.seed, parts, jqRows)
      case ExplodeTransform =>
        val r = new SplittableRandom(Corpus.mix(o.seed) ^ 0x5EEDL)
        val sample = Seq.fill(256)(r.nextLong(nRows)).distinct.sorted
        Reference.explodeTransform(w, o.seed, sample,
          jqRows.where(org.apache.spark.sql.functions.col("rid").isin(sample: _*)), o.outDir)
    }
    attempted += 1
    if (mismatches != 0) { failed += 1; println(s"MISMATCH: $mismatches rows differ from the reference") }
    detail += Metric("check.mismatched_rows", mismatches, "count")
    detail += Metric("check.failed_share", failed.toDouble / attempted, "ratio")

    val shown = if (o.trace) layer.toSeq else metrics.toSeq
    (metrics ++ layer ++ detail).foreach(m => println(f"  ${m.name}%-34s ${m.value}%16.6f  ${m.unit}"))
    if (o.trace) {
      val path = o.outDir.resolve(s"trace-${w.name}-${o.seed}.json")
      Tracer.write(path)
      println(s"trace: ${Tracer.all.length} spans written to $path")
    }
    val correct = failed == 0
    val ms = shown.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""").mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}""")
    correct
  }

  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else BigDecimal(d).toString

  private def timeNs(body: => Unit): Long = { val t0 = System.nanoTime(); body; System.nanoTime() - t0 }

  /** The jq query through [[TracedJq]], registered as `jq_traced` on top
    * of the `jq` builder [[Graft.register]] installed; warmed by one pass. */
  private def tracedFrame(expected: Long): DataFrame = {
    val registry = spark.sessionState.functionRegistry
    val jqBuilder = registry.lookupFunctionBuilder(FunctionIdentifier("jq")).get
    registry.createOrReplaceTempFunction("jq_traced", args => jqBuilder(args) match {
      case g: JsonQueryGenerator => TracedJq(g.child, g.program, g.typeArgs)
      case other => other
    }, "scala_udf")
    val tdf = spark.sql(jqSql("jq_traced", withRid = false))
    checkedPass(tdf, expected)
    tdf
  }

  /** The traced run's per-layer metrics: the traced passes, the scan-only
    * and speed-of-light passes, and the single-threaded layer loop. */
  private def traced(untraced: Seq[Pass], tracedPasses: Seq[Pass], query: Double, nRows: Long,
      regNs: Long, planNs: Long): Seq[Metric] = {
    val out = mutable.ArrayBuffer.empty[Metric]
    val tq = Stats.mean(tracedPasses.map(_.seconds))

    val scan = spark.table("jqbench_corpus").select("json")
    val scanS = Stats.median((0 until 5).map(_ => pass(scan).seconds))
    def sol(q: String): Double = {
      val d = spark.sql(q)
      pass(d)
      Stats.median((0 until 5).map(_ => pass(d).seconds))
    }
    val solGjo = sol(w.solGetJsonObject)
    val solFj = sol(w.solFromJson)

    // single-threaded layer loop over a sample of the corpus rows
    val sampleRows = math.min(nRows, 4000L).toInt
    val step = nRows / sampleRows
    val gens = Array.tabulate(sampleRows)(i => w.gen(o.seed, i * step))
    val texts = gens.map(_.json)
    val r = new SplittableRandom(Corpus.mix(o.seed) ^ 0xC0FFEEL)
    val corrupt = texts.take(1000).map(CorruptRecover.corrupt(r, _))
    val layers = new Layers(w, texts, corrupt)
    val (compileUs, pruned) = layers.compile(200, 0)
    (0 until 3).foreach(_ => layers.pass(0)) // warm-up
    val reps = (0 until 7).map { _ => Tracer.span("layers.rep", 0) { id => layers.pass(id); (id, Map.empty) } }
    def perRep(name: String, count: String): Seq[(Double, Double)] = reps.map { id =>
      val ss = Tracer.all.filter(s => s.parent == id && s.name == name)
      (ss.map(_.ns).sum.toDouble, ss.map(_.counts.getOrElse(count, 0L)).sum.toDouble)
    }
    def nsPer(name: String, count: String): Double = Stats.median(perRep(name, count).map { case (ns, n) => ns / n })
    val decode = nsPer("operators.decode", "rows")
    val full = nsPer("jq.parse.full", "rows")
    val laneName = if (pruned) "jq.parse.pruned" else "jq.parse.full"
    val lane = nsPer(laneName, "rows")
    val eval = nsPer("jq.eval", "rows")
    val evalOut = perRep("jq.eval", "outputs").head._2 / sampleRows
    val evalErrors = Tracer.all.filter(_.name == "jq.eval").map(_.counts.getOrElse("runtime_errors", 0L)).sum
    val marshalOut = nsPer("operators.marshal", "outputs")
    val gen = nsPer("operators.generate", "rows")
    // rows graft's strict parse rejected, against the rows planted corrupt
    val flagged = perRep("jq.parse.full", "corrupt").head._2.toLong
    val planted = gens.count(_.truth.exists(_.id == -1)).toLong
    attempted += 1
    if (flagged != planted) {
      failed += 1
      println(s"MISMATCH: Jq.parseWithError rejected $flagged of $sampleRows sample rows, $planted are corrupt")
    }
    val tasks = Tracer.all.filter(_.name == "operators.generate.task")
    val busy = tasks.map(_.counts("busy_ns")).sum.toDouble

    out += Metric("jq.compile.us", compileUs, "us")
    out += Metric("jq.footprint.pruned", if (pruned) 1 else 0, "count")
    out += Metric("graft.register.ms", regNs / 1e6, "ms")
    out += Metric("graft.sql_plan.ms", planNs / 1e6, "ms")
    out += Metric("operators.decode.ns_row", decode, "ns/row")
    out += Metric("jq.parse.full_ns_row", full, "ns/row")
    out += Metric("jq.parse.pruned_ns_row", lane, "ns/row")
    out += Metric("jq.parse.mb_s", layers.bytes / 1e6 / (lane * sampleRows / 1e9), "MB/s")
    out += Metric("jq.parse.error_ns_row", nsPer("jq.parse.error", "rows"), "ns/row")
    out += Metric("jq.parse.corrupt_rows", flagged, "count")
    out += Metric("jq.eval.ns_row", eval, "ns/row")
    out += Metric("jq.eval.outputs_per_row", evalOut, "count")
    out += Metric("jq.eval.runtime_errors", evalErrors, "count")
    out += Metric("operators.marshal.ns_out", marshalOut, "ns/out")
    out += Metric("operators.generate.ns_row", gen, "ns/row")
    out += Metric("operators.generate.glue_ns_row", gen - (decode + lane + eval + marshalOut * evalOut), "ns/row")
    out += Metric("operators.generate.spark_ns_row", busy / tasks.map(_.counts("rows")).sum, "ns/row")
    out += Metric("operators.generate.busy_share", busy / tasks.map(_.ns).sum, "ratio")
    out += Metric("spark.tasks", Stats.median(untraced.map(_.stats.tasks.toDouble)), "count")
    out += Metric("spark.gc_s", Stats.mean(untraced.map(_.gcSeconds)), "s")
    out += Metric("spark.scan_only_s", scanS, "s")
    out += Metric("spark.overhead_s", query - nRows * gen / nproc / 1e9, "s")
    out += Metric("sol.get_json_object_s", solGjo, "s")
    out += Metric("sol.from_json_s", solFj, "s")
    out += Metric("trace.query_s", tq, "s")
    out += Metric("trace.overhead_s", tq - query, "s")
    out.toSeq
  }
}
