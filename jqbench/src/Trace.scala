package jqbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.jq.{Footprint, Jq, JqError}
import graft.operators.{JsonMarshaller, JsonQueryGenerator}

/** One timed interval around a call into a layer. `counts` holds the work
  * done inside it (rows, outputs, errors, bytes). */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
    thread: String, counts: Map[String, Long]) {
  def ns: Long = endNs - startNs
}

/** In-memory span store, written out once when the benchmark ends. */
object Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def nextId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = spans.add(s)

  /** Time `body` as a span named `name` under `parent`; `body` returns its
    * result and the span's counts. */
  def span[A](name: String, parent: Long)(body: Long => (A, Map[String, Long])): A = {
    val id = nextId()
    val t0 = System.nanoTime()
    val (a, counts) = body(id)
    record(Span(id, parent, name, t0, System.nanoTime(), Thread.currentThread.getName, counts))
    a
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    all.sortBy(_.startNs).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      val counts = s.counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"thread":"${s.thread.replace("\"", "'")}","counts":{$counts}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** `jq(...)` with a span per task around the graft generator: busy time is
  * the time spent inside `JsonQueryGenerator.eval` and in pulling its
  * outputs. The parent span id comes from the `jqbench.span` job property. */
case class TracedJq(child: Expression, program: String, typeArgs: Seq[String])
    extends UnaryExpression with Generator with CodegenFallback {

  @transient private lazy val inner = JsonQueryGenerator(child, program, typeArgs)
  override def elementSchema: StructType = JsonQueryGenerator.parseTypeArgs(typeArgs)._1

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val st = TracedJq.taskState()
    val t0 = System.nanoTime()
    val it = inner.eval(input).iterator
    st.busyNs += System.nanoTime() - t0
    st.rows += 1
    new Iterator[InternalRow] {
      override def hasNext: Boolean = {
        val t = System.nanoTime(); val h = it.hasNext; st.busyNs += System.nanoTime() - t; h
      }
      override def next(): InternalRow = {
        val t = System.nanoTime(); val n = it.next(); st.busyNs += System.nanoTime() - t; st.outputs += 1; n
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): TracedJq = copy(child = newChild)
  override def prettyName: String = "jq_traced"
}

object TracedJq {
  final class TaskState(val startNs: Long) { var busyNs = 0L; var rows = 0L; var outputs = 0L }

  private val states = new ThreadLocal[(Long, TaskState)]

  def taskState(): TaskState = {
    val tc = TaskContext.get()
    val cur = states.get()
    if (cur != null && cur._1 == tc.taskAttemptId()) cur._2
    else {
      val st = new TaskState(System.nanoTime())
      states.set((tc.taskAttemptId(), st))
      val parent = Option(tc.getLocalProperty("jqbench.span")).map(_.toLong).getOrElse(0L)
      val thread = Thread.currentThread.getName
      tc.addTaskCompletionListener[Unit] { _ =>
        Tracer.record(Span(Tracer.nextId(), parent, "operators.generate.task", st.startNs, System.nanoTime(),
          thread, Map("busy_ns" -> st.busyNs, "rows" -> st.rows, "outputs" -> st.outputs)))
      }
      st
    }
  }
}

/** Single-threaded layer loop on the driver: every layer of the jq path is
  * called through its public function over the same rows, one span per
  * layer per chunk, so each layer's time is its own. */
final class Layers(w: Workload, texts: Array[String], corrupt: Array[String]) {
  private val program = w.program
  private val (schema, whole) = JsonQueryGenerator.parseTypeArgs(w.types)
  private val utf8 = texts.map(UTF8String.fromString)
  val bytes: Long = utf8.map(_.numBytes.toLong).sum
  private val Chunk = 256
  @volatile private var sink = 0L

  /** Median µs of `Jq.compile` + the Footprint analysis, and whether the
    * program is certified for the pruned parse. */
  def compile(reps: Int, parent: Long): (Double, Boolean) = {
    var pruned = false
    val us = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      Tracer.span("jq.compile", parent) { _ =>
        val c = Jq.compile(program)
        pruned = c.footprint.isDefined
        ((), Map("programs" -> 1L))
      }
      (System.nanoTime() - t0) / 1e3
    }
    (Stats.median(us), pruned)
  }

  /** One pass of every layer over all rows, under the span `parent`. */
  def pass(parent: Long): Unit = {
    val compiled = Jq.compileCached(program)
    val fp: Option[Footprint.Fields] = compiled.footprint
    val marshallers: Array[JsonNode => Any] = schema.fields.map(f => JsonMarshaller.compile(f.dataType))
    val names = schema.fieldNames
    texts.indices.grouped(Chunk).foreach { idx =>
      val rows = idx.length.toLong
      val strings = Tracer.span("operators.decode", parent) { _ =>
        (idx.map(i => utf8(i).toString).toArray, Map("rows" -> rows))
      }
      val full = Tracer.span("jq.parse.full", parent) { _ =>
        val p = strings.map(Jq.parseWithError)
        (p, Map("rows" -> rows, "corrupt" -> p.count(!_._2.isNull).toLong))
      }
      val lane = fp match {
        case Some(f) =>
          Tracer.span("jq.parse.pruned", parent) { _ =>
            (strings.map(Jq.parsePrunedWithError(_, f)), Map("rows" -> rows))
          }
        case None => full
      }
      val outs = Tracer.span("jq.eval", parent) { _ =>
        var errors = 0L
        val o = lane.flatMap { case (input, error) =>
          try compiled.apply(input, Map("error" -> error)).toArray
          catch { case _: JqError => errors += 1; Array.empty[JsonNode] }
        }
        (o, Map("rows" -> rows, "outputs" -> o.length.toLong, "runtime_errors" -> errors))
      }
      Tracer.span("operators.marshal", parent) { _ =>
        outs.foreach { node =>
          if (whole) { if (marshallers(0)(node) != null) sink += 1 }
          else {
            var i = 0
            while (i < marshallers.length) {
              val sub = if (node.isObject) node.get(names(i)) else null
              if (sub != null && marshallers(i)(sub) != null) sink += 1
              i += 1
            }
          }
        }
        ((), Map("outputs" -> outs.length.toLong))
      }
    }
    val gen = JsonQueryGenerator(BoundReference(0, StringType, nullable = true), program, w.types)
    utf8.grouped(Chunk).foreach { chunk =>
      Tracer.span("operators.generate", parent) { _ =>
        var outputs = 0L
        chunk.foreach { u => gen.eval(InternalRow(u)).iterator.foreach { _ => outputs += 1 } }
        ((), Map("rows" -> chunk.length.toLong, "outputs" -> outputs))
      }
    }
    corrupt.grouped(Chunk).foreach { chunk =>
      Tracer.span("jq.parse.error", parent) { _ =>
        val n = chunk.count(t => !Jq.parseWithError(t)._2.isNull).toLong
        ((), Map("rows" -> chunk.length.toLong, "corrupt" -> n))
      }
    }
  }
}
