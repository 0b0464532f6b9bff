package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Listener counts of one span (jobs, tasks and the task metrics a layer
  * can move).
  */
final class Counts {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val shuffleBytes = new AtomicLong // shuffle read + write
  val spillBytes = new AtomicLong   // memory + disk spill
  val resultBytes = new AtomicLong  // task results sent to the driver
  val outputBytes = new AtomicLong
  val inputRecords = new AtomicLong
}

/** One timed region of the traced run. `parent` is -1 for a root. */
final case class Span(id: Long, name: String, parent: Long,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span tree plus a `SparkListener` that attributes every job to the
  * innermost span open on the submitting thread. The span id travels as
  * a local property, which Spark copies onto each job it submits, also
  * from the broadcast and subquery threads of a SQL execution.
  */
final class Recorder(sc: SparkContext) extends SparkListener {
  private val Key = "perfbench.span"
  private val nextId = new AtomicLong
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val counts = new ConcurrentHashMap[Long, Counts]()
  private val open = scala.collection.mutable.Stack[(Long, Long)]()
  val spans = ArrayBuffer[Span]()

  sc.addSparkListener(this)

  private def countsOf(span: Long): Counts =
    counts.computeIfAbsent(span, _ => new Counts)

  def span[T](name: String)(body: => T): T = {
    val id = nextId.incrementAndGet()
    val parent = open.headOption.map(_._1).getOrElse(-1L)
    val saved = sc.getLocalProperty(Key)
    open.push((id, System.nanoTime()))
    sc.setLocalProperty(Key, id.toString)
    try body
    finally {
      val (_, start) = open.pop()
      spans += Span(id, name, parent, start, System.nanoTime())
      sc.setLocalProperty(Key, saved)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .map(_.toLong).getOrElse(-1L)
    e.stageIds.foreach(s => stageSpan.put(s, id))
    countsOf(id).jobs.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = countsOf(stageSpan.getOrDefault(e.stageId, -1L))
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.resultBytes.addAndGet(m.resultSize)
      c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      c.inputRecords.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  /** Wait for every queued listener event, then stop listening. */
  def finish(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
  }

  def countsFor(span: Span): Counts = counts.getOrDefault(span.id, new Counts)

  // read only once every span has closed, after the run
  private lazy val byParent: Map[Long, Seq[Span]] =
    spans.toSeq.groupBy(_.parent)

  def children(span: Span): Seq[Span] = byParent.getOrElse(span.id, Nil)

  /** Duration minus the time the direct children cover. */
  def selfMs(span: Span): Double = span.ms - children(span).map(_.ms).sum

  /** All spans of the subtree rooted at `span`, itself included. */
  def subtree(span: Span): Seq[Span] =
    span +: children(span).flatMap(subtree)

  /** Listener counts summed over a whole subtree. */
  def total(span: Span, f: Counts => AtomicLong): Long =
    subtree(span).map(s => f(countsFor(s)).get).sum

  /** Spans as JSON lines, with their listener counts. */
  def writeSpans(path: String): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      val c = countsFor(s)
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ms" -> selfMs(s), "jobs" -> c.jobs.get, "tasks" -> c.tasks.get,
        "shuffle_bytes" -> c.shuffleBytes.get,
        "spill_bytes" -> c.spillBytes.get,
        "driver_result_bytes" -> c.resultBytes.get,
        "output_bytes" -> c.outputBytes.get,
        "input_records" -> c.inputRecords.get))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.asJava, java.nio.charset.StandardCharsets.UTF_8)
  }
}

/** Minimal JSON writer for the harness's flat result records. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case other => value(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
