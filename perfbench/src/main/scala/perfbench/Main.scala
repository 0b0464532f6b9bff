package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.core._
import graft.operators.{MethodRoutedLoader, TransformContext}

/** Drives one drain workload over inputs that `run.py` generated, and
  * writes the raw measurements as one JSON object.
  *
  * Usage: `perfbench.Main --workload <drain_append|cdc_upsert>
  *   --input <dir> --seconds <s> --trace <0|1> --cores <n> --out <file>`
  *
  * `<dir>/timed` holds the measured pipeline's source (and changelog and
  * pre-loaded destination for `cdc_upsert`); the `<dir>/warmup-*` copies
  * feed the warm-up pipelines, so the measured pipeline always starts
  * from the same state however long the warm-up ran.
  *
  * The drain is driven single-threaded, batch by batch, the way
  * `Pipeline.drain` drives it. Untraced batches call `Pipeline.runBatch`.
  * The traced run interleaves those with batches that make the same
  * public calls in the same order, each inside a span; the two series
  * share one process and one table state, so their difference is the
  * tracing overhead.
  */
object Main {
  val BatchSize = 1000
  // warm-up: first every copy of the inputs drains on its own thread, so
  // the JIT sees the drain loop's code several times faster than one
  // loop alone would drive it; then one copy drains alone until the
  // medians of its last two windows of batches agree within a share.
  // The cap keeps a slow or noisy run within the run's time.
  val WarmParallelSeconds = 6.0
  val WarmWindow = 3
  val WarmTolerance = 0.10
  val WarmMaxSeconds = 22.0

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v
    }.toMap
    val workload = opt("workload")
    val input = opt("input")
    val spark = GraftSession.local(opt("cores").toInt)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val out = try
      new Drain(spark, workload, input).run(opt("seconds").toDouble,
        opt("trace") == "1", opt.get("spans"))
    finally spark.stop()
    Files.writeString(Paths.get(opt("out")),
      Json.obj(Seq("session_s" -> sessionS) ++ out))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

final class Drain(spark: SparkSession, workload: String, input: String) {
  import Main._

  private def spec(root: String, params: Params): PipelineSpec =
    workload match {
      case "drain_append" =>
        PipelineSpec("src", "x", "id", "dst", "x", s"$root/source",
          s"$root/dest", extractor = "sequential", params = params)
      case "cdc_upsert" =>
        PipelineSpec("src", "x", "id", "dst", "x", s"$root/source",
          s"$root/dest", extractor = "queue",
          queuePath = Some(s"$root/queue/MigratorRecordQueue"),
          primaryKey = Some("id"), params = params)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  private def pipeline(root: String, params: Params = Params(batchSize = BatchSize)): Pipeline =
    new Pipeline(spark, spec(root, params),
      new TrackingStore(spark, s"$root/tracking"))

  private def rowsOf(counts: Map[String, Long]): Long = counts.values.sum

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** One drain over a copy of the inputs, batch by batch. */
  private final class Leg(root: String) {
    private val p = pipeline(root)
    private var status = p.init()
    var more = true

    /** Run one batch; return its wall time in ms. */
    def step(): Double = {
      val b0 = System.nanoTime()
      val (_, m, st) = p.runBatch(status)
      status = st
      more = m
      seconds(b0) * 1000
    }
  }

  /** Warm the drain loop up on the `warmup-*` copies (see the rule
    * above). Returns the warm-up's wall time and the batch times of its
    * single-threaded phase.
    */
  private def warmUp(): (Double, Seq[Double]) = {
    val t0 = System.nanoTime()
    val legs = new java.io.File(input).list().filter(_.startsWith("warmup"))
      .sorted.map(d => new Leg(s"$input/$d")).toSeq
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = legs.map { leg =>
      new Thread(() =>
        try while (leg.more && seconds(t0) < WarmParallelSeconds) leg.step()
        catch { case e: Throwable => failures.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (!failures.isEmpty) throw failures.peek()

    val leg = legs.head
    val ms = ArrayBuffer[Double]()
    def converged: Boolean = ms.size >= 2 * WarmWindow && {
      val last = median(ms.takeRight(WarmWindow).toSeq)
      val prev = median(ms.dropRight(WarmWindow).takeRight(WarmWindow).toSeq)
      math.abs(last - prev) <= WarmTolerance * prev
    }
    while (leg.more && !converged && seconds(t0) < WarmMaxSeconds) ms += leg.step()
    (seconds(t0), ms.toSeq)
  }

  /** Heap a full collection leaves: what the run retains. Occupancy
    * between collections is mostly garbage and follows the collector's
    * timing, not the code, so it is not what this samples. Spark frees
    * broadcast and shuffle blocks from a cleaner thread once a collection
    * has found their handles unreachable, so the second collection, after
    * a pause for that thread, sees them gone.
    */
  private def liveHeapBytes(): Long = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getUsage.getUsed).sum
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Data files of the destination table and their total bytes. */
  private def destFiles(root: String): Seq[Path] = {
    val dir = Paths.get(s"$root/dest/x.parquet")
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && n.endsWith(".parquet") && !n.startsWith(".")
      }.toSeq finally s.close()
    }
  }

  /** The same public calls `Pipeline.runBatch` makes, in the same order,
    * each inside a span.
    */
  private def tracedBatch(rec: Recorder, p: Pipeline, tracking: TrackingStore,
      status: TrackingStatus): (Map[String, Long], Boolean, TrackingStatus) =
    rec.span("batch") {
      val spec = p.spec
      val res = rec.span("extract") { p.extractor.extract(spark, spec, status) }
      try {
        val batch = TableBatch(spec.destinationDatabase, spec.destinationTable, res.df)
        val outs = rec.span("transform") {
          p.transformer(batch, spec.params,
            TransformContext(spark, spec.destinationPath, spec.pkColumns))
        }
        val counts = rec.span("load") {
          outs.map(b => MethodRoutedLoader.load(spark, b, spec.destinationPath,
            spec.pkColumns, spec.params)).flatten
            .groupMapReduce(_._1)(_._2)(_ + _)
        }
        rec.span("commit") {
          tracking.put(res.newStatus)
          res.commit()
        }
        (counts, res.moreData, res.newStatus)
      } finally rec.span("cleanup") { res.cleanup() }
    }

  def run(budgetS: Double, trace: Boolean,
          spansPath: Option[String]): Seq[(String, Any)] = {
    val (warmS, warmMs) = warmUp()

    val root = s"$input/timed"
    val tracking = new TrackingStore(spark, s"$root/tracking")
    val p = new Pipeline(spark, spec(root, Params(batchSize = BatchSize)), tracking)
    var status = p.init()
    val rec = if (trace) Some(new Recorder(spark.sparkContext)) else None

    val untracedMs = ArrayBuffer[Double]()
    val tracedMs = ArrayBuffer[Double]()
    val filesWritten = ArrayBuffer[Double]()
    var rows = 0L
    var tracedRows = 0L
    var more = true
    var attempted = 0
    var failed = 0
    var error: String = null
    val liveAtStart = liveHeapBytes()
    val gc0 = gcMs
    val t0 = System.nanoTime()
    while (more && error == null && seconds(t0) < budgetS) {
      attempted += 1
      try {
        val (counts, m, st) = rec match {
          case Some(r) if attempted % 2 == 0 =>
            val before = destFiles(root).map(_.getFileName.toString).toSet
            val b0 = System.nanoTime()
            val res = tracedBatch(r, p, tracking, status)
            tracedMs += seconds(b0) * 1000
            filesWritten += destFiles(root)
              .count(f => !before.contains(f.getFileName.toString))
            tracedRows += rowsOf(res._1)
            res
          case _ =>
            val b0 = System.nanoTime()
            val res = p.runBatch(status)
            untracedMs += seconds(b0) * 1000
            res
        }
        rows += rowsOf(counts)
        status = st
        more = m
      } catch {
        case e: Throwable =>
          failed += 1
          error = s"${e.getClass.getName}: ${e.getMessage}"
      }
    }
    val wallS = seconds(t0)
    val gcTotalMs = gcMs - gc0
    val peakHeapMb = math.max(liveAtStart, liveHeapBytes()) / 1048576.0

    // destination state as the 1k-row batches left it
    val files = destFiles(root)
    val destBytes = files.map(Files.size).sum
    val destRows =
      if (files.isEmpty) 0L else spark.read.parquet(s"$root/dest/x.parquet").count()

    // untimed catch-up in large batches written as large files, so the
    // output check sees the whole input applied and the position caught up
    val caught = if (error == null) {
      try {
        pipeline(root, Params(batchSize = 1000000, insertBatchSize = 1000000)).drain()
        true
      }
      catch { case e: Throwable => error = s"catch-up: ${e.getMessage}"; false }
    } else false

    val layers = rec.map { r =>
      r.finish()
      spansPath.foreach(r.writeSpans)
      perLayer(r, tracedMs.toSeq, untracedMs.toSeq, filesWritten.toSeq,
        tracedRows, gcTotalMs.toDouble / math.max(1, attempted), files.size)
    }.getOrElse(Nil)

    Seq("warmup_s" -> warmS, "warmup_batch_ms" -> warmMs,
      "attempted" -> attempted, "failed" -> failed, "error" -> error,
      "rows" -> rows, "wall_s" -> wallS, "batch_ms" -> untracedMs.toSeq,
      "peak_heap_mb" -> peakHeapMb, "dest_bytes" -> destBytes,
      "dest_rows" -> destRows, "dest_files" -> files.size,
      "caught_up" -> caught, "per_layer" -> layers.toMap)
  }

  /** Fold the traced batches' span trees into per-layer figures. */
  private def perLayer(r: Recorder, tracedMs: Seq[Double],
      untracedMs: Seq[Double], filesWritten: Seq[Double], tracedRows: Long,
      gcMsPerBatch: Double,
      destDataFiles: Int): Seq[(String, Any)] = {
    val batches = r.spans.filter(s => s.name == "batch" && s.parent == -1).toSeq
    def stage(b: Span, name: String): Seq[Span] = r.children(b).filter(_.name == name)
    def stageMs(name: String): Seq[Double] =
      batches.map(b => stage(b, name).map(_.ms).sum)
    def perBatch(f: Span => Double): Double = median(batches.map(f))
    def stageTotal(name: String, c: Counts => java.util.concurrent.atomic.AtomicLong) =
      batches.map(b => stage(b, name).map(s => r.total(s, c)).sum.toDouble)
    val extractMs = stageMs("extract")
    val tenth = math.max(1, extractMs.size / 10)
    val rows = math.max(1.0, tracedRows.toDouble)
    Seq(
      "batch.jobs" -> perBatch(b => r.total(b, _.jobs).toDouble),
      "batch.tasks" -> perBatch(b => r.total(b, _.tasks).toDouble),
      "batch.driver_result_bytes" -> perBatch(b => r.total(b, _.resultBytes).toDouble),
      "batch.gap_ms" -> perBatch(r.selfMs),
      "jvm.gc_ms" -> gcMsPerBatch,
      "extract.ms_p50" -> median(extractMs),
      "extract.jobs" -> median(stageTotal("extract", _.jobs)),
      "extract.rows_read_per_row" ->
        stageTotal("extract", _.inputRecords).sum / rows,
      "extract.ms_growth" ->
        median(extractMs.takeRight(tenth)) / median(extractMs.take(tenth)),
      "transform.ms_p50" -> median(stageMs("transform")),
      "load.ms_p50" -> median(stageMs("load")),
      "load.jobs" -> median(stageTotal("load", _.jobs)),
      "load.bytes_written_per_row" ->
        stageTotal("load", _.outputBytes).sum / rows,
      "load.files_written" -> median(filesWritten),
      "dest.data_files" -> destDataFiles.toDouble,
      "commit.ms_p50" -> median(stageMs("commit")),
      "commit.jobs" -> median(stageTotal("commit", _.jobs)),
      "cleanup.ms_p50" -> median(stageMs("cleanup")),
      "trace.batch_ms_p50" -> median(tracedMs),
      "trace.stage_sum_ms_p50" -> perBatch(b => r.children(b).map(r.selfMs).sum +
        r.selfMs(b)),
      "trace.untraced_batch_ms_p50" -> median(untracedMs),
      "trace.overhead_pct" -> (median(tracedMs) / median(untracedMs) - 1) * 100,
      "trace.batches" -> batches.size.toDouble)
  }
}
