package e2ebench

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** The benchmark's JVM entry point (launched by `run.py`).
  *
  *   --workload flows|job_chain
  *   --seed N --seconds S --trace 0|1 --root <checkout>
  *
  * Untraced (`--trace 0`): set up three times (session start + input
  * generation) and report the median plus one unmeasured warm-up pass as
  * `setup_s`; then run timed passes in a closed loop until `S` seconds of
  * passes and at least [[Workload.minPasses]] have run, checking each
  * pass's outputs (the warm-up pass's too) outside the timed region
  * (`job_chain`'s output hashes are taken as its pass runs the queries).
  * Traced (`--trace 1`): one untraced reference pass, then traced passes
  * with a SparkListener and spans, reported as the per-layer metrics.
  * The last stdout line is the result JSON.
  */
object Main {
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  val SetupReps = 3

  /** Every per-layer metric and its unit; a traced run prints all of them,
    * 0 where the workload never enters the layer.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "ingest.csv_read_s" -> "s", "ingest.rows_in" -> "count",
    "ingest.csv_write_s" -> "s", "ingest.csv_write_mb" -> "MB",
    "ingest.parquet_write_s" -> "s",
    "resample.weekly_s" -> "s", "resample.shuffle_write_mb" -> "MB",
    "kernel.run_s" -> "s", "kernel.task_cpu_s" -> "s",
    "kernel.series_in" -> "count", "kernel.series_out" -> "count",
    "kernel.yield" -> "share", "kernel.seasonal_share" -> "share",
    "forecast_job.task_cpu_s" -> "s", "forecast_job.jobs" -> "count",
    "report.clean_s" -> "s", "report.render_s" -> "s", "report.rows" -> "count",
    "textanalysis.stats_s" -> "s", "textanalysis.gate_yield" -> "share",
    "textanalysis.chunk_s" -> "s", "textanalysis.pack_s" -> "s",
    "textanalysis.chunks_out" -> "count",
    "dedup.exact_s" -> "s", "dedup.dup_share" -> "share",
    "dedup.decontaminate_s" -> "s", "dedup.contaminated_share" -> "share",
    "curation_job.funnel_s" -> "s") ++
    Workload.Queries.flatMap(q => Seq(s"queries.$q.build_s" -> "s",
      s"queries.$q.exec_s" -> "s", s"queries.$q.jobs" -> "count",
      s"queries.$q.task_cpu_s" -> "s")) ++ Seq(
    "spark.pass_wall_s" -> "s", "spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.driver_gap_s" -> "s",
    "trace.untraced_wall_s" -> "s", "trace.traced_wall_s" -> "s",
    "trace.overhead_share" -> "share")

  /** `small`: tiny inputs, for the harness's own tests. */
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, root: File, small: Boolean = false)

  def parse(a: Seq[String]): Args = {
    def opt(k: String) = a.indexOf(k) match {
      case -1 => throw new IllegalArgumentException(s"missing $k")
      case i => a(i + 1)
    }
    Args(opt("--workload"), opt("--seed").toLong, opt("--seconds").toDouble,
      opt("--trace") == "1", new File(opt("--root")).getAbsoluteFile)
  }

  /** A run's outcome. `measured` names the per-layer metrics the workload
    * produced itself (the rest of [[PerLayer]] reads 0); `tracer` holds a
    * traced run's spans.
    */
  final case class Result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)], measured: Set[String],
      tracer: Option[Tracer]) {
    def json: String = Json.obj(Seq(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) =>
        n -> Seq("value" -> v, "unit" -> u) }))
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try { println(run(parse(argv.toSeq)).json); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("e2ebench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def info(s: String): Unit = println(s"[e2ebench] $s")

  /** Runs one benchmark invocation. */
  def run(a: Args): Result = {
    val work = new File(a.root, s".bench_build/e2ebench/${a.workload}")
    Files.deleteTree(work)
    val inDir = new File(work, "in")
    val out = new File(work, "out")
    var spark: SparkSession = null
    var wl: Workload = null
    // set-up: session start + input generation, repeated; the median
    // plus the one warm-up pass is setup_s
    val setupTimes = (1 to (if (a.trace) 1 else SetupReps)).map { _ =>
      seconds {
        if (spark != null) spark.stop()
        Files.deleteTree(inDir)
        inDir.mkdirs()
        spark = session(work)
        wl = Workload(a.workload, spark, inDir, a.seed, a.small, a.root, deep = a.trace)
        wl.generate()
      }._2
    }
    info(s"workload ${a.workload} seed ${a.seed} local[$Cores] " +
      Json.obj(wl.facts))
    val (_, warm) = seconds(wl.pass(out))
    val setup = median(setupTimes) + warm
    info(f"setup ${setupTimes.map(t => f"$t%.3f").mkString(" ")} s, warm-up pass $warm%.3f s")

    var checkSeconds = 0.0
    def check(): Seq[String] = {
      val (errs, t) = seconds(wl.check(out))
      checkSeconds += t
      errs.foreach(e => info(s"check failed: $e"))
      errs
    }
    // the warm-up pass is checked too (for job_chain it is the first pass
    // every later pass must reproduce), but is no timed operation
    val warmFailed = check().nonEmpty
    var attempted = 0
    var failed = 0
    def checked(): Unit = {
      attempted += wl.ops
      failed += check().size
    }
    def fresh(): Unit = {
      Files.deleteTree(out)
      spark.catalog.clearCache()
      Heap.reset()
    }

    val (metrics, measured, tracer) =
      if (!a.trace) {
        val walls = Seq.newBuilder[Double]
        val peaks = Seq.newBuilder[Double]
        var timed = 0.0
        var n = 0
        while (n < wl.minPasses || timed < a.seconds) {
          n += 1
          fresh()
          val (_, t) = seconds(wl.pass(out))
          peaks += Heap.peakMb()
          walls += t
          timed += t
          checked()
        }
        val ws = walls.result()
        info(s"passes ${ws.map(t => f"$t%.3f").mkString(" ")} s, peak heap " +
          s"${peaks.result().map(m => f"$m%.1f").mkString(" ")} MB, " +
          f"checks $checkSeconds%.3f s")
        val wall = median(ws)
        (Seq(("wall_s", wall, "s"), ("items_per_s", wl.items / wall, "1/s"),
          ("setup_s", setup, "s"), ("peak_heap_mb", median(peaks.result()), "MB"),
          ("ok_share", (attempted - failed).toDouble / attempted, "share")),
          Set.empty[String], None)
      } else {
        val (got, tr) = traced(a, wl, spark, out, fresh _, checked _)
        (PerLayer.map { case (n, u) => (n, got.getOrElse(n, 0.0), u) },
          got.keySet, Some(tr))
      }

    spark.stop()
    Files.deleteTree(inDir)
    Files.deleteTree(out)
    Result(!warmFailed && failed == 0, attempted, failed, metrics, measured,
      tracer)
  }

  private def traced(a: Args, wl: Workload, spark: SparkSession, out: File,
      fresh: () => Unit, checked: () => Unit): (Map[String, Double], Tracer) = {
    fresh()
    val (_, untraced) = seconds(wl.pass(out))
    checked()
    val tr = new Tracer(spark.sparkContext)
    val layerRuns = Seq.newBuilder[Map[String, Double]]
    var timed = 0.0
    var p = 0
    while (p == 0 || timed < a.seconds) {
      p += 1
      fresh()
      val root = tr.region("pass", p)(wl.traced(tr, p, out))
      val runtime =
        if (wl.calls.isEmpty) root
        else {
          fresh()
          tr.region("runtime", p)(wl.calls.foreach { case (name, call) =>
            tr.span(name, p)(call(out)) })
        }
      checked()
      timed += root.seconds
      tr.drain()
      val rw = tr.subtree(runtime)
      layerRuns += wl.layers(tr, root, runtime) ++ Map(
        "spark.pass_wall_s" -> runtime.seconds,
        "spark.jobs" -> rw.jobs.toDouble, "spark.stages" -> rw.stages.toDouble,
        "spark.tasks" -> rw.tasks.toDouble, "spark.task_cpu_s" -> rw.cpuNs / 1e9,
        "spark.gc_s" -> rw.gcMs / 1e3,
        "spark.shuffle_read_mb" -> rw.shuffleReadBytes / Workload.Mb,
        "spark.shuffle_write_mb" -> rw.shuffleWriteBytes / Workload.Mb,
        "spark.spill_mb" -> rw.spillBytes / Workload.Mb,
        "spark.driver_gap_s" -> tr.driverGapSeconds(runtime),
        "trace.traced_wall_s" -> root.seconds)
    }
    tr.detach()
    val traceFile = new File(a.root,
      s".bench_build/e2ebench/trace-${a.workload}-${a.seed}.jsonl")
    tr.dump(traceFile)
    info(s"spans written to $traceFile")
    val runs = layerRuns.result()
    val tracedWall = median(runs.map(_("trace.traced_wall_s")))
    val got = runs.flatMap(_.keySet).distinct.map(k =>
      k -> median(runs.map(_.getOrElse(k, 0.0)))).toMap ++ Map(
      "trace.untraced_wall_s" -> untraced,
      "trace.overhead_share" -> (tracedWall / untraced - 1.0))
    info("tracing overhead includes the layer-boundary materializations")
    (got, tr)
  }
}

/** Peak driver heap the program holds during a pass: the largest heap use
  * right after a collection, over the collections between [[reset]] and
  * [[peakMb]] and the one [[peakMb]] forces while the pass's outputs are
  * still referenced. Use after a collection leaves out the garbage the
  * young generation fills up with between collections.
  */
object Heap {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var peak = 0L
  private var forced = 0L

  private object Listener extends NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val gc = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val used = gc.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        Heap.synchronized {
          peak = math.max(peak, used)
          if (gc.getGcCause == "System.gc()") forced += 1
          Heap.notifyAll()
        }
      }
  }
  private lazy val listening: Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(Listener, null, null)
      case _ =>
    }

  /** Collects, and returns once the collection's notification (and every
    * earlier one) has been handled.
    */
  private def collect(): Unit = {
    listening
    val before = synchronized(forced)
    System.gc()
    val end = System.nanoTime() + 10000000000L
    synchronized {
      while (forced == before && System.nanoTime() < end) wait(50)
    }
  }

  def reset(): Unit = { collect(); synchronized { peak = 0L } }
  def peakMb(): Double = {
    collect()
    val p: Long = synchronized(peak)
    p.toDouble / 1e6
  }
}
