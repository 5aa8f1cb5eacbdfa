package e2ebench

import graft.{CurationJob, ForecastJob, SparkEntry}
import graft.engine.{Clean, Ingest, PipelineConfig, Report, Resample, Schemas}
import graft.engine.forecast.Kernel
import graft.llm.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.AccumulatorV2

import java.io.File

/** One benchmark workload: seeded inputs, the timed pass through the
  * engine's public entry points, the output check, and the traced pass
  * that splits the same work into layers.
  */
abstract class Workload(val spark: SparkSession, val inDir: File,
    val seed: Long) {
  /** Writes the inputs into `inDir`. */
  def generate(): Unit
  /** Input sizes and shares, printed with every run. */
  def facts: Seq[(String, Any)]
  /** Input items one pass processes. */
  def items: Long
  /** Operations in one pass (each checked on its own). */
  def ops: Int
  /** Timed passes an untraced run makes at least. */
  def minPasses: Int = 2
  /** The timed work. Leaves in `out` (or in fields) what [[check]] reads. */
  def pass(out: File): Unit
  /** Errors in the outputs of the last pass, one per failed operation.
    * The first call also makes the once-per-seed reference checks.
    */
  def check(out: File): Seq[String]
  /** The pass with each layer materialized at its boundary, in spans. */
  def traced(tr: Tracer, pass: Int, out: File): Unit
  /** The untouched pass as named entry-point calls, traced for the Spark
    * runtime counts when [[traced]] reshapes the work; empty when the
    * traced pass runs the work as it is.
    */
  def calls: Seq[(String, File => Unit)]
  /** Layer metrics of one traced pass (`root`) and its whole-call pass
    * (`runtime`, the same span when [[calls]] is empty).
    */
  def layers(tr: Tracer, root: Span, runtime: Span): Map[String, Double]

  /** Materializes a layer's output so the next layer starts from data. */
  protected def mat(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
  protected def self(tr: Tracer, root: Span, name: String): Double =
    tr.named(root, name).map(tr.selfSeconds).sum
}

object Workload {
  val Queries = Seq("token_budget_cut_bpe", "dedup_clusters")

  /** `deep`: also make the reference checks too slow for every run (the
    * DuckDB oracles, the `curate` recount); traced runs and tests do.
    */
  def apply(name: String, spark: SparkSession, inDir: File, seed: Long,
      small: Boolean, root: File, deep: Boolean): Workload = name match {
    case "flows" => new Flows(Seq(
      new ForecastFlow(spark, new File(inDir, "forecast"), seed,
        if (small) 300 else 1200),
      new CurationFlow(spark, new File(inDir, "curation"), seed,
        if (small) 400 else 1000, deep)))
    case "job_chain" =>
      new JobChain(spark, inDir, seed, if (small) 100 else 150, root, deep)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val Mb = 1e6
}

/** Workloads run one after the other in each pass: the paper's forecast
  * flow and the curation flow share one timed pass, so the two flows
  * pay the JVM and Spark start-up once per run.
  */
final class Flows(parts: Seq[Workload])
    extends Workload(parts.head.spark, parts.head.inDir, parts.head.seed) {
  def generate(): Unit = parts.foreach { p => p.inDir.mkdirs(); p.generate() }
  def facts: Seq[(String, Any)] = parts.flatMap(_.facts)
  def items: Long = parts.map(_.items).sum
  def ops: Int = parts.map(_.ops).sum
  def pass(out: File): Unit = parts.foreach(_.pass(out))
  def check(out: File): Seq[String] = parts.flatMap(_.check(out))
  def traced(tr: Tracer, p: Int, out: File): Unit = parts.foreach(_.traced(tr, p, out))
  def calls: Seq[(String, File => Unit)] = parts.flatMap(_.calls)
  def layers(tr: Tracer, root: Span, runtime: Span): Map[String, Double] =
    parts.map(_.layers(tr, root, runtime)).reduce(_ ++ _)
}

/** ventas CSV → `ForecastJob.run` → results CSV + report. */
final class ForecastFlow(spark: SparkSession, inDir: File, seed: Long,
    nSeries: Int) extends Workload(spark, inDir, seed) {
  val csv = new File(inDir, "ventas.csv")
  var f: VentasFacts = _
  private var report: String = _

  def generate(): Unit = f = Gen.ventas(csv, seed, nSeries)
  def facts: Seq[(String, Any)] = Seq("ventas_rows" -> f.rows,
    "negative_rows" -> f.negativeRows, "series" -> f.series,
    "passing_series" -> f.passing, "ventas_mb" -> f.bytes / Workload.Mb,
    "kernel.seasonal_share" -> f.seasonalShare,
    "kernel.gate_rejected_share" -> f.gateRejectedShare,
    "dominant_country_share" -> f.dominantShare)
  def items: Long = f.series
  def ops: Int = 1

  private def results(out: File) = new File(out, "results.csv")

  def pass(out: File): Unit =
    report = ForecastJob.run(spark, csv.getPath, Some(results(out).getPath))._2

  def check(out: File): Seq[String] =
    ForecastFlow.check(spark, results(out), report, f).take(1)

  /** The report of the last pass. */
  def lastReport: String = report

  def calls: Seq[(String, File => Unit)] = Seq("ForecastJob.run" -> pass)

  def traced(tr: Tracer, p: Int, out: File): Unit = {
    val cfg = PipelineConfig()
    // ForecastJob.forecast, one layer per span
    val sales = tr.span("Ingest.csv_read", p) {
      mat(Clean.nonNegative(Ingest.rename(
        Ingest.readVentasCsv(spark, csv.getPath), Ingest.ventasRenames)
        .select(col("Product_ID").as("sku"), col("Store_ID").as("store"),
          col("InvoiceDate").as("ts"), col("Units_Sold").cast("double").as("units"))
        .filter(col("sku").isNotNull && col("store").isNotNull), "units"))
    }
    val weekly = tr.span("Resample.weekly", p) {
      mat(Resample.weeklySparse(sales, Seq("sku", "store"), "ts", "units"))
    }
    // Kernel.run after its resample
    val res = tr.span("forecast.Kernel", p) {
      import spark.implicits._
      mat(weekly.groupBy($"sku", $"store")
        .agg(sort_array(collect_list(struct($"week", $"units"))).as("entries"))
        .as[Kernel.SeriesRow]
        .flatMap(r => Kernel.processSeries(r.sku, r.store,
          Kernel.densify(r.entries, cfg.maxSpanWeeks), cfg))
        .toDF()
        .select(col("sku").as("SKU"), col("store").as("Store"),
          col("mape").as("MAPE"),
          Ingest.csvArrayForm(col("forecast")).as("Forecast"),
          Ingest.csvArrayForm(col("test")).as("Test"),
          col("safety_stock").as("Safety_Stock"),
          col("reorder_point").as("Reorder_Point"),
          col("qty_to_order").as("Qty_to_Order"),
          col("runtime_sec").as("Runtime_sec")))
    }
    tr.span("Ingest.csv_write", p) {
      Ingest.writeCsvCompat(res, results(out).getPath)
    }
    val cleaned = tr.span("Report.clean", p)(mat(Report.clean(res)))
    tr.span("Report.render", p)(Report.renderText(cleaned))
    counts = Map("series_out" -> res.count().toDouble,
      "report_rows" -> cleaned.count().toDouble,
      "csv_write_mb" -> Files.treeBytes(results(out)) / Workload.Mb)
  }
  private var counts = Map.empty[String, Double]

  def layers(tr: Tracer, root: Span, runtime: Span): Map[String, Double] = {
    def w(name: String, in: Span = root) = tr.work(tr.named(in, name))
    val seriesOut = counts("series_out")
    val job = w("ForecastJob.run", runtime)
    Map(
      "forecast_job.task_cpu_s" -> job.cpuNs / 1e9,
      "forecast_job.jobs" -> job.jobs.toDouble,
      "ingest.csv_read_s" -> self(tr, root, "Ingest.csv_read"),
      "ingest.rows_in" -> w("Ingest.csv_read").recordsRead.toDouble,
      "ingest.csv_write_s" -> self(tr, root, "Ingest.csv_write"),
      "ingest.csv_write_mb" -> counts("csv_write_mb"),
      "resample.weekly_s" -> self(tr, root, "Resample.weekly"),
      "resample.shuffle_write_mb" ->
        w("Resample.weekly").shuffleWriteBytes / Workload.Mb,
      "kernel.run_s" -> self(tr, root, "forecast.Kernel"),
      "kernel.task_cpu_s" -> w("forecast.Kernel").cpuNs / 1e9,
      "kernel.series_in" -> f.series.toDouble,
      "kernel.series_out" -> seriesOut,
      "kernel.yield" -> seriesOut / f.series,
      "kernel.seasonal_share" -> f.seasonalShare,
      "report.clean_s" -> self(tr, root, "Report.clean"),
      "report.render_s" -> self(tr, root, "Report.render"),
      "report.rows" -> counts("report_rows"))
  }
}

object ForecastFlow {
  val ReportEntry = "Análisis Detallado de SKU:"

  private def parseArray(s: String): Array[Double] = {
    val body = s.trim.stripPrefix("[").stripSuffix("]").trim
    if (body.isEmpty) Array.empty else body.split(", ").map(_.toDouble)
  }

  /** Errors in a results CSV and its report against the generated input:
    * one row per gate-passing series, each sampled series equal to the
    * driver-side `Kernel.processSeries` of its generated weekly series
    * (all columns but the per-series wall time `Runtime_sec`), and a
    * report of min(1000, rows) entries.
    */
  def check(spark: SparkSession, results: File, report: String,
      f: VentasFacts): Seq[String] = {
    val rows = spark.read.schema(Schemas.forecastResults)
      .option("header", "true").csv(results.getPath).collect()
    val byKey = rows.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val errs = Seq.newBuilder[String]
    if (rows.length != f.passing)
      errs += s"results rows ${rows.length} != gate-passing series ${f.passing}"
    if (byKey.size != rows.length) errs += "duplicate (SKU, Store) rows"
    f.sample.foreach { case (sku, store, series) =>
      val e = Kernel.processSeries(sku, store, series)
      (e, byKey.get((sku, store))) match {
        case (Some(e), Some(r)) =>
          val same = r.getDouble(2) == e.mape &&
            parseArray(r.getString(3)).sameElements(e.forecast) &&
            parseArray(r.getString(4)).sameElements(e.test) &&
            r.getInt(5) == e.safety_stock && r.getInt(6) == e.reorder_point &&
            r.getInt(7) == e.qty_to_order
          if (!same) errs += s"($sku, $store) differs from the kernel: $r"
        case (exp, got) =>
          errs += s"($sku, $store): expected ${exp.isDefined}, got ${got.isDefined}"
      }
    }
    val entries = report.split(ReportEntry, -1).length - 1
    if (entries != math.min(1000, rows.length))
      errs += s"report has $entries entries for ${rows.length} rows"
    errs.result()
  }
}

/** documents + eval set → `CurationJob.prepare` sunk to parquet, then
  * `CurationJob.funnel`.
  */
final class CurationFlow(spark: SparkSession, inDir: File, seed: Long,
    nDocs: Int, deep: Boolean) extends Workload(spark, inDir, seed) {
  var f: DocsFacts = _
  private var funnel: Array[Row] = _
  private var expectedPrepared: (Long, Long) = _
  private var curateKept = -1L

  def generate(): Unit = f = Gen.docs(spark, inDir, seed, nDocs, (120, 260),
    evalShare = 0.08, files = Main.Cores)
  def facts: Seq[(String, Any)] = Seq("documents" -> f.raw,
    "documents_mb" -> f.bytes / Workload.Mb, "eval_documents" -> f.evalDocs,
    "stage_docs" -> f.stageDocs.mkString("/"),
    "dedup.dup_share" -> f.dupShare,
    "dedup.contaminated_share" -> f.contaminatedShare,
    "dedup.planted_contaminated" -> f.plantedContaminated,
    "textanalysis.gate_rejected_share" ->
      (1.0 - f.stageDocs(3).toDouble / f.stageDocs(1)),
    "distinct_words" -> f.distinctWords)
  def items: Long = f.raw
  def ops: Int = 1

  private def docs = spark.read.parquet(new File(inDir, "documents.parquet").getPath)
  private def evalSet = spark.read.parquet(new File(inDir, "eval.parquet").getPath)
  private def prepared(out: File) = new File(out, "prepared.parquet")

  def pass(out: File): Unit = {
    CurationJob.prepare(docs, Some(evalSet), "text", "doc_id")
      .write.parquet(prepared(out).getPath)
    funnel = CurationJob.funnel(docs, "text", "doc_id",
      evalSet = Some(evalSet)).collect()
  }

  /** The doc ids `curate` keeps, and the train-split chunks `prepare`
    * should emit for them, computed through `curate` and `hashSplit`.
    */
  private def reference(): Unit = {
    val chunks = CurationJob.curate(docs, "text", "doc_id",
      evalSet = Some(evalSet))
    val r = TextAnalysis.hashSplit(chunks, "doc_id", 7L, 960, 20)
      .agg(countDistinct(col("doc_id")),
        count(when(col("split") === "train", 1)),
        countDistinct(when(col("split") === "train", col("doc_id"))))
      .head()
    curateKept = r.getLong(0)
    expectedPrepared = (r.getLong(1), r.getLong(2))
  }

  def check(out: File): Seq[String] = {
    val (got, expected, kept) = preparedCounts(out)
    CurationFlow.check(funnel, got, expected, kept, f).take(1)
  }

  /** The funnel of the last pass. */
  def lastFunnel: Array[Row] = funnel

  /** (rows, doc ids) of the last pass's prepared output, what they should
    * be, and the doc ids `curate` keeps. With `deep` the expectations come
    * from `curate` and `hashSplit`; otherwise from the first checked pass
    * and the planted stage-5 count.
    */
  def preparedCounts(out: File): ((Long, Long), (Long, Long), Long) = {
    val p = spark.read.parquet(prepared(out).getPath)
    val got = (p.count(), p.select("doc_id").distinct().count())
    if (expectedPrepared == null) {
      if (deep) reference()
      else { expectedPrepared = got; curateKept = f.stageDocs(4) }
    }
    (got, expectedPrepared, curateKept)
  }

  def calls: Seq[(String, File => Unit)] = Seq("CurationJob" -> pass)

  def traced(tr: Tracer, p: Int, out: File): Unit = {
    val raw = docs
    val ev = evalSet
    // CurationJob.curate, one layer per span
    val reps = tr.span("Dedup.exact", p) {
      mat(raw.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), col("text")))
    }
    val kept = tr.span("TextAnalysis.stats", p) {
      mat(TextAnalysis.withStats(reps, "text")
        .filter(col("quality") >= 0.5 && col("pred_lang") === "en")
        .select(col("doc_id"), col("text")))
    }
    val clean = tr.span("Dedup.decontaminate", p) {
      mat(kept.join(Dedup.decontaminate(kept, ev, "text", "doc_id"), Seq("doc_id")))
    }
    val chunks = tr.span("TextAnalysis.chunk", p) {
      mat(TextAnalysis.chunkDocuments(clean, "text", "doc_id", 200, 50))
    }
    // CurationJob.prepare after curate
    val packed = tr.span("TextAnalysis.pack", p) {
      val train = TextAnalysis.hashSplit(chunks, "doc_id", 7L, 960, 20)
        .filter(col("split") === "train")
        .withColumn("cid", expr("doc_id * 1000000L + chunk_id"))
      mat(TextAnalysis.packSequences(train, "chunk", "cid", 256, 4, 0L)
        .select(expr("cid DIV 1000000").as("doc_id"),
          pmod(col("cid"), lit(1000000L)).cast("long").as("chunk_id"),
          col("n_tokens"), col("shard"), col("tok_offset"),
          col("pack_first"), col("pack_last")))
    }
    tr.span("Ingest.parquet_write", p) {
      packed.write.parquet(new File(out, "prepared_layers.parquet").getPath)
    }
    funnel = tr.span("CurationJob.funnel", p) {
      CurationJob.funnel(raw, "text", "doc_id", evalSet = Some(ev)).collect()
    }
    val n = Seq(raw, reps, kept, clean, chunks).map(_.count().toDouble)
    counts = Map("raw" -> n(0), "reps" -> n(1), "kept" -> n(2),
      "clean" -> n(3), "chunks" -> n(4))
  }
  private var counts = Map.empty[String, Double]

  def layers(tr: Tracer, root: Span, runtime: Span): Map[String, Double] = Map(
    "dedup.exact_s" -> self(tr, root, "Dedup.exact"),
    "dedup.dup_share" -> (1.0 - counts("reps") / counts("raw")),
    "textanalysis.stats_s" -> self(tr, root, "TextAnalysis.stats"),
    "textanalysis.gate_yield" -> counts("kept") / counts("reps"),
    "dedup.decontaminate_s" -> self(tr, root, "Dedup.decontaminate"),
    "dedup.contaminated_share" -> (1.0 - counts("clean") / counts("kept")),
    "textanalysis.chunk_s" -> self(tr, root, "TextAnalysis.chunk"),
    "textanalysis.chunks_out" -> counts("chunks"),
    "textanalysis.pack_s" -> self(tr, root, "TextAnalysis.pack"),
    "ingest.parquet_write_s" -> self(tr, root, "Ingest.parquet_write"),
    "curation_job.funnel_s" -> self(tr, root, "CurationJob.funnel"))
}

object CurationFlow {
  val Stages = Seq("raw", "exact_dedup", "quality_gate", "lang_gate",
    "decontaminated")

  /** Errors in a funnel and a prepared output: every stage's documents
    * and tokens as planted (exact_dedup = the distinct texts), stage 5 =
    * `curateKept`, and the prepared (rows, doc ids) = `expectedPrepared`.
    */
  def check(funnel: Array[Row], prepared: (Long, Long),
      expectedPrepared: (Long, Long), curateKept: Long,
      f: DocsFacts): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val got = funnel.map(r => (r.getAs[Long]("stage_ord"),
      r.getAs[String]("stage"), r.getAs[Long]("n_docs"),
      r.getAs[Long]("n_tokens"))).sortBy(_._1).toSeq
    val want = Stages.indices.map(i =>
      ((i + 1).toLong, Stages(i), f.stageDocs(i), f.stageTokens(i)))
    if (got != want) errs += s"funnel $got != planted $want"
    if (got.lift(4).map(_._3) != Some(curateKept))
      errs += s"funnel stage 5 != $curateKept doc ids kept by curate"
    if (prepared != expectedPrepared)
      errs += s"prepared (rows, doc ids) $prepared != $expectedPrepared"
    errs.result()
  }
}

/** Two iterative registry queries over a small corpus, each built by
  * its `SparkEntry.queries` entry and run to the end by [[JobChain.hash]].
  */
final class JobChain(spark: SparkSession, inDir: File, seed: Long,
    nDocs: Int, root: File, deep: Boolean) extends Workload(spark, inDir, seed) {
  var f: DocsFacts = _
  private val frames = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
  private val hashes = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Long]]
  private var firstHash = Map.empty[String, Seq[Long]]

  def generate(): Unit = f = Gen.docs(spark, inDir, seed, nDocs, (30, 90),
    evalShare = 0, files = 1)
  def facts: Seq[(String, Any)] = Seq("documents" -> f.raw,
    "documents_mb" -> f.bytes / Workload.Mb,
    "dedup.dup_share" -> f.dupShare, "distinct_words" -> f.distinctWords)
  def items: Long = f.raw * Workload.Queries.size
  def ops: Int = Workload.Queries.size
  /** A pass is still getting faster two passes after the warm-up pass
    * (the JIT compiler is still at work on the driver's planning code);
    * the median of three weighs that pass a third.
    */
  override def minPasses: Int = 3

  private def run(q: String, tr: Option[(Tracer, Int)]): Unit = {
    def in[T](name: String)(body: => T): T =
      tr.fold(body) { case (t, p) => t.span(name, p)(body) }
    in(s"queries.$q") {
      val df = in("build")(SparkEntry.queries(q)(spark, inDir.getPath))
      hashes(q) = in("exec")(JobChain.hash(df))
      frames(q) = df
    }
  }

  def pass(out: File): Unit = Workload.Queries.foreach(run(_, None))

  /** Each query's output hash, taken as the pass ran it, against the
    * first checked pass's; with `deep`, the first checked pass's outputs
    * are also compared with their DuckDB oracles.
    */
  def check(out: File): Seq[String] =
    if (firstHash.isEmpty) {
      firstHash = hashes.toMap
      if (!deep) Nil
      else {
        val dir = new File(out, "oracle")
        frames.foreach { case (q, df) => df.write.parquet(new File(dir, q).getPath) }
        JobChain.oracleCheck(root, inDir, dir, Workload.Queries)
      }
    } else Workload.Queries.flatMap { q =>
      val h = hashes(q)
      if (h == firstHash(q)) None else Some(s"$q hash $h != first pass ${firstHash(q)}")
    }

  def calls: Seq[(String, File => Unit)] = Nil

  def traced(tr: Tracer, p: Int, out: File): Unit =
    Workload.Queries.foreach(run(_, Some((tr, p))))

  def layers(tr: Tracer, root: Span, runtime: Span): Map[String, Double] =
    Workload.Queries.flatMap { q =>
      val s = tr.named(root, s"queries.$q")
      val w = tr.work(s)
      def sec(n: String) = s.flatMap(x => tr.children(x).filter(_.name == n))
        .map(_.seconds).sum
      Seq(s"queries.$q.build_s" -> sec("build"), s"queries.$q.exec_s" -> sec("exec"),
        s"queries.$q.jobs" -> w.jobs.toDouble,
        s"queries.$q.task_cpu_s" -> w.cpuNs / 1e9)
    }.toMap
}

object JobChain {
  /** Runs `df` to the end, as the noop write of `Bench` does, and returns
    * an order-independent hash of its rows: (rows, xor and sum mod 2^31-1
    * of the per-row xxhash64 over all columns). The hash is folded into
    * accumulators inside that one execution, so checking a pass's output
    * costs no second execution of the query.
    */
  def hash(df: DataFrame): Seq[Long] = {
    val sc = df.sparkSession.sparkContext
    val rows = sc.longAccumulator
    val sum = sc.longAccumulator
    val xor = new XorAccumulator
    sc.register(xor)
    df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*))
      .foreachPartition { (it: Iterator[Row]) =>
        it.foreach { r =>
          val h = r.getLong(0)
          rows.add(1L)
          sum.add(Math.floorMod(h, 2147483647L))
          xor.add(h)
        }
      }
    Seq(rows.value, xor.value, sum.value)
  }

  final class XorAccumulator extends AccumulatorV2[Long, Long] {
    private var x = 0L
    def isZero: Boolean = x == 0L
    def copy(): XorAccumulator = { val a = new XorAccumulator; a.x = x; a }
    def reset(): Unit = x = 0L
    def add(v: Long): Unit = x ^= v
    def merge(other: AccumulatorV2[Long, Long]): Unit = x ^= other.value
    def value: Long = x
  }

  /** Runs the engine's DuckDB oracle compare (`compare.py --strict-hash`)
    * over parquet dumps of `queries` in `outDir` against the tables in
    * `tables`. Returns one error per failing query.
    */
  def oracleCheck(root: File, tables: File, outDir: File,
      queries: Seq[String]): Seq[String] = {
    outDir.mkdirs()
    val w = new java.io.PrintWriter(new File(outDir, "oracle_sql.json"), "UTF-8")
    try w.print(Json.obj(queries.map(q => q -> SparkEntry.oracleSql(q))))
    finally w.close()
    val log = new File(outDir, "compare.log")
    val cmd = Seq("python3", new File(root, "compare.py").getPath,
      tables.getPath, outDir.getPath, "--strict-hash") ++ queries
    val proc = new ProcessBuilder(cmd: _*).directory(root)
      .redirectErrorStream(true).redirectOutput(log).start()
    if (!proc.waitFor(150, java.util.concurrent.TimeUnit.SECONDS)) {
      proc.destroyForcibly().waitFor()
      return Seq("oracle compare timed out")
    }
    val text = new String(java.nio.file.Files.readAllBytes(log.toPath), "UTF-8")
    val ok = text.linesIterator.filter(_.startsWith("ok ")).map(_.split("\\s+")(1)).toSet
    queries.filterNot(ok).map(q => s"$q fails its DuckDB oracle:\n$text")
  }
}
