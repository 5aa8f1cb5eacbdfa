package e2ebench

import graft.engine.{Ingest, Schemas}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.{Files => JFiles}

/** The harness's own tests: seeded generators, output checks with a
  * negative control per workload, and the traced run's output. Run with
  * `sbt test` from the benchmark directory of a checkout.
  */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val root = new File("..").getCanonicalFile
  private val scratch = new File(root, ".bench_build/e2ebench/test")
  private lazy val spark = Main.session(scratch)

  override def afterAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    Files.deleteTree(scratch)
  }

  private def dir(name: String): File = {
    val d = new File(scratch, name)
    Files.deleteTree(d)
    d.mkdirs()
    d
  }

  /** Relative path → bytes of every file under `d`. */
  private def contents(d: File): Map[String, Seq[Byte]] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(d).filterNot(_.getName.startsWith("."))
      .map(f => d.toPath.relativize(f.toPath).toString ->
        JFiles.readAllBytes(f.toPath).toSeq).toMap
  }

  test("the same seed gives byte-identical inputs, another seed different ones") {
    def gen(seed: Long): Map[String, Seq[Byte]] = {
      val d = dir(s"gen-$seed-${System.nanoTime()}")
      Gen.ventas(new File(d, "ventas.csv"), seed, 200)
      Gen.docs(spark, d, seed, 400, (120, 260), evalShare = 0.08, files = 2)
      contents(d)
    }
    val a = gen(5)
    assert(a.keySet == Set("ventas.csv", "eval.parquet",
      "documents.parquet/part-00000.parquet", "documents.parquet/part-00001.parquet"))
    assert(gen(5) == a)
    val b = gen(6)
    assert(a.keySet.forall(k => b(k) != a(k)))
  }

  test("forecast_flow: the check passes, and fails on one corrupted row") {
    val wl = new ForecastFlow(spark, dir("ff-in"), 3, 300)
    wl.generate()
    val out = dir("ff-out")
    wl.pass(out)
    assert(wl.check(out).isEmpty)
    val results = new File(out, "results.csv")
    val (sku, store, _) = wl.f.sample.head
    val rows = spark.read.schema(Schemas.forecastResults)
      .option("header", "true").csv(results.getPath)
    val hit = col("SKU") === sku && col("Store") === store
    val corrupted = new File(out, "corrupted.csv")
    Ingest.writeCsvCompat(rows.withColumn("Qty_to_Order",
      when(hit, col("Qty_to_Order") + 1).otherwise(col("Qty_to_Order"))),
      corrupted.getPath)
    val report = wl.lastReport
    assert(ForecastFlow.check(spark, results, report, wl.f).isEmpty)
    assert(ForecastFlow.check(spark, corrupted, report, wl.f).nonEmpty)
  }

  test("curation_flow: the check passes, and fails on one corrupted funnel row") {
    val wl = new CurationFlow(spark, dir("cf-in"), 3, 600, deep = true)
    wl.generate()
    val out = dir("cf-out")
    wl.pass(out)
    assert(wl.check(out).isEmpty)
    val funnel = wl.lastFunnel
    val (prepared, expected, kept) = wl.preparedCounts(out)
    assert(CurationFlow.check(funnel, prepared, expected, kept, wl.f).isEmpty)
    val bad = funnel.map { r =>
      if (r.getAs[String]("stage") != "lang_gate") r
      else new GenericRowWithSchema(Array(r.getLong(0), r.getString(1),
        r.getLong(2) + 1, r.getLong(3)), r.schema)
    }
    assert(CurationFlow.check(bad, prepared, expected, kept, wl.f).nonEmpty)
  }

  test("job_chain: outputs match their DuckDB oracles; one corrupted row fails") {
    val wl = new JobChain(spark, dir("jc-in"), 3, 150, root, deep = true)
    wl.generate()
    val out = dir("jc-out")
    wl.pass(out)
    assert(wl.check(out).isEmpty)
    val dumps = new File(scratch, "jc-oracle")
    Files.deleteTree(dumps)
    JFiles.move(new File(out, "oracle").toPath, dumps.toPath)
    Files.deleteTree(out)
    wl.pass(out)
    assert(wl.check(out).isEmpty)
    val q = "dedup_clusters"
    val dump = spark.read.parquet(new File(dumps, q).getPath)
    val first = dump.agg(min("doc_id")).head().getLong(0)
    val corruptedDir = new File(out, "corrupted")
    dump.withColumn("doc_id",
      when(col("doc_id") === first, col("doc_id") + 100000).otherwise(col("doc_id")))
      .write.parquet(new File(corruptedDir, q).getPath)
    val bad = spark.read.parquet(new File(corruptedDir, q).getPath)
    assert(JobChain.hash(bad) != JobChain.hash(dump))
    assert(JobChain.oracleCheck(root, wl.inDir, corruptedDir, Seq(q)).nonEmpty)
  }

  test("a traced run emits every per-layer metric, and self times fit each pass") {
    spark.stop()
    val layerOf = Map(
      "flows" -> Seq("ingest.csv_read_s", "ingest.rows_in",
        "ingest.csv_write_s", "ingest.csv_write_mb", "resample.weekly_s",
        "resample.shuffle_write_mb", "kernel.run_s", "kernel.task_cpu_s",
        "kernel.series_in", "kernel.series_out", "kernel.yield",
        "kernel.seasonal_share", "forecast_job.task_cpu_s",
        "forecast_job.jobs", "report.clean_s", "report.render_s",
        "report.rows", "ingest.parquet_write_s",
        "textanalysis.stats_s", "textanalysis.gate_yield",
        "textanalysis.chunk_s", "textanalysis.pack_s",
        "textanalysis.chunks_out", "dedup.exact_s", "dedup.dup_share",
        "dedup.decontaminate_s", "dedup.contaminated_share",
        "curation_job.funnel_s"),
      "job_chain" -> Workload.Queries.flatMap(q =>
        Seq("build_s", "exec_s", "jobs", "task_cpu_s").map(m => s"queries.$q.$m")))
    val runtime = Seq("spark.pass_wall_s", "spark.jobs", "spark.stages",
      "spark.tasks", "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_read_mb",
      "spark.shuffle_write_mb", "spark.spill_mb", "spark.driver_gap_s",
      "trace.untraced_wall_s", "trace.traced_wall_s", "trace.overhead_share")
    layerOf.foreach { case (w, names) =>
      val r = Main.run(Main.Args(w, 1, 1.0, trace = true, root, small = true))
      assert(r.correct, w)
      assert((names ++ runtime).toSet.subsetOf(r.measured),
        s"$w lacks ${(names ++ runtime).toSet -- r.measured}")
      assert(r.metrics.map(_._1) == Main.PerLayer.map(_._1))
      val tr = r.tracer.get
      tr.all.filter(_.parent == -1).foreach { pass =>
        def subtree(s: Span): Seq[Span] = s +: tr.children(s).flatMap(subtree)
        val self = subtree(pass).map(tr.selfSeconds).sum
        assert(self <= pass.seconds + 1e-6, s"$w pass ${pass.pass}")
        assert(subtree(pass).forall(tr.selfSeconds(_) >= -1e-6))
      }
    }
  }

  test("BENCHMARK.json names the metrics the harness prints") {
    val spec = JsonMethods.parse(new File(root, "BENCHMARK.json"))
    def names(k: String) = (spec \ k).children.map(m => (m \ "name").values.toString)
    assert(names("per_layer") == Main.PerLayer.map(_._1))
    assert(names("end_to_end").toSet ==
      Set("wall_s", "items_per_s", "setup_s", "peak_heap_mb", "ok_share"))
    assert(names("workloads") == Seq("flows", "job_chain"))
  }
}
