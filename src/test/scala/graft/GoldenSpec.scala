package graft

import graft.engine.{Clean, Ingest, PipelineConfig}
import graft.engine.forecast.Kernel
import org.apache.spark.graftglue.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden end-to-end pipeline test (SURVEY §5.4): a deterministic
  * ventas-shaped fixture with hand-computable series (FIXTURES.md
  * shapes), run through the FLAGSHIP flow — rename → coerce → filter →
  * weekly kernel (J3-only) — and compared to hand-derived values.
  */
class GoldenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // label Sundays: week k = 2024-01-07 + 7k
  private def sunday(k: Int): String =
    java.time.LocalDate.of(2024, 1, 7).plusDays(7L * k)
      .toString + " 10:00:00"

  private def ventasRows: Seq[(String, String, String, Long, String,
      Double, String, String)] = {
    val rows = Seq.newBuilder[(String, String, String, Long, String,
      Double, String, String)]
    def sale(sku: String, country: String, ts: String, qty: Long): Unit =
      rows += (("INV", sku, "desc", qty, ts, 1.0, "C1", country))
    // dense-16w: 16 consecutive weeks, constant 10 (week 0 split into
    // a Sun-00:00 and an intraday-Sun row — the W-SUN edge)
    rows += (("INV", "DENSE", "d", 5L,
      sunday(0).replace(" 10:00:00", " 00:00:00"), 1.0, "C1", "UK"))
    sale("DENSE", "UK", sunday(0), 5L)
    (1 until 16).foreach(k => sale("DENSE", "UK", sunday(k), 10L))
    // gappy-14w: sales only in weeks 0, 6, 13 -> densified len 14
    Seq(0, 6, 13).foreach(k => sale("GAPPY", "UK", sunday(k), 7L))
    // short-8w: rejected by MIN_WEEKS
    (0 until 8).foreach(k => sale("SHORT", "UK", sunday(k), 9L))
    // lowvol-13w: 13 weeks, total 9 < 10 -> rejected
    (0 until 13).foreach { k =>
      rows += (("INV", "LOWVOL", "d", if (k < 9) 1L else 0L, sunday(k),
        1.0, "C1", "UK"))
    }
    // negative-qty: all returns -> filtered before grouping
    (0 until 16).foreach(k => sale("NEG", "UK", sunday(k), -3L))
    rows.result()
  }

  test("ForecastJob: ventas CSV in, results CSV + report out (reference main parity)") {
    val dir = java.nio.file.Files.createTempDirectory("ventas").toString
    val outCsv = java.nio.file.Files.createTempDirectory("results").toString + "/res"
    ventasRows.toDF("InvoiceNo", "StockCode", "Description",
      "Quantity", "InvoiceDate", "UnitPrice", "CustomerID", "Country")
      .write.mode("overwrite").option("header", "true").csv(dir)
    val cfg = PipelineConfig(useTrendSeasonal = false,
      useHoltWinters = false)
    // input records read by the run's own jobs (its job group)
    val sc = spark.sparkContext
    val group = "forecast-job-run"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val recordsRead = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          e.stageIds.foreach(stages.add(_))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          recordsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(listener)
    val (results, reportTxt) =
      try {
        sc.setJobGroup(group, "ForecastJob.run")
        try ForecastJob.run(spark, dir, Some(outCsv), cfg)
        finally sc.clearJobGroup()
      } finally {
        ListenerBus.drain(sc)
        sc.removeSparkListener(listener)
      }
    // the forecast executes once: one scan of the ventas CSV for the
    // sink, then one read of the two written rows for the report
    assert(recordsRead.get === ventasRows.size + 2L)
    assert(results.select("SKU").collect().map(_.getString(0)).sorted
      .toSeq === Seq("DENSE", "GAPPY"))
    // sunk CSV re-enters the report stage like generador.py re-reads
    // forecast_resultados: stringified Forecast parses back (A4+F4)
    val reread = spark.read.schema(graft.engine.Schemas.forecastResults)
      .option("header", "true").csv(outCsv)
    // the returned frame is the written sink, row for row, per-series
    // wall time included
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    assert(rows(results) === rows(reread))
    val cleaned = graft.engine.Report.clean(reread)
    assert(cleaned.count() === 2)
    assert(cleaned.filter(col("Forecast_Weeks") === 4).count() === 2)
    assert(reportTxt.contains("Análisis Detallado de SKU: DENSE"))
    assert(reportTxt.contains("RECOMENDACIÓN CLAVE"))
  }

  test("flagship golden: gates, W-SUN edge, MA forecast, inventory") {
    val raw = ventasRows.toDF("InvoiceNo", "StockCode", "Description",
      "Quantity", "InvoiceDate", "UnitPrice", "CustomerID", "Country")
      .withColumn("InvoiceDate", to_timestamp(col("InvoiceDate")))
    // flagship stages 1-4 (ref: PRACTICA3.py:183-194)
    val renamed = Ingest.rename(raw, Ingest.ventasRenames)
    val coerced = Ingest.coerceNumeric(renamed, Seq("Units_Sold"))
    val cleaned = Clean.nonNegative(coerced, "Units_Sold")
      .select(col("Product_ID").as("sku"), col("Store_ID").as("store"),
        col("InvoiceDate").as("ts"), col("Units_Sold").as("units"))
    val cfg = PipelineConfig(useTrendSeasonal = false,
      useHoltWinters = false)
    val out = Kernel.run(cleaned, cfg).collect()
      .map(r => r.sku -> r).toMap

    // SHORT (8 < 12 weeks), LOWVOL (total 9 < 10), NEG (all filtered)
    // emit no rows
    assert(out.keySet === Set("DENSE", "GAPPY"))

    // DENSE: both Sunday rows bucket to week 0 (5+5=10); constant 10
    // series -> winsorize no-op, MA=10, mape=0, std=0 -> ss=0,
    // rop=rint(10*0.4285)=4, qty=max(0, 4.285-10)=0
    val d = out("DENSE")
    assert(d.forecast.toSeq === Seq(10.0, 10.0, 10.0, 10.0))
    assert(d.test.toSeq === Seq(10.0, 10.0, 10.0, 10.0))
    assert(d.mape === 0.0)
    assert(d.safety_stock === 0)
    assert(d.reorder_point === 4)
    assert(d.qty_to_order === 0)

    // GAPPY: densified to 14 weeks [7,0*5,7,0*6,7]; 3 positives <= 5
    // -> no winsorize; train = first 10 = [7,0,0,0,0,0,7,0,0,0],
    // test = [0,0,0,7]; MA = mean(7,0,0,0) = 1.75;
    // mape = |7-1.75|/7*100 = 75 (zeros masked);
    // std_pop(train)=2.8 -> ss=1.645*2.8*sqrt(0.4285)=3.015->3;
    // rop=3.015+0.75=3.765->4; last train unit=0 -> qty=3.765->4
    val g = out("GAPPY")
    assert(g.forecast.toSeq === Seq(1.75, 1.75, 1.75, 1.75))
    assert(g.test.toSeq === Seq(0.0, 0.0, 0.0, 7.0))
    assert(g.mape === 75.0)
    assert(g.safety_stock === 3)
    assert(g.reorder_point === 4)
    assert(g.qty_to_order === 4)
  }

  test("spiky series winsorized at q99 of positive values") {
    // spiky-20w: 19 weeks of 10 and one 1000 outlier
    val sales = (0 until 20).map { k =>
      ("SPIKY", "UK", java.sql.Timestamp.valueOf(sunday(k)),
        if (k == 10) 1000.0 else 10.0)
    }.toDF("sku", "store", "ts", "units")
    val out = Kernel.run(sales,
      PipelineConfig(useTrendSeasonal = false, useHoltWinters = false))
      .collect()(0)
    // q99 of positives (19x10, 1x1000) = 10 + 0.81*990 < 1000: the
    // spike is clipped, so no test/train value exceeds q99
    val pos = (Seq.fill(19)(10.0) :+ 1000.0).sorted.toArray
    val q99 = Kernel.quantile(pos, 0.99)
    assert(q99 < 1000.0)
    assert(out.test.forall(_ <= q99 + 1e-9))
  }
}
