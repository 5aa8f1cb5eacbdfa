package graft

import graft.engine._
import graft.engine.forecast.Kernel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end jobs mirroring the reference's entry points — the
  * surface a PRACTICA3.py / generador.py user calls after switching
  * engines:
  *
  *   - [[forecast]] = PRACTICA3.py main (ref: PRACTICA3.py:179-209):
  *     ventas CSV → rename → clean → per-series forecast kernel →
  *     results frame (+ optional pandas-compatible CSV sink);
  *   - [[report]] = generador.py main (ref: generador.py:25-215):
  *     results frame → cleaned + interpretation columns → text render.
  *
  * With a sink, the two hand off through the written CSV as the
  * reference's scripts do (generador.py re-reads
  * `forecast_resultados`), so the scan, resample and kernel run once
  * per [[run]]. Unlike the reference's driver-side
  * `Pool.imap_unordered` over pickled pandas groups, every stage here
  * is a distributed plan; the only driver materialization is the
  * final (small) report render.
  */
object ForecastJob {

  /** Scan → B1 rename → C1 clean → D2 kernel. Returns the
    * forecast_results-shaped frame. With `outCsv` the frame is sunk in
    * the reference's stringified-array CSV form (A4) and the sink,
    * read back with [[Schemas.forecastResults]], is returned: the
    * kernel runs once, and the returned rows are the written ones
    * (`Runtime_sec` included). Without a sink the frame stays lazy.
    */
  def forecast(spark: SparkSession, ventasCsv: String,
      outCsv: Option[String] = None,
      cfg: PipelineConfig = PipelineConfig()): DataFrame = {
    val renamed = Ingest.rename(
      Ingest.readVentasCsv(spark, ventasCsv), Ingest.ventasRenames)
    val sales = Clean.nonNegative(
      renamed.select(
        col("Product_ID").as("sku"),
        col("Store_ID").as("store"),
        col("InvoiceDate").as("ts"),
        col("Units_Sold").cast("double").as("units"))
        .filter(col("sku").isNotNull && col("store").isNotNull),
      "units")
    val out = Kernel.run(sales, cfg).toDF()
      .select(
        col("sku").as("SKU"), col("store").as("Store"),
        col("mape").as("MAPE"),
        Ingest.csvArrayForm(col("forecast")).as("Forecast"),
        Ingest.csvArrayForm(col("test")).as("Test"),
        col("safety_stock").as("Safety_Stock"),
        col("reorder_point").as("Reorder_Point"),
        col("qty_to_order").as("Qty_to_Order"),
        col("runtime_sec").as("Runtime_sec"))
    outCsv.fold(out) { p =>
      Ingest.writeCsvCompat(out, p)
      spark.read.schema(Schemas.forecastResults)
        .option("header", "true").csv(p)
    }
  }

  /** Results frame (or re-read results CSV) → cleaned/derived frame →
    * rendered text report.
    */
  def report(results: DataFrame): String =
    Report.renderText(Report.clean(results))

  /** A6 — the notebook's `m.plot(forecast); plt.show()` step
    * (ref: limpieza_de_datos.py:49-50): one series' actual-vs-
    * forecast frame rendered as the deterministic SVG plot.
    * `series` carries (ds, y, yhat) — the Prophet plot's inputs.
    */
  def plot(series: DataFrame): String =
    Report.renderForecastSvg(series, "ds", "y", "yhat")

  /** The reference's two-script flow in one call: forecast then
    * report over the produced results (the written sink when
    * `outCsv` is given).
    */
  def run(spark: SparkSession, ventasCsv: String,
      outCsv: Option[String] = None,
      cfg: PipelineConfig = PipelineConfig()): (DataFrame, String) = {
    val results = forecast(spark, ventasCsv, outCsv, cfg)
    (results, report(results))
  }
}
