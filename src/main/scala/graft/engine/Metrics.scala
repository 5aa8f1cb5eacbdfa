package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Forecast-quality metrics (SURVEY §2 rows G1-G4, C5) in two shapes:
  *   - row form: aggregates over (y, yhat) pair rows;
  *   - array form: expressions over paired ArrayType(Double) columns.
  * Plus plain-Scala forms used inside the typed kernel.
  *
  * safe_mape semantics (ref: PRACTICA3.py:44-51): average |%err| only
  * where y != 0, ×100; if EVERY y is zero fall back to plain MAE
  * (not a percentage). smape (ref: PRACTICA3.py:53-61) is dead code in
  * the reference but implemented for surface parity.
  */
object Metrics {

  // ---- row form (aggregate over rows of y, yhat) ----

  /** G1 — masked-percentage MAPE with MAE fallback. */
  def safeMapeRows(y: Column, yhat: Column): Column =
    coalesce(
      avg(when(y =!= 0, abs((y - yhat) / y))) * 100,
      avg(abs(y - yhat)))

  /** G2 — sMAPE, masked denominator, MAE fallback. */
  def smapeRows(y: Column, yhat: Column): Column = {
    val denom = abs(y) + abs(yhat)
    coalesce(
      avg(when(denom =!= 0, abs(yhat - y) * 2 / denom)) * 100,
      avg(abs(y - yhat)))
  }

  /** G3 — RMSE. */
  def rmseRows(y: Column, yhat: Column): Column =
    sqrt(avg(pow(y - yhat, 2)))

  /** G4 — MAE. */
  def maeRows(y: Column, yhat: Column): Column = avg(abs(y - yhat))

  // ---- array form (paired ArrayType(Double) columns) ----

  private def pairs(y: Column, yhat: Column): Column =
    zip_with(y, yhat, (a, b) => struct(a.as("y"), b.as("yhat")))

  /** G1 over arrays. */
  def safeMapeArr(y: Column, yhat: Column): Column = {
    val nz = filter(pairs(y, yhat), p => p("y") =!= 0)
    val pct = aggregate(nz, lit(0.0),
      (acc, p) => acc + abs((p("y") - p("yhat")) / p("y")))
    val mae = aggregate(pairs(y, yhat), lit(0.0),
      (acc, p) => acc + abs(p("y") - p("yhat")))
    when(size(nz) > 0, pct / size(nz) * 100)
      .otherwise(mae / size(y))
  }

  // ---- typed Aggregator (reusable UDAF surface, SURVEY §2.K) ----

  /** safe_mape as a typed Aggregator over (y, yhat) pairs — the
    * custom-UDAF form of G1 for `Dataset.groupByKey(...).agg` and
    * untyped `udaf(...)` registration. Buffer carries the masked
    * percentage sum/count plus the absolute-error fallback.
    */
  case class MapeBuf(pctSum: Double, pctN: Long, absSum: Double, n: Long)

  object SafeMapeAgg
      extends org.apache.spark.sql.expressions.Aggregator[
        (Double, Double), MapeBuf, Double] {
    import org.apache.spark.sql.{Encoder, Encoders}
    def zero: MapeBuf = MapeBuf(0.0, 0L, 0.0, 0L)
    def reduce(b: MapeBuf, p: (Double, Double)): MapeBuf = {
      val (y, yhat) = p
      val abs = math.abs(y - yhat)
      if (y != 0.0)
        MapeBuf(b.pctSum + math.abs((y - yhat) / y), b.pctN + 1,
          b.absSum + abs, b.n + 1)
      else MapeBuf(b.pctSum, b.pctN, b.absSum + abs, b.n + 1)
    }
    def merge(a: MapeBuf, b: MapeBuf): MapeBuf =
      MapeBuf(a.pctSum + b.pctSum, a.pctN + b.pctN,
        a.absSum + b.absSum, a.n + b.n)
    def finish(b: MapeBuf): Double =
      if (b.pctN > 0) b.pctSum / b.pctN * 100
      else if (b.n > 0) b.absSum / b.n
      else 0.0
    def bufferEncoder: Encoder[MapeBuf] = Encoders.product[MapeBuf]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  // ---- plain Scala (typed kernel) — bit-for-bit the reference math ----

  /** ref: PRACTICA3.py:44-51 */
  def safeMape(y: Array[Double], yhat: Array[Double]): Double = {
    val nz = y.indices.filter(i => y(i) != 0.0)
    if (nz.isEmpty)
      y.indices.map(i => math.abs(y(i) - yhat(i))).sum / y.length
    else
      nz.map(i => math.abs((y(i) - yhat(i)) / y(i))).sum / nz.length * 100
  }

  /** ref: PRACTICA3.py:53-61 */
  def smape(y: Array[Double], yhat: Array[Double]): Double = {
    val idx = y.indices.filter(i => math.abs(y(i)) + math.abs(yhat(i)) != 0.0)
    if (idx.isEmpty)
      y.indices.map(i => math.abs(y(i) - yhat(i))).sum / math.max(y.length, 1)
    else
      idx.map(i => 2 * math.abs(yhat(i) - y(i)) /
        (math.abs(y(i)) + math.abs(yhat(i)))).sum / idx.length * 100
  }

  /** ref: PRACTICA3.py:63-64 */
  def rmse(y: Array[Double], yhat: Array[Double]): Double =
    math.sqrt(y.indices.map(i => math.pow(y(i) - yhat(i), 2)).sum / y.length)

  def mae(y: Array[Double], yhat: Array[Double]): Double =
    y.indices.map(i => math.abs(y(i) - yhat(i))).sum / y.length
}
