package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Inventory math (SURVEY §2 rows H1-H5) — pure column expressions,
  * plus the plain-Scala kernel forms. All semantics preserved from
  * ref: PRACTICA3.py:68-81, including the deliberate "current stock =
  * last training week's sales" proxy (H4).
  */
object Inventory {

  /** H1 — safety stock: z * stddev_pop(train) * sqrt(leadTime); 0 when
    * fewer than 2 train rows. NOTE: POPULATION std-dev (numpy ddof=0),
    * not Spark's sample `stddev` (ref: PRACTICA3.py:70-71).
    */
  def safetyStock(trainStd: Column, trainCount: Column,
      cfg: PipelineConfig = PipelineConfig()): Column =
    when(trainCount > 1,
      lit(cfg.serviceLevelZ) * trainStd * math.sqrt(cfg.leadTimeWeeks))
      .otherwise(lit(0.0))

  /** H3 — reorder point (ref: PRACTICA3.py:74). */
  def reorderPoint(dlt: Column, ss: Column): Column = dlt + ss

  /** H4 — order quantity (ref: PRACTICA3.py:75-76). */
  def orderQty(rop: Column, lastTrainUnits: Column): Column =
    greatest(lit(0.0), rop - lastTrainUnits)

  /** H5 — final integer clamp (ref: PRACTICA3.py:77-81). Python round()
    * is half-even (banker's) → `bround`, matching the kernel's
    * `math.rint` below.
    */
  def intClamp(c: Column): Column =
    bround(greatest(c, lit(0.0))).cast("int")

  // ---- kernel (plain Scala) forms, ref: PRACTICA3.py:68-81 ----

  def stddevPop(xs: Array[Double]): Double = {
    if (xs.length < 2) return 0.0
    val m = xs.sum / xs.length
    math.sqrt(xs.map(x => (x - m) * (x - m)).sum / xs.length)
  }

  case class InventoryOut(safetyStock: Int, reorderPoint: Int, qty: Int)

  def compute(train: Array[Double], forecast: Array[Double],
      cfg: PipelineConfig = PipelineConfig()): InventoryOut = {
    val ss =
      if (train.length > 1)
        cfg.serviceLevelZ * stddevPop(train) * math.sqrt(cfg.leadTimeWeeks)
      else 0.0
    val dlt =
      if (forecast.nonEmpty)
        forecast.sum / forecast.length * cfg.leadTimeWeeks
      else 0.0
    val rop = dlt + ss
    val lastUnits = if (train.nonEmpty) train.last else 0.0
    val qty = math.max(0.0, rop - lastUnits)
    // Python round() is banker's (half-even) — math.rint, not round (F3)
    def clamp(x: Double): Int = math.rint(math.max(0.0, x)).toInt
    InventoryOut(clamp(ss), clamp(rop), clamp(qty))
  }
}
