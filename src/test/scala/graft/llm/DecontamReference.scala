package graft.llm

import graft.CurationJob
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The gram semi-join form of exact decontamination, kept only as a
  * test reference for the fit-then-probe form: both corpora explode
  * to (id, gram) rows, the train grams are left-semi-joined against
  * the distinct eval grams and the ids made distinct; the curation
  * entry points anti-join (curate) or left-join (funnel, releaseGate)
  * that id set back onto their own frame.
  */
object DecontamReference {
  import Dedup.{contentTokenHashesExpr, ngramHashesFromTokenHashes}

  def contaminatedIds(train: DataFrame, evalSet: DataFrame,
      text: String, id: String, n: Int = 8): DataFrame = {
    def grams(df: DataFrame): DataFrame = df
      .withColumn("__th", contentTokenHashesExpr(text))
      .filter(size(col("__th")) > 0)
      .select(col(id),
        explode(ngramHashesFromTokenHashes("__th", n)).as("gram"))
    val evalGrams = grams(evalSet).select("gram").distinct()
    grams(train)
      .join(evalGrams, Seq("gram"), "left_semi")
      .select(col(id)).distinct()
  }

  def decontaminate(train: DataFrame, evalSet: DataFrame, text: String,
      id: String, n: Int = 8): DataFrame =
    train.select(col(id))
      .join(contaminatedIds(train, evalSet, text, id, n), Seq(id),
        "left_anti")

  private def gated(docs: DataFrame, text: String, id: String) =
    TextAnalysis.withStats(docs.groupBy(col(text))
        .agg(min(col(id)).as(id), count(lit(1)).as("__n")), text)

  private val kept = col("quality") >= 0.5 && col("pred_lang") === "en"

  def curate(docs: DataFrame, evalSet: DataFrame, text: String,
      id: String): DataFrame = {
    val k = gated(docs, text, id).filter(kept).select(col(id), col(text))
    TextAnalysis.chunkDocuments(
      k.join(contaminatedIds(k, evalSet, text, id), Seq(id), "left_anti"),
      text, id, 200, 50)
  }

  def funnel(docs: DataFrame, evalSet: DataFrame, text: String,
      id: String): DataFrame = {
    val st = gated(docs, text, id)
    val g = st.join(contaminatedIds(st.filter(kept), evalSet, text, id)
        .withColumn("__c", lit(true)), Seq(id), "left")
      .withColumn("__nt", TextAnalysis.tokenCountExpr(text).cast("long"))
    val stages = Seq[(String, Column, Column)](
      ("raw", lit(true), col("__n")),
      ("exact_dedup", lit(true), lit(1L)),
      ("quality_gate", col("quality") >= 0.5, lit(1L)),
      ("lang_gate", kept, lit(1L)),
      ("decontaminated", kept && col("__c").isNull, lit(1L)))
    stages.zipWithIndex.map { case ((name, p, w), i) =>
      g.agg(coalesce(sum(when(p, w)), lit(0L)).as("n_docs"),
          coalesce(sum(when(p, w * col("__nt"))), lit(0L)).as("n_tokens"))
        .select(lit(i + 1L).as("stage_ord"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))
    }.reduce(_ unionByName _)
  }

  /** releaseGate's verdicts with the contamination column from the
    * reference id set (the other three gates do not read the eval
    * set, so they come from the entry point without one).
    */
  def releaseGate(docs: DataFrame, evalSet: DataFrame, text: String,
      id: String, markers: Seq[(String, String)]): DataFrame = {
    val others = CurationJob.releaseGate(docs, text, id, markers)
      .drop("contaminated", "released")
    val contaminated = docs.select(col(id))
      .join(contaminatedIds(docs, evalSet, text, id)
        .withColumn("__c", lit(true)), Seq(id), "left")
      .select(col(id), coalesce(col("__c"), lit(false)).as("contaminated"))
    others.join(contaminated, Seq(id))
      .withColumn("released", !col("copyleft_gate") &&
        !col("pii_gate") && !col("contaminated") && col("is_anonymous"))
  }
}
