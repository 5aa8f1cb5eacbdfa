package graft.llm

import graft.llm.TextAnalysis.BpeMerge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The per-round distributed BPE fit, kept only as a test reference
  * for [[TextAnalysis]]'s one-collect fit: every round is one collect
  * of each live grain's top-`4·batch` pair cut (a union when more than
  * one grain is live), ordered by the engine's sort and re-ordered on
  * the driver with [[TextAnalysis.u8Less]]; each round's merges are
  * folded into the vocabulary by the executor expression behind lazy
  * checkpoints.
  */
object BpeFitReference {
  def fit(df: DataFrame, text: String, rounds: Int, batch: Int,
      grains: Seq[Boolean]): Seq[Seq[BpeMerge]] = {
    require(rounds >= 0 && batch >= 1, "need rounds >= 0, batch >= 1")
    val counted = df
      .select(explode(expr(
        s"filter(split(lower($text), ' '), t -> t != '')")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val words =
      if (grains.size > 1) counted.localCheckpoint() else counted
    val vocab = grains.map(g => words
      .withColumn("repr", TextAnalysis.bpeSeed(col("word"), g))
      .localCheckpoint(eager = false)).toArray
    val fitted = Array.fill(grains.size)(Vector.empty[BpeMerge])
    val live = Array.fill(grains.size)(true)
    var round = 0
    while (round < rounds && live.contains(true)) {
      val rows = grains.indices.filter(live).map(g => vocab(g)
          .select(col("cnt"),
            filter(split(col("repr"), " "), _ =!= "").as("__t"))
          .filter(size(col("__t")) >= 2)
          .select(col("cnt"), explode(expr(
            """transform(sequence(1, size(__t) - 1),
               i -> struct(element_at(__t, i) AS a,
                           element_at(__t, i + 1) AS b))""")).as("__p"))
          .groupBy(col("__p.a").as("a"), col("__p.b").as("b"))
          .agg(sum(col("cnt")).as("__c"))
          .orderBy(col("__c").desc, col("a").asc, col("b").asc)
          .limit(4 * batch)
          .select(lit(g).as("__g"), col("a"), col("b"), col("__c")))
        .reduce(_.unionByName(_))
        .collect()
      for (g <- grains.indices if live(g)) {
        val top = rows.filter(_.getInt(0) == g)
          .map(r => (r.getString(1), r.getString(2), r.getLong(3)))
          .sortWith { case ((a1, b1, c1), (a2, b2, c2)) =>
            c1 > c2 || (c1 == c2 && (TextAnalysis.u8Less(a1, a2) ||
              (a1 == a2 && TextAnalysis.u8Less(b1, b2)))) }
        val ms: Seq[BpeMerge] = top.zipWithIndex.collect {
          case ((a, b, _), i) if !top.take(i).exists { case (ja, jb, _) =>
              ja == a || ja == b || jb == a || jb == b } => BpeMerge(a, b)
        }.take(batch).toSeq
        if (ms.isEmpty) live(g) = false
        else {
          fitted(g) ++= ms
          if (round + 1 < rounds)
            vocab(g) = vocab(g)
              .withColumn("repr", PolyHashColumns.bpeFold(col("repr"),
                typedlit(ms)))
              .localCheckpoint(eager = false)
        }
      }
      round += 1
    }
    fitted.toSeq
  }
}
