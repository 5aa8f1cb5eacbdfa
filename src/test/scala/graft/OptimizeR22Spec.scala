package graft

import graft.engine.{Dist, Guard, Pin}
import graft.llm.{BpeFitReference, DecontamReference, Dedup,
  Similarity, TextAnalysis}
import org.apache.spark.graftglue.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-22 optimization equivalence pins.
  *
  * Every rewrite this round claims bit-identical results against the
  * round-21 form; this suite holds each claim against the OLD form
  * (still present for the token-emitting paths) or a driver-side
  * replay:
  *
  * - the counts-only BPE apply ([[TextAnalysis.bpeApplyCounts]]) vs
  *   the token-emitting [[TextAnalysis.bpeApply]] it shortcuts;
  * - the dual-grain fit ([[TextAnalysis.bpeFitMergesDual]]) vs
  *   the two single-grain fits, including the UTF-8-vs-UTF-16 order
  *   divergence its driver-side replay must get right and the
  *   one-grain-exhausts-first edge;
  * - the dual counts apply ([[TextAnalysis.bpeTokenCountsDual]]) vs
  *   the two WithMerges applies joined;
  * - the BPE fit against the per-round distributed fit it replaced
  *   ([[graft.llm.BpeFitReference]]): bit-identical merge tables;
  * - the BPE fit's job counts (one bounded collect of the word-count
  *   table, at most 4,000,000 distinct words; every round on the
  *   driver; no job when nothing is fitted);
  * - exact decontamination (one bounded eval n-gram collect, a
  *   row-local probe per train row) against the gram semi-join form
  *   it replaced ([[graft.llm.DecontamReference]]): equal id sets,
  *   equal curate / funnel / releaseGate outputs; the job counts of
  *   funnel and prepare; the eval n-gram set's bound;
  * - [[Similarity.bruteForceTopK]]'s in-plan query-cardinality guard
  *   (results unchanged under the bound, loud raise over it);
  * - [[Guard.boundedCollect]] (all rows under the bound, raise with
  *   the site name over it);
  * - [[Pin.point]]'s plan-audit capture (the PlanSpec pre-pin
  *   posture probes build on it).
  */
class OptimizeR22Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  private def countsOf(df: DataFrame): Map[Long, Long] =
    df.select("doc_id", "n_bpe_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  // fixtures: overlap merges + ties (the bpeApply spec corpus), a
  // zero-content-token doc (must DROP in both forms), multibyte
  // words, and a symbol-sharing-dense corpus that exercises
  // dominance deferral across many rounds
  private lazy val corpora = Seq(
    docs("aaab aaab ab", "aaa x"),
    docs("aaab aaab ab", "aaa x", " ", "banana band bandana"),
    docs("héllo héllo wörld", "héllo wörld 😀ok"),
    docs("banana band bandana", "ban banana bandana band"))

  test("bpeApplyCounts == bpeApply on (doc_id, n_bpe_tokens), " +
      "including zero-token-doc exclusion") {
    for (c <- corpora; m <- Seq(0, 2, 10)) {
      val tok = countsOf(TextAnalysis.bpeApply(c, "text", "doc_id",
        rounds = m, batch = 1))
      val cnt = countsOf(TextAnalysis.bpeApplyCounts(c, "text",
        "doc_id", rounds = m, batch = 1))
      assert(cnt === tok, s"rounds=$m batch=1 corpus=$c")
    }
  }

  test("bpeApplyBatchedCounts == bpeApplyBatched on " +
      "(doc_id, n_bpe_tokens)") {
    for (c <- corpora; (r, b) <- Seq((1, 2), (10, 8))) {
      val tok = countsOf(TextAnalysis.bpeApply(
        c, "text", "doc_id", rounds = r, batch = b))
      val cnt = countsOf(TextAnalysis.bpeApplyCounts(
        c, "text", "doc_id", rounds = r, batch = b))
      assert(cnt === tok, s"rounds=$r batch=$b corpus=$c")
    }
  }

  test("bpeFitMergesDual == (bpeFitMerges, bpeBytesFitMerges) — " +
      "driver-side replay of the engine's top-C order is exact") {
    for (c <- corpora; (r, b) <- Seq((3, 2), (10, 8))) {
      val (chD, byD) = TextAnalysis.bpeFitMergesDual(
        c, "text", rounds = r, batch = b)
      assert(chD === TextAnalysis.bpeFitMerges(
        c, "text", rounds = r, batch = b), s"char r=$r b=$b $c")
      assert(byD === TextAnalysis.bpeFitMerges(c, "text",
        rounds = r, batch = b, byteGrain = true), s"byte r=$r b=$b $c")
    }
  }

  test("bpeFitMergesDual: count ties broken in UTF-8 byte order " +
      "(U+FFEE < U+1F600 in UTF-8; UTF-16 char order says the " +
      "opposite), matching the engine sort the single fits use") {
    // pairs (😀,a) and (￮,b) tie at cnt=2 and share no symbol; with
    // batch=1 only the rank-1 candidate merges in round 1, so the
    // fitted TABLE (not just the set) pins the tie-break order
    val tie = docs("😀a 😀a ￮b ￮b")
    val (chD, _) = TextAnalysis.bpeFitMergesDual(
      tie, "text", rounds = 1, batch = 1)
    val chS = TextAnalysis.bpeFitMerges(
      tie, "text", rounds = 1, batch = 1)
    assert(chD === chS)
    assert(chD.head.a === "￮") // UTF-8 order: ef bf ae < f0 9f 98 80
  }

  test("bpeFitMergesDual: one grain exhausting first leaves the " +
      "other fitting alone, exactly as its single fit would") {
    // single-multibyte-char words: char grain has NO adjacent pair
    // (one seed symbol per word) and exhausts at round 1; byte grain
    // still merges the 2-byte UTF-8 sequences
    val c = docs("é é ñ", "é ñ ñ")
    val (chD, byD) = TextAnalysis.bpeFitMergesDual(
      c, "text", rounds = 4, batch = 2)
    assert(chD === TextAnalysis.bpeFitMerges(
      c, "text", rounds = 4, batch = 2))
    assert(byD === TextAnalysis.bpeFitMerges(
      c, "text", rounds = 4, batch = 2, byteGrain = true))
    assert(chD.isEmpty && byD.nonEmpty)
  }

  test("bpeTokenCountsDual == the two WithMerges applies joined") {
    val c = corpora(2) // multibyte corpus: fallback symmetry matters
    val fit = c.filter(col("doc_id") === 0L)
    val chM = TextAnalysis.bpeFitMerges(fit, "text",
      rounds = 10, batch = 8)
    val byM = TextAnalysis.bpeFitMerges(fit, "text",
      rounds = 10, batch = 8, byteGrain = true)
    val dual = TextAnalysis.bpeTokenCountsDual(
      c, "text", "doc_id", chM, byM)
      .collect().map(r => (r.getLong(0),
        r.getLong(1), r.getLong(2))).sortBy(_._1)
    val ch = TextAnalysis.bpeApplyWithMerges(c, "text", "doc_id", chM)
      .select("doc_id", "n_bpe_tokens")
    val by = TextAnalysis.bpeApplyWithMerges(
      c, "text", "doc_id", byM, byteGrain = true)
      .select("doc_id", "n_bpe_tokens")
    val joined = ch.withColumnRenamed("n_bpe_tokens", "nc")
      .join(by.withColumnRenamed("n_bpe_tokens", "nb"), Seq("doc_id"))
      .collect().map(r => (r.getLong(0),
        r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(dual === joined)
  }

  test("bpeFit == the per-round distributed fit it replaced: merge " +
      "tables bit-identical at both grains and dual") {
    val fixtures = corpora ++ Seq(docs("😀a 😀a ￮b ￮b"),
      docs("é é ñ", "é ñ ñ"))
    for (c <- fixtures;
         (r, b) <- Seq((0, 1), (1, 1), (3, 2), (10, 1), (10, 8))) {
      val at = s"rounds=$r batch=$b corpus=$c"
      val refCh = BpeFitReference.fit(c, "text", r, b, Seq(false)).head
      val refBy = BpeFitReference.fit(c, "text", r, b, Seq(true)).head
      assert(TextAnalysis.bpeFitMerges(c, "text", rounds = r,
        batch = b) === refCh, s"char $at")
      assert(TextAnalysis.bpeFitMerges(c, "text", rounds = r,
        batch = b, byteGrain = true) === refBy, s"byte $at")
      val refDual = BpeFitReference.fit(c, "text", r, b,
        Seq(false, true))
      assert(TextAnalysis.bpeFitMergesDual(c, "text", rounds = r,
        batch = b) === ((refDual(0), refDual(1))), s"dual $at")
    }
  }

  // Spark jobs started under one job group while `body` builds and
  // runs its frames (the BPE fit collects while the frame is built)
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "job-count"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count")
      try body finally sc.clearJobGroup()
    } finally {
      ListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  // ceilings: the counts of the separate single-grain and dual-grain
  // fit loops this fit replaced, measured on the same fixtures
  test("BPE job count: a single-grain fit + counts apply runs no " +
      "more jobs than the one-merge-per-round loop it replaced") {
    val c = docs("aaab aaab ab", "aaa x", "banana band bandana")
    assert(jobsOf(TextAnalysis.bpeApplyCounts(c, "text", "doc_id",
      rounds = 10, batch = 1).collect()) <= 24)
  }

  test("BPE job count: the dual-grain fit runs no more jobs than " +
      "the fused dual loop it replaced") {
    for ((c, ceiling) <- corpora.zip(Seq(16, 25, 23, 19)))
      assert(jobsOf(TextAnalysis.bpeFitMergesDual(c, "text",
        rounds = 10, batch = 8)) <= ceiling, s"corpus=$c")
  }

  test("BPE job count: the one-collect fit + counts apply runs at " +
      "most 5 jobs") {
    val c = docs("aaab aaab ab", "aaa x", "banana band bandana")
    assert(jobsOf(TextAnalysis.bpeApplyCounts(c, "text", "doc_id",
      rounds = 10, batch = 1).collect()) <= 5)
  }

  test("BPE job count: the one-collect dual-grain fit runs at most " +
      "2 jobs") {
    for (c <- corpora)
      assert(jobsOf(TextAnalysis.bpeFitMergesDual(c, "text",
        rounds = 10, batch = 8)) <= 2, s"corpus=$c")
  }

  test("BPE job count: a fit of 0 rounds starts no job") {
    assert(jobsOf(TextAnalysis.bpeFitMerges(corpora(1), "text",
      rounds = 0, batch = 1)) === 0)
  }

  // decontamination fixtures: duplicate texts, empty and
  // whitespace-only docs and null texts on both sides, docs shorter
  // than n (one whole-document gram), case and spacing variants,
  // non-ASCII words, and an eval doc overlapping a train doc only in
  // its first three words
  private val decon =
    "every brave knight must guard a tall tower of stone and gold for the queen"
  private val french = "ça va très bien merci beaucoup mon ami 😀 à demain"
  private lazy val deconTrain = Seq[(java.lang.Long, String)](
      (0L, "the cat and the dog is in the house of a king to see"),
      (1L, "the cat and the dog is in the house of a king to see"),
      (2L, decon), (3L, decon),
      (4L, "EVERY  brave knight must guard a tall tower of stone " +
        "and gold for the queen today"),
      (5L, ""), (6L, "   "), (7L, null), (8L, null),
      (9L, "short text"), (10L, "tiny"),
      (11L, french), (12L, "merci beaucoup mon ami et à bientôt"),
      (13L, "a king and the dog is in the house of the cat to see it"),
      (14L, "the lazy river runs past the quiet mill every morning"))
    .toDF("doc_id", "text")
  private lazy val deconEval = Seq[(Long, String)](
      (100L, decon), (101L, "   "), (102L, ""), (103L, null),
      (104L, "short text"),
      (105L, "ça va très bien merci beaucoup mon ami 😀"),
      (106L, "the lazy river flows nowhere near"), (107L, decon))
    .toDF("doc_id", "text")

  private def idSet(df: DataFrame): Set[Option[Long]] =
    df.collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
      .toSet

  test("contaminatedIds / decontaminate == the gram semi-join form " +
      "at n = 3 and n = 8, null id included") {
    val train = deconTrain.union(Seq[(java.lang.Long, String)](
      (null, decon), (null, "nothing shared here at all")).toDF(
      "doc_id", "text"))
    for (n <- Seq(3, 8)) {
      val got = idSet(Dedup.contaminatedIds(train, deconEval, "text",
        "doc_id", n))
      assert(got === idSet(DecontamReference.contaminatedIds(train,
        deconEval, "text", "doc_id", n)), s"n=$n")
      val kept = Dedup.decontaminate(train, deconEval, "text",
        "doc_id", n).collect().map(r => Option(r.get(0))).toSeq
      val keptRef = DecontamReference.decontaminate(train, deconEval,
        "text", "doc_id", n).collect().map(r => Option(r.get(0))).toSeq
      assert(kept.sortBy(_.toString) === keptRef.sortBy(_.toString),
        s"n=$n")
      // not vacuous: each n flags the verbatim, case/spacing and
      // non-ASCII overlaps and the whole-document short gram
      assert(Set(2L, 3L, 4L, 9L, 11L).map(Option(_)).subsetOf(got),
        s"n=$n: $got")
      assert(got.contains(None), s"n=$n: $got")
    }
    // n = 3 only: the three-word overlap
    assert(idSet(Dedup.contaminatedIds(train, deconEval, "text",
      "doc_id", 3)).contains(Some(14L)))
    assert(!idSet(Dedup.contaminatedIds(train, deconEval, "text",
      "doc_id", 8)).contains(Some(14L)))
  }

  test("curate, funnel and releaseGate == their gram semi-join forms") {
    val d = deconTrain.filter(col("doc_id").isNotNull)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
      .sortBy(_.mkString("|"))
    assert(rows(CurationJob.curate(d, "text", "doc_id",
        evalSet = Some(deconEval))) ===
      rows(DecontamReference.curate(d, deconEval, "text", "doc_id")))
    val f = rows(CurationJob.funnel(d, "text", "doc_id",
      evalSet = Some(deconEval)))
    assert(f === rows(DecontamReference.funnel(d, deconEval, "text",
      "doc_id")))
    // not vacuous: the gated survivors lose decontaminated docs
    assert(f(3)(2) != f(4)(2), f)
    val markers = Seq("gpl" -> "gnu general public license")
    val cols = Seq("doc_id", "license", "copyleft_gate", "n_email",
      "n_ip", "n_phone", "pii_gate", "contaminated", "is_anonymous",
      "released")
    val gate = CurationJob.releaseGate(d, "text", "doc_id", markers,
      evalSet = Some(deconEval))
    assert(gate.columns.toSeq === cols)
    assert(rows(gate) === rows(DecontamReference.releaseGate(d,
      deconEval, "text", "doc_id", markers).select(cols.map(col): _*)))
    assert(gate.filter(col("contaminated")).count() === 5L)
    // the one intended difference: a contaminated text group whose
    // ids are all null is now dropped (the anti-join on a null id
    // kept it)
    val withNull = d.union(Seq[(java.lang.Long, String)](
      (null, decon + " again")).toDF("doc_id", "text"))
    val keptIds = CurationJob.curate(withNull, "text", "doc_id",
        evalSet = Some(deconEval))
      .select("doc_id").distinct().collect().map(r => Option(r.get(0)))
    assert(!keptIds.contains(None))
  }

  // ceilings: the counts measured on the fit-then-probe form in the
  // test session (the gram semi-join form ran 8 and 7 jobs here)
  test("decontamination job count: funnel and prepare with an eval " +
      "set run at most 5 jobs each") {
    val d = deconTrain.filter(col("doc_id").isNotNull)
    assert(jobsOf(CurationJob.funnel(d, "text", "doc_id",
      evalSet = Some(deconEval)).collect()) <= 5)
    assert(jobsOf(CurationJob.prepare(d, Some(deconEval), "text",
      "doc_id").collect()) <= 5)
  }

  test("evalGramSet: sorted distinct grams under the bound; an eval " +
      "set over it raises naming the site") {
    val gs = Dedup.evalGramSet(deconEval, "text", 3)
    assert(gs.toSeq === gs.toSeq.distinct.sorted)
    assert(gs.length === 25)
    assert(Dedup.evalGramSet(deconEval, "text", 3,
      bound = gs.length).toSeq === gs.toSeq)
    val err = intercept[IllegalArgumentException] {
      Dedup.evalGramSet(deconEval, "text", 3, bound = gs.length - 1)
    }
    assert(err.getMessage.contains("eval n-gram set"))
  }

  test("bruteForceTopK: results unchanged under the query bound; " +
      "an over-bound query set raises in-plan, loudly") {
    val emb = (0L to 9L).map(i =>
        (i, Array.tabulate(4)(d => math.sin(i * 2.0 + d).abs + 0.1)))
      .toDF("vec_id", "vec")
    val q = emb.filter($"vec_id" < 3)
    val out = Similarity.bruteForceTopK(emb, q, "vec_id", "vec", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .sortBy(t => (t._1, t._3))
    // reference: driver-side exact cosine top-2 with the same
    // rounding and (sim desc, cand_id asc) tie order
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      def d(x: Array[Double], y: Array[Double]) =
        x.zip(y).map { case (p, q2) => p * q2 }.sum
      math.rint(d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b)))
        * 1e6) / 1e6
    }
    val expect = (0L to 2L).flatMap { qid =>
      vecs.keys.filter(_ != qid).toSeq
        .map(c => (qid, c, cos(vecs(qid), vecs(c))))
        .sortBy { case (_, c, s) => (-s, c) }.take(2).zipWithIndex
        .map { case ((q2, c, _), i) => (q2, c, (i + 1).toLong) }
    }.sortBy(t => (t._1, t._3)).toArray
    assert(out === expect)
    val err = intercept[Exception] {
      Similarity.bruteForceTopK(emb, emb, "vec_id", "vec",
        k = 2, maxQueries = 4).collect()
    }
    assert(err.getMessage.contains("bruteForceTopK"),
      s"wrong raise: ${err.getMessage}")
  }

  test("Guard.boundedCollect: complete row set under the bound; " +
      "raise names the site over it") {
    val df = (1 to 50).toDF("x")
    val under = Guard.boundedCollect(df, 50, "fits")
      .map(_.getInt(0)).sorted
    assert(under === (1 to 50).toArray)
    val err = intercept[IllegalArgumentException] {
      Guard.boundedCollect(df, 49, "overflow-site")
    }
    assert(err.getMessage.contains("overflow-site"))
    assert(err.getMessage.contains("49"))
  }

  test("Pin.point: audit capture records the pinned frame's pre-pin " +
      "optimized plan, keyed by site; execution is unchanged") {
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L))
      .toDF("src", "v")
    val buf = scala.collection.mutable.Buffer.empty[(String,
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)]
    val before = Dist.prefixSum(df, Seq(col("v")), "v", "ps")
      .orderBy("v").collect().map(_.getLong(2))
    Pin.auditBuffer = Some(buf)
    val audited = try {
      Dist.prefixSum(df, Seq(col("v")), "v", "ps")
        .orderBy("v").collect().map(_.getLong(2))
    } finally Pin.auditBuffer = None
    assert(audited === before)
    assert(buf.exists(_._1 == "Dist.prefixSum"),
      s"no capture from Dist.prefixSum: ${buf.map(_._1)}")
  }
}
