package graft

import graft.llm.{Dedup, Multimodal, Similarity, TextAnalysis, UrlOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** LLM-data-pipeline operator specs: dedup collision properties,
  * similarity sanity, text stats, multimodal plumbing.
  */
class LlmSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  test("identical documents always share every minhash band bucket") {
    val df = docs(
      "the quick brown fox jumps over the lazy dog again and again",
      "the quick brown fox jumps over the lazy dog again and again",
      "a completely different document about spark and data engines")
    val sigs = Dedup.minhashSignatures(df, "text", "doc_id")
    val rows = sigs.orderBy("doc_id").collect()
    assert(rows(0).getSeq[Long](1) === rows(1).getSeq[Long](1))
    val pairs = Dedup.candidatePairs(Dedup.lshBuckets(sigs, "doc_id"),
      "doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)))
  }

  test("lshAutoParams: S-curve threshold picks the (bands, rows) " +
      "layout; the auto layout buckets the planted near-dup pair") {
    // (1/b)^(1/r) over the divisor pairs of K=16:
    // (1,16)=1.0, (2,8)=.917, (4,4)=.707, (8,2)=.354, (16,1)=.0625
    assert(Dedup.lshAutoParams(0.9) === ((2, 8)))
    assert(Dedup.lshAutoParams(0.8) === ((4, 4))) // = the hand-tuned
    assert(Dedup.lshAutoParams(0.35) === ((8, 2))) //   committed 4x4
    assert(Dedup.lshAutoParams(0.05) === ((16, 1)))
    intercept[IllegalArgumentException] {
      Dedup.lshAutoParams(1.0)
    }
    intercept[IllegalArgumentException] {
      Dedup.lshBucketsAt(null, "doc_id", 4, 8) // 32 > K=16
    }
    // a one-edit near-dup pair under the auto 0.9 layout (2x8):
    // deterministic hashes make this a stable pin, not a coin flip
    val df = docs(
      "the quick brown fox jumps over the lazy dog again and again",
      "the quick brown fox jumps over the lazy dog again and again!",
      "a completely different document about spark and data engines")
    val sigs = Dedup.minhashSignatures(df, "text", "doc_id")
    val (b, r) = Dedup.lshAutoParams(0.9)
    val shared = Dedup.lshBucketsAt(sigs, "doc_id", b, r)
      .groupBy("band", "band_key")
      .agg(org.apache.spark.sql.functions.collect_set(
        org.apache.spark.sql.functions.col("doc_id")).as("ids"))
      .collect().map(_.getSeq[Long](2).toSet)
    assert(shared.exists(s => s.contains(0L) && s.contains(1L)))
    assert(!shared.exists(s => s.contains(0L) && s.contains(2L)))
  }

  test("hashSplit: deterministic, exhaustive, and stable under corpus growth") {
    val ids = (0L until 2000L).map(Tuple1(_)).toDF("doc_id")
    val split = TextAnalysis.hashSplit(ids, "doc_id", 7L)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // all three splits materialize and roughly respect 96/2/2
    val bySplit = split.groupBy(_._2).view.mapValues(_.size).toMap
    assert(bySplit.keySet === Set("train", "val", "test"))
    assert(bySplit("train") > 1800 && bySplit("val") > 5 &&
      bySplit("test") > 5)
    // growth stability: the first 500 ids keep their assignment when
    // 1500 more arrive (the property random splits lack)
    val small = TextAnalysis.hashSplit(
      (0L until 500L).map(Tuple1(_)).toDF("doc_id"), "doc_id", 7L)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(small.forall { case (id, s) => split(id) == s })
    intercept[IllegalArgumentException] {
      TextAnalysis.hashSplit(ids, "doc_id", 7L, 990, 20)
    }
  }

  test("packSequences: per-shard concat offsets and boundary straddles") {
    val df = Seq(
      (0L, "a b c"),            // 3 tokens
      (1L, "d e f g"),          // 4 tokens
      (2L, "h i j k l m n o"),  // 8 tokens
      (3L, ""))                 // empty -> 1 token (split of "")
      .toDF("doc_id", "text")
    // one shard so the stream order is just doc_id order
    val out = TextAnalysis.packSequences(df, "text", "doc_id",
      seqLen = 6, nShards = 1).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // (id, n_tokens, tok_offset, pack_first, pack_last)
    assert(out(0) === ((0L, 3L, 0L, 0L, 0L)))
    assert(out(1) === ((1L, 4L, 3L, 0L, 1L))) // straddles 6-boundary
    assert(out(2) === ((2L, 8L, 7L, 1L, 2L)))
    assert(out(3) === ((3L, 1L, 15L, 2L, 2L)))
    // sharded: offsets restart per shard and shards partition the ids
    val sharded = TextAnalysis.packSequences(df, "text", "doc_id",
      seqLen = 6, nShards = 4)
    val offsets = sharded.groupBy("shard")
      .agg(min(col("tok_offset")).as("m")).collect()
    assert(offsets.forall(_.getLong(1) === 0L))
  }

  test("incrementalDedup equals the plain anti-join at extreme fpp values") {
    val corpus = docs("alpha beta gamma", "delta epsilon zeta",
      "shared duplicate content")
    // 14 has NULL text: the anti-join keeps null-key rows, so the
    // bloom fast-path must route null fingerprints to definite-new
    val batch = Seq((10L, "shared duplicate content"),
      (11L, "completely new page"), (12L, "alpha beta gamma"),
      (13L, "another new one"), (14L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val plain = batch
      .withColumn("__fp", TextAnalysis.fingerprintExpr("text"))
      .join(corpus.select(TextAnalysis.fingerprintExpr("text")
        .as("__fp")).distinct(), Seq("__fp"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    for (fpp <- Seq(0.5, 0.01)) {
      val inc = Dedup.incrementalDedup(batch, corpus, "text",
        "doc_id", expectedItems = 100, fpp = fpp)
        .select("doc_id").collect().map(_.getLong(0)).sorted
      assert(inc === plain, s"fpp=$fpp")
    }
    assert(plain === Array(11L, 13L, 14L))
    // bloom probe rides a native expression inside codegen, no UDF
    val plan = Dedup.incrementalDedup(batch, corpus, "text",
      "doc_id", expectedItems = 100, fpp = 0.01)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), plan)
  }

  test("PQ: codes deterministic under repartitioning; ADC ranks the near-identical vector first") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.pqCentroids(emb, "vec_id", "embedding",
      m = 4, subDim = 16, k = 8, iters = 2)
    assert(cents.count() === 32) // 4 subspaces × 8 cells survive
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding",
      cents, m = 4, subDim = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes.values.forall(c =>
      c.length == 4 && c.forall(x => x >= 0 && x < 8)))
    // order-independence: a differently-partitioned input yields the
    // SAME codebook and codes (the decimal-sum contract)
    val cents2 = Similarity.pqCentroids(emb.repartition(7), "vec_id",
      "embedding", m = 4, subDim = 16, k = 8, iters = 2)
    val c1 = cents.orderBy("subspace", "cell").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
    val c2 = cents2.orderBy("subspace", "cell").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
    assert(c1 === c2)
    // ADC sanity: each query's own codes give adist 0 to itself, so
    // with self excluded the top hit is a vector sharing its codes if
    // one exists; ranks are 1..k dense per query
    val top = Similarity.pqTopK(emb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", cents, m = 4, subDim = 16, k = 4)
      .collect()
    val byQ = top.groupBy(_.getLong(0))
    assert(byQ.keySet === Set(0L, 1L, 2L))
    assert(byQ.values.forall(_.map(_.getLong(3)).sorted.sameElements(
      Seq(1L, 2L, 3L, 4L))))
    assert(top.forall(r => r.getLong(0) != r.getLong(1)))
    // externally-built centroids may have sparse / non-0-based cell
    // ids — the ADC table is keyed by cell VALUE, so a relabeled
    // codebook must produce identical distances and ranks
    val sparse = cents.withColumn("cell", col("cell") * 37L + 1000L)
    val topSparse = Similarity.pqTopK(emb,
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", sparse,
      m = 4, subDim = 16, k = 4).collect()
    def key(rs: Array[org.apache.spark.sql.Row]) = rs
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).sortBy(t => (t._1, t._4))
    assert(key(topSparse) === key(top))
    // path selection: dense 0-based ids take the O(1) indexed-array
    // ADC table; sparse ids fall back to the value-keyed map. Both
    // sum the same distances in the same order (equality above).
    // optimizedPlan, not executedPlan: AQE defers the broadcast
    // subtree holding the ADC-table aggregate out of the physical
    // string until runtime
    val densePlan = Similarity.pqTopK(emb,
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", cents,
      m = 4, subDim = 16, k = 4)
      .queryExecution.optimizedPlan.toString
    val sparsePlan = Similarity.pqTopK(emb,
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", sparse,
      m = 4, subDim = 16, k = 4)
      .queryExecution.optimizedPlan.toString
    assert(!densePlan.contains("map_from_entries"),
      densePlan.take(400))
    assert(sparsePlan.contains("map_from_entries"),
      sparsePlan.take(400))
  }

  test("span dedup: cross-doc and intra-doc repeats found, interval union exact") {
    val ts = (1 to 30).map(i => s"t$i")
    val xs = (1 to 20).map(i => s"x$i")
    val docsDf = Seq(
      (0L, ts.mkString(" ")),                         // t1..t30
      (1L, (ts.slice(5, 25) ++ Seq("u1", "u2", "u3", "u4", "u5"))
        .mkString(" ")),                              // t6..t25 + unique
      (2L, (xs ++ xs).mkString(" ")),                 // intra-doc repeat
      (3L, "short doc under twenty tokens counts for nothing at all"))
      .toDF("doc_id", "text")
    val w = Dedup.dupSpanWindows(docsDf, "text", "doc_id", n = 20)
      .orderBy("doc_id", "win_start").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // doc0's t6..t25 window (start 6) == doc1's start-1 window;
    // doc2 repeats x1..x20 at starts 1 and 21; doc3 too short
    assert(w === Array((0L, 6L), (1L, 1L), (2L, 1L), (2L, 21L)))
    val st = Dedup.spanDedupStats(docsDf, "text", "doc_id", n = 20)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(st === Array(
      (0L, 1L, 20L, 30L, math.rint(20.0 / 30 * 1e6) / 1e6),
      (1L, 1L, 20L, 25L, 0.8),
      (2L, 2L, 40L, 40L, 1.0)))
    // overlap accounting: y1..y20 y1..y25 (45 tokens) repeats y1..y20
    // at starts 1 and 21 — adjacent intervals [1,21)+[21,41) union to
    // exactly 40 covered tokens, not 2×20 blindly summed over overlap
    val ys = (1 to 20).map(i => s"y$i") ++ (1 to 25).map(i => s"y$i")
    val ov = Dedup.spanDedupStats(
      Seq((9L, ys.mkString(" "))).toDF("doc_id", "text"),
      "text", "doc_id", n = 20)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ov.head === ((2L, 40L, 45L)))
  }

  test("scrubSpans: canonical occurrence survives, covered tokens removed") {
    val ts = (1 to 30).map(i => s"t$i")
    val xs = (1 to 20).map(i => s"x$i")
    val docsDf = Seq(
      (0L, ts.mkString(" ")),
      (1L, (ts.slice(5, 25) ++ Seq("u1", "u2", "u3", "u4", "u5"))
        .mkString(" ")),
      (2L, (xs ++ xs).mkString(" ")),
      (3L, "short doc under twenty tokens counts for nothing at all"))
      .toDF("doc_id", "text")
    val out = Dedup.scrubSpans(docsDf, "text", "doc_id", n = 20)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    // doc0 holds both canonical occurrences -> untouched; doc1 loses
    // its copy of t6..t25; doc2 loses the second x-run; doc3 has no
    // 20-token window at all
    assert(out === Array(
      (0L, ts.mkString(" "), 30L, 0L),
      (1L, "u1 u2 u3 u4 u5", 5L, 20L),
      (2L, xs.mkString(" "), 20L, 20L),
      (3L, "short doc under twenty tokens counts for nothing at all",
        10L, 0L)))
  }

  test("contaminationReport: exact distinct-gram overlap fraction") {
    val train = Seq((0L, (1 to 10).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")                  // 8-gram windows 1,2,3
    val ev = Seq((1L, (1 to 8).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")                  // equals window 1 only
    val out = Dedup.contaminationReport(train, ev, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out === Array((0L, 3L, 1L,
      math.rint(1.0 / 3 * 1e6) / 1e6)))
  }

  test("corpusDiff: added/removed/unchanged by distinct content") {
    val v1 = docs("alpha content", "beta content")
    val v2 = docs("beta content", "gamma content", "gamma content")
    val out = Dedup.corpusDiff(v1, v2, "text")
      .orderBy("change").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out === Array(("added", 1L), ("removed", 1L),
      ("unchanged", 1L)))
  }

  test("curation funnel: each gate drops exactly its targeted doc") {
    val good = "the cat and the dog is in the house of a king to see"
    // shares no 8-token run with `good` (only scattered stopwords)
    val decon =
      "every brave knight must guard a tall tower of stone and gold for the queen"
    val spanish = Seq.fill(15)("el la de que y los es").mkString(" ")
    val corpus = Seq(
      (0L, good), (1L, good),            // 1 dies at exact_dedup
      (2L, "zzz ### %%% @@@"),           // dies at quality_gate
      (3L, spanish),                     // 105 es tokens: quality 0.7,
                                         // pred_lang es -> lang_gate
      (4L, decon))                       // dies at decontamination
      .toDF("doc_id", "text")
    val ev = Seq((100L, decon)).toDF("doc_id", "text")
    val f = graft.CurationJob.funnel(corpus, "text", "doc_id",
      evalSet = Some(ev)).orderBy("stage_ord").collect()
      .map(r => (r.getString(1), r.getLong(2)))
    assert(f === Array(("raw", 5L), ("exact_dedup", 4L),
      ("quality_gate", 3L), ("lang_gate", 2L),
      ("decontaminated", 1L)))
  }

  /** The five-aggregate funnel (one aggregate per stage over the
    * progressively gated frame, unioned) that the one-pass
    * [[graft.CurationJob.funnel]] replaced: the equivalence reference.
    */
  private def funnelReference(docs: org.apache.spark.sql.DataFrame,
      text: String, id: String, minQuality: Double = 0.5,
      lang: String = "en",
      evalSet: Option[org.apache.spark.sql.DataFrame] = None) = {
    def stage(ord: Int, name: String, df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(TextAnalysis.tokenCountExpr(text)
            .cast("long")), lit(0L)).as("n_tokens"))
        .select(lit(ord.toLong).as("stage_ord"),
          lit(name).as("stage"), col("n_docs"), col("n_tokens"))
    val reps = docs.groupBy(col(text))
      .agg(min(col(id)).as(id))
      .select(col(id), col(text))
    val st = TextAnalysis.withStats(reps, text)
    val q = st.filter(col("quality") >= minQuality)
    val l = q.filter(col("pred_lang") === lang)
    val kept = l.select(col(id), col(text))
    val clean = evalSet match {
      case Some(ev) =>
        kept.join(Dedup.decontaminate(kept, ev, text, id), Seq(id))
      case None => kept
    }
    stage(1, "raw", docs)
      .unionByName(stage(2, "exact_dedup", reps))
      .unionByName(stage(3, "quality_gate", q))
      .unionByName(stage(4, "lang_gate", l))
      .unionByName(stage(5, "decontaminated", clean))
  }

  test("one-pass funnel equals the five-aggregate reference, with " +
      "and without an eval set; decontaminate and contaminatedIds " +
      "partition the train ids") {
    val good = "the cat and the dog is in the house of a king to see"
    val good2 = "a king and the dog is in the house of the cat to see it"
    val decon =
      "every brave knight must guard a tall tower of stone and gold for the queen"
    val junk = "zzz ### %%% @@@"
    val spanish = Seq.fill(15)("el la de que y los es").mkString(" ")
    val corpus = Seq[(Long, String)](
      (0L, good), (1L, good), (2L, good),  // duplicates that survive
      (3L, good2),
      (4L, junk), (5L, junk),              // duplicates: quality_gate
      (6L, spanish), (7L, spanish),        // duplicates: lang_gate
      (8L, decon), (9L, decon),            // duplicates: decontaminated
      (10L, null), (11L, null),            // null text
      (12L, ""), (13L, "   "))             // empty / whitespace-only
      .toDF("doc_id", "text")
    val ev = Seq((100L, decon), (101L, "   ")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("stage_ord").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSeq
    for (e <- Seq(None, Some(ev))) {
      val got = rows(graft.CurationJob.funnel(corpus, "text", "doc_id",
        evalSet = e))
      assert(got === rows(funnelReference(corpus, "text", "doc_id",
        evalSet = e)))
      // not vacuous: every gate drops something, decontamination
      // only with the eval set
      val n = got.map(_._3)
      assert(n.take(4) === Seq(14L, 8L, 4L, 3L))
      assert(n(4) === (if (e.isDefined) 2L else 3L))
    }
    val ids = corpus.select("doc_id").as[Long].collect().toSet
    val kept = Dedup.decontaminate(corpus, ev, "text", "doc_id")
      .as[Long].collect()
    val dropped = Dedup.contaminatedIds(corpus, ev, "text", "doc_id")
      .as[Long].collect()
    assert(dropped.toSet === Set(8L, 9L))
    assert(kept.toSet.intersect(dropped.toSet).isEmpty)
    assert(kept.length + dropped.length === ids.size)
    assert(kept.toSet ++ dropped.toSet === ids)
  }

  test("releaseGate/releaseFunnel: each compliance gate drops " +
      "exactly its targeted doc; funnel rows pin to the per-doc " +
      "verdicts") {
    val good = "the cat and the dog is in the house of a king to see"
    val decon =
      "every brave knight must guard a tall tower of stone and gold for the queen"
    val markers = Seq("gpl" -> "gnu general public license",
      "mit" -> "permission is hereby granted")
    val corpus = Seq(
      (0L, good, "m"),                              // released
      (1L, good + " gnu general public license", "m"), // copyleft
      (2L, good + " mail a@b.com", "m"),            // pii
      (3L, decon, "m"),                             // contaminated
      (4L, good + " extra", "z"))                   // lone quasi: not k-anon
      .toDF("doc_id", "text", "qa")
    val ev = Seq((100L, decon)).toDF("doc_id", "text")
    val g = graft.CurationJob.releaseGate(corpus, "text", "doc_id",
        markers, copyleft = Set("gpl"), evalSet = Some(ev),
        quasi = Seq("qa"), k = 2)
      .orderBy("doc_id").collect()
    // columns: doc_id, license, copyleft_gate, n_email, n_ip,
    // n_phone, pii_gate, contaminated, is_anonymous, released
    assert(g.map(_.getBoolean(9)).toSeq ===
      Seq(true, false, false, false, false))
    assert(g(1).getString(1) === "gpl" && g(1).getBoolean(2))
    assert(g(2).getLong(3) === 1L && g(2).getBoolean(6))
    assert(g(3).getBoolean(7))          // shares 8-gram run w/ eval
    assert(!g(4).getBoolean(8))         // 1-row class at all-star
    val f = graft.CurationJob.releaseFunnel(corpus, "text",
        "doc_id", markers, copyleft = Set("gpl"),
        evalSet = Some(ev), quasi = Seq("qa"), k = 2)
      .orderBy("stage_ord").collect()
      .map(r => (r.getString(1), r.getLong(2)))
    assert(f === Array(("raw", 5L), ("license_ok", 4L),
      ("pii_clean", 3L), ("decontaminated", 2L), ("anonymous", 1L)))
    // the funnel's terminal stage IS the released verdict set — the
    // pin the composition contract requires
    assert(f.last._2 === g.count(_.getBoolean(9)).toLong)
    // a duplicated doc id would multiply 2^4 through the verdict
    // joins and silently inflate every funnel count — raise loudly
    // instead (round-20 self-review)
    val dup = corpus.union(Seq((0L, good, "m")).toDF(
      "doc_id", "text", "qa"))
    intercept[Exception] {
      graft.CurationJob.releaseGate(dup, "text", "doc_id",
        markers, copyleft = Set("gpl"), evalSet = Some(ev),
        quasi = Seq("qa"), k = 2).collect()
    }
    // the guard must survive column pruning in the FUNNEL path too —
    // the second self-review found a guard on n_email was dead code
    // here (the funnel never reads the count columns); folded into
    // pii_gate, which every stage predicate consumes, it fires
    intercept[Exception] {
      graft.CurationJob.releaseFunnel(dup, "text", "doc_id",
        markers, copyleft = Set("gpl"), evalSet = Some(ev),
        quasi = Seq("qa"), k = 2).collect()
    }
  }

  test("mixtureWeights: largest feasible corpus under the target mix") {
    val df = Seq((0L, "a", "x x x x"), (1L, "b", "y y"),
      (2L, "c", "untargeted domain ignored entirely"))
      .toDF("doc_id", "dom", "text")
    val out = TextAnalysis.mixtureWeights(df, "text", "dom",
      Map("a" -> 0.5, "b" -> 0.5)).orderBy("dom").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getDouble(6)))
    // t_out = min(4/.5, 2/.5) = 4: b is the binding domain (prob 1),
    // a keeps half; expected tokens split 2/2 per the 50/50 target
    assert(out === Array(
      ("a", 1L, 4L, 0.666667, 0.5, 0.5, 2.0),
      ("b", 1L, 2L, 0.333333, 0.5, 1.0, 2.0)))
  }

  test("bpePairCounts: exact adjacent-pair counts, rank ties on pair") {
    val out = TextAnalysis.bpePairCounts(
      docs("ab ab abc", "z"), "text", k = 10)
      .orderBy("rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // words: ab, ab, abc (z too short) -> ab x3, bc x1
    assert(out === Array(("ab", 3L, 1L), ("bc", 1L, 2L)))
  }

  test("heavyHitters: exact counts and ranks, sketch bounds hold") {
    val df = (Seq.fill(50)(1L) ++ Seq.fill(30)(2L) ++ Seq.fill(20)(3L)
      ++ (100L to 199L)).toDF("k")
    val hh = TextAnalysis.heavyHitters(df, "k", k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4)))
    assert(hh === Array((1L, 50L, 1L, true, true),
      (2L, 30L, 2L, true, true), (3L, 20L, 3L, true, true)))
    // the sketch probe is a native expression, not a codegen-fencing
    // Scala UDF
    val plan = TextAnalysis.heavyHitters(df, "k", k = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), plan)
  }

  test("bigramLmScore: add-1 smoothed mean log-prob, exact on a tiny corpus") {
    // uni: a=4, b=2, V=2; bigrams: (a,b)=2, (b,a)=1, (a,a)=1
    val out = TextAnalysis.bigramLmScore(
      docs("a b a b", "a a"), "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // doc0: all three bigrams score ln(3/6) or ln(2/4) = ln(0.5)
    // doc1: (a,a) -> ln((1+1)/(4+2)) = ln(1/3)
    assert(out === Array(
      (0L, 3L, math.rint(math.log(0.5) * 1e6) / 1e6),
      (1L, 1L, math.rint(math.log(1.0 / 3) * 1e6) / 1e6)))
  }

  test("bpeApply: greedy overlap merge, tie-break, token accounting") {
    // round 1: (a,a) wins with 6; greedy left-to-right on "aaab"
    // gives [aa,a,b], NOT [a,aa,b]. round 2: (aa,a) and (a,b) tie
    // at 3 -> pair-ascending picks (a,b), so [aa,a,b] -> [aa,ab]
    val out = TextAnalysis.bpeApply(
      docs("aaab aaab ab", "aaa x"), "text", "doc_id",
      rounds = 2, batch = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[String](2).mkString(",")))
    assert(out === Array(
      (0L, 5L, "aa,ab,aa,ab,ab"),
      (1L, 3L, "aa,a,x")))
    // zero merges = plain character tokenization
    val raw = TextAnalysis.bpeApply(
      docs("ab c"), "text", "doc_id", rounds = 0, batch = 1)
      .collect().map(r => (r.getLong(1), r.getSeq[String](2)))
    assert(raw === Array((3L, Seq("a", "b", "c"))))
    // tokenCounts hook: packSequences accounts with BPE counts
    val d = docs("aaab aaab ab", "aaa x")
    val withN = d.join(TextAnalysis.bpeApply(d, "text", "doc_id", 2, 1)
      .select(col("doc_id"), col("n_bpe_tokens")), Seq("doc_id"))
    val packed = TextAnalysis.packSequences(withN, "text", "doc_id",
      seqLen = 4, nShards = 1,
      tokenCounts = Some(col("n_bpe_tokens")))
      .select("doc_id", "n_tokens").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(packed === Array((0L, 5L), (1L, 3L)))
  }

  test("bpeApplyBatched: batch=1 degenerates to greedy bpeApply; " +
      "dominance defers symbol-sharing pairs") {
    // batch=1 keeps only the rank-1 candidate per round — one merge
    // per round with the same (count desc, a asc, b asc) tie-break —
    // so rounds=N, batch=1 is greedy BPE with N merges. Expected:
    // the output of the former dedicated one-merge-per-round fit
    // (numMerges = 4) on this corpus
    val corpus = docs("aaab aaab ab", "aaa x", "banana band bandana")
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[String](2).mkString(",")))
    assert(dump(TextAnalysis.bpeApply(corpus, "text", "doc_id",
        rounds = 4, batch = 1)) === Array(
      (0L, 5L, "aa,ab,aa,ab,ab"),
      (1L, 3L, "aa,a,x"),
      (2L, 9L, "ban,an,a,ban,d,ban,d,an,a")))
    // deferral: pair counts (a,b)=5 > (d,e)=4 > (b,c)=3. (b,c)
    // shares 'b' with the rank-1 candidate, so with batch=2 round 1
    // merges ab and de but DEFERS bc even though the batch has room
    val d2 = docs("abc abc abc ab ab de de de de")
    val one = dump(TextAnalysis.bpeApply(d2, "text", "doc_id",
      rounds = 1, batch = 2))
    assert(one === Array((0L,
      12L, "ab,c,ab,c,ab,c,ab,ab,de,de,de,de")))
    // ...and the deferred pair merges in the NEXT round: after round
    // 1 the only remaining adjacency is (ab,c), so round 2 fuses it
    val two = dump(TextAnalysis.bpeApply(d2, "text", "doc_id",
      rounds = 2, batch = 2))
    assert(two === Array((0L,
      9L, "abc,abc,abc,ab,ab,de,de,de,de")))
    // CONVERGENCE THROUGH DEFERRAL: the same end state as pure greedy.
    // Greedy spends 3 driver rounds (ab, then de, then ab+c); batched
    // reaches it in 2 rounds with the bc-deferral in between — the
    // deferred pair is delayed, never lost, and the batched vocab
    // equals the greedy vocab exactly
    assert(two === dump(TextAnalysis.bpeApply(d2, "text", "doc_id",
      rounds = 3, batch = 1)))
    // ...and run to exhaustion on a corpus dense in symbol-sharing
    // pairs (every candidate round has overlaps to defer): both
    // tokenizers fully fuse every word to a single token — dominance
    // deferral starves no pair permanently
    val d3 = docs("banana band bandana", "ban banana bandana band")
    val exhaustB = dump(TextAnalysis.bpeApply(
      d3, "text", "doc_id", rounds = 8, batch = 3))
    val exhaustG = dump(TextAnalysis.bpeApply(
      d3, "text", "doc_id", rounds = 24, batch = 1))
    assert(exhaustB === exhaustG)
    assert(exhaustB.forall { case (_, _, toks) =>
      toks.split(",").forall(t => !t.contains(" ")) })
  }

  test("bigramLmScore: count lookups broadcast; salted fallback exact") {
    val df = docs("a b a b", "a a")
    // skew guard: the corpus-sized pair frame must never shuffle on
    // raw token keys — both count lookups ride broadcast joins
    val plan = TextAnalysis.bigramLmScore(df, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"token-keyed shuffle join in plan:\n$plan")
    // above-threshold path: salted shuffle join, identical rows
    val salted = TextAnalysis.bigramLmScore(
      df, "text", "doc_id", maxBroadcastRows = 0L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(salted === Array(
      (0L, 3L, math.rint(math.log(0.5) * 1e6) / 1e6),
      (1L, 1L, math.rint(math.log(1.0 / 3) * 1e6) / 1e6)))
  }

  test("truncateRenorm: prefix kept, unit norm restored, zero guarded") {
    val df = Seq((0L, Array(3f, 4f, 100f)), (1L, Array(0f, 0f, 9f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.truncateRenorm(df, "vec_id", "embedding", 2)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Double](2)))
    // vec0: prefix (3,4), norm 5 -> (0.6, 0.8); the 100 in dim 3
    // must not leak into the norm. vec1: zero prefix stays zeros.
    assert(out(0) === ((0L, 5.0, Seq(0.6, 0.8))))
    assert(out(1) === ((1L, 0.0, Seq(0.0, 0.0))))
  }

  test("vocabCoverage: exact counts, monotone coverage reaching 1") {
    val out = TextAnalysis.vocabCoverage(docs("a a b", "a c"), "text")
      .orderBy("rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out === Array(("a", 3L, 1L, 0.6), ("b", 1L, 2L, 0.8),
      ("c", 1L, 3L, 1.0)))
  }

  test("zipfFit/vocabCoverage: top-k cut is distributed, rank join " +
      "replaces the window entirely") {
    val df = docs("a a b c d e", "a b f g", "a h")
    // The round-16 rewrite pins the top-k frame with localCheckpoint,
    // so the downstream executedPlan starts at Scan ExistingRDD — the
    // cut's shape is asserted on the PRE-checkpoint subquery: a
    // distributed orderBy().limit(k) plans as TakeOrderedAndProject
    // (per-partition heaps + k-row merge), never a global sort.
    val counts = df.select(explode(expr(
        "filter(split(lower(text), ' '), t -> t != '')")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val cutPlan = counts.orderBy(col("cnt").desc, col("token").asc)
      .limit(4).queryExecution.executedPlan.toString
    assert(cutPlan.contains("TakeOrderedAndProject"), cutPlan.take(800))
    // and the operators' own plans carry NO window operator at all —
    // rank and prefix sum are Dist.topFrameRank broadcast predecessor
    // self-joins, the invariant the rewrite established
    for (qe <- Seq(
        TextAnalysis.zipfFit(df, "text", k = 4).queryExecution,
        TextAnalysis.vocabCoverage(df, "text", k = 4).queryExecution)) {
      val windows = qe.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty, qe.executedPlan.toString.take(800))
      assert(qe.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
        qe.executedPlan.toString.take(800))
    }
  }

  test("curation_v2 plan: keep-filter scans the checkpointed gate, " +
      "never re-inlines the embedding chain") {
    // enforces the withLrGate/lrQualityGate CONSUMER NOTE as a plan
    // assert: filter(keep) pushed below the gate's projection would
    // re-inline the whole embedding chain (per-token hash, bucket
    // counts, norm, dot) into the predicate — measured 13.0 s vs
    // 1.4 s at sf0.1 before the round-11 fix. A refactor that drops
    // the localCheckpoint must fail here, not in a bench round.
    val df = graft.SparkEntry.queries("curation_v2")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // the gate output is materialized before filter(keep): the keep
    // scan reads checkpointed blocks, not the embedding chain
    assert(plan.contains("ExistingRDD"), plan.take(1000))
    // and no Filter anywhere in the plan carries the chain's
    // expressions in its predicate
    for (line <- plan.linesIterator if line.contains("Filter ")) {
      val l = line.toLowerCase
      assert(!l.contains("featurehash") && !l.contains("polyhash") &&
        !l.contains("aggregate("), line.take(300))
    }
  }

  test("semdedup plan: pair stage is an in-cell aggregate, never a " +
      "corpus join; assignment broadcasts the centroids") {
    val df = graft.SparkEntry.queries("semdedup")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // no all-pairs stage: the only cartesian-shaped operator allowed
    // is the broadcast of the tiny centroid frame (assignment)
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    // pair expansion comes from the per-cell collect_list aggregate,
    // not a shuffled self-join of the corpus
    assert(plan.contains("collect_list"), plan.take(800))
  }

  test("lengthGate: percentile band excludes exactly the tails") {
    val df = (1 to 20)
      .map(i => (i.toLong, (1 to i).map(_ => "w").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.lengthGate(df, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    // counts 1..20: p5 = 1.95, p95 = 19.05 -> docs of 2..19 tokens
    assert(out.map(_._1).toSeq === (2L to 19L))
    assert(out.head._3 === 1.95 && out.head._4 === 19.05)
  }

  test("packedChunkId: round-trips in range, fails loud out of range") {
    val ok = Seq((42L, 7L), (9223372036853L, 999999L), (0L, 0L))
      .toDF("doc_id", "chunk_id")
      .withColumn("cid", graft.CurationJob.packedChunkId("doc_id"))
    val back = ok.select(
      expr("cid DIV 1000000").as("d"),
      pmod(col("cid"), lit(1000000L)).as("c"),
      col("doc_id"), col("chunk_id")).collect()
    assert(back.forall(r =>
      r.getLong(0) == r.getLong(2) && r.getLong(1) == r.getLong(3)))
    for (bad <- Seq((9223372036854L, 0L), (-1L, 0L), (1L, 1000000L))) {
      val ex = intercept[Exception] {
        Seq(bad).toDF("doc_id", "chunk_id")
          .withColumn("cid", graft.CurationJob.packedChunkId("doc_id"))
          .collect()
      }
      assert(ex.getMessage.contains("chunk id packing out of range")
        || Option(ex.getCause).exists(
             _.getMessage.contains("chunk id packing out of range")),
        s"bad=$bad got ${ex.getMessage}")
    }
  }

  test("unigramFreqScore: exact counts, vocab cap zeroes rare tokens") {
    // corpus: "a" ×4, "b" ×2, "c" ×1  (7 tokens total)
    val df = docs("a a b", "a a b c", "")
    val full = TextAnalysis.unigramFreqScore(df, "text", "doc_id",
      vocabSize = 10).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // doc0: tokens a,a,b -> 4+4+2 = 10; mean freq = 10/3/7
    assert(full(0) === ((0L, 3L, 10L,
      math.rint(10.0 / 3 / 7 * 1e6 * 1e6) / 1e6)))
    assert(full(1)._3 === 11L) // 4+4+2+1
    assert(full.length === 2)  // empty doc excluded
    // vocabSize=1 keeps only "a": doc0 counts 4+4, "b" out of vocab
    val capped = TextAnalysis.unigramFreqScore(df, "text", "doc_id",
      vocabSize = 1).orderBy("doc_id").collect()
    assert(capped(0).getLong(2) === 8L)
  }

  test("keepBestPerCluster: highest score wins, ties break to lowest id") {
    val clusters = Seq((10L, 1L), (11L, 1L), (12L, 1L), (20L, 2L),
      (21L, 2L), (30L, 3L))
      .toDF("doc_id", "cluster")
    val scored = Seq((10L, 0.5), (11L, 0.9), (12L, 0.9), (20L, 0.7),
      (21L, 0.7), (30L, 0.1))
      .toDF("doc_id", "quality")
    val kept = Dedup.keepBestPerCluster(clusters, scored, "doc_id",
      "quality").orderBy("cluster").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    // cluster 1: 11 beats 12 on the id tie-break; singletons survive
    assert(kept === Array((11L, 0.9, 3L), (20L, 0.7, 2L),
      (30L, 0.1, 1L)))
  }

  test("native PolyHash expressions equal the SQL higher-order forms") {
    val df = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50)
    // shingle hashes: native vs staged-codes SQL form
    val nat = df.select(col("doc_id"),
      graft.llm.PolyHashColumns.shingleHashes(col("text")).as("h"))
      .orderBy("doc_id").collect().map(_.getSeq[Long](1))
    val sql = df
      .select(col("doc_id"), Dedup.charCodesExpr("text").as("__codes"))
      .select(col("doc_id"),
        Dedup.shingleHashesFromCodes("__codes").as("h"))
      .orderBy("doc_id").collect().map(_.getSeq[Long](1))
    assert(nat.toSeq === sql.toSeq)
    // and vs the original per-shingle SQL formulation
    val sql2 = df.select(col("doc_id"),
      Dedup.shinglesExpr("text").as("__sh"))
      .select(col("doc_id"), Dedup.shingleHashesExpr("__sh").as("h"))
      .orderBy("doc_id").collect().map(_.getSeq[Long](1))
    assert(nat.toSeq === sql2.toSeq)
    // token hashes: native vs the raw SQL HOF form (the oracle twin)
    val natT = df.select(
      graft.llm.PolyHashColumns.tokenHashes(col("text")).as("h"))
      .collect().map(_.getSeq[Long](0))
    val sqlT = df.select(expr(
      Dedup.hashTokensExpr("split(text, ' ')")).as("h"))
      .collect().map(_.getSeq[Long](0))
    assert(natT.toSeq === sqlT.toSeq)
    // content-token hashes (lower + drop-empty) native vs SQL HOF
    val natC = df.select(
      Dedup.contentTokenHashesExpr("text").as("h"))
      .collect().map(_.getSeq[Long](0))
    val sqlC = df.select(expr(Dedup.hashTokensExpr(
      "filter(split(lower(text), ' '), t -> t != '')")).as("h"))
      .collect().map(_.getSeq[Long](0))
    assert(natC.toSeq === sqlC.toSeq)
    // n-gram fold hashes native vs SQL HOF, incl. shorter-than-n docs
    val gdf = docs("a b c d e f", "a b", "x")
    for (n <- Seq(2, 4, 8)) {
      val natG = gdf
        .withColumn("__th", Dedup.contentTokenHashesExpr("text"))
        .select(Dedup.ngramHashesFromTokenHashes("__th", n).as("g"))
        .collect().map(_.getSeq[Long](0))
      val sqlG = gdf
        .withColumn("__th", Dedup.contentTokenHashesExpr("text"))
        .select(expr(
          s"""transform(sequence(1, greatest(size(__th) - ${n - 1}, 1)),
              i -> aggregate(slice(__th, i, least($n, size(__th))),
                   0L, (acc, h) -> (acc * 31 + h) % 1000000007L))""")
          .as("g"))
        .collect().map(_.getSeq[Long](0))
      assert(natG.toSeq === sqlG.toSeq, s"n=$n")
    }
    // whole-string: edge cases incl. multi-space and short strings
    val edges = docs("", "a", "a  b ", "ab")
    val natW = edges.select(
      graft.llm.PolyHashColumns.fingerprint(col("text"))).collect()
      .map(_.getLong(0))
    assert(natW(1) === 'a'.toInt.toLong)
    assert(natW(3) === ('a'.toInt * 31L + 'b'.toInt) % 1000000007L)
  }

  test("native MinHash/SimHash pack expressions equal the HOF SQL forms") {
    val df = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50)
    val nat = Dedup.minhashSignatures(df, "text", "doc_id")
      .orderBy("doc_id").collect().map(_.getSeq[Long](1))
    val sql = df
      .select(col("doc_id"),
        graft.llm.PolyHashColumns.shingleHashes(col("text")).as("__h"))
      .select(col("doc_id"), Dedup.minhashExpr("__h").as("sig"))
      .orderBy("doc_id").collect().map(_.getSeq[Long](1))
    assert(nat.toSeq === sql.toSeq)
    val natS = Dedup.simhash(df, "text", "doc_id")
      .orderBy("doc_id").collect().map(_.getLong(1))
    val sqlS = df
      .select(col("doc_id"),
        graft.llm.PolyHashColumns.tokenHashes(col("text")).as("__th"))
      .select(col("doc_id"), Dedup.simhashFromHashes("__th").as("s"))
      .orderBy("doc_id").collect().map(_.getLong(1))
    assert(natS.toSeq === sqlS.toSeq)
  }

  test("exact-dedup-first bounds hot buckets: 1k identical docs, zero pair blowup") {
    val texts = Seq.fill(1000)(
      "exactly the same boilerplate page repeated across the corpus") ++
      Seq("one genuinely different document about something else entirely")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val kept = Dedup.dedupNearDup(df, "text", "doc_id", 0.8)
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(0L, 1000L))
    // the rep-collapsed LSH stage sees 2 members total → no k²/2 pairs
    val reps = df.groupBy(md5(col("text").cast("binary")))
      .agg(min(col("doc_id")).as("doc_id"),
        first(col("text")).as("text"))
    val pairs = Dedup.candidatePairs(Dedup.lshBuckets(
      Dedup.minhashSignatures(reps, "text", "doc_id"), "doc_id"),
      "doc_id").count()
    assert(pairs <= 1)
  }

  test("connectedComponents collapses chains to min label; singletons self-label") {
    // chain 1-2-3 (even though 1 and 3 share no edge), pair 5-6,
    // isolated 4 and 7
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val verts = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    val cc = Dedup.connectedComponents(edges, verts, "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.toSeq === Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L),
      (5L, 5L), (6L, 5L), (7L, 7L)))
  }

  test("connectedComponents pointer-jumping converges in O(log d) rounds on a chain") {
    // 17-vertex chain: plain min-label propagation needs 16 rounds to
    // carry label 1 to vertex 17 (plus one no-change probe); with the
    // per-round label shortcut the distance information doubles, so
    // the loop must finish well under half that
    val n = 17
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id1", "id2")
    val verts = (1 to n).map(_.toLong).toDF("doc_id")
    val (cc, iters) =
      Dedup.connectedComponentsWithIters(edges, verts, "doc_id")
    assert(cc.collect().map(_.getLong(1)).forall(_ == 1L))
    assert(iters <= 8, s"expected <= 8 rounds on a $n-chain, got $iters")
  }

  test("candidatePairs maxBucket cap keeps lowest ids, bounds pairs") {
    val buckets = (0 until 6).map(i => (i.toLong, 0, 7L))
      .toDF("doc_id", "band", "band_key")
    val capped = Dedup.candidatePairs(buckets, "doc_id", maxBucket = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(capped.toSeq === Seq((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("dedupNearDup drops higher-id near-duplicates, keeps distinct docs") {
    val base = "spark engines shuffle partitions and broadcast small " +
      "dimension tables to avoid expensive network exchanges at scale"
    val df = docs(base, base.replace("small", "tiny"), base,
      "totally unrelated text about cooking pasta with tomato sauce")
    val kept = Dedup.dedupNearDup(df, "text", "doc_id", 0.5)
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(0L, 3L)) // 1 and 2 are near/exact dups of 0
  }

  test("exact dedup keeps deterministic min-id keeper") {
    val df = docs("aaa", "bbb", "aaa", "aaa")
    val r = Dedup.exactDedup(df, "text", "doc_id")
      .orderBy("keeper").collect()
    assert(r.map(x => (x.getLong(1), x.getLong(2))).toSeq
      === Seq((0L, 3L), (1L, 1L)))
    val h = Dedup.exactDedupByHash(df, "text", "doc_id")
      .orderBy("keeper").collect()
    assert(h.map(_.getLong(2)).toSeq === Seq(3L, 1L))
  }

  test("simhash: identical texts equal; hamming small for near-dups") {
    val df = docs(
      "data engines love columnar formats and vectorized execution",
      "data engines love columnar formats and vectorized execution",
      "zzz qqq xxx yyy www vvv uuu ttt sss rrr")
    val r = Dedup.simhash(df, "text", "doc_id").orderBy("doc_id")
      .collect().map(_.getLong(1))
    assert(r(0) === r(1))
    assert(r(0) !== r(2))
  }

  test("simhashNearDup: identical docs pair at hamming 0; banding is lossless") {
    val df = docs(
      "data engines love columnar formats and vectorized execution",
      "data engines love columnar formats and vectorized execution",
      "zzz qqq xxx yyy www vvv uuu ttt sss rrr")
    val pairs = Dedup.simhashNearDup(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq.contains((0L, 1L, 0L)))
    // brute-force check: every hamming<=1 pair is found (pigeonhole)
    val sh = Dedup.simhash(df, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = for {
      i <- sh.keys; j <- sh.keys if i < j
      if java.lang.Long.bitCount(sh(i) ^ sh(j)) <= 1
    } yield (i, j)
    assert(pairs.map(p => (p._1, p._2)).toSet === brute.toSet)
  }

  test("cosine similarity: self = 1, orthogonal = 0") {
    val df = Seq(
      (0L, Seq.fill(64)(1.0f)),
      (1L, Seq.fill(64)(1.0f)),
      (2L, (Seq.fill(32)(1.0f) ++ Seq.fill(32)(-1.0f))))
      .toDF("vec_id", "embedding")
    val topk = Similarity.bruteForceTopK(df, df.filter($"vec_id" === 0),
      "vec_id", "embedding", 2).orderBy("rank").collect()
    assert(topk(0).getLong(1) === 1L) // identical vector ranks first
    assert(topk(0).getDouble(2) === 1.0)
    assert(topk(1).getDouble(2) === 0.0) // orthogonal
  }

  test("LSH buckets: identical vectors land in the same bucket; recall smoke vs brute force") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val b = Similarity.lshBuckets(emb, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(b.values.toSet.size > 4) // spreads across buckets
    // recall smoke: within-bucket pairs should be closer on average
    // than random pairs (hyperplane LSH preserves cosine locality)
    val joined = Similarity.lshSimilarityJoin(emb, "vec_id", "embedding",
      planes = 4, minSim = -1.0)
    val inBucket = joined.agg(avg("sim")).collect()(0).getDouble(0)
    val all = Similarity.lshSimilarityJoin(emb.limit(60), "vec_id",
      "embedding", planes = 0, minSim = -1.0) // planes=0 -> one bucket
      .agg(avg("sim")).collect()(0).getDouble(0)
    assert(inBucket > all)
  }

  test("kmeansCentroids: deterministic, cells preserved, means exact") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val c1 = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 8, 2)
      .orderBy("cell").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val c2 = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 8, 2)
      .orderBy("cell").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(c1.map(_._1).toSeq === (0L until 8L)) // every cell survives
    assert(c1.map(_._2).toSeq === c2.map(_._2).toSeq) // repartition-proof
    assert(c1.forall(_._2.length === 64))
  }

  test("text stats and language id on constructed inputs") {
    val df = docs(
      "the cat and the dog walk to the park of the city",
      "el perro y el gato de la casa que ladra y corre",
      "xyzzy plugh foobar")
    val r = TextAnalysis.withStats(df, "text").orderBy("doc_id").collect()
    assert(r(0).getAs[String]("pred_lang") === "en")
    assert(r(1).getAs[String]("pred_lang") === "es")
    assert(r(2).getAs[String]("pred_lang") === "und")
    assert(r(0).getAs[Long]("n_tokens") === 12L)
    assert(r(0).getAs[Double]("quality") > r(2).getAs[Double]("quality"))
    // fingerprint invariant under whitespace/case normalization
    val f = docs("Hello  World", "hello world")
      .select(TextAnalysis.fingerprintExpr("text")).collect()
    assert(f(0).getLong(0) === f(1).getLong(0))
  }

  test("decontaminate drops n-gram overlap with eval, keeps disjoint docs") {
    val shared = "large scale training corpora need careful leakage control"
    val train = Seq(
      (2L, shared), // shares every gram with eval doc 1
      (4L, "completely unrelated words about cooking fresh pasta dishes"))
      .toDF("doc_id", "text")
    val eval_ = Seq((1L, shared)).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(train, eval_, "text", "doc_id", n = 3)
      .collect().map(_.getLong(0))
    assert(kept.toSeq === Seq(4L))
    // disjoint corpora: nothing dropped
    val kept2 = Dedup.decontaminate(train,
      Seq((9L, "zebra quagga okapi")).toDF("doc_id", "text"),
      "text", "doc_id", n = 3).collect().map(_.getLong(0)).sorted
    assert(kept2.toSeq === Seq(2L, 4L))
  }

  test("decontaminate: empty/whitespace docs never contaminate each other") {
    // an empty train doc vs an empty eval doc share zero real
    // n-grams — the sentinel gram 0L must not link them
    val train = Seq((2L, ""), (4L, "   "), (6L, "real words here"))
      .toDF("doc_id", "text")
    val eval_ = Seq((1L, ""), (3L, " \t ")).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(train, eval_, "text", "doc_id",
      n = 3).collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(2L, 4L, 6L))
  }

  test("connectedComponents throws on non-convergence instead of returning a partial closure") {
    val edges = (1 until 9).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id1", "id2")
    val verts = (1 to 9).map(_.toLong).toDF("doc_id")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(edges, verts, "doc_id", maxIters = 1)
    }
    assert(e.getMessage.contains("partial closure"))
  }

  test("sampleBucketExpr stays in [0, 1000) for negative and huge seeds") {
    val ids = Seq(0L, 1L, 17L, 999999999L, Long.MaxValue)
      .toDF("doc_id")
    for (seed <- Seq(-42L, Long.MinValue, Long.MaxValue, 0L, 42L)) {
      val b = ids.select(
        TextAnalysis.sampleBucketExpr("doc_id", seed).cast("long"))
        .collect().map(_.getLong(0))
      assert(b.forall(x => x >= 0 && x < 1000),
        s"seed=$seed produced out-of-range buckets: ${b.toSeq}")
    }
    // seed already in [0, P) keeps its historical values (the oracle
    // SQL for sample_stratified hard-codes this arithmetic with 42)
    val fixed = ids.select(
      TextAnalysis.sampleBucketExpr("doc_id", 42L).cast("long"))
      .collect().map(_.getLong(0))
    val expected = Seq(0L, 1L, 17L, 999999999L, Long.MaxValue).map {
      id =>
        ((Math.floorMod(id, 1073741824L) * 2654435761L + 42L)
          % 1000000007L) % 1000L
    }
    assert(fixed.toSeq === expected)
  }

  test("redactPii masks emails, phones, IPv4; counts hits; leaves clean text alone") {
    val df = Seq(
      (1L, "mail bob.smith+x@sub.example.org or call 555-123-4567 from 10.0.42.7 today"),
      (2L, "no contact info in this one at all"))
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextAnalysis.redactPiiExpr("text").as("r"))
    val red = out.orderBy("doc_id").collect().map(_.getString(1))
    assert(red(0) === "mail [EMAIL] or call [PHONE] from [IP] today")
    assert(red(1) === "no contact info in this one at all")
    val counts = TextAnalysis.piiCountsExpr("text")
      .foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
      .orderBy("doc_id").collect()
    assert((counts(0).getLong(2), counts(0).getLong(3),
      counts(0).getLong(4)) === ((1L, 1L, 1L)))
    assert((counts(1).getLong(2), counts(1).getLong(3),
      counts(1).getLong(4)) === ((0L, 0L, 0L)))
  }

  test("gopherRules gates on token count; audit booleans explain drops") {
    val longDoc = ("word " * 50).trim
    val df = Seq((1L, longDoc), (2L, "too short")).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(df, "text", minTokens = 40)
      .select("doc_id", "rule_tokens", "keep").orderBy("doc_id")
      .collect()
    assert(out(0).getBoolean(1) && out(0).getBoolean(2))
    assert(!out(1).getBoolean(1) && !out(1).getBoolean(2))
  }

  test("docRepetition: dup-line and top-gram ppm, hand-computed") {
    val df = Seq(
      (1L, "x y\nx y\nz"),      // "x y" duplicated: 1 of 3 lines
      (2L, "ab ab ab cd"),      // "ab ab" ×2 covers 8 of 8 word chars
      (3L, "hi"))               // no 2-grams at all
      .toDF("doc_id", "text")
    val out = TextAnalysis.docRepetition(df, "text", "doc_id")
      .orderBy("doc_id").collect()
    // doc 1: n_dup=1/3 lines → 333333; dup chars 3 of 7 → 428571
    assert(out(0).getLong(1) === 3L)
    assert(out(0).getLong(2) === 333333L)
    assert(out(0).getLong(3) === 428571L)
    // doc 2: top 2-gram "ab ab" c=2, 4 nonspace chars → 8/8 wchars;
    // top 3-gram c=1, 6 chars → 6/8
    assert(out(1).getLong(1) === 1L)
    assert(out(1).getLong(2) === 0L)
    assert(out(1).getLong(4) === 1000000L)
    assert(out(1).getLong(5) === 750000L)
    // doc 3: no grams → ppm 0, not null
    assert(out(2).getLong(4) === 0L)
    assert(out(2).getLong(5) === 0L)
  }

  test("withDocRepetition == docRepetition integer-exactly") {
    val docs = Seq(
      (1L, "x y\nx y\nz"), (2L, "ab ab ab cd"), (3L, "hi"),
      (4L, "a a a a a\nb b\na a a a a"), (5L, ""))
      .toDF("doc_id", "text")
    val batch = TextAnalysis.docRepetition(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    val appended = TextAnalysis.withDocRepetition(docs, "text")
      .select("doc_id", "n_lines", "dup_line_ppm", "dup_char_ppm",
        "top2_ppm", "top3_ppm")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(appended === batch)
    val clash = intercept[IllegalArgumentException] {
      TextAnalysis.withDocRepetition(
        docs.withColumn("top2_ppm", lit(1)), "text")
    }
    assert(clash.getMessage.contains("top2_ppm"))
  }

  test("charEntropy: hand-computed values, templated floor at zero") {
    val df = Seq((1L, "abab"), (2L, "aaaa"), (3L, "x"), (4L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(df, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // "abab": counts {ab:2, ba:1}, H = ln3 − (2·ln2)/3 = 0.636514
    assert(out(0) === ((1L, 3L, 0.636514)))
    // perfectly templated: single repeated bigram → zero entropy
    assert(out(1) === ((2L, 3L, 0.0)))
    // too short for a bigram → 0 bigrams, entropy 0 (not null)
    assert(out(2) === ((3L, 0L, 0.0)))
    assert(out(3) === ((4L, 0L, 0.0)))
  }

  test("withCharEntropy == charEntropy to the bit") {
    val df = Seq((1L, "abab"), (2L, "aaaa"), (3L, "x"), (4L, ""),
      (5L, "the quick brown fox fox fox"))
      .toDF("doc_id", "text")
    val batch = TextAnalysis.charEntropy(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    val local = TextAnalysis.withCharEntropy(df, "text")
      .select("doc_id", "n_bigrams", "entropy")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(local === batch)
  }

  test("withContaminationFlag: superset of exact decontaminate drops, " +
      "clean fixture unflagged") {
    val evalSet = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val train = Seq(
      // contains the eval 8-gram verbatim -> exact drop + flagged
      (1L, "prefix words the quick brown fox jumps over the lazy " +
        "dog tonight suffix"),
      (2L, "entirely unrelated retail demand forecasting sentence " +
        "with many distinct tokens here"),
      (3L, "   ")) // zero tokens -> clean by the sentinel rule
      .toDF("doc_id", "text")
    val bloom = Dedup.decontamBloom(evalSet, "text")
    val flagged = Dedup.withContaminationFlag(train, "text", bloom)
      .select("doc_id", "contaminated").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val keptExact = Dedup.decontaminate(train, evalSet, "text",
      "doc_id").collect().map(_.getLong(0)).toSet
    // no false negatives: every exact drop is flagged
    val droppedExact = Set(1L, 2L, 3L) -- keptExact
    assert(droppedExact === Set(1L))
    droppedExact.foreach(id => assert(flagged(id), s"doc $id"))
    // deterministic fixture: the clean docs stay unflagged
    assert(!flagged(2L) && !flagged(3L))
  }

  test("dsirWeights: target-typical docs outscore raw-typical docs") {
    val df = Seq(
      (1L, "t", "aaa aaa aaa"), (2L, "t", "aaa aaa"),
      (3L, "r", "b b b"), (4L, "r", "b b"),
      (5L, "r", "aaa aaa aaa")) // raw doc with target-typical content
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.dsirWeights(df, "text", "doc_id",
      "source", "t").orderBy("doc_id").collect()
    assert(out.map(_.getBoolean(1)).toSeq ===
      Seq(true, true, false, false, false))
    val score = out.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // likelihood ratio tracks CONTENT, not the domain label: doc 5
    // scores exactly like doc 1 despite carrying the raw label
    assert(score(5L) === score(1L))
    assert(score(1L) > score(3L))
    assert(score(2L) > score(4L))
    // more target-typical tokens → monotonically higher score
    assert(score(1L) > score(2L))
    assert(score(4L) > score(3L))
  }

  test("dsirFit + withDsirScore == dsirWeights bitwise; clash guard") {
    val df = Seq(
      (1L, "t", "aaa aaa bbb retail units"), (2L, "t", "aaa ccc"),
      (3L, "r", "b b zz qq"), (4L, "r", "b mixed aaa tokens"),
      (5L, "r", ""))
      .toDF("doc_id", "source", "text")
    val batch = TextAnalysis.dsirWeights(df, "text", "doc_id",
      "source", "t")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val model = TextAnalysis.dsirFit(df, "text", "doc_id",
      "source", "t")
    assert(model.tv.length === 32 && model.rv.length === 32)
    assert(model.tv.sum === model.tt && model.rv.sum === model.rt)
    val scored = TextAnalysis.withDsirScore(df, "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // zero-token doc dropped on both paths; scores equal to the bit
    assert(scored.keySet === batch.keySet)
    assert(batch.keySet === Set(1L, 2L, 3L, 4L))
    scored.foreach { case (id, s) => assert(batch(id) == s, s"doc $id") }
    val clash = intercept[IllegalArgumentException] {
      TextAnalysis.withDsirScore(df.withColumn("dsir_score", lit(1)),
        "text", model)
    }
    assert(clash.getMessage.contains("dsir_score"))
  }

  test("semDedup: within-cell near-dups drop, first occurrence wins") {
    def v(hot: Int, tilt: Double = 0.0): Array[Double] = {
      val a = Array.fill(64)(0.0)
      a(hot) = 1.0
      if (tilt != 0.0) a((hot + 7) % 64) = tilt
      a
    }
    val df = Seq(
      (0L, v(0)), (1L, v(1)),            // two orthogonal seeds
      (2L, v(0, 0.05)),                  // near-dup of 0 (cos ~0.999)
      (3L, v(1, 0.05)),                  // near-dup of 1
      (4L, v(2)))                        // orthogonal to everything
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedup(df, "vec_id", "embedding",
      cells = 2, iters = 1, minCos = 0.9)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toMap
    // earlier id kept, later near-dup dropped; orthogonal survives
    assert(out(0L) && out(1L) && out(4L))
    assert(!out(2L) && !out(3L))
  }

  test("semDedup: default cells auto-scales as max(16, ceil(sqrt(n)))") {
    // the committed sf1 k-study's rule — a fixed k goes quadratic at
    // 10x data, so the default must derive k from the corpus size
    assert(Similarity.autoCells(0L) === 16)
    assert(Similarity.autoCells(200L) === 16)   // sqrt(200) < 16
    assert(Similarity.autoCells(1000000L) === 1000)
    assert(Similarity.autoCells(100000000L) === 10000)
    // end-to-end with the auto default: 18 vectors -> k = 16 (floor
    // dominates), seeds are ids 0..15 on 16 distinct axes; ids 16/17
    // are exact copies of seeds 0/7 so they land in those seeds'
    // cells (cos = 1.0) and dedup deterministically
    def v(hot: Int): Array[Double] = {
      val a = Array.fill(16)(0.0); a(hot) = 1.0; a
    }
    val df = ((0 until 16).map(i => (i.toLong, v(i))) ++
      Seq((16L, v(0)), (17L, v(7))))
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedup(df, "vec_id", "embedding",
      minCos = 0.9)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert((0 until 16).forall(i => out(i.toLong)))
    assert(!out(16L) && !out(17L))
  }

  test("semDedup: zero-norm vectors are excluded from pair generation") {
    // a zero embedding has no defined cosine — it must always be
    // kept and must never suppress a real near-dup pair, explicitly
    // (not via NaN/NULL comparison accidents)
    def v(hot: Int, tilt: Double = 0.0): Array[Double] = {
      val a = Array.fill(16)(0.0); a(hot) = 1.0
      if (tilt != 0.0) a((hot + 3) % 16) = tilt
      a
    }
    val df = Seq(
      (0L, v(0)), (1L, v(0, 0.05)),      // real near-dup pair
      (2L, Array.fill(16)(0.0)),         // zero vectors: no defined
      (3L, Array.fill(16)(0.0)))         //   cosine, always kept
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedup(df, "vec_id", "embedding",
      cells = 1, iters = 1, minCos = 0.9)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(2L) === ((-1L, true)) && out(3L) === ((-1L, true)))
    assert(out(0L)._2 && !out(1L)._2)    // pair still dedups
  }

  test("seedCentroids: rank-based — zero-norm rows at LOW ids " +
      "cannot under-seed the cell count") {
    def v(hot: Int): Array[Double] = {
      val a = Array.fill(16)(0.0); a(hot) = 1.0; a
    }
    // the k smallest ids PRESENT seed, labeled by their own id —
    // a sparse id space (here: ids 5,7,9,11 after upstream
    // filtering) still yields the full k seeds
    val sparse = Seq((5L, v(0)), (7L, v(1)), (9L, v(2)), (11L, v(3)),
      (13L, v(4))).toDF("vec_id", "embedding")
    val seeds = graft.llm.Similarity
      .seedCentroids(sparse, "vec_id", "embedding", 4)
      .collect().map(_.getLong(0)).sorted
    assert(seeds.toSeq === Seq(5L, 7L, 9L, 11L))
    // end to end: zero vectors occupying ids 0..1 used to shrink the
    // id < cells seed cut to 2 cells; rank-based seeding over the
    // non-zero rows keeps all 4 cells populated
    val df = Seq((0L, Array.fill(16)(0.0)), (1L, Array.fill(16)(0.0)),
      (2L, v(0)), (3L, v(1)), (4L, v(2)), (5L, v(3)), (6L, v(4)),
      (7L, v(5))).toDF("vec_id", "embedding")
    val out = graft.llm.Similarity
      .semDedup(df, "vec_id", "embedding", cells = 4, iters = 1,
        minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out(0L) === -1L && out(1L) === -1L) // zeros ride outside
    val liveCells = (2L to 7L).map(out).distinct
    assert(liveCells.size === 4,
      s"expected 4 seeded cells, got $liveCells")
  }

  test("dsirWeights fails loudly when a corpus side is missing") {
    val df = Seq((1L, "alpha beta gamma", "src0"),
        (2L, "delta epsilon zeta", "src0"))
      .toDF("doc_id", "text", "source")
    val e = intercept[Exception] {
      TextAnalysis.dsirWeights(df, "text", "doc_id",
        "source", "src0").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains(
      "both target and non-target")), msgs(e).mkString(" | "))
  }

  test("encodeWavAdpcm rejects clips over the 16-bit block header") {
    import Multimodal._
    val e = intercept[IllegalArgumentException] {
      encodeWavAdpcm(DecodedAudio(8000, new Array[Short](0x10000)))
    }
    assert(e.getMessage.contains("65535"))
    // boundary clip still encodes and round-trips its length
    val ok = encodeWavAdpcm(DecodedAudio(8000, new Array[Short](0xffff)))
    assert(decodeWavAdpcm(ok).get.samples.length === 0xffff)
  }

  test("capPerDomain keeps top-n by priority with deterministic ties") {
    val df = Seq(
      (1L, "a", 0.9), (2L, "a", 0.5), (3L, "a", 0.9), (4L, "a", 0.1),
      (5L, "b", 0.2))
      .toDF("doc_id", "dom", "q")
    val kept = TextAnalysis.capPerDomain(df, "dom", col("q"),
      "doc_id", 2).select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0))
    // domain a: quality 0.9 ties broken by doc_id asc -> 1, 3
    assert(kept.toSeq === Seq(1L, 3L, 5L))
  }

  test("boilerplateNgrams finds grams in >= minDocs distinct docs only") {
    val chrome = "one two three four five six seven eight"
    val df = Seq(
      (1L, s"$chrome alpha beta"),
      (2L, s"intro $chrome"),
      (3L, s"$chrome"),
      (4L, s"$chrome $chrome"), // repeats within ONE doc: df += 1, not 2
      (5L, "short doc"))
      .toDF("doc_id", "text")
    val out = Dedup.boilerplateNgrams(df, "text", "doc_id", n = 8,
      minDocs = 4).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.exists { case (g, c) => g == chrome && c == 4L })
    // every reported gram must clear the distinct-doc threshold
    assert(out.forall(_._2 >= 4L))
  }

  test("tfIdfTopTerms ranks rare terms above common ones") {
    val df = Seq(
      (1L, "common common rare_one common filler filler"),
      (2L, "common filler other other other"),
      (3L, "common filler something else entirely")).toDF("doc_id", "text")
    val top = TextAnalysis.tfIdfTopTerms(df, "text", "doc_id", 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 2: 'other' (tf=3, df=1, tfidf ≈ 5.08) beats 'common'
    // (tf=1, df=3, tfidf = 1.0)
    assert(top(2L) === "other")
    // doc 3: all tf=1; the df=1 terms tie at ln(4/2)+1 and the
    // term-asc tie-break picks 'else'
    assert(top(3L) === "else")
    val all = TextAnalysis.tfIdfTopTerms(df, "text", "doc_id", 2)
      .collect()
    assert(all.forall(_.getLong(5) <= 2))
    assert(all.length === 6)
  }

  test("chunkDocuments windows with overlap, keeps the tail, skips empty docs") {
    val df = Seq((1L, "abcdefghij"), (2L, "xy"), (3L, ""))
      .toDF("doc_id", "text")
    val chunks = TextAnalysis
      .chunkDocuments(df, "text", "doc_id", chunkSize = 4, overlap = 1)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // stride 3: starts 1,4,7,10 -> abcd, defg, ghij, j (tail window)
    assert(chunks.toSeq === Seq(
      (1L, 0L, "abcd", 4L), (1L, 1L, "defg", 4L),
      (1L, 2L, "ghij", 4L), (1L, 3L, "j", 1L),
      (2L, 0L, "xy", 2L)))
    assertThrows[IllegalArgumentException] {
      TextAnalysis.chunkDocuments(df, "text", "doc_id", 4, 4)
    }
  }

  test("quantizeInt8: codes in range, half-even ties, zero vector safe") {
    val df = Seq((1L, Array(1.0f, -0.5f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(df, "vec_id", "embedding")
      .orderBy("vec_id").collect()
    // scale = 1/127: codes 127, -63.5 -> -64 (half-even), 31.75 -> 32
    assert(q(0).getSeq[Int](2) === Seq(127, -64, 32))
    assert(q(1).getDouble(1) === 0.0)
    assert(q(1).getSeq[Int](2) === Seq(0, 0, 0))
  }

  test("multimodal: payload metadata + real-codec batch extraction " +
      "with honest unknown-payload handling") {
    val df = Multimodal.withBinaryPayload(docs("abcd", "wxyz longer"),
      "text")
    val m = df.select("meta.n_bytes", "meta.mime").orderBy("n_bytes")
      .collect()
    assert(m(0).getLong(0) === 4L)
    assert(m(0).getString(1).startsWith("text/plain"))
    // plain-text payloads match no codec: kind unknown, EMPTY
    // features — never a fake vector
    val feats = Multimodal.extractFeatures(df).collect()
      .sortBy(_.doc_id)
    assert(feats(0).n_bytes === 4L)
    assert(feats.forall(f => f.kind == "unknown" && f.feat.isEmpty))
    val samp = df.select(Multimodal.sampleExpr("text", 2, 3)).collect()
    assert(samp(0).getSeq[Int](0) === Seq('a'.toInt, 'c'.toInt, 0))
  }

  test("decode dispatcher routes every container to its real codec " +
      "and extractFeatures carries the kind through") {
    import Multimodal._
    val spark = TestSpark.spark
    import spark.implicits._
    val img = DecodedImage(3, 2, Array(0xff0000, 0x00ff00, 0x0000ff,
      0x102030, 0x405060, 0x708090))
    val audio = DecodedAudio(8000,
      Array.tabulate(64)(i => ((i % 16 - 8) * 256).toShort))
    val payloads = Seq[(Long, Array[Byte], String)](
      (1L, encodeBmp(img), "bmp"),
      (2L, encodePng(img), "png"),
      (3L, encodeGif(Seq(img, img)), "gif"),
      (4L, encodeWav(audio), "wav_pcm"),
      (5L, encodeWavG711(audio), "wav_g711"),
      (6L, encodeWavAdpcm(audio), "wav_adpcm"),
      (7L, encodeMdct(audio), "mdct"),
      (8L, "not a media file".getBytes("UTF-8"), "unknown"))
    payloads.foreach { case (_, bytes, kind) =>
      assert(decode(bytes)._1 === kind, s"dispatch for $kind")
    }
    // image branches agree on dimensions + channel means (PNG/GIF
    // are lossless, so features match BMP's exactly)
    val bmpFeat = decode(encodeBmp(img))._2
    assert(bmpFeat.take(2).toSeq === Seq(3.0, 2.0))
    assert(decode(encodePng(img))._2.toSeq === bmpFeat.toSeq)
    assert(decode(encodeGif(Seq(img)))._2.toSeq === bmpFeat.toSeq)
    // PCM audio: [rate, n, rms, peak, zc] from the real parser
    val af = decode(encodeWav(audio))._2
    assert(af(0) === 8000.0 && af(1) === 64.0 && af(3) === 2048.0)
    // the Dataset stage carries kind + features end to end
    val dsIn = payloads.map { case (id, b, _) => (id, b) }
      .toDF("doc_id", "payload")
    val out = extractFeatures(dsIn).collect().map(f =>
      f.doc_id -> ((f.kind, f.feat.length))).toMap
    assert(out(1L) === (("bmp", 5)))
    assert(out(4L) === (("wav_pcm", 5)))
    assert(out(8L) === (("unknown", 0)))
    // real resize: decode -> nearest resample -> BMP re-encode, for
    // ANY image container; non-image payloads decline
    val rz = resizePayload(encodePng(img), 2, 1).get
    val rimg = decodeBmp(rz).get
    assert(rimg.width === 2 && rimg.height === 1)
    assert(rimg.pixels.toSeq === resizeNearest(img, 2, 1).pixels.toSeq)
    assert(resizePayload("junk".getBytes, 2, 2).isEmpty)
  }

  test("multimodal: real BMP encode/decode round-trip, padding, resize, dispatch") {
    import Multimodal._
    // 3x2 image: row stride 9 bytes -> padded to 12 (exercises padding)
    val px = Array(0xff0000, 0x00ff00, 0x0000ff, 0x102030, 0x405060,
      0x708090)
    val img = DecodedImage(3, 2, px)
    val bmp = encodeBmp(img)
    assert(bmp.length === 54 + 12 * 2)
    val dec = decodeBmp(bmp).get
    assert(dec.width === 3 && dec.height === 2)
    assert(dec.pixels.toSeq === px.toSeq)
    // top-down variant (negative height) decodes to the same raster
    val td = bmp.clone()
    val negH = -2
    td(22) = (negH & 0xff).toByte; td(23) = ((negH >> 8) & 0xff).toByte
    td(24) = ((negH >> 16) & 0xff).toByte
    td(25) = ((negH >> 24) & 0xff).toByte
    // rows are stored top-down now: swap the two file rows to keep
    // the logical raster identical
    val row0 = td.slice(54, 66); val row1 = td.slice(66, 78)
    System.arraycopy(row1, 0, td, 54, 12)
    System.arraycopy(row0, 0, td, 66, 12)
    assert(decodeBmp(td).get.pixels.toSeq === px.toSeq)
    // nearest-neighbor resize: dst (x,y) <- src (x*w/W, y*h/H)
    val big = DecodedImage(4, 4, Array.tabulate(16)(identity))
    val small = resizeNearest(big, 2, 2)
    assert(small.pixels.toSeq === Seq(0, 2, 8, 10))
    // channel means
    val (r, g, b) = channelMeans(DecodedImage(2, 1,
      Array(0x204060, 0x608020)))
    assert((r, g, b) === ((64.0, 96.0, 64.0)))
    // dispatcher: BMP -> real 5-feature path; unclaimed -> unknown
    assert(decode(bmp)._2.length === 5)
    assert(decode(bmp)._2.take(2).toSeq === Seq(3.0, 2.0))
    val nb = decode("not a bitmap".getBytes)
    assert(nb._1 === "unknown" && nb._2.isEmpty)
    // malformed/truncated BMPs refuse rather than guess
    assert(decodeBmp(bmp.take(53)) === None)
    assert(decodeBmp("BMxxxx".getBytes) === None)
  }

  test("multimodal: real WAV encode/decode round-trip, chunk walk, " +
      "malformed rejection") {
    import Multimodal._
    val s = Array.tabulate(8)(i =>
      ((i - 4) * 1000).toShort) // crosses zero between i=3 and i=5
    val wav = encodeWav(DecodedAudio(8000, s))
    assert(wav.length === 44 + 16)
    val dec = decodeWav(wav).get
    assert(dec.sampleRate === 8000)
    assert(dec.samples.toSeq === s.toSeq)
    // header fields: RIFF size, byte rate, block align
    assert(new String(wav.slice(0, 4), "US-ASCII") === "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") === "WAVE")
    // parser walks unknown chunks: splice a 4-byte "LIST" chunk
    // between fmt and data
    val spliced = wav.take(36) ++
      "LIST".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0) ++
      Array[Byte](1, 2, 3, 4) ++ wav.drop(36)
    // fix the RIFF size field (chunk added 12 bytes)
    val rs = (spliced.length - 8)
    (0 until 4).foreach(i =>
      spliced(4 + i) = ((rs >>> (8 * i)) & 0xff).toByte)
    assert(decodeWav(spliced).get.samples.toSeq === s.toSeq)
    // malformed: wrong magic, truncated data, stereo refused
    assert(decodeWav("RIFFxxxxNOPE".getBytes) === None)
    assert(decodeWav(wav.take(50)) === None)
    val stereo = wav.clone(); stereo(22) = 2
    assert(decodeWav(stereo) === None)
  }

  test("multimodal: hand-rolled animated GIF89a decodes losslessly " +
      "through the JDK codec with frame random access") {
    import Multimodal._
    val f0 = DecodedImage(4, 2,
      Array(0xff0000, 0x00ff00, 0x0000ff, 0x102030,
        0x405060, 0x708090, 0xa0b0c0, 0x010203))
    val f1 = DecodedImage(4, 2, f0.pixels.map(_ ^ 0x0f0f0f))
    val f2 = DecodedImage(4, 2, f0.pixels.reverse)
    val gif = encodeGif(Seq(f0, f1, f2))
    assert(new String(gif.take(6), "US-ASCII") === "GIF89a")
    // every frame decodes bit-exactly, in random-access order
    assert(decodeGifFrame(gif, 2).get.pixels.toSeq === f2.pixels.toSeq)
    assert(decodeGifFrame(gif, 0).get.pixels.toSeq === f0.pixels.toSeq)
    assert(decodeGifFrame(gif, 1).get.pixels.toSeq === f1.pixels.toSeq)
    // out-of-range frame, non-GIF bytes, truncated stream
    assert(decodeGifFrame(gif, 3) === None)
    assert(decodeGifFrame("not a gif at all".getBytes, 0) === None)
    assert(decodeGifFrame(gif.take(40), 0) === None)
    // a full-size frame (exercises the CLEAR-every-254 emit path:
    // 4096 px >> 254) with 256 distinct colors
    val big = DecodedImage(64, 64,
      Array.tabulate(4096)(i => (i % 256) * 0x010101))
    assert(decodeGifFrame(encodeGif(Seq(big)), 0).get.pixels.toSeq ===
      big.pixels.toSeq)
  }

  test("decontaminateEmbed: planted eval copies flag their whole " +
      "clusters with best-match ties to the lowest eval id; clean " +
      "clusters stay clean") {
    val base = spark.range(0, 120).toDF("vec_id")
    val corpus = Similarity.plantedEmbeddings(base, "vec_id")
    // eval = copies of clusters 0 and 1 (ids 0..11), re-id'd
    val evalSet = Similarity.plantedEmbeddings(base, "vec_id")
      .filter(col("vec_id") < 12)
      .withColumn("vec_id", col("vec_id") + 10000000L)
    val out = Similarity.decontaminateEmbed(corpus, evalSet,
      "vec_id", "embedding", evalOffset = 10000000L,
      minSim = 0.999)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        r.getDouble(2)))).toMap
    // every member of clusters 0/1 is contaminated at sim 1.0,
    // matched to the lowest eval id of its own cluster
    for (i <- 0L until 12L) {
      assert(out(i)._2 === 1.0)
      assert(out(i)._1 === 10000000L + (i / 6) * 6)
    }
    // at a 0.999 floor nothing outside the copied clusters is hit
    assert(out.keySet === (0L until 12L).toSet)
  }

  test("robotsGate: RFC 9309 longest-prefix precedence — Allow wins " +
      "length ties, longer Allow overrides Disallow, no match allows") {
    val urls = Seq(
      (1L, "https://ex.com/private/a"),   // disallowed by /private/
      (2L, "https://ex.com/private/ok/x"),// longer Allow overrides
      (3L, "https://ex.com/pub"),         // no match -> allowed
      (4L, "https://ex.com/tie"),         // equal-length tie -> Allow
      (5L, "https://other.net/private/a") // host without rules
    ).toDF("doc_id", "url")
    val rules = Seq(
      ("ex.com", false, "/private/"),
      ("ex.com", true, "/private/ok/"),
      ("ex.com", false, "/tie"),
      ("ex.com", true, "/tie")).toDF("host", "allow", "prefix")
    val out = UrlOps.robotsGate(urls, "url", rules)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("allowed"), r.getAs[String]("matched_rule"))))
      .toMap
    assert(out(1L) === ((false, "/private/")))
    assert(out(2L) === ((true, "/private/ok/")))
    assert(out(3L) === ((true, "")))
    assert(out(4L) === ((true, "/tie")))
    assert(out(5L) === ((true, "")))
    val e = intercept[IllegalArgumentException] {
      UrlOps.robotsGate(urls.withColumn("allowed", lit(1)), "url",
        rules)
    }
    assert(e.getMessage.contains("allowed"))
  }

  test("wordpieceFit: initial vs ##-continuation pieces, top-N by " +
      "(count, piece) with single-char totality floor") {
    val docs = Seq("the cat", "the cathedral cat").toDF("text")
    val v = TextAnalysis.wordpieceFit(docs, "text", vocabN = 20,
      maxPiece = 4)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    // 'the' appears twice as an initial piece; 'cat' three times
    // (twice as the word, once as cathedral's prefix)
    assert(v("cat")._1 === 3L)
    assert(v("the")._1 === 2L)
    // continuation pieces carry the marker
    assert(v.contains("##he") && v.contains("##at"))
    // single-char pieces survive beyond the top-5 cut (rank > 5 ok)
    assert(v.contains("c") && v.contains("##t"))
    // no unmarked continuation leaked: every piece is either
    // word-initial raw or ##-prefixed
    assert(v.keySet.forall(p => !p.startsWith("#") || p.startsWith("##")))
  }

  test("wordpieceApply: greedy longest-match-first segmentation, " +
      "unk single chars consume, fertility accounting") {
    val vocab = Seq("cat", "##hed", "##ral", "##s", "x", "##y")
      .toDF("piece")
    val docs = Seq((1L, "cat cathedrals"), (2L, "xyz"), (3L, " "))
      .toDF("doc_id", "text")
    val out = TextAnalysis.wordpieceApply(docs, "text", "doc_id",
      vocab).collect().map(r => r.getLong(0) -> r).toMap
    // 'cathedrals' -> cat ##hed ##ral ##s (maximal munch at each
    // cursor); 'cat' -> cat
    assert(out(1L).getAs[Long]("n_words") === 2L)
    assert(out(1L).getAs[Long]("n_pieces") === 5L)
    assert(out(1L).getAs[Long]("n_unk") === 0L)
    assert(out(1L).getAs[String]("seg_first") === "cat")
    assert(out(1L).getAs[Long]("ppw_ppm") === 2500000L)
    // unknown '##z' still consumes as a 1-char unk piece
    assert(out(2L).getAs[Long]("n_pieces") === 3L)
    assert(out(2L).getAs[Long]("n_unk") === 1L)
    assert(out(2L).getAs[String]("seg_first") === "x ##y ##z")
    // empty word list: zero accounting, empty witness
    assert(out(3L).getAs[Long]("n_words") === 0L)
    assert(out(3L).getAs[String]("seg_first") === "")
  }

  test("mainContent: link-dense chrome dropped, body and low-density " +
      "link paragraphs kept, sub-minimum fragments dropped") {
    val page =
      "<a href=\"/\">home</a> <a href=\"/a\">about us</a> " +
        "<a href=\"/c\">contact</a>\n" +                 // link-saturated
        "the quick brown fox jumps over the lazy dog again\n" + // body
        "ok\n" +                                         // too short
        "see the <a href=\"/b\">sports section</a> for the full " +
        "background and analysis of this story"          // low density
    val df = Seq((1L, page)).toDF("doc_id", "page")
    val r = TextAnalysis.mainContent(df, "page")
      .collect().head
    assert(r.getAs[Long]("n_blocks") === 4L)
    assert(r.getAs[Long]("n_kept") === 2L)
    val main = r.getAs[String]("main_text")
    assert(main ===
      "the quick brown fox jumps over the lazy dog again\n" +
        "see the sports section for the full background and " +
        "analysis of this story")
    // nav anchor chars counted: 'home'+'about us'+'contact' = 19,
    // plus 'sports section' = 14
    assert(r.getAs[Long]("link_chars") === 33L)
    assert(r.getAs[Long]("kept_ppm") ===
      r.getAs[Long]("kept_chars") * 1000000L /
        r.getAs[Long]("total_chars"))
    // clash guard
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.mainContent(
        df.withColumn("main_text", lit("x")), "page")
    }
    assert(e.getMessage.contains("main_text"))
  }

  test("mainContent + siteBoilerplate compose: link chrome never " +
      "reaches the gram table, the repeated linkless header is still " +
      "flagged, bodies survive both stages") {
    val header = "breaking news daily portal covering every region " +
      "of the world today"
    val pages = (0 until 6).map { i =>
      (i.toLong, "news.example",
        "<a href=\"/\">home</a> <a href=\"/x\">hot links now</a>\n" +
          s"$header\n" +
          (0 until 14).map(j => s"word${i}x$j").mkString(" "))
    }.toDF("doc_id", "dom", "page")
    val main = TextAnalysis.mainContent(pages, "page")
      .select(col("doc_id"), col("dom"), col("main_text"))
    // stage 1 removed the nav block from every page
    assert(main.collect().forall(
      !_.getAs[String]("main_text").contains("hot links")))
    val grams = Dedup.siteBoilerplate(main, "main_text", "doc_id",
      "dom", n = 8).collect().map(_.getAs[String]("gram"))
    // stage 2 still flags the repeated header text (present in all 6
    // pages -> share 1e6 >= the 50% default)
    assert(grams.exists(_.contains("breaking news daily portal")))
    // but no gram from the dropped chrome, and none from the
    // doc-unique body words (df 1 < minDocs; grams that straddle the
    // header/body boundary die on the doc-specific first body word)
    assert(!grams.exists(_.contains("home")))
    assert(!grams.exists(_.contains("word0x1")))
  }

  test("multimodal: MJPEG-in-AVI — real RIFF container round-trips " +
      "through the JDK JPEG codec with idx1 random frame access") {
    import Multimodal._
    val f0 = DecodedImage(8, 8, Array.tabulate(64)(i => i * 0x010101))
    val f1 = DecodedImage(8, 8, f0.pixels.map(_ ^ 0x3f3f3f))
    val f2 = DecodedImage(8, 8, f0.pixels.reverse)
    val avi = encodeMjpegAvi(Seq(f0, f1, f2), fps = 5)
    // container magics + parsed header facts
    assert(new String(avi.take(4), "US-ASCII") === "RIFF")
    assert(new String(avi.slice(8, 12), "US-ASCII") === "AVI ")
    assert(mjpegHeader(avi) === Some((8, 8, 3, "MJPG", 3)))
    // random-access decode: JPEG is lossy, so pin channel means
    // within the jpegPipeline tolerance rather than exact pixels
    def means(img: DecodedImage) = channelMeans(img)
    val dec = decodeMjpegFrames(avi, Seq(2, 0)).get
    for (((d, o), _) <- dec.zip(Seq(f2, f0)).zipWithIndex) {
      val (dr, dg, db) = means(d); val (or_, og, ob) = means(o)
      assert(math.abs(dr - or_) <= 16.0 && math.abs(dg - og) <= 16.0 &&
        math.abs(db - ob) <= 16.0)
      assert(d.width === 8 && d.height === 8)
    }
    // out-of-range frame, non-AVI bytes, truncated stream
    assert(decodeMjpegFrames(avi, Seq(3)) === None)
    assert(decodeMjpegFrames("not an avi".getBytes, Seq(0)) === None)
    assert(mjpegHeader(avi.take(40)) === None)
    // every '00dc' chunk in movi is a complete standalone JPEG
    // (FFD8 magic) — the property that makes MJPEG seekable
    val jpg = {
      val idxAt = avi.length - 3 * 16
      def g32(off: Int) = (0 until 4).map(i =>
        (avi(off + i) & 0xff) << (8 * i)).sum
      val off = g32(idxAt + 8)
      val moviData = avi.indexOfSlice("movi".getBytes("US-ASCII"))
      avi.slice(moviData + off + 8, moviData + off + 8 + 2)
    }
    assert((jpg(0) & 0xff) === 0xff && (jpg(1) & 0xff) === 0xd8)
  }

  test("multimodal: MDCT codec — container round-trip exact, " +
      "low-pass tone reconstructs, truncating-shift parity") {
    import Multimodal._
    // Q15 tables have the expected shape and bounds
    assert(mdctWin.length === 32 && mdctCos.length === 512)
    assert(mdctWin.forall(w => w >= 0 && w <= 32767))
    assert(mdctCos.forall(c => math.abs(c) <= 32767))
    // the rounding primitive matches DuckDB `//` (truncation, not
    // floor): (-33 + 32) / 64 must be 0, not -1
    assert((-33L + 32L) / 64L === 0L)
    // a slow cosine tone (well inside the kept low band) survives
    // the 8-of-16 coefficient cut with small relative error
    val tone = Array.tabulate(64)(j =>
      (8000 * math.cos(2 * math.Pi * j / 32)).toInt.toShort)
    val bytes = encodeMdct(DecodedAudio(8000, tone))
    assert(bytes.length === 12 + 5 * 8 * 2)
    val (rate, n, coefs) = decodeMdct(bytes).get
    assert(rate === 8000 && n === 64)
    // container round-trip of the quantized coefficients is BIT-exact
    val direct = mdctCoefficients(tone)
    assert(coefs.indices.forall(f =>
      coefs(f).sameElements(direct(f).take(mdctKept))))
    val rec = mdctReconstruct(n, coefs)
    // interior samples (edge frames are half-windowed): relative
    // error of the lossy path stays modest for an in-band tone
    val interior = (16 until 48)
    val num = interior.map(j => math.abs(rec(j) - tone(j)).toLong).sum
    val den = interior.map(j => math.abs(tone(j)).toLong).sum
    assert(num.toDouble / den < 0.15,
      s"relative L1 error ${num.toDouble / den}")
    // corrupt magic / truncated payload rejected
    assert(decodeMdct("XXXX".getBytes ++ bytes.drop(4)).isEmpty)
    assert(decodeMdct(bytes.dropRight(1)).isEmpty)
    // oversized / unaligned clips fail loudly
    intercept[IllegalArgumentException] {
      mdctCoefficients(new Array[Short](17))
    }
  }

  test("multimodal: MC video codec — translation predicts exactly, " +
      "decode matches encoder trace, container rejects corruption") {
    import Multimodal._
    // a pure translation inside the ±2 search window reconstructs
    // EXACTLY: residuals are 0 and the mv code points at the shift
    val base = Array.tabulate(64) { p =>
      val row = p / 8; val col = p % 8
      (row * 31 + col * 7) % 256
    }
    // shift content right 1, down 1 (prediction must look UP-LEFT:
    // dy = -1, dx = -1 → code (-1+2)*5 + (-1+2) = 6); interior
    // pixels of every block are exact matches, and the clamped edge
    // extension makes even border pixels findable for this raster
    val shifted = Array.tabulate(64) { p =>
      val row = p / 8; val col = p % 8
      base(math.max(0, row - 1) * 8 + math.max(0, col - 1))
    }
    val (mvs, qs, rec) = mcvStep(base, shifted)
    assert(mvs.toSeq === Seq(6, 6, 6, 6))
    assert(qs.flatten.forall(_ == 0))
    assert(rec.toSeq === shifted.toSeq)
    // identical frames → zero motion is the SAD=0 tiebreak winner
    // among all zero-SAD candidates only if it has the lowest code —
    // it does not (code 12); a uniform frame makes EVERY candidate
    // SAD 0, so the deterministic tiebreak must pick code 0
    val flat = Array.fill(64)(77)
    val (mvs2, qs2, rec2) = mcvStep(flat, flat)
    assert(mvs2.toSeq === Seq(0, 0, 0, 0))
    assert(qs2.flatten.forall(_ == 0) && rec2.toSeq === flat.toSeq)
    // quantizer: the +260-biased truncating division IS
    // floorDiv(r + 4, 8) for the whole residual range
    for (r <- -255 to 255)
      assert((r + 260) / 8 - 32 === math.floorDiv(r + 4, 8), s"r=$r")
    // full pipeline: decode∘encode equals the encoder's own
    // reconstruction trace on a pseudorandom 4-frame clip
    val rnd = new scala.util.Random(42)
    val frames = Array.fill(mcvFrames)(Array.fill(64)(rnd.nextInt(256)))
    val bytes = encodeMcv(frames)
    assert(bytes.length === 8 + 64 + 3 * 4 * 17)
    val dec = decodeMcv(bytes).get
    val (_, _, trace) = mcvAnalyze(frames)
    assert(dec.length === mcvFrames)
    assert(dec.indices.forall(i =>
      java.util.Arrays.equals(dec(i), trace(i))))
    // frame 0 is intra-lossless; inter frames stay within the
    // quantizer's worst-case bound |err| <= 255 (clamp) and the
    // per-pixel dequant step bound where unclamped
    assert(dec(0).toSeq === frames(0).toSeq)
    // corrupt magic / truncated / wrong block size rejected
    assert(decodeMcv("XXXX".getBytes ++ bytes.drop(4)).isEmpty)
    assert(decodeMcv(bytes.dropRight(1)).isEmpty)
    val badBlock = bytes.clone(); badBlock(7) = 5
    assert(decodeMcv(badBlock).isEmpty)
  }

  test("pagerankSim: symmetric clique is the 1e6 ppm fixed point, " +
      "isolated node keeps the teleport floor") {
    // K3 of identical vectors: deg = 2 everywhere, and one power
    // step maps 1e6 -> 150000 + (850 * (2 * (1e6 div 2))) div 1000
    // = 1e6 — the integer contract's exact fixed point, so any
    // drift (wrong damping, wrong div order, float sneaking in)
    // breaks this pin. The anti-parallel vector shares no edge
    // (cos = -1 < minSim) and must sit at the 150000 teleport floor.
    val e1 = Seq.tabulate(64)(i => if (i == 0) 1.0 else 0.0)
    val df = Seq(
      (0L, e1), (1L, e1), (2L, e1), (3L, e1.map(-_)))
      .toDF("vec_id", "embedding")
    val out = Similarity.pagerankSim(df, "vec_id", "embedding",
      planes = 6, minSim = 0.35)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out(0L) === ((2L, 1000000L)))
    assert(out(1L) === ((2L, 1000000L)))
    assert(out(2L) === ((2L, 1000000L)))
    assert(out(3L) === ((0L, 150000L)))
  }

  test("bm25TopK: tf dominance orders docs, scores match the exact " +
      "double formula, query pick is deterministic") {
    val docs = Seq(
      (1L, "alpha alpha beta gamma"),
      (2L, "alpha beta beta beta"),
      (3L, "gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(docs, "text", "doc_id",
      nTerms = 2, k = 3, minTermLen = 4)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // df: alpha=beta=gamma=2, rest 1; top-2 by (df DESC, term ASC)
    // must pick alpha, beta — gamma excluded only by the tiebreak
    assert(out.keys.map(_._1).toSet === Set("alpha", "beta"))
    // tf dominance at equal doc length: doc 1 has alpha twice
    assert(out(("alpha", 1L))._1 === 1L)
    assert(out(("alpha", 2L))._1 === 2L)
    assert(out(("beta", 1L))._1 === 2L)
    assert(out(("beta", 2L))._1 === 1L) // doc 3 contains no beta
    // exact double contract: same IEEE op sequence as the engine
    def score(tf: Long, df: Long, len: Long, n: Long, tot: Long) =
      ((n - df + 0.5) / (df + 0.5)) * ((tf * 2.2) /
        (tf + 0.3 + 0.9 * (len * 1.0 * n / tot)))
    assert(out(("alpha", 1L))._3 === score(2, 2, 4, 3, 16))
    assert(out(("beta", 2L))._3 === score(1, 2, 4, 3, 16))
  }

  test("pcaProject: a single-axis corpus recovers the axis exactly — " +
      "scores equal the coefficients bit-for-bit") {
    // all mass on e1: the Gram matrix is c*e1*e1ᵀ, one power step
    // from the uniform v0 lands exactly on (1, 0, ..., 0), and the
    // projection of t*e1 is t with NO rounding anywhere (integer
    // coefficients survive the 2^18 quantization exactly)
    val docs = Seq((1L, 3.0), (2L, -1.0), (3L, 2.0), (4L, 5.0))
      .map { case (id, t) =>
        (id, Seq.tabulate(64)(i => if (i == 0) t else 0.0))
      }.toDF("vec_id", "embedding")
    val out = Similarity.pcaProject(docs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) === 3.0)
    assert(out(2L) === -1.0)
    assert(out(3L) === 2.0)
    assert(out(4L) === 5.0)
  }

  test("interleaveSchedule: positions are a gapless 1..n prefix sum " +
      "and any prefix honors the target ratios (WFQ property)") {
    val docs = (1 to 30).map(i => (i.toLong, s"src${(i - 1) % 3}"))
      .toDF("doc_id", "source")
    val out = TextAnalysis.interleaveSchedule(docs, "doc_id", "source",
      Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
      .orderBy("sched_pos").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(4)))
    // the distributed prefix sum must produce the gapless 1..n order
    assert(out.map(_._4).toSeq === (1L to 30L))
    // weighted fair queueing: virtual times r/w put source s at every
    // 1/w-th tick, so the 10-prefix of a 0.5/0.3/0.2 mix is EXACTLY
    // 5/3/2 (vtimes <= 10: src0 {2,4,6,8,10}, src1 {3.3,6.7,10},
    // src2 {5,10})
    val first10 = out.take(10).groupBy(_._2).view.mapValues(_.length)
    assert(first10("src0") === 5)
    assert(first10("src1") === 3)
    assert(first10("src2") === 2)
    // per-source ranks are each gapless 1..10
    for (s <- Seq("src0", "src1", "src2"))
      assert(out.filter(_._2 == s).map(_._3).sorted.toSeq === (1L to 10L))
    // deterministic: a second invocation is identical
    val again = TextAnalysis.interleaveSchedule(docs, "doc_id",
      "source", Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
      .orderBy("sched_pos").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(4)))
    assert(out.toSeq === again.toSeq)
  }

  test("augmentTokens: identity at zero bands, full-drop empties, " +
      "counts reconcile, empty-doc guard") {
    val docs = Seq((1L, "a b c d e f g h"), (2L, " "), (3L, "x"))
      .toDF("doc_id", "text")
    // zero bands -> byte-identical passthrough (the augmentation is
    // a no-op, not a re-tokenization)
    val idPass = TextAnalysis.augmentTokens(docs, "text", "doc_id",
      dropPermille = 0, dupPermille = 0)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(idPass(1L) === "a b c d e f g h")
    assert(idPass(2L) === "") // only-spaces doc: no tokens, no crash
    assert(idPass(3L) === "x")
    // full drop -> empty output, n_dropped accounts for every token
    val drop = TextAnalysis.augmentTokens(docs, "text", "doc_id",
      dropPermille = 1000, dupPermille = 0)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(4)))).toMap
    assert(drop(1L) === (("", 8L, 8L)))
    assert(drop(2L) === (("", 0L, 0L)))
    // default bands: the count identity n_aug = n_tokens - n_dropped
    // + n_dupped holds row by row, and the gates are deterministic
    // (two invocations agree exactly)
    val a = TextAnalysis.augmentTokens(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    a.foreach { case (_, _, nt, na, nd, nu) =>
      assert(na === nt - nd + nu)
    }
    val b = TextAnalysis.augmentTokens(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(a.toSeq === b.toSeq)
    intercept[IllegalArgumentException] {
      TextAnalysis.augmentTokens(docs, "text", "doc_id",
        dropPermille = 900, dupPermille = 200)
    }
  }

  test("collocationsTopK: lifts match the exact rational formula, " +
      "ties break lexicographically") {
    // corpus: T = 32 tokens, B = 20 adjacent pairs
    //   8 docs "a b c"/"a b d" -> (a,b) x8, (b,c) x4, (b,d) x4
    //   4 docs "c e"           -> (c,e) x4
    // unigrams: a=8 b=8 c=8 d=4 e=4
    val docs = (
      (1 to 4).map(i => (i.toLong, "a b c")) ++
      (5 to 8).map(i => (i.toLong, "a b d")) ++
      (9 to 12).map(i => (i.toLong, "c e"))).toDF("doc_id", "text")
    val out = TextAnalysis.collocationsTopK(docs, "text", "doc_id",
      k = 5, minPair = 2, minWord = 4)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3)))
    def lift(cab: Long, ca: Long, cb: Long, t: Long, bt: Long) =
      ((cab * 1.0) * t / ca) * ((t * 1.0) / cb) / bt
    // three pairs tie at lift 6.4; (b,c) trails at 3.2 — the
    // (lift DESC, a, b) order is fully deterministic
    assert(out.toSeq === Seq(
      ("a", "b", 8L, lift(8, 8, 8, 32, 20)),
      ("b", "d", 4L, lift(4, 8, 4, 32, 20)),
      ("c", "e", 4L, lift(4, 8, 4, 32, 20)),
      ("b", "c", 4L, lift(4, 8, 8, 32, 20))))
  }

  test("dedupLinesIntra: first occurrence kept, order preserved, newline sep") {
    val df = Seq(
      (1L, "nav bar\ncontent A\nnav bar\ncontent B\nnav bar"),
      (2L, "only line"),
      (3L, "x\nx\nx"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupLinesIntra(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) === (("nav bar\ncontent A\ncontent B", 5L, 2L)))
    assert(out(2L) === (("only line", 1L, 0L)))
    assert(out(3L) === (("x", 3L, 2L)))
  }

  test("noveltyScore: first doc owns its grams, copies score zero") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),          // 2 trigrams, all new
      (2L, "alpha beta gamma delta"),          // exact copy -> 0
      (3L, "alpha beta gamma epsilon zeta"))   // 1 of 3 inherited
      .toDF("doc_id", "text")
    val out = Dedup.noveltyScore(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) === ((2L, 2L, 1.0)))
    assert(out(2L) === ((2L, 0L, 0.0)))
    assert(out(3L) === ((3L, 2L, 0.666667)))
  }

  test("kmvSample: stable under corpus growth, k per group") {
    val base = (1L to 40L).map(i => (i, s"doc number $i", "s1"))
    val small = base.toDF("doc_id", "text", "source")
    val grown = (base ++ (41L to 80L).map(i =>
      (i, s"doc number $i", "s1"))).toDF("doc_id", "text", "source")
    def ids(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.kmvSample(df, "source", "text", "doc_id", k = 10)
        .select("doc_id").as[Long].collect().toSet
    val (a, b) = (ids(small), ids(grown))
    assert(a.size === 10 && b.size === 10)
    // growth only EVICTS (new smaller hashes), never reshuffles:
    // survivors of the grown sample that existed before were sampled
    assert(b.filter(_ <= 40L).subsetOf(a))
  }

  test("weightedSample: PPS dominance, zero-weight excluded, k rows") {
    val df = ((1L to 100L).map(i => (i, s"light doc $i", "s1", 1L)) :+
      (500L, "the heavy document", "s1", 1000000L) :+
      (501L, "zero weight doc", "s1", 0L))
      .toDF("doc_id", "text", "source", "n_chars")
    val out = TextAnalysis.weightedSample(df, "source", "text",
        "doc_id", "n_chars", k = 10)
      .orderBy("rank").collect()
    assert(out.length === 10)
    // a 10^6:1 weight advantage wins the exponential race
    assert(out.head.getLong(1) === 500L)
    assert(!out.exists(_.getLong(1) === 501L)) // zero weight: excluded
    // deterministic: a second evaluation draws the identical sample
    val again = TextAnalysis.weightedSample(df, "source", "text",
        "doc_id", "n_chars", k = 10)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(again === out.map(_.getLong(1)).toSeq)
  }

  test("kmv prefilter: outputs equal the unfiltered window form on a " +
      "corpus where the hash threshold actually filters") {
    // 3 groups x 300 unique texts: nd = 300 >> 4k = 40 at k = 10, so
    // the bottom-k prefilter is ACTIVE (threshold ~13% of the hash
    // space) — the naive per-group window over everything must agree
    // exactly, and the shortfall guard must stay silent
    val df = (1L to 900L).map(i =>
        (i, s"corpus doc $i", s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
    val sample = TextAnalysis.kmvSample(df, "source", "text",
        "doc_id", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSeq.sorted
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("__h"), col("doc_id"))
    val naive = df
      .withColumn("__h", TextAnalysis.uniformHash60("text"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("source"), col("doc_id"), col("__h"), col("rank"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSeq.sorted
    assert(sample === naive)
    // kmvDistinct on the same corpus: kth hash + estimate must match
    // the unfiltered order statistic
    val est = TextAnalysis.kmvDistinct(df, "source", "text", k = 10)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val kthNaive = df
      .select(col("source"), TextAnalysis.uniformHash60("text").as("h"))
      .distinct()
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("h"))))
      .filter(col("r") === 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (s <- Seq("s0", "s1", "s2")) {
      assert(est(s)._1 === 300L)
      assert(est(s)._2 === kthNaive(s))
      assert(est(s)._3 === BigDecimal(9.0 * math.pow(2, 60) /
        kthNaive(s)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    }
  }

  test("kmvDistinct: exact path under k, estimate within 25% at k=64") {
    val df = (1L to 500L).map(i => (i, s"unique doc $i",
      if (i <= 30) "small" else "big")).toDF("doc_id", "text", "source")
    val out = TextAnalysis.kmvDistinct(df, "source", "text", k = 64)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(3))).toMap
    // 30 distinct < k=64 -> degenerate exact path
    assert(out("small") === ((30L, 30.0)))
    // 470 distinct >= k -> estimator, tolerance ~1/sqrt(64)
    assert(out("big")._1 === 470L)
    assert(math.abs(out("big")._2 - 470.0) / 470.0 < 0.25)
  }

  test("paragraphDedup: first occurrence wins across docs; emptied doc drops") {
    // 10-word paragraphs: P repeated in docs 1, 2, 3; doc 3 is ONLY P
    val p = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"
    val u1 = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"
    val u2 = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    val df = Seq(
      (1L, p + " " + u1),
      (2L, u2 + " " + p),
      (3L, p))
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(df, "text", "doc_id", words = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1 keeps both paragraphs (first owner of P); doc 2 loses P;
    // doc 3 reduced to nothing -> absent from output
    assert(out.keySet === Set(1L, 2L))
    assert(out(1L) === ((p + " " + u1, 2L, 0L)))
    assert(out(2L) === ((u2, 1L, 1L)))
  }

  test("spanRuns merges overlapping windows into one maximal run") {
    // docs 1 and 2 share a 9-token block -> five overlapping 5-token
    // dup windows each, which must merge into ONE run of 9 tokens;
    // doc 3 shares nothing
    val block = "a b c d e f g h i"
    val df = Seq(
      (1L, block + " unique1 tail1 here1 now1"),
      (2L, "pre grams go first then " + block),
      (3L, "totally different words never repeated anywhere else ok"))
      .toDF("doc_id", "text")
    val runs = Dedup.spanRuns(df, "text", "doc_id", n = 5)
      .orderBy("doc_id", "run_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // doc 1: block at positions 1-9 -> run [1, 9], 5 windows
    // doc 2: block at positions 6-14 -> run [6, 14], 5 windows
    assert(runs.toSeq === Seq((1L, 1L, 9L, 9L, 5L),
      (2L, 6L, 14L, 9L, 5L)))
  }

  test("spanRuns keeps disjoint duplicated blocks as separate runs") {
    val b1 = "a b c d e"
    val b2 = "v w x y z"
    val df = Seq(
      (1L, b1 + " mid1 mid2 mid3 " + b2),   // two blocks, 3-token gap
      (2L, b1 + " other words entirely " + b2))
      .toDF("doc_id", "text")
    val runs = Dedup.spanRuns(df, "text", "doc_id", n = 5)
      .orderBy("doc_id", "run_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // each doc: run at 1 (5 tokens) and run at 9 (5 tokens) — the
    // 3-token gap means the windows cannot merge
    assert(runs.toSeq === Seq((1L, 1L, 5L), (1L, 9L, 5L),
      (2L, 1L, 5L), (2L, 9L, 5L)))
  }

  test("PNG codec: real compressed round-trip, magic, decode dispatch") {
    import graft.llm.Multimodal._
    val px = Array.tabulate(64)(i => (i * 4 << 16) | (255 - i) << 8 | i)
    val img = DecodedImage(8, 8, px)
    val png = encodePng(img)
    // real PNG container: magic + IHDR, and actually compressed
    // structure (not our BMP, not raw pixels)
    assert((png(0) & 0xff) === 0x89 && png(1) === 'P' &&
      png(2) === 'N' && png(3) === 'G')
    val dec = decodeCompressed(png)
    assert(dec.isDefined)
    assert(dec.get.width === 8 && dec.get.height === 8)
    assert(dec.get.pixels.toSeq === px.toSeq) // lossless
    // dispatcher routes PNG through the imageio path
    assert(decode(png)._1 === "png")
    assert(decode(png)._2.toSeq ===
      Seq(8.0, 8.0, channelMeans(img)._1, channelMeans(img)._2,
        channelMeans(img)._3))
    // non-image bytes are refused, and BMP still wins
    assert(decodeCompressed("not an image".getBytes).isEmpty)
    assert(decodeBmp(encodeBmp(img)).get.pixels.toSeq === px.toSeq)
    // corrupt stream behind valid PNG magic: ImageIO readers throw
    // RuntimeExceptions, not just IOException — must map to None
    assert(decodeCompressed(png.take(20)).isEmpty)
    val garbled = png.clone(); java.util.Arrays.fill(garbled, 16,
      garbled.length, 0x5a.toByte)
    assert(decodeCompressed(garbled).isEmpty)
  }

  test("graft_feature_hash: negative hashes bucket via floorMod; " +
      "dim must be positive") {
    graft.GraftExtensions.register(spark)
    val one = spark.sql(
      "SELECT graft_feature_hash(array(-7L, 3L, -7L), 5) AS c")
      .head.getSeq[Double](0)
    // floorMod(-7, 5) = 3; a Java % would have thrown AIOOBE
    assert(one === Seq(0.0, 0.0, 0.0, 3.0, 0.0))
    intercept[Exception] {
      spark.sql("SELECT graft_feature_hash(array(1L), 0) AS c")
        .collect()
    }
  }

  test("pqRerank: exhaustive shortlist reproduces brute-force exactly; " +
      "final ranking is by exact cosine") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count().toInt
    val cents = Similarity.pqCentroids(emb, "vec_id", "embedding",
      m = 4, subDim = 16, k = 8, iters = 2)
    val q = emb.filter(col("vec_id") < 3)
    // shortlist = whole corpus -> stage 2 sees every candidate, so the
    // final top-5 must equal the brute-force exact top-5 bit-for-bit
    // (quantization can then only affect the shortlist, not the answer)
    val rerank = Similarity.pqRerank(emb, q, "vec_id", "embedding",
        cents, m = 4, subDim = 16, shortlist = n, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).sortBy(t => (t._1, t._4))
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id",
        "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).sortBy(t => (t._1, t._4))
    assert(rerank.toSeq === brute.toSeq)
    // and with a tight shortlist the output is still ranked by exact
    // sim (descending), k rows per query
    val tight = Similarity.pqRerank(emb, q, "vec_id", "embedding",
        cents, m = 4, subDim = 16, shortlist = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getLong(3)))
    tight.groupBy(_._1).values.foreach { rows =>
      val byRank = rows.sortBy(_._3)
      assert(byRank.map(_._3).toSeq === (1L to 5L))
      assert(byRank.map(_._2).toSeq ===
        byRank.map(_._2).sortBy(-(_: Double)).toSeq)
    }
  }

  test("ivfPqTopK: probing every cell degenerates to plain pqTopK") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    val ivfCents = Similarity.seedCentroids(emb, "vec_id", "embedding",
      8)
    val pqCents = Similarity.pqCentroids(emb, "vec_id", "embedding",
      m = 4, subDim = 16, k = 8, iters = 2)
    // nprobe = all cells -> the IVF level filters nothing, so the
    // composed index must equal the whole-corpus ADC scan exactly
    val composed = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding",
        ivfCents, pqCents, m = 4, subDim = 16, k = 5, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).sortBy(t => (t._1, t._4))
    val plain = Similarity.pqTopK(emb, q, "vec_id", "embedding",
        pqCents, m = 4, subDim = 16, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).sortBy(t => (t._1, t._4))
    assert(composed.toSeq === plain.toSeq)
    // tight probing returns at most k ranked candidates per query,
    // all from probed cells (subset of the plain scan's candidates)
    val tight = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding",
        ivfCents, pqCents, m = 4, subDim = 16, k = 5, nprobe = 1)
      .collect()
    assert(tight.groupBy(_.getLong(0)).values
      .forall(_.length <= 5))
  }

  test("embedClusters: chain lands in one cluster, singleton labels itself") {
    // vectors: a~b similar, b~c similar, a!~c (chain) — all in one
    // LSH bucket by construction (identical direction signs); d is far
    def v(xs: Double*): Array[Float] =
      (xs ++ Seq.fill(64 - xs.length)(0.0)).map(_.toFloat).toArray
    val df = Seq(
      (1L, v(1.0, 0.0)), (2L, v(1.0, 0.6)), (3L, v(0.4, 1.0)),
      (10L, v(-1.0, -1.0)))
      .toDF("vec_id", "embedding")
    val out = Similarity.embedClusters(df, "vec_id", "embedding",
        planes = 4, minSim = 0.7)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // cos(1,2)=.857, cos(2,3)=.762, cos(1,3)=.371 -> one chain cluster
    assert(out(1L) === 1L && out(2L) === 1L && out(3L) === 1L)
    assert(out(10L) === 10L) // dissimilar: singleton, labels itself
  }

  test("cdcChunks: chunks concatenate to the text; boundaries " +
      "realign after a prefix edit") {
    val base = "the quick brown fox jumps over the lazy dog while " +
      "seventeen green bottles hang on the wall and slowly count " +
      "themselves down to none at all in the warm afternoon sun"
    val d = docs(base, "EDITED PREFIX INSERTED " + base)
    val out = TextAnalysis.cdcChunks(d, "text", "doc_id", divisor = 16)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getString(2)))
    val a = out.filter(_._1 == 0L).map(_._2)
    val b = out.filter(_._1 == 1L).map(_._2)
    // lossless split
    assert(a.mkString === base)
    assert(b.mkString === "EDITED PREFIX INSERTED " + base)
    // content-defined realignment: once past the edit's first
    // boundary, chunking is identical — the shared tail chunks match
    val shared = a.reverse.zip(b.reverse).takeWhile { case (x, y) =>
      x == y
    }.length
    assert(shared >= 1, s"no realigned tail chunks (a=${a.length})")
    assert(a.length >= 3, "fixture text produced too few chunks")
  }

  test("winnowing: shared long substring guarantees a shared " +
      "fingerprint; identical docs score sim 1.0") {
    // guarantee: any shared substring of length >= w + shingle - 1
    // (= 9 here) contributes at least one common window minimum
    val d = docs(
      "abXcdefghijklmnoZq",
      "zzzzcdefghijklmnoyyy",
      "totally unrelated text here")
    val fps = Dedup.winnowFingerprints(d, "text", "doc_id", w = 5)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
      .toMap
    assert((fps(0L) intersect fps(1L)).nonEmpty)
    val same = docs("abcdefghijklmnopqrs", "abcdefghijklmnopqrs")
    val pairs = Dedup.winnowPairs(
      Dedup.winnowFingerprints(same, "text", "doc_id"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(3)))
    assert(pairs === Array((0L, 1L, 1.0)))
  }

  test("WinnowMins: native deque minima == HOF slice/array_min form " +
      "on random and edge inputs") {
    // the native expression replaced the interpreted
    // transform(sequence, i -> array_min(slice(...))) — pin value
    // equality against that exact HOF on varied shapes: shorter than
    // w, equal to w, long with repeats/ties, strictly increasing and
    // decreasing runs
    val rnd = new scala.util.Random(42)
    val cases = Seq(
      Seq(7L), Seq(3L, 3L, 3L), (1L to 4L).toSeq, (1L to 5L).toSeq,
      (1L to 30L).toSeq, (1L to 30L).reverse.toSeq,
      Seq.fill(40)(rnd.nextLong(100)),
      Seq.fill(200)(rnd.nextLong(1000000)))
    for (w <- Seq(2, 5, 8); xs <- cases) {
      val df = Seq(Tuple1(xs)).toDF("hs")
      val native = df.select(
        graft.llm.PolyHashColumns.winnowMins(col("hs"), w).as("fps"))
        .collect().head.getSeq[Long](0)
      val hof = df.select(expr(
        s"""array_sort(array_distinct(transform(
            sequence(1, greatest(size(hs) - ${w - 1}, 1)),
            i -> array_min(slice(hs, i, least($w, size(hs)))))))""")
        .as("fps")).collect().head.getSeq[Long](0)
      assert(native === hof, s"w=$w xs=${xs.take(10)}...")
    }
  }

  test("WinnowMins: empty input yields an empty fingerprint set, " +
      "not a fabricated 0") {
    // graft_winnow_mins is SQL-facing and may receive any
    // array<bigint>; a 0L fingerprint for no input would collide all
    // empty documents into one winnow bucket
    val df = Seq(Tuple1(Seq.empty[Long])).toDF("hs")
    val out = df.select(
      graft.llm.PolyHashColumns.winnowMins(col("hs"), 5).as("fps"))
      .collect().head.getSeq[Long](0)
    assert(out.isEmpty)
  }

  test("native hash/winnow/ngram SQL functions reject wrong-typed " +
      "input at analysis time") {
    graft.GraftExtensions.register(spark)
    val df = Seq((1L, Seq(1.5))).toDF("n", "v")
    for (bad <- Seq("graft_winnow_mins(n)", "graft_ngram_hashes(v)",
        "graft_content_token_hashes(n)", "graft_text_stats(n)")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        df.selectExpr(bad).collect()
      }
      assert(e.getMessage.toLowerCase.contains("type"), bad)
    }
  }

  test("withLrGate refuses input columns that collide with its " +
      "internals or outputs") {
    val base = Seq((1L, "a b c")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.withLrGate(
        base.withColumn("keep", lit(true)), "text")
    }
    assert(e.getMessage.contains("keep"))
    // clean input still appends exactly lr_score + keep
    val out = TextAnalysis.withLrGate(base, "text")
    assert(out.columns.toSeq === Seq("doc_id", "text", "lr_score", "keep"))
  }

  test("VecOps: native dot/sqDist equal the HOF folds bit-for-bit") {
    val rnd = new scala.util.Random(7)
    val cases = Seq(
      (Seq(1.0), Seq(2.0)),
      (Seq(0.0, 0.0), Seq(0.0, 0.0)),
      (Seq.fill(64)(rnd.nextDouble() * 2 - 1),
        Seq.fill(64)(rnd.nextDouble() * 2 - 1)),
      (Seq.fill(7)(rnd.nextDouble() * 1e6),
        Seq.fill(7)(rnd.nextDouble() * 1e-6)))
    for ((a, b) <- cases) {
      val df = Seq((a, b)).toDF("a", "b")
      val nat = df.select(
        graft.llm.VectorColumns.dot(col("a"), col("b")).as("d"),
        graft.llm.VectorColumns.sqDist(col("a"), col("b")).as("s"))
        .collect().head
      val hof = df.select(
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, " +
          "(acc, v) -> acc + v)").as("d"),
        expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), " +
          "0D, (acc, v) -> acc + v)").as("s"))
        .collect().head
      // exact bit equality — same IEEE op sequence, compiled
      assert(java.lang.Double.doubleToLongBits(nat.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(hof.getDouble(0)))
      assert(java.lang.Double.doubleToLongBits(nat.getDouble(1)) ===
        java.lang.Double.doubleToLongBits(hof.getDouble(1)))
    }
  }

  test("trigramLmScore: stupid-backoff branch arithmetic exact on a " +
      "tiny train/score split") {
    // train: uni a=2,b=2,c=2 (tt=6, v=3); pairs ab=2,bc=2,ca=1;
    // tris abc=2,bca=1,cab=1
    val train = docs("a b c a b c")
    val score = docs("a b c a b c", "a b c x", "x a b")
    val out = TextAnalysis.trigramLmScore(score, train, "text",
        "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out === Array(
      // doc0 all-trigram: ln(2/2)+ln(1/2)+ln(1/1)+ln(2/2)
      (0L, 4L, r6(math.log(0.5) / 4)),
      // doc1: abc hits; bcx misses tri AND bigram (c,x), x unseen
      // in train -> add-1 unigram floor 0.16*(0+1)/(6+3)
      (1L, 2L, r6(math.log(0.16 * 1.0 / 9) / 2)),
      // doc2: xab misses tri, bigram (a,b)=2 seen, c(a)=2 ->
      // stupid backoff 0.4*2/2
      (2L, 1L, r6(math.log(0.4 * 2 / 2)))))
  }

  test("lrQualityGate: score is the index-order fold over the " +
      "embedding; keep thresholds the raw logit") {
    val d = docs("alpha beta gamma alpha", "zzz qqq", "one two three")
    val w = TextAnalysis.lrFixtureWeights(32)
    assert(w.forall(v => v > -0.5 && v < 0.5))
    assert(w.toSeq === TextAnalysis.lrFixtureWeights(32).toSeq)
    val vecs = TextAnalysis.featureHashEmbed(d, "text", "doc_id", 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val out = TextAnalysis.lrQualityGate(d, "text", "doc_id", 32)
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getBoolean(2))).sortBy(_._1)
    assert(out.length === 3)
    out.foreach { case (id, score, keep) =>
      // same left fold the SQL aggregate runs: (0 + x1*w1) + x2*w2 ...
      val z = vecs(id).zip(w).foldLeft(0.0) { case (a, (x, ww)) =>
        a + x * ww
      }
      val expected = BigDecimal(z)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(score === expected)
      assert(keep === (z >= 0.0))
    }
  }

  test("hybridRrf: exact integer RRF fusion of the two arms, self " +
      "excluded, absent-arm docs carry rank 0") {
    // lexical: query 0's terms are {alpha, bravo}; doc 1 (alpha x3)
    // outranks doc 2 (bravo x1); doc 3 shares no term.
    // dense: doc 3 = e1 = query (cos 1) > doc 2 (cos 1/sqrt2) >
    // doc 1 = e2 (cos 0).
    val docs = Seq(
      (0L, "alpha bravo alpha"),
      (1L, "alpha alpha alpha"),
      (2L, "bravo charlie delta"),
      (3L, "xray yankee zulu")).toDF("doc_id", "text")
    def v(c: Int => Double) = Seq.tabulate(64)(c)
    val emb = Seq(
      (0L, v(i => if (i == 0) 1.0 else 0.0)),
      (1L, v(i => if (i == 1) 1.0 else 0.0)),
      (2L, v(i => if (i <= 1) 1.0 else 0.0)),
      (3L, v(i => if (i == 0) 1.0 else 0.0)))
      .toDF("vec_id", "embedding")
    val out = graft.llm.Retrieval.hybridRrf(docs, emb, Seq(0L), k = 4)
      .collect().map(r => r.getLong(2) ->
        ((r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(!out.contains(0L)) // self never retrieved
    // dense ranks: 3 -> 1, 2 -> 2, 1 -> 3; lex ranks: 1 -> 1, 2 -> 2
    // RRF ppm: doc1 = 1e6//63 + 1e6//61 = 15873 + 16393 = 32266
    //          doc2 = 1e6//62 + 1e6//62 = 16129 + 16129 = 32258
    //          doc3 = 1e6//61 = 16393 (lexical-absent: lex_rank 0)
    assert(out(1L) === ((1L, 32266L, 3L, 1L)))
    assert(out(2L) === ((2L, 32258L, 2L, 2L)))
    assert(out(3L) === ((3L, 16393L, 1L, 0L)))
  }

  test("lexicalTopK: bit-identical to hybridRrf's lexical arm; " +
      "per-arm scoreboard orders arms by qrel alignment") {
    import graft.llm.{Retrieval, Similarity}
    val docs = Seq(
      (0L, "alpha bravo alpha"),
      (1L, "alpha alpha alpha"),
      (2L, "bravo charlie delta"),
      (3L, "xray yankee zulu")).toDF("doc_id", "text")
    def v(c: Int => Double) = Seq.tabulate(64)(c)
    val emb = Seq(
      (0L, v(i => if (i == 0) 1.0 else 0.0)),
      (1L, v(i => if (i == 1) 1.0 else 0.0)),
      (2L, v(i => if (i <= 1) 1.0 else 0.0)),
      (3L, v(i => if (i == 0) 1.0 else 0.0)))
      .toDF("vec_id", "embedding")
    // the standalone arm IS the arm the fusion consumed (it is the
    // same factored method) — ranks agree wherever the fused output
    // carries a non-zero lex_rank
    val standalone = Retrieval.lexicalTopK(docs, Seq(0L), m = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val fusedLex = Retrieval.hybridRrf(docs, emb, Seq(0L), k = 4)
      .collect().filter(_.getLong(5) > 0L)
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(5)).toMap
    assert(fusedLex.nonEmpty && fusedLex.forall { case (k, r) =>
      standalone(k) == r
    })
    // qrels planted to follow the DENSE ordering (doc3 > doc2 > doc1)
    // — the scoreboard must rank dense (perfect, ndcg = 10^6) above
    // the fused run above the lexical arm. This is also the honest
    // registered-fixture story: fusing in an arm whose evidence is
    // uncorrelated with the qrels DILUTES a stronger arm — the
    // scoreboard exists precisely to surface that.
    val qrels = Seq((0L, 3L, 3L), (0L, 2L, 2L), (0L, 1L, 1L))
      .toDF("query_id", "doc_id", "rel")
    def ndcg(run: org.apache.spark.sql.DataFrame): Long =
      Retrieval.retrievalEval(run, qrels, k = 4)
        .collect()(0).getLong(9)
    val dense = Similarity.bruteForceTopK(emb,
        emb.filter($"vec_id" === 0L), "vec_id", "embedding", 4)
      .select($"query_id", $"cand_id".as("doc_id"), $"rank")
    val lexRun = Retrieval.lexicalTopK(docs, Seq(0L), m = 4)
      .select($"query_id", $"doc_id", $"lex_rank".as("rank"))
    val hybRun = Retrieval.hybridRrf(docs, emb, Seq(0L), k = 4)
      .select($"query_id", $"doc_id", $"rank")
    val (nd, nh, nl) = (ndcg(dense), ndcg(hybRun), ndcg(lexRun))
    assert(nd === 1000000L)
    assert(nd > nh && nh > nl)
    // hand pin: hybrid run is doc1, doc2, doc3 (rels 1, 2, 3) ->
    // dcg = 1e6 + 3*630929 + 7*500000; idcg = 7e6 + 3*630929 + 5e5
    assert(nh === (1000000L + 3L * 630929L + 7L * 500000L) *
      1000000L / (7000000L + 3L * 630929L + 500000L))
  }

  test("retrievalEvalArms: row-for-row identical to the union of " +
      "per-arm retrievalEval plans") {
    import graft.llm.Retrieval
    // three arms over a shared qrel set, exercising every edge the
    // unified plan must preserve: a query with qrels but NO hits in
    // one arm (full-outer ideal row), a query with hits but NO qrels
    // (n_rel 0, NULL ndcg), duplicate run rows (min-rank collapse),
    // duplicate qrel rows (max-grade collapse), out-of-range ranks
    val qrels = Seq((0L, 1L, 3L), (0L, 1L, 1L), (0L, 2L, 2L),
      (1L, 5L, 1L), (2L, 9L, 2L))
      .toDF("query_id", "doc_id", "rel")
    val runA = Seq((0L, 1L, 1L), (0L, 1L, 2L), (0L, 3L, 3L),
      (3L, 7L, 1L), (0L, 4L, 0L))
      .toDF("query_id", "doc_id", "rank")
    val runB = Seq((0L, 2L, 1L), (1L, 5L, 2L), (1L, 6L, 1L))
      .toDF("query_id", "doc_id", "rank")
    val runC = Seq((3L, 8L, 1L)).toDF("query_id", "doc_id", "rank")
    val arms = Seq("a" -> runA, "b" -> runB, "c" -> runC)
    val unified = Retrieval.retrievalEvalArms(arms, qrels, k = 4)
    val unioned = arms.map { case (arm, run) =>
      Retrieval.retrievalEval(run, qrels, k = 4)
        .withColumn("arm", lit(arm))
    }.reduce(_.unionByName(_))
    assert(unified.schema === unioned.schema)
    val mismatch = unified.except(unioned).count() +
      unioned.except(unified).count()
    assert(mismatch === 0L)
    assert(unified.count() === unioned.count())
  }

  test("licenseScan: per-tag hit verdict, dual-license tie to the " +
      "smaller tag, unknown on zero markers, copyleft gate") {
    val markers = Seq(
      "mit" -> "permission is hereby granted",
      "gpl" -> "gnu general public license",
      "apache" -> "licensed under the apache license")
    val df = Seq(
      (1L, "header Permission is hereby granted to use"),
      (2L, "dual: permission is hereby granted under the " +
        "gnu general public license"),
      (3L, "no license text at all"),
      (4L, "gnu general public license gnu general public license"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.licenseScan(df, "text", "doc_id", markers)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(5)))
    // matching is over lower(text) — doc 1's capitalized marker hits
    assert(out(0) === ((1L, "mit", 1L, 1L, false)))
    // 1-1 tie breaks to the lexicographically smaller tag
    assert(out(1) === ((2L, "gpl", 1L, 2L, true)))
    assert(out(2) === ((3L, "unknown", 0L, 0L, false)))
    assert(out(3) === ((4L, "gpl", 2L, 2L, true)))
    // non-lowercase phrases are a contract error (they would
    // silently never match the lowercased scan)
    intercept[IllegalArgumentException] {
      TextAnalysis.licenseScan(df, "text", "doc_id",
        Seq("mit" -> "Permission is hereby granted"))
    }
    // so are duplicated (tag, phrase) pairs (double-counted hits)
    // and quote-bearing copyleft tags (SQL-literal injection)
    intercept[IllegalArgumentException] {
      TextAnalysis.licenseScan(df, "text", "doc_id",
        markers ++ markers.take(1))
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.licenseScan(df, "text", "doc_id", markers,
        copyleft = Set("o'reilly"))
    }
    // NULL text coerces every count to 0 (not a half-NULL row)
    val withNull = Seq((1L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val nrow = TextAnalysis.licenseScan(withNull, "text", "doc_id",
      markers).collect()(0)
    assert(nrow.getString(1) === "unknown" && nrow.getLong(2) === 0L
      && nrow.getLong(3) === 0L && nrow.getLong(4) === 0L
      && !nrow.getBoolean(5))
  }

  test("kAnonymize: sequential ladder — level counts run over the " +
      "still-unpublished rows, so every published class is >= k") {
    val df = Seq(
      (1L, Some("x"), "1"), (2L, Some("x"), "1"), (3L, Some("x"), "1"),
      (4L, Some("x"), "2"), (5L, Some("x"), "2"),
      (6L, Some("y"), "9"),
      (7L, None: Option[String], "1"), (8L, None, "1"), (9L, None, "1"))
      .toDF("id", "qa", "qb")
    val out = TextAnalysis.kAnonymize(df, "id", Seq("qa", "qb"), 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
    // exact group of 3 publishes at level 0
    assert(out(0) === ((1L, "x", "1", 0L, 3L, true)))
    // the (x,2) pair falls; among the FALLEN rows, ("x","*") holds
    // only those 2 (< k — the whole-frame count would have read 5
    // by borrowing the already-published (x,1) rows and shipped a
    // 2-row class), so they fall again and meet y9 at all-star
    assert(out(3) === ((4L, "*", "*", 2L, 3L, true)))
    assert(out(5) === ((6L, "*", "*", 2L, 3L, true)))
    // NULLs fold to a real groupable value
    assert(out(6) === ((7L, "<null>", "1", 0L, 3L, true)))
    // the release-side k-anonymity PROPERTY: every published tuple's
    // row count >= k
    val classes = out.groupBy(t => (t._2, t._3))
    classes.foreach { case (_, rs) =>
      assert(rs.length >= 3 && rs.forall(_._5 === rs.length.toLong))
    }
    // a frame smaller than k cannot be anonymized at any level
    val tiny = Seq((1L, "a", "b"), (2L, "c", "d")).toDF("id", "qa", "qb")
    val t = TextAnalysis.kAnonymize(tiny, "id", Seq("qa", "qb"), 3)
      .collect().map(r => (r.getString(1), r.getString(2),
        r.getLong(3), r.getBoolean(5)))
    assert(t.forall(_ === (("*", "*", 2L, false))))
    // a quasi value of literal '*' or containing the key-separator
    // control char silently breaks the class->=k guarantee — both
    // raise in-plan instead
    intercept[Exception] {
      TextAnalysis.kAnonymize(Seq((1L, "*", "b"))
        .toDF("id", "qa", "qb"), "id", Seq("qa", "qb"), 1).collect()
    }
    intercept[Exception] {
      TextAnalysis.kAnonymize(Seq((1L, "a\u0001b", "c"))
        .toDF("id", "qa", "qb"), "id", Seq("qa", "qb"), 1).collect()
    }
  }

  test("lDiversity: homogeneity within a k-anonymous class is " +
      "flagged; diverse classes pass") {
    val df = Seq(
      // class (x,1): 3 rows, sensitive all 's1' -> k-ok but NOT
      // diverse at l=2 (the homogeneity attack)
      (1L, "x", "1", "s1"), (2L, "x", "1", "s1"), (3L, "x", "1", "s1"),
      // class (y,2): 3 rows, two distinct sensitives -> diverse
      (4L, "y", "2", "s1"), (5L, "y", "2", "s2"), (6L, "y", "2", "s1"))
      .toDF("id", "qa", "qb", "sv")
    val out = TextAnalysis.lDiversity(df, "id", Seq("qa", "qb"),
        "sv", k = 3, l = 2)
      .orderBy("qa").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    assert(out(0) === (("x", "1", 3L, 1L, false)))
    assert(out(1) === (("y", "2", 3L, 2L, true)))
    // the sensitive attribute cannot be a quasi column
    intercept[IllegalArgumentException] {
      TextAnalysis.lDiversity(df, "id", Seq("qa", "sv"), "sv", 3, 2)
    }
    // duplicated ids would join m*m and inflate group_n — the audit
    // fails loudly instead of under-reporting disclosure risk
    val dup = df.union(Seq((1L, "x", "1", "s9")).toDF(
      "id", "qa", "qb", "sv"))
    intercept[Exception] {
      TextAnalysis.lDiversity(dup, "id", Seq("qa", "qb"), "sv",
        3, 2).collect()
    }
  }

  test("tCloseness: the skewed-but-diverse class l-diversity passes " +
      "is flagged; exact hand-computed EMD ppm; contract guards") {
    // class x: 10 rows, sensitive in {0,1,2} — 3 distinct values, so
    // l=3-DIVERSE, but the whole class sits in the global bottom
    // third (the skewness attack l-diversity cannot see). class y:
    // 30 rows uniform over 0..9.
    val x = Seq(4 -> 0L, 3 -> 1L, 3 -> 2L).flatMap {
      case (n, v) => Seq.fill(n)(v) }
    val y = (0L to 9L).flatMap(v => Seq.fill(3)(v))
    val df = (x ++ y).zipWithIndex.map { case (v, i) =>
      (i.toLong, if (i < 10) "x" else "y", v) }
      .toDF("id", "qa", "sv")
    // l-diversity PASSES class x (3 distinct >= l=3)
    val ld = TextAnalysis.lDiversity(df, "id", Seq("qa"), "sv",
        k = 10, l = 3)
      .orderBy("qa").collect()
    assert(ld(0).getBoolean(3) === true) // x is_diverse
    // t-closeness flags it. Hand EMD over the 10-value domain
    // (global cums /40, class-x cums /10, truncating ppm):
    // gaps 225k,375k,525k,450k,375k,300k,225k,150k,75k,0
    // -> 2700000/9 = 300000 > t=150000
    val tc = TextAnalysis.tCloseness(df, "id", Seq("qa"), "sv",
        k = 10, tPpm = 150000L)
      .orderBy("qa").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(tc(0) === (("x", 10L, 300000L, false)))
    // class y: gaps 75k,125k,175k,150k,125k,100k,75k,50k,25k,0
    // -> 900000/9 = 100000 <= 150000
    assert(tc(1) === (("y", 30L, 100000L, true)))
    // guards: duplicate id, NULL sensitive, over-wide domain all
    // raise loudly — a silently-wrong privacy audit is worse than
    // no audit
    intercept[Exception] {
      TextAnalysis.tCloseness(df.union(Seq((0L, "x", 9L))
        .toDF("id", "qa", "sv")), "id", Seq("qa"), "sv", 10).collect()
    }
    intercept[Exception] {
      TextAnalysis.tCloseness(
        Seq((1L, "x", Some(1L)), (2L, "x", None: Option[Long]))
          .toDF("id", "qa", "sv"), "id", Seq("qa"), "sv", 1).collect()
    }
    intercept[Exception] {
      TextAnalysis.tCloseness(df, "id", Seq("qa"), "sv", 10,
        maxDomain = 2).collect()
    }
    // a non-numeric sensitive attribute casts to NULL silently
    // (non-ANSI) — the ordered-EMD contract must raise, not crash
    // later on a null map key (round-20 self-review)
    intercept[Exception] {
      TextAnalysis.tCloseness(
        Seq((1L, "x", "flu"), (2L, "x", "cold"))
          .toDF("id", "qa", "sv"), "id", Seq("qa"), "sv", 1).collect()
    }
    // a single-value domain defines emd = 0 (nothing to move)
    val one = Seq((1L, "x", 5L), (2L, "x", 5L))
      .toDF("id", "qa", "sv")
    assert(TextAnalysis.tCloseness(one, "id", Seq("qa"), "sv", 1)
      .collect()(0).getLong(2) === 0L)
  }

  test("kAnonUtility: per-level class counts, anonymous/suppressed " +
      "split, exact discernibility sum") {
    // qa classes: m x4 (publishes level 0), z x1 (falls to the
    // all-star level under k and publishes flagged)
    val df = (Seq.fill(4)("m") :+ "z").zipWithIndex
      .map { case (q, i) => (i.toLong, q) }.toDF("id", "qa")
    val u = TextAnalysis.kAnonUtility(df, "id", Seq("qa"), k = 2)
      .orderBy("anon_level").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7)))
    // level 0: one class of 4, anonymous, disc = 4^2
    assert(u(0) === ((0L, 1L, 4L, 4L, 0L, 4L, 4L, 16L)))
    // level 1 (all-star): the lone leftover row, flagged, disc 0
    assert(u(1) === ((1L, 1L, 1L, 0L, 1L, 1L, 1L, 0L)))
  }

  test("pairedSignTest: wins/ties/z hand pins, NULL metrics drop " +
      "the unit, negative mean diff truncates toward zero") {
    import graft.llm.Retrieval
    // A vs B over 5 queries: A wins q0,q1,q2; B wins q3; tie q4.
    // C has a NULL on q0 (no-qrels query) — pairs with C skip it.
    val scores = Seq(
      ("A", 0L, Some(10L)), ("A", 1L, Some(10L)), ("A", 2L, Some(10L)),
      ("A", 3L, Some(1L)), ("A", 4L, Some(5L)),
      ("B", 0L, Some(3L)), ("B", 1L, Some(3L)), ("B", 2L, Some(3L)),
      ("B", 3L, Some(8L)), ("B", 4L, Some(5L)),
      ("C", 0L, None: Option[Long]), ("C", 1L, Some(2L)),
      ("C", 2L, Some(2L)), ("C", 3L, Some(2L)), ("C", 4L, Some(2L)))
      .toDF("arm", "query_id", "ndcg_ppm")
    val out = Retrieval.pairedSignTest(scores, "arm", "query_id",
        "ndcg_ppm")
      .orderBy("sys_a", "sys_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getDouble(7)))
    // A vs B: n=5, wins_a=3, wins_b=1, ties=1;
    // dsum = 7+7+7-7+0 = 14 -> mean 2; z = (3-1)/sqrt(4) = 1.0
    assert(out(0) === (("A", "B", 5L, 3L, 1L, 1L, 2L, 1.0)))
    // A vs C: q0 dropped (C NULL), A wins q1,q2,q4, C wins q3
    // (1 < 2); dsum = 8+8-1+3 = 18 -> mean 18 DIV 4 = 4;
    // z = (3-1)/sqrt(4) = 1.0
    assert(out(1) === (("A", "C", 4L, 3L, 1L, 0L, 4L, 1.0)))
    // B vs C: q0 dropped; B wins q1,q2,q3,q4 (3>2, 3>2, 8>2, 5>2);
    // dsum = 1+1+6+3 = 11 -> mean 2; z = 4/sqrt(4) = 2.0
    assert(out(2) === (("B", "C", 4L, 4L, 0L, 0L, 2L, 2.0)))
    // negative mean diff truncates toward ZERO (Spark DIV), not
    // floor: dsum = -7 over 2 pairs -> -3, not -4 (the oracle
    // sign-splits DuckDB's floor // for the same reason)
    val neg = Seq(("A", 0L, 1L), ("A", 1L, 1L),
      ("B", 0L, 5L), ("B", 1L, 4L))
      .toDF("arm", "query_id", "ndcg_ppm")
    val nrow = Retrieval.pairedSignTest(neg, "arm", "query_id",
      "ndcg_ppm").collect()(0)
    assert(nrow.getLong(6) === -3L)
    assert(nrow.getDouble(7) === -1.414214) // -2/sqrt(2), r6
    // all-ties pair: z defined as 0
    val tied = Seq(("A", 0L, 5L), ("B", 0L, 5L))
      .toDF("arm", "query_id", "ndcg_ppm")
    assert(Retrieval.pairedSignTest(tied, "arm", "query_id",
      "ndcg_ppm").collect()(0).getDouble(7) === 0.0)
  }

  test("pairedSignTest round-20 contract: duplicated (system, unit) " +
      "rows collapse to max (SET semantics); unit/system bounds " +
      "raise loudly") {
    import graft.llm.Retrieval
    // the r19 ADVICE counterexample: a doubled score row must not
    // inflate n_pairs/wins/z — the retrievalEval run/qrel discipline
    val base = Seq(("A", 0L, 10L), ("A", 1L, 1L),
      ("B", 0L, 3L), ("B", 1L, 8L))
    val clean = base.toDF("arm", "query_id", "ndcg_ppm")
    val dup = (base ++ Seq(("A", 0L, 10L), ("A", 0L, 7L)))
      .toDF("arm", "query_id", "ndcg_ppm")
    val a = Retrieval.pairedSignTest(clean, "arm", "query_id",
      "ndcg_ppm").collect()(0)
    val b = Retrieval.pairedSignTest(dup, "arm", "query_id",
      "ndcg_ppm").collect()(0)
    assert(a === b)
    assert(a.getLong(2) === 2L) // n_pairs stays 2, not 4
    // bound guards: a corpus-sized unit or system column raises
    // in-plan instead of running a silent O(S^2·U) self-join
    intercept[Exception] {
      Retrieval.pairedSignTest(clean, "arm", "query_id", "ndcg_ppm",
        maxUnits = 1L).collect()
    }
    val three = (base ++ Seq(("C", 0L, 5L), ("C", 1L, 5L)))
      .toDF("arm", "query_id", "ndcg_ppm")
    intercept[Exception] {
      Retrieval.pairedSignTest(three, "arm", "query_id", "ndcg_ppm",
        maxSystems = 2L).collect()
    }
  }

  test("retrievalEval round-20 guard: tied-rank DCG sum past " +
      "Long.Max raises loudly instead of wrapping; the in-range " +
      "tied case stays exact") {
    import graft.llm.Retrieval
    // rel=40 at k=10 passes the static TERM require (gain·Σdisc
    // fits), but 9 docs TIED at rank 1 push the per-query SUM to
    // ~9.9e18 > Long.Max — the r19 ADVICE hole: run dedup is per
    // (query, doc), not per rank
    val gain = (1L << 40) - 1L
    def mk(n: Long) = (
      (1L to n).map(dd => (0L, dd, 1L))
        .toDF("query_id", "doc_id", "rank"),
      (1L to n).map(dd => (0L, dd, 40L))
        .toDF("query_id", "doc_id", "rel"))
    val (run9, qr9) = mk(9L)
    intercept[Exception] {
      Retrieval.retrievalEval(run9, qr9, k = 10, maxRel = 40)
        .collect()
    }
    // 8 tied docs stay under Long.Max: exact integer sum, no drift
    val (run8, qr8) = mk(8L)
    val ok = Retrieval.retrievalEval(run8, qr8, k = 10, maxRel = 40)
      .select("dcg_micro").collect()(0).getLong(0)
    assert(ok === 8L * gain * 1000000L)
  }

  test("bpeBytesApply: hex-byte seed symbols, merges fuse byte pairs, " +
      "ASCII corpus is isomorphic to the char grain") {
    import graft.llm.TextAnalysis
    // "hello" bytes: 68 65 6c 6c 6f — most frequent pair across the
    // corpus merges first; tokens are lowercase hex runs
    val df = Seq((1L, "hello hello"), (2L, "help"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bpeApply(df, "text", "doc_id",
        rounds = 1, batch = 1, byteGrain = true)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[String](2)))
    // pair counts over byte symbols: (68,65)=3, (65,6c)=3, (6c,6c)=2,
    // (6c,6f)=2, (6c,70)=1 — tie at 3 broken by (a asc, b asc):
    // "65"<"68" so (65,6c) wins round 1
    assert(out(0)._2 ===
      Seq("68", "656c", "6c", "6f", "68", "656c", "6c", "6f"))
    assert(out(1)._2 === Seq("68", "656c", "70"))
    // every token is decodable hex — the 256-byte base alphabet
    assert(out.flatMap(_._2).forall(t =>
      t.length % 2 == 0 && t.matches("[0-9a-f]+")))
    // on a pure-ASCII corpus byte grain ≡ char grain: same token
    // COUNT everywhere (symbols map 1:1, merges fuse in lockstep)
    val ascii = Seq((1L, "alpha beta alpha"), (2L, "beta gamma"),
      (3L, "alpha gamma delta")).toDF("doc_id", "text")
    val nb = TextAnalysis.bpeApply(ascii, "text", "doc_id",
        rounds = 5, batch = 4, byteGrain = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nc = TextAnalysis.bpeApply(ascii, "text", "doc_id",
        rounds = 5, batch = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nb === nc)
  }

  test("bpeBytesApplyWithMerges: byte FALLBACK — out-of-fit " +
      "multibyte chars surface as unmerged byte tokens") {
    import graft.llm.TextAnalysis
    val fit = Seq((1L, "hello hello help"))
      .toDF("doc_id", "text")
    val merges = TextAnalysis.bpeFitMerges(fit, "text",
      rounds = 10, batch = 8, byteGrain = true)
    assert(merges.nonEmpty)
    // 'héllo': é = c3 a9 — bytes the fit corpus never saw, so no
    // merge touches them; they fall back as TWO one-byte tokens
    // where a char-grain tokenizer would emit one 'é' seed symbol
    val apply = Seq((1L, "héllo")).toDF("doc_id", "text")
    val toks = TextAnalysis.bpeApplyWithMerges(apply, "text",
        "doc_id", merges, byteGrain = true)
      .collect()(0).getSeq[String](2)
    assert(toks.count(t => t == "c3") === 1)
    assert(toks.count(t => t == "a9") === 1)
    // the ASCII frame around the fallback still merges normally
    val charToks = TextAnalysis.bpeApplyWithMerges(apply, "text",
        "doc_id", TextAnalysis.bpeFitMerges(fit, "text",
          rounds = 10, batch = 8))
      .collect()(0).getSeq[String](2)
    // fallback re-bills: one extra token for the one 2-byte char
    assert(toks.length === charToks.length + 1)
  }

  test("retrievalEval: hand-computed nDCG/MRR/recall pins, no-qrels " +
      "query NULLs, discount table values") {
    import graft.llm.Retrieval
    // pinned discounts: floor(1e6/log2(r+1))
    assert(Retrieval.dcgDiscountMicro(4) ===
      Seq(1000000L, 630929L, 500000L, 430676L))
    // query 0: run = docs 10,11,12 at ranks 1,2,3; rels 11->3, 12->1,
    //          13->2 (13 not retrieved)
    // query 1: run = doc 20 rank 1; no qrels at all
    val run = Seq((0L, 10L, 1L), (0L, 11L, 2L), (0L, 12L, 3L),
      (1L, 20L, 1L)).toDF("query_id", "doc_id", "rank")
    val qrels = Seq((0L, 11L, 3L), (0L, 12L, 1L), (0L, 13L, 2L))
      .toDF("query_id", "doc_id", "rel")
    val out = Retrieval.retrievalEval(run, qrels, k = 3)
      .orderBy("query_id").collect()
    val q0 = out(0)
    // columns: query_id, n_ret, n_rel, n_rel_ret, recall_ppm,
    // rr_ppm, ap_ppm, dcg_micro, idcg_micro, ndcg_ppm
    // DCG = 0 + 7*630929 + 1*500000 = 4916503
    assert(q0.getLong(7) === 7L * 630929L + 500000L)
    // IDCG = rels sorted desc (3,2,1): 7*1000000 + 3*630929 + 500000
    assert(q0.getLong(8) === 7000000L + 3L * 630929L + 500000L)
    assert(q0.getLong(9) ===
      q0.getLong(7) * 1000000L / q0.getLong(8)) // 522338
    assert(q0.getLong(2) === 3L && q0.getLong(3) === 2L)
    assert(q0.getLong(4) === 666666L) // 2/3 recall, truncating
    assert(q0.getLong(5) === 500000L) // first relevant at rank 2
    // AP@3: relevant at rank 2 (P@2 = 1/2) and rank 3 (P@3 = 2/3);
    // ap_num = 500000 + 666666 = 1166666; / min(3, 3) -> 388888
    assert(q0.getLong(6) === 388888L)
    val q1 = out(1)
    assert(q1.getLong(1) === 1L && q1.getLong(2) === 0L)
    assert(q1.isNullAt(4) && q1.isNullAt(9)) // recall/ndcg undefined
    assert(q1.isNullAt(6))                   // ap undefined too
    assert(q1.getLong(5) === 0L)             // rr 0 when none relevant
    // duplicated qrel rows collapse to their max grade — metrics are
    // a function of the qrel SET (a dup would otherwise double-join
    // into the run and inflate gain/recall)
    val dup = Seq((0L, 11L, 3L), (0L, 11L, 2L), (0L, 11L, 3L),
      (0L, 12L, 1L), (0L, 13L, 2L))
      .toDF("query_id", "doc_id", "rel")
    val dedup = Retrieval.retrievalEval(run, dup, k = 3)
      .orderBy("query_id").collect()(0)
    assert((0 until dedup.length).forall(i =>
      (dedup.isNullAt(i) && q0.isNullAt(i)) ||
        (!dedup.isNullAt(i) && dedup.get(i) == q0.get(i))))
    // over-range grade fails loudly (gain would overflow)
    val bad = Seq((0L, 11L, 63L)).toDF("query_id", "doc_id", "rel")
    intercept[Exception] {
      Retrieval.retrievalEval(run, bad, k = 3).collect()
    }
    // duplicated RUN rows collapse to their best (min) rank — a dup
    // would otherwise multiply through the rel join and double-count
    // gain/recall (the run-side twin of the qrel max-grade collapse)
    val dupRun = Seq((0L, 10L, 1L), (0L, 11L, 2L), (0L, 11L, 3L),
      (0L, 12L, 3L), (1L, 20L, 1L), (1L, 20L, 1L))
      .toDF("query_id", "doc_id", "rank")
    val dedupRun = Retrieval.retrievalEval(dupRun, qrels, k = 3)
      .orderBy("query_id").collect()(0)
    assert((0 until dedupRun.length).forall(i =>
      (dedupRun.isNullAt(i) && q0.isNullAt(i)) ||
        (!dedupRun.isNullAt(i) && dedupRun.get(i) == q0.get(i))))
    // permitted-but-overflowing maxRel is refused at plan time: at
    // k=10 the discount sum is 4,543,554, so (2^41 - 1) * Σdisc
    // wraps a Long — Spark (non-ANSI) would wrap silently while
    // DuckDB errors, a latent cross-engine divergence
    intercept[IllegalArgumentException] {
      Retrieval.retrievalEval(run, qrels, k = 10, maxRel = 41)
    }
    // and the tightened bound still admits the k=10 ceiling (2^40-1
    // times the 4,543,554 discount sum fits a Long; 2^41-1 does not)
    Retrieval.retrievalEval(run, qrels, k = 10, maxRel = 40)
  }

  test("rankOverlap: hand-computed RBO, identical rankings hit the " +
      "weight-sum ceiling, one-sided query scores zero") {
    import graft.llm.Retrieval
    val w = Retrieval.rboWeightsNano(3, 900000L)
    assert(w.length === 3 && w(0) > w(1) && w(1) > w(2))
    // q0: A = 1,2,3; B = 2,1,9 -> shared {1: m=2, 2: m=2};
    //     overlap@d = 0, 2, 2
    // q1: identical rankings -> overlap@d = d (ceiling)
    // q2: present only in A -> empty intersection
    val runA = Seq((0L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 3L),
      (1L, 7L, 1L), (1L, 8L, 2L), (1L, 9L, 3L),
      (2L, 5L, 1L)).toDF("query_id", "doc_id", "rank")
    val runB = Seq((0L, 2L, 1L), (0L, 1L, 2L), (0L, 9L, 3L),
      (1L, 7L, 1L), (1L, 8L, 2L), (1L, 9L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val out = Retrieval.rankOverlap(runA, runB, k = 3)
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out(0) === ((0L, 2L, 666666L,
      w(1) * 2L / 2L + w(2) * 2L / 3L)))
    assert(out(1) === ((1L, 3L, 1000000L,
      w(0) + w(1) + w(2)))) // the p-truncated maximum
    assert(out(2) === ((2L, 0L, 0L, 0L)))
    // duplicated run rows collapse to min rank per (query, doc) —
    // a dup would otherwise multiply through the intersection join
    // and push overlap past d (rbo above the weight-sum ceiling)
    val dupA = runA.union(Seq((1L, 7L, 2L), (1L, 8L, 2L))
      .toDF("query_id", "doc_id", "rank"))
    val dedup = Retrieval.rankOverlap(dupA, runB, k = 3)
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(dedup === out)
  }

  test("lengthBucketBatches: pow-2 buckets, length-desc deal, exact " +
      "per-doc padding against the batch max") {
    def mk(id: Long, n: Int) = (id, Seq.fill(n)("tok").mkString(" "))
    // token counts: 20, 18, 17 (bucket 32); 10, 5 (bucket 16); 100
    // (bucket 128); batchSize 2
    val d = Seq(mk(1, 20), mk(2, 18), mk(3, 17), mk(4, 10), mk(5, 5),
      mk(6, 100)).toDF("doc_id", "text")
    val out = TextAnalysis.lengthBucketBatches(d, "text", "doc_id",
      batchSize = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // bucket 16: order (10, 5) -> one batch, max 10 -> pads 0, 5
    assert(out(4L) === ((10L, 16L, 0L, 0L)))
    assert(out(5L) === ((5L, 16L, 0L, 5L)))
    // bucket 32: order (20, 18 | 17) -> batch 0 max 20, batch 1 max 17
    assert(out(1L) === ((20L, 32L, 0L, 0L)))
    assert(out(2L) === ((18L, 32L, 0L, 2L)))
    assert(out(3L) === ((17L, 32L, 1L, 0L)))
    // bucket 128: singleton batch, zero pad
    assert(out(6L) === ((100L, 128L, 0L, 0L)))
  }

  test("quotaSample: Hamilton quotas sum EXACTLY to n, respect " +
      "largest remainders, and the pick is deterministic") {
    // strata sizes 7 / 5 / 3 (T=15), n=10: exact shares 4.67/3.33/2
    // -> floors 4/3/2 (sum 9), remainders 10/5/0 -> the 1 leftover
    // seat goes to srcA: quotas 5/3/2
    val d = ((1 to 7).map(i => (i.toLong, "srcA")) ++
      (8 to 12).map(i => (i.toLong, "srcB")) ++
      (13 to 15).map(i => (i.toLong, "srcC"))).toDF("doc_id", "source")
    val out = TextAnalysis.quotaSample(d, "doc_id", "source", 10L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out.length === 10)
    val bySrc = out.groupBy(_._1).view.mapValues(_.length).toMap
    assert(bySrc === Map("srcA" -> 5, "srcB" -> 3, "srcC" -> 2))
    assert(out.filter(_._1 == "srcA").forall(_._4 == 5L))
    assert(out.filter(_._1 == "srcB").forall(_._4 == 3L))
    // ranks inside each stratum are gapless 1..quota
    assert(out.filter(_._1 == "srcA").map(_._3).sorted.toSeq ===
      (1L to 5L))
    // determinism: an independent run returns the identical id set
    val again = TextAnalysis.quotaSample(d, "doc_id", "source", 10L)
      .collect().map(r => r.getLong(1)).toSet
    assert(again === out.map(_._2).toSet)
    // n >= corpus: everything comes back, no phantom rows
    assert(TextAnalysis.quotaSample(d, "doc_id", "source", 50L)
      .count() === 15L)
  }

  test("bm25Fit/withBm25Score: fitted literals reproduce the exact " +
      "per-term micro weights; zero-tf terms contribute exact zero") {
    val d = Seq(
      (1L, "alpha alpha beta gamma"),
      (2L, "alpha beta beta beta"),
      (3L, "gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val m = TextAnalysis.bm25Fit(d, "text", nTerms = 2, minTermLen = 4)
    // same pick as bm25TopK: df alpha=beta=gamma=2, tiebreak term ASC
    assert(m.terms === Seq(("alpha", 2L), ("beta", 2L)))
    assert(m.n === 3L && m.tot === 16L)
    val out = TextAnalysis.withBm25Score(d, "text", m)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    def w(tf: Long, df: Long, len: Long) = math.floor(
      ((3L - df + 0.5) / (df + 0.5)) * ((tf * 2.2) /
        (tf + 0.3 + 0.9 * (len * 1.0 * 3L / 16L))) * 1000000.0).toLong
    // doc 1: alpha tf 2, beta tf 1; doc 2: alpha 1, beta 3;
    // doc 3: neither (hits 0, micro exactly 0)
    assert(out(1L) === ((w(2, 2, 4) + w(1, 2, 4), 2L)))
    assert(out(2L) === ((w(1, 2, 4) + w(3, 2, 4), 2L)))
    assert(out(3L) === ((0L, 0L)))
  }

  test("sourceOverlapMatrix: exact pair Jaccard on crafted overlap, " +
      "zero-overlap pairs still reported") {
    // 2-grams (n=2): A has {ab, bc}; B shares exactly {ab} (plus its
    // own {bx}); C shares nothing
    val d = Seq(
      ("A", "a b c"), ("B", "a b x"), ("C", "p q r"))
      .toDF("source", "text")
    val out = graft.llm.Dedup
      .sourceOverlapMatrix(d, "text", "source", n = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // complete upper-triangle matrix over 3 sources
    assert(out.keySet === Set(("A", "B"), ("A", "C"), ("B", "C")))
    // A: {ab, bc}; B: {ab, bx}; common {ab} -> jaccard 1/3
    assert(out(("A", "B")) === ((2L, 2L, 1L, 1000000L / 3L)))
    // disjoint pairs surface with n_common = 0, jaccard 0
    assert(out(("A", "C")) === ((2L, 2L, 0L, 0L)))
    assert(out(("B", "C")) === ((2L, 2L, 0L, 0L)))
  }

  test("maxSimTopK: soft alignment scores a permuted-subvector match " +
      "that whole-vector cosine misses; zero-norm subvectors score 0") {
    // 4-dim vectors as 2 sub-vectors of 2 dims. Query q = (e1 | e2).
    // A = (e2 | e1): every q sub-vector finds a PERMUTED perfect
    // match -> maxsim 2, while whole-vector cos(q, A) = 0.
    // B = (e1 | 0): second sub-vector has zero norm -> contributes 0.
    val emb = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 1.0)),
      (1L, Seq(0.0, 1.0, 1.0, 0.0)),
      (2L, Seq(1.0, 0.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val out = Similarity.maxSimTopK(emb,
        emb.filter(col("vec_id") === 0L), "vec_id", "embedding",
        k = 5, nSub = 2, subDim = 2)
      .collect().map(r => r.getLong(2) ->
        ((r.getLong(1), r.getDouble(3)))).toMap
    assert(!out.contains(0L)) // self excluded
    assert(out(1L) === ((1L, 2.0)))
    assert(out(2L) === ((2L, 1.0)))
  }

  test("mixBudgetFit: saturated / proportional / zero-weight regimes " +
      "allocate exactly; leftover budget stays unallocated") {
    // sources of 10 tokens each; budget 30; caps 2 epochs = 20
    def doc(id: Long, src: String) =
      (id, src, Seq.fill(10)("tok").mkString(" "))
    val d = Seq(doc(1, "a"), doc(2, "b"), doc(3, "c"), doc(4, "z"))
      .toDF("doc_id", "source", "text")
    // weights a=80%, b=10%, c=10%: a wants 24 > cap 20 -> saturates;
    // residual 10 splits evenly over b and c (5 each, caps 20 loose)
    val out = TextAnalysis.mixBudgetFit(d, "text", "source",
      Map("a" -> 800000L, "b" -> 100000L, "c" -> 100000L),
      epochsCap = 2L, budget = Some(30L))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(out("a") === ((10L, 800000L, 20L, 20L, 2000000L)))
    assert(out("b") === ((10L, 100000L, 20L, 5L, 500000L)))
    assert(out("c") === ((10L, 100000L, 20L, 5L, 500000L)))
    assert(out("z") === ((10L, 0L, 20L, 0L, 0L)))
    // budget fully used here: 20 + 5 + 5 = 30
    // now a budget beyond every cap: all positive-weight sources
    // saturate, the rest stays honestly unallocated
    val capped = TextAnalysis.mixBudgetFit(d, "text", "source",
      Map("a" -> 500000L, "b" -> 500000L), epochsCap = 2L,
      budget = Some(100L))
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(capped("a") === 20L && capped("b") === 20L)
    assert(capped.values.sum === 40L) // 60 of 100 unallocatable
  }

  test("mixBudgetFit rejects weight sums over 1e6 ppm and products " +
      "that would overflow the exact-integer contract") {
    val d = Seq((1L, "a", "tok tok"), (2L, "b", "tok"))
      .toDF("doc_id", "source", "text")
    // ppm weights are shares of one budget — a 150% ask is malformed
    val eW = intercept[IllegalArgumentException] {
      TextAnalysis.mixBudgetFit(d, "text", "source",
        Map("a" -> 900000L, "b" -> 600000L), epochsCap = 2L)
    }
    assert(eW.getMessage.contains("1e6"))
    // epochsCap * tokens past MaxValue/1e6 would silently wrap in
    // the (cap * 1e6) div w sort key — must fail loudly instead
    val eC = intercept[IllegalArgumentException] {
      TextAnalysis.mixBudgetFit(d, "text", "source",
        Map("a" -> 500000L), epochsCap = Long.MaxValue / 1000000L)
    }
    assert(eC.getMessage.contains("overflow"))
    // an absolute budget past the same bound breaks r * w_ppm
    val eB = intercept[IllegalArgumentException] {
      TextAnalysis.mixBudgetFit(d, "text", "source",
        Map("a" -> 500000L), epochsCap = 2L,
        budget = Some(Long.MaxValue / 1000L))
    }
    assert(eB.getMessage.contains("exact-integer"))
  }

  test("withBm25Score degrades to zero scores on an empty fitted " +
      "term set instead of an analysis exception") {
    val d = Seq((1L, "a b c"), (2L, "d e")).toDF("doc_id", "text")
    // every token is shorter than minTermLen -> zero fitted terms
    val m = TextAnalysis.bm25Fit(d, "text", nTerms = 3,
      minTermLen = 5)
    assert(m.terms.isEmpty)
    val out = TextAnalysis.withBm25Score(d, "text", m)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(1L -> ((0L, 0L)), 2L -> ((0L, 0L))))
  }

  test("patchifyPipeline: real codec roundtrip holds, patch sums are " +
      "exact, and identical patches share fingerprints") {
    // 192 identical codepoints -> all 4 patches are the same solid
    // color: fingerprints collide BY CONSTRUCTION; a different doc
    // must not collide with them
    val d = Seq(
      (1L, "A" * 192),
      (2L, "A" * 192),
      (3L, "z" * 192)).toDF("doc_id", "text")
    val out = Multimodal.patchifyPipeline(d, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getBoolean(6)))).toMap
    assert(out.size === 12) // 4 patches per doc
    assert(out.values.forall(_._5), "codec roundtrip must hold")
    // 'A' = 65 everywhere: each channel sums 16 * 65 = 1040
    assert(out((1L, 0L))._1 === 1040L)
    assert(out((1L, 3L))._3 === 1040L)
    // same content -> same fp, across patches and docs
    val fpA = out((1L, 0L))._4
    assert((0L to 3L).forall(p => out((1L, p))._4 === fpA))
    assert((0L to 3L).forall(p => out((2L, p))._4 === fpA))
    assert(out((3L, 0L))._4 !== fpA)
  }

  test("patchDedupPairs: docs sharing a left half pair on exactly " +
      "their 2 common patches; unrelated docs pair with nothing") {
    // pixel (r, c) chars: left half varies by row (so the two left
    // patches have DISTINCT fps), right half differs per doc
    def mk(rightBase: Char): String =
      (0 until 192).map { j =>
        val i = j / 3; val r = i / 8; val c = i % 8
        if (c < 4) ('A' + r).toChar else (rightBase + r).toChar
      }.mkString
    val d = Seq((1L, mk('a')), (2L, mk('b')), (3L, "z" * 192))
      .toDF("doc_id", "text")
    val pairs = Multimodal.patchDedupPairs(d, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 2L)))
  }

  test("tripletMine: anchors emit (best positive, hardest negative) " +
      "only when both thresholds are met") {
    // planes = 0 -> one bucket, all pairs candidates. a ≈ b (high
    // cos), c ⊥ both (cos 0 ≤ negMax). d alone would have no
    // negative partner were it not ⊥ to a and b too.
    def v(parts: (Int, Double)*) = {
      val arr = Array.fill(64)(0.0)
      parts.foreach { case (i, x) => arr(i) = x }
      arr.toSeq
    }
    val emb = Seq(
      (1L, v(0 -> 1.0)),
      (2L, v(0 -> 1.0, 1 -> 0.2)), // cos(1,2) ≈ 0.98
      (3L, v(2 -> 1.0)))           // ⊥ to both
      .toDF("vec_id", "embedding")
    val out = Similarity.tripletMine(emb, "vec_id", "embedding",
      planes = 0, posMin = 0.5, negMax = 0.1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(3)))).toMap
    // anchors 1 and 2: positive = each other, negative = 3
    assert(out(1L) === ((2L, 3L)))
    assert(out(2L) === ((1L, 3L)))
    // anchor 3 has no positive (max cos 0 < 0.5) -> no triplet
    assert(!out.contains(3L))
  }

  test("rpProject/rpRecall: projection is exactly linear under " +
      "power-of-two scaling and recall telemetry is bounded") {
    val base = Seq.tabulate(64)(i => (i % 7) - 3.0)
    val emb = Seq((1L, base), (2L, base.map(_ * 2.0)))
      .toDF("vec_id", "embedding")
    val pv = Similarity.rpProject(emb, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(pv(1L).length === 16)
    // x2 input -> exactly x2 projection (every product and partial
    // sum doubles exactly in IEEE arithmetic)
    assert(pv(2L) === pv(1L).map(_ * 2.0))
    // recall telemetry: 8 query rows, hits within [0, k]
    val emb500 = (0L until 40L).map(i =>
      (i, Seq.tabulate(64)(d => math.sin(i * 64.0 + d))))
      .toDF("vec_id", "embedding")
    val rec = Similarity.rpRecall(emb500, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rec.length === 8)
    assert(rec.forall(t => t._2 >= 0 && t._2 <= 5))
    assert(rec.forall(t => t._3 === t._2 * 1000000L / 5L))
  }

  test("plantedEmbeddings: recall telemetry recovers the planted " +
      "top-5 above the declared floor on both index paths") {
    // 600 ids -> 100 micro-clusters of 6; every query's exact cosine
    // top-5 is its 5 cluster-mates by construction
    val ids = (0L until 600L).map(Tuple1(_)).toDF("vec_id")
    val emb = Similarity.plantedEmbeddings(ids, "vec_id")
    // ground truth really is the cluster: exact top-5 of query 0 is
    // ids 1..5, of query 7 is {6, 8, 9, 10, 11}
    val bf = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(bf(0L) === Set(1L, 2L, 3L, 4L, 5L))
    assert(bf(7L) === Set(6L, 8L, 9L, 10L, 11L))
    // JL-projection path: recall >= the declared floor per query
    val rp = Similarity.rpRecall(emb, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(rp.length === 8)
    rp.foreach { case (q, ppm) =>
      assert(ppm >= Similarity.RecallFloorPpm,
        s"rp recall for query $q: $ppm ppm under the floor")
    }
    // 1-bit Hamming path: planted mates share the exact sign
    // pattern (dist 0, id tiebreak), so even the 32x-compressed
    // signature recovers the planted top-5 completely
    val ham = Similarity.hammingTopK(emb,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        r.getLong(2)))).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    assert(ham(0L).map(_._1).toSet === Set(1L, 2L, 3L, 4L, 5L))
    assert(ham(0L).forall(_._2 === 0L)) // mates at distance zero
    assert(ham(7L).map(_._1).toSet === Set(6L, 8L, 9L, 10L, 11L))
    // IVF path (fitted cells, nprobe 2): same floor
    val cents = Similarity.kmeansCentroids(emb, "vec_id",
      "embedding", cells = 16, iters = 2)
    val ivf = Similarity.ivfTopK(emb,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        cents, k = 5, nprobe = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (0L until 8L).foreach { q =>
      val hits = ivf.getOrElse(q, Set.empty) & bf(q)
      assert(hits.size * 1000000L / 5L >= Similarity.RecallFloorPpm,
        s"ivf recall for query $q: ${hits.size}/5 under the floor")
    }
  }

  test("hllDistinct: estimate lands in the sketch's error band, " +
      "duplicates never inflate, small range takes linear counting") {
    val rows = (1 to 2000).map(i =>
      ("big", s"unique document text number $i")) ++
      (1 to 12).map(i => ("small", s"tiny $i")) ++
      (1 to 50).map(_ => ("small", "tiny 1")) // pure duplicates
    val df = rows.toDF("source", "text")
    val out = TextAnalysis.hllDistinct(df, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    val (bn, be) = out("big")
    assert(bn === 2000L)
    // m=256 -> ~6.5% standard error; 15% = ~2.3 sigma on this one
    // fixed deterministic draw
    assert(math.abs(be - 2000.0) / 2000.0 < 0.15, s"estimate $be")
    val (sn, se) = out("small")
    assert(sn === 12L)
    assert(math.abs(se - 12.0) < 5.0, s"estimate $se")
  }

  test("withLangId classifies held-out sentences in all four " +
      "languages and falls back to und") {
    val held = Seq(
      (1L, "Where did you put the keys to the old car", "en"),
      (2L, "Los estudiantes estaban leyendo en el jardin de la escuela", "es"),
      (3L, "Les oiseaux chantent dans le jardin pres de la riviere", "fr"),
      (4L, "Die studenten lesen ihre bucher in dem garten der schule", "de"),
      (5L, "zzz qqq xxx 0101 ###", "und"))
    val df = held.map(t => (t._1, t._2)).toDF("doc_id", "text")
    val out = TextAnalysis.withLangId(df, "text")
      .select("doc_id", "pred_lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    held.foreach { case (id, s, want) =>
      assert(out(id) === want, s"for '$s'")
    }
    // scores are monotone evidence: the winning score column tops
    // the others for a clearly-English sentence
    val row = TextAnalysis.withLangId(df, "text")
      .filter(col("doc_id") === 1L)
      .select("score_en", "score_es", "score_fr", "score_de")
      .collect()(0)
    assert((1 to 3).forall(i => row.getDouble(0) > row.getDouble(i)))
  }

  test("withUrlParts: ports, subdomains, userinfo, IP hosts, case, " +
      "and PSL-subset folding all normalize correctly") {
    val urls = Seq(
      (1L, "https://www.Example.COM/path/x?q=1#f"),
      (2L, "http://a.b.Example.co.uk:8080/p"),
      (3L, "http://user:pw@deep.sub.example.com/x"),
      (4L, "ftp://192.168.0.1:21/f"),
      (5L, "https://[2001:db8::1]:443/x"),
      (6L, "https://localhost"),
      (7L, "https://example.org")).toDF("doc_id", "url")
    val out = UrlOps.withUrlParts(urls, "url")
      .select("doc_id", "scheme", "host", "port", "path", "is_ip",
        "registered_domain")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getLong(3),
          r.getString(4), r.getBoolean(5), r.getString(6)))).toMap
    // case-folded host, port absent -> -1, query/fragment not in path
    assert(out(1L) === (("https", "www.example.com", -1L, "/path/x",
      false, "example.com")))
    // subdomain chain under a two-label public suffix keeps 3 labels
    assert(out(2L) === (("http", "a.b.example.co.uk", 8080L, "/p",
      false, "example.co.uk")))
    // userinfo stripped; deep subdomain folds to the 2-label domain
    assert(out(3L) === (("http", "deep.sub.example.com", -1L, "/x",
      false, "example.com")))
    // IPv4 host: is_ip, registered domain is the address itself
    assert(out(4L) === (("ftp", "192.168.0.1", 21L, "/f", true,
      "192.168.0.1")))
    // bracketed IPv6 with port: brackets stripped, dots-in-host rule
    // must not fold it
    assert(out(5L) === (("https", "2001:db8::1", 443L, "/x", true,
      "2001:db8::1")))
    // single-label host and empty path
    assert(out(6L) === (("https", "localhost", -1L, "", false,
      "localhost")))
    assert(out(7L) === (("https", "example.org", -1L, "", false,
      "example.org")))
  }

  test("hostStats + capPerRegisteredDomain aggregate at the folded " +
      "domain grain across subdomains and ports") {
    val urls = Seq(
      (1L, "https://a.shop.example.com/1", 5.0),
      (2L, "https://b.shop.example.com:8443/2", 4.0),
      (3L, "https://example.com/3", 3.0),
      (4L, "https://other.org/4", 9.0)).toDF("doc_id", "url", "q")
    val stats = UrlOps.hostStats(urls, "url", "doc_id")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // 3 docs over 3 distinct hosts fold into one registered domain
    assert(stats("example.com") === ((3L, 3L, 750000L)))
    assert(stats("other.org") === ((1L, 1L, 250000L)))
    val capped = UrlOps.capPerRegisteredDomain(urls, "url",
        col("q"), "doc_id", 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // example.com keeps its 2 highest-q docs (1, 2); doc 3 is capped
    assert(capped === Set(1L, 2L, 4L))
  }

  test("invertedIndex: posting lists cap at maxPostings with the " +
      "truncation flag raised; short terms excluded") {
    val d = ((1 to 6).map(i => (i.toLong, "alpha common")) ++
      Seq((7L, "alpha only here"))).toDF("doc_id", "text")
    val out = TextAnalysis.invertedIndex(d, "text", "doc_id",
      topTerms = 2, minTermLen = 5, maxPostings = 4)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getSeq[Long](2), r.getBoolean(3)))).toMap
    // df: alpha=7, common=6; "only"/"here" are 4 chars -> excluded
    assert(out.keySet === Set("alpha", "common"))
    val (dfA, postA, truncA) = out("alpha")
    assert(dfA === 7L && truncA)
    assert(postA === Seq(1L, 2L, 3L, 4L)) // lowest ids win the cap
    val (dfC, postC, truncC) = out("common")
    assert(dfC === 6L && truncC && postC === Seq(1L, 2L, 3L, 4L))
  }

  test("softDedupWeights: copies collapse to the lowest id with an " +
      "exact ppm downweight; uniques keep weight 1e6") {
    val d = Seq((5L, "dup"), (2L, "dup"), (9L, "dup"), (3L, "solo"))
      .toDF("doc_id", "text")
    val out = graft.llm.Dedup.softDedupWeights(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map(2L -> ((3L, 333333L)), 3L -> ((1L, 1000000L))))
  }

  test("surpriseChunks: integer boundary rule splits exactly at the " +
      "rare continuation; chunks tile each doc") {
    // uni: x=5, y=4, q=1; V=3; big: (x,y)=4, (y,x)=3, (x,q)=1.
    // k=2: p(q|x) = 2/8 < 1/2 -> boundary; p(y|x) = 5/8, p(x|y) =
    // 4/7 both >= 1/2 -> no split
    val d = Seq(
      (1L, "x y x y x y x y"),
      (2L, "x q")).toDF("doc_id", "text")
    val out = TextAnalysis.surpriseChunks(d, "text", "doc_id", k = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(t => (t._1, t._2))
    assert(out.toSeq === Seq(
      (1L, 1L, 1L, 8L, 8L),
      (2L, 1L, 1L, 1L, 1L),
      (2L, 2L, 2L, 2L, 1L)))
  }

  test("canonicalizeUrl: tracking params stripped, survivors sorted, " +
      "default ports/fragments/trailing slash/case folded; variants " +
      "of one resource collide") {
    val urls = Seq(
      (1L, "https://WWW.Example.Com:443/p/3/?utm_source=feed&id=3#f"),
      (2L, "https://www.example.com/p/3?id=3&utm_campaign=x"),
      (3L, "http://Example.org:80/x?b=2&a=1"),
      (4L, "http://example.org/x?a=1&b=2&fbclid=Z"),
      (5L, "http://example.org:8080/x"), // non-default port KEPT
      (6L, "https://user:pw@example.net/d/"),
      (7L, "https://example.net/only?gclid=g1"),
      // '?' INSIDE the fragment (SPA route): the fragment is dropped
      // wholesale — its params must NOT resurface as a query string
      (8L, "https://example.net/app#/route?utm_source=x&real=1"),
      // fragment after a real query: query kept, fragment dropped
      (9L, "https://example.net/app?real=1#/route?utm_source=x"))
      .toDF("doc_id", "url")
    val out = UrlOps.canonicalizeUrl(urls, "url")
      .select("doc_id", "canon_url", "n_params_dropped")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2)))).toMap
    // variants 1/2 fold to the same resource: scheme+host lowercased,
    // :443 dropped, trailing slash stripped, utm_* dropped, fragment
    // gone, surviving ?id=3 kept
    assert(out(1L) === (("https://www.example.com/p/3?id=3", 1L)))
    assert(out(2L) === out(1L))
    // variants 3/4: :80 dropped, params SORTED, fbclid dropped
    assert(out(3L) === (("http://example.org/x?a=1&b=2", 0L)))
    assert(out(4L) === (("http://example.org/x?a=1&b=2", 1L)))
    // non-default port survives canonicalization
    assert(out(5L) === (("http://example.org:8080/x", 0L)))
    // userinfo stripped, trailing slash folded
    assert(out(6L) === (("https://example.net/d", 0L)))
    // all params tracking -> empty query, no dangling '?'
    assert(out(7L) === (("https://example.net/only", 1L)))
    // fragment-only '?': nothing from the fragment survives
    assert(out(8L) === (("https://example.net/app", 0L)))
    // real query before the fragment survives; fragment (and its
    // embedded '?utm_source') is gone
    assert(out(9L) === (("https://example.net/app?real=1", 0L)))
  }

  test("canonicalizeUrl: refuses input already carrying a column " +
      "it would append") {
    val df = Seq((1L, "https://a.com/x", "clash"))
      .toDF("doc_id", "url", "canon_url")
    val e = intercept[IllegalArgumentException] {
      UrlOps.canonicalizeUrl(df, "url")
    }
    assert(e.getMessage.contains("canon_url"))
  }

  test("binaryQuantize: vectors shorter than dim raise a diagnostic " +
      "instead of packing silent-zero bits") {
    val ok = Seq((1L, Array.fill(64)(1.0))).toDF("vec_id", "embedding")
    assert(Similarity.binaryQuantize(ok, "vec_id", "embedding")
      .collect().head.getLong(1) === -1L) // all 64 sign bits set
    val short = Seq((2L, Array.fill(8)(1.0))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.binaryQuantize(short, "vec_id", "embedding").collect()
    }
    assert(e.getMessage.contains("binaryQuantize") ||
      Option(e.getCause).exists(_.getMessage.contains("binaryQuantize")))
    // sub-64 dims are legal when declared
    assert(Similarity.binaryQuantize(short, "vec_id", "embedding", dim = 8)
      .collect().head.getLong(1) === 255L)
  }

  test("hnswTopK: navigable-graph search recovers the planted " +
      "top-k; hub layer is the seeded-hash subset; output is " +
      "rank-contiguous per query") {
    val base = spark.range(0, 240).toDF("vec_id")
    val emb = Similarity.plantedEmbeddings(base, "vec_id")
    // level assignment: deterministic, ~1/16 of nodes, never empty
    val hubs = emb.filter(Similarity.hnswLevelExpr("vec_id", 16))
      .collect().map(_.getLong(0)).toSet
    assert(hubs.nonEmpty && hubs.size < 60)
    assert(emb.filter(Similarity.hnswLevelExpr("vec_id", 16))
      .collect().map(_.getLong(0)).toSet === hubs) // stable
    val q = emb.filter(col("vec_id") < 24) // 4 planted clusters
    val bf = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
      k = 5).select("query_id", "cand_id")
    val out = Similarity.hnswTopK(emb, q, "vec_id", "embedding", k = 5)
    val byQ = out.collect().groupBy(_.getLong(0))
    assert(byQ.size === 24)
    // ranks are 1..5 contiguous per query
    assert(byQ.values.forall(
      _.map(_.getAs[Long]("rank")).sorted.toSeq === (1L to 5L)))
    // recall vs brute force: the planted cluster-mates share hub
    // rankings with their queries, so the graph recovers them
    val hits = bf.join(out.select("query_id", "cand_id"),
      Seq("query_id", "cand_id"), "left_semi").count()
    assert(hits >= 24 * 5 * 9 / 10,
      s"recall ${hits / (24.0 * 5)} below 0.9 floor")
  }

  test("cmsTopK: estimates are never below exact counts and match " +
      "exactly when the sketch is collision-free") {
    val d = docs(
      "apple apple apple banana banana cherry",
      "apple banana date elderberry fig grape",
      "apple cherry cherry kiwi lemon mango")
    val out = TextAnalysis.cmsTopK(d, "text", k = 12)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // 10 distinct tokens exist; k = 12 asks for more than there are
    assert(out.length === 10)
    // CMS is a pure overestimate: collisions only ADD counts
    assert(out.forall { case (_, exact, est, err) =>
      est >= exact && err >= 0L })
    // 12 distinct tokens in 4×2048 counters: no collisions, so every
    // estimate is exact and the top token is recovered exactly
    assert(out.forall { case (_, exact, est, _) => est === exact })
    val byTok = out.map(t => t._1 -> t._2).toMap
    assert(byTok("apple") === 5L && byTok("banana") === 3L &&
      byTok("cherry") === 3L)
  }

  test("ngramDiversity: hand-computed TTR and distinct-gram ppm; " +
      "short docs contribute no higher grams") {
    val d = Seq(
      // grp a "x y x y z z": 6 tokens, 3 distinct;
      //   bigrams x_y y_x x_y y_z z_z = 5 total, 4 distinct;
      //   trigrams x_y_x y_x_y x_y_z y_z_z = 4 total, 4 distinct
      ("a", "x y x y z z"),
      // grp b: a 2-token doc and a 1-token doc -> bigram from the
      //   first only, NO trigrams anywhere in the group
      ("b", "p q"),
      ("b", "r")).toDF("source", "text")
    val out = TextAnalysis.ngramDiversity(d, "text", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), if (r.isNullAt(3)) -1L
          else r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4))))
      .toMap
    assert(out("a") === ((6L, 3L * 1000000L / 6L, 4L * 1000000L / 5L,
      1000000L)))
    // grp b: 3 tokens all distinct; 1 bigram; trigram side NULL
    assert(out("b") === ((3L, 1000000L, 1000000L, -1L)))
  }

  test("linkGraph: hrefs fold to registered domains, self-links drop, " +
      "authority splits 1e6 by the referrer's out-degree") {
    val d = Seq(
      // a.com links to b.com and c.co.uk (outdeg 2)
      (1L, """x <a href="https://x.b.com/1">t</a> y
             <a href="http://c.co.uk/2">u</a>""",
        "https://www.a.com/home"),
      // b.com links to c.co.uk and ITSELF (self dropped, outdeg 1)
      (2L, """<a href="https://sub.c.co.uk/3">v</a>
             <a href="https://B.com/self">w</a>""",
        "https://b.com/page"),
      // d.org has no links at all
      (3L, "plain text, nothing here", "https://d.org/")
    ).toDF("doc_id", "text", "url")
    val out = graft.llm.UrlOps.linkGraph(d, "text", "url")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // b.com: one in-link from a.com (outdeg 2) -> authority 500000
    assert(out("b.com") === ((1L, 1L, 500000L)))
    // c.co.uk: from a.com (1e6/2) + b.com (1e6/1) = 1500000
    assert(out("c.co.uk") === ((2L, 2L, 1500000L)))
    assert(!out.contains("a.com") && !out.contains("d.org"))
  }

  test("anchorTexts: tags split into (target-domain, anchor) counts " +
      "with a top-k rank; anchors lowercased") {
    val d = Seq(
      (1L, """see <a href="https://x.b.com/1">Home Page</a> and
             <a href="https://y.b.com/2">home page</a>"""),
      (2L, """<a href="https://z.b.com/3">reviews</a>
             <a href="http://c.co.uk/4">news</a> no tag here"""),
      (3L, """<a href="https://b.com/5">reviews</a>"""))
      .toDF("doc_id", "text")
    val out = graft.llm.UrlOps.anchorTexts(d, "text", k = 1)
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // b.com: 'home page' x2 (case folded) beats 'reviews' x2? both
    // have 2 — tie broken by anchor asc -> 'home page' wins rank 1
    assert(out("b.com") === (("home page", 2L, 1L)))
    assert(out("c.co.uk") === (("news", 1L, 1L)))
  }

  test("crawlSchedule: per-host slots fill perSlot at a time in id " +
      "order; makespan is the host's last slot") {
    val d = Seq(
      (1L, "https://a.com/1"), (2L, "https://a.com/2"),
      (3L, "https://a.com/3"), (4L, "https://b.org/1"),
      (5L, "https://A.com/4"))
      .toDF("doc_id", "url")
    val out = graft.llm.UrlOps.crawlSchedule(d, "url", "doc_id",
      perSlot = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // a.com (case-folded, 4 urls): slots 0,0,1,1; makespan 1
    assert(out(1L) === (("a.com", 0L, 1L)))
    assert(out(2L) === (("a.com", 0L, 1L)))
    assert(out(3L) === (("a.com", 1L, 1L)))
    assert(out(5L) === (("a.com", 1L, 1L)))
    assert(out(4L) === (("b.org", 0L, 0L)))
  }

  test("containmentPairs: a half-length excerpt is a near-subset — " +
      "containment clears the bar, Jaccard does not") {
    // 70% prefix: deep enough that the fixed minhash family lands a
    // band collision (verified deterministic for this fixture), short
    // enough that Jaccard stays under the 0.8 bar
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val excerpt = base.substring(0, (base.length * 7) / 10)
    val d = Seq((1L, base), (2L, excerpt),
      (3L, "a totally unrelated short document about other things"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(d, "text", "doc_id",
      minPpm = 800000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    // the excerpt pair must be caught (identical prefix shingles →
    // many shared minhash rows) and flagged near_subset
    val (c12, c21, j, ns) = out((1L, 2L))
    // containment of the EXCERPT in the base is ~1: id1=1 is the
    // base (larger set), so c21 (excerpt side) is the high one
    assert(c21 >= 800000L && j < 800000L && ns)
    assert(c12 < 800000L)
    assert(!out.contains((1L, 3L)) && !out.contains((2L, 3L)))
  }

  test("curriculumOrder: equal-count bands at the value grain; every " +
      "row of one quality value shares a band; bands ordered " +
      "high-quality-first") {
    // 4 quality classes of 5 docs each via token count (the quality
    // score is monotone in tokens below 100)
    val d = (0 until 20).map { i =>
      (i.toLong, (s"tok$i " * (5 + (i % 4) * 20)).trim)
    }.toDF("doc_id", "text")
    val out = TextAnalysis.curriculumOrder(d, "text", "doc_id",
      nBands = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(out.length === 20)
    val byBand = out.groupBy(_._3)
    assert(byBand.keySet === Set(1L, 2L, 3L, 4L))
    assert(byBand.values.forall(_.length === 5))
    // band 1 = highest quality; quality never increases across bands
    val bandQ = byBand.map { case (b, rows) =>
      b -> rows.map(_._2).distinct }
    assert(bandQ.forall { case (_, qs) => qs.length === 1 })
    val ordered = (1L to 4L).map(b => bandQ(b).head)
    assert(ordered === ordered.sorted.reverse)
  }

  test("bitextMine: the ratio margin keeps the true mate and drops " +
      "the hub that raw-cosine thresholds would mine") {
    // 64-dim crafted directions: e1 ⟂ e2 ⟂ e3 via disjoint support.
    // q1 (side 0) has a true mate m1 = e1 (cos 1); h is a HUB at
    // cos .9 to q1 AND cos .9 to q2; q2 has no true mate. Margin
    // must keep (q1, m1) and refuse (q2, h) — the hub's own
    // neighborhood is as good as its best offer.
    def mix(a: Double, b: Double, c: Double): Seq[Double] =
      (0 until 64).map { i =>
        if (i < 22) a * 3.0 else if (i < 43) b * 3.0 else c * 3.0 }
    val s9 = math.sqrt(1 - 0.81)
    val rows = Seq(
      (0L, mix(1, 0, 0), 0),            // q1
      (1L, mix(1, 0, 0), 1),            // m1 = true mate of q1
      (3L, mix(0.9, s9, 0), 1),         // hub
      (2L, mix(0.81, 0.9 * s9, s9), 0)) // q2: cos .9 to hub
    val df = rows.toDF("vec_id", "embedding", "side")
    val out = Similarity.bitextMine(df, "vec_id", "embedding",
      "side", planes = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(5)))
    assert(out.length === 1)
    val (a, b, margin) = out(0)
    assert(a === 0L && b === 1L && margin >= 1050000L)
  }

  test("siteBoilerplate: a header shared by a domain's pages is " +
      "template; per-page repeats count once; singleton domains " +
      "never qualify") {
    val d = Seq(
      (1L, "a.com", "nav menu home about unique one"),
      (2L, "a.com", "nav menu home about nav menu home about other"),
      (3L, "a.com", "totally different page body here"),
      (4L, "b.org", "nav menu home about alone on this site"))
      .toDF("doc_id", "dom", "text")
    val out = Dedup.siteBoilerplate(d, "text", "doc_id", "dom",
      n = 4, minSharePpm = 500000L, minDocs = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // 'nav menu home about' covers 2/3 of a.com (doc 2's internal
    // repeat counted ONCE); b.org's single page can't qualify
    assert(out(("a.com", "nav menu home about")) ===
      ((2L, 3L, 666666L)))
    assert(out.keySet.forall(_._1 == "a.com"))
  }

  test("normDedupGain: case/punct/whitespace variants merge only " +
      "under normalized equality") {
    val d = Seq((1L, "Hello World"), (2L, "hello world!!"),
      (3L, "hello  world"), (4L, "unique text"))
      .toDF("doc_id", "text")
    val r = Dedup.normDedupGain(d, "text", "doc_id").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((4L, 4L, 2L, 2L, 2L)))
  }

  test("normalizeText: NFC merges composed/decomposed spellings, " +
      "strips controls, collapses whitespace, and is idempotent") {
    val d = docs(
      "Café  DU\tMONDE\r\n",   // decomposed é, tab/CR/LF, case
      "café du monde",          // composed — must normalize equal
      "abc",             // C0 controls stripped, no join
      "already clean")
    val out = TextAnalysis.normalizeText(d, "text")
      .select("doc_id", "norm_text", "norm_changed")
      .collect().sortBy(_.getLong(0)).map(r =>
        (r.getString(1), r.getBoolean(2)))
    assert(out(0)._1 === "café du monde")
    assert(out(1)._1 === "café du monde")
    assert(out(0)._2 && !out(1)._2)
    assert(out(2)._1 === "abc")
    assert(out(3) === (("already clean", false)))
    // idempotence: a second pass is the identity
    val once = TextAnalysis.normalizeText(d, "text")
      .select(col("norm_text").as("text"))
    val twice = TextAnalysis.normalizeText(once, "text")
      .filter(col("norm_changed"))
    assert(twice.isEmpty)
  }

  test("graft_nfkc folds compatibility forms NFC must preserve") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT graft_nfkc('ﬁle ＤＥ 2³'), " +
        "graft_nfc('ﬁle ＤＥ 2³'), " +
        "graft_nfc(CAST(NULL AS STRING))").collect()(0)
    assert(r.getString(0) === "file DE 23")   // ligature/fullwidth/superscript fold
    assert(r.getString(1) === "ﬁle ＤＥ 2³") // NFC is loss-less
    assert(r.isNullAt(2))
  }

  test("unigram Viterbi: hand-computed segmentation, greedy witness, " +
      "<long> collapse, and unk accounting") {
    import graft.llm.{UnigramViterbi, UnigramVocab}
    // vocab with a deliberate cap hole: 'ab','cde','fg','abcd','ef'
    // known; 'efg','e','f','g' single floor
    val v = new UnigramVocab(Array("ab" -> 10L, "cde" -> 8L,
      "fg" -> 7L, "abcd" -> 20L, "ef" -> 5L, "a" -> 3L, "b" -> 3L,
      "c" -> 3L, "d" -> 3L, "e" -> 3L, "f" -> 3L, "g" -> 3L))
    def run(w: String) = UnigramViterbi.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(w), v, 4, 16)
    // 'abcdefg' 3-piece paths: ab|cde|fg = 25, abcd|ef|g = 28,
    // abcd|e|fg = 30 → viterbi picks the max-score minimal path;
    // greedy munches abcd → ef → g = 28 (same count, score left
    // behind — the viterbi_gain witness)
    val r = run("abcdefg")
    assert(r.getLong(1) === 3L)                   // n_pieces
    assert(r.getLong(0) === 30L)                  // max score among 3-piece
    assert(r.getUTF8String(3).toString === "abcd e fg")
    assert(r.getLong(4) === 3L && r.getLong(5) === 28L)
    // unk: 'abz' → ab|z, z unseen (score 0, unk 1); greedy identical
    val u = run("abz")
    assert(u.getLong(1) === 2L && u.getLong(2) === 1L &&
      u.getLong(0) === 10L && u.getUTF8String(3).toString === "ab z")
    // long collapse
    val l = run("x" * 17)
    assert(l.getLong(1) === 1L &&
      l.getUTF8String(3).toString === UnigramViterbi.LongPiece)
  }

  test("unigram Viterbi: piece-count optimal and score-maximal vs " +
      "brute force on random vocab/word draws") {
    import graft.llm.{UnigramViterbi, UnigramVocab}
    val rnd = new scala.util.Random(20260815L)
    val alphabet = "abcd"
    (1 to 200).foreach { _ =>
      val pieces = (1 to 8).map { _ =>
        val len = 2 + rnd.nextInt(3)
        (1 to len).map(_ => alphabet(rnd.nextInt(4))).mkString
      }.distinct
      val entries = pieces.map(p => p -> (1L + rnd.nextInt(50))) ++
        alphabet.map(c => c.toString -> (1L + rnd.nextInt(5)))
      val vm = entries.toMap
      val v = new UnigramVocab(entries.toArray)
      val w = (1 to (3 + rnd.nextInt(8)))
        .map(_ => alphabet(rnd.nextInt(4))).mkString
      // brute force: all segmentations with pieces <= 4 chars where
      // multi-char pieces must be known
      def segs(s: String): Seq[List[String]] =
        if (s.isEmpty) Seq(Nil)
        else (1 to math.min(4, s.length)).flatMap { k =>
          val p = s.take(k)
          if (k == 1 || vm.contains(p))
            segs(s.drop(k)).map(p :: _)
          else Nil
        }
      val all = segs(w)
      val minNp = all.map(_.length).min
      val bestScore = all.filter(_.length == minNp)
        .map(_.map(p => vm.getOrElse(p, 0L)).sum).max
      val r = UnigramViterbi.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(w), v, 4, 16)
      assert(r.getLong(1) === minNp.toLong, s"np for $w")
      assert(r.getLong(0) === bestScore, s"score for $w")
      // the reported segmentation re-scores to the reported numbers
      val seg = r.getUTF8String(3).toString.split(' ').toList
      assert(seg.mkString === w)
      assert(seg.map(p => vm.getOrElse(p, 0L)).sum === r.getLong(0))
      // invariants vs greedy
      assert(r.getLong(1) <= r.getLong(4))
      if (r.getLong(1) === r.getLong(4))
        assert(r.getLong(0) >= r.getLong(5))
    }
  }

  test("unigramFit: single-char floor survives the cap; counts and " +
      "ranks deterministic") {
    val d = docs("abab abab zq")
    val v = TextAnalysis.unigramFit(d, "text", vocabN = 2, maxPiece = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byPiece = v.map(x => x._1 -> x._2).toMap
    // substrings of 'abab' ×2 + 'zq': 'ab' count 4 tops the table
    assert(v.count(_._3 <= 2) === 2)
    assert(byPiece("ab") === 4L)
    // single chars kept beyond the cap
    assert(Set("a", "b", "z", "q").subsetOf(byPiece.keySet))
  }

  test("unigramEm: hand-computed lattice expectations, over-long " +
      "word excluded") {
    import graft.llm.{UnigramEm, UnigramEmVocab}
    import org.apache.spark.unsafe.types.UTF8String
    // vocab a:1 b:1 ab:2, total 4 -> p(a)=p(b)=0.25, p(ab)=0.5
    // word 'ab': alphaL = 0.25*0.25 + 0.5 = 0.5625
    // E[a] = E[b] = 0.0625/0.5625 -> 111111 micro (floor)
    // E[ab] = 0.5/0.5625 -> 888888 micro
    val v = new UnigramEmVocab(
      Array(("a", 1L), ("b", 1L), ("ab", 2L)), 4L)
    val out = UnigramEm.compute(UTF8String.fromString("ab"), 1L, v,
      maxPiece = 4, maxWordLen = 16)
    val es = (0 until out.numElements()).map { i =>
      val r = out.getStruct(i, 2)
      r.getUTF8String(0).toString -> r.getLong(1)
    }.toMap
    assert(es === Map("a" -> 111111L, "b" -> 111111L,
      "ab" -> 888888L))
    // expectations scale linearly with the corpus count
    val out9 = UnigramEm.compute(UTF8String.fromString("ab"), 9L, v,
      maxPiece = 4, maxWordLen = 16)
    assert(out9.getStruct(0, 2).getLong(1) === 999999L ||
      out9.getStruct(0, 2).getLong(1) === 1000000L)
    // over-long word contributes nothing
    val long = UnigramEm.compute(
      UTF8String.fromString("a" * 17), 5L, v, 4, 16)
    assert(long.numElements() === 0)
  }

  test("unigramEmFit: EM beats the frequency fit's corpus " +
      "likelihood; prune keeps single chars; smoothing floors at 1") {
    // corpus where frequency-fit over-credits substrings: 'abab'
    // repeats, so 'ab' should carry the mass and the overlapping
    // 'ba'/'aba' substrings should collapse under EM
    val d = docs(
      (Seq.fill(30)("abab") ++ Seq.fill(10)("abc") ++
        Seq.fill(5)("ddd")).mkString(" "))
    val freq = TextAnalysis.unigramFit(d, "text", vocabN = 8)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // keepPpm = 1e6 keeps vocabN pieces per round: EM demotes the
    // parasitic overlap substring 'ba' (it carries ~no segmentation
    // mass once 'ab'/'abab' own the lattice) below the keep line —
    // exactly the redistribution the frequency fit cannot do
    val em = TextAnalysis.unigramEmFit(d, "text", vocabN = 8,
      iters = 2, keepPpm = 1000000L)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(em.map(_._1).toSet.subsetOf(freq.map(_._1).toSet))
    assert(!em.map(_._1).contains("ba") &&
      freq.map(_._1).contains("ba"))
    assert(em.forall(_._2 >= 1L)) // +1 smoothing floor
    // corpus log-likelihood under piece scores (forward algorithm)
    def ll(vocab: Map[String, Long]): Double = {
      val total = vocab.values.sum.toDouble
      def alphaL(w: String): Double = {
        val a = Array.fill(w.length + 1)(0.0); a(0) = 1.0
        for (i <- 1 to w.length; l <- 1 to math.min(4, i))
          a(i) += a(i - l) * vocab.get(w.substring(i - l, i))
            .map(_.toDouble / total).getOrElse(0.0)
        a(w.length)
      }
      (Seq.fill(30)("abab") ++ Seq.fill(10)("abc") ++
        Seq.fill(5)("ddd")).map(w => math.log(alphaL(w))).sum
    }
    val llFreq = ll(freq.toMap)
    val llEm = ll(em.toMap)
    assert(llEm > llFreq,
      s"EM must improve corpus likelihood: $llEm vs $llFreq")
    // with pruning: single chars always survive
    val pruned = TextAnalysis.unigramEmFit(d, "text", vocabN = 8,
      iters = 2, keepPpm = 500000L)
      .collect().map(_.getString(0)).toSet
    assert(Set("a", "b", "c", "d").subsetOf(pruned))
    assert(pruned.size < freq.length)
    // EM likelihood is (approximately) monotone in iterations: the
    // second round must not lose what the first gained (exact EM is
    // monotone; the micro-floor + smoothing perturbation stays far
    // below the improvement on this fixture)
    val em1 = TextAnalysis.unigramEmFit(d, "text", vocabN = 8,
      iters = 1, keepPpm = 1000000L)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(ll(em1.toMap) > llFreq)
    assert(llEm >= ll(em1.toMap) - 1e-9)
  }

  test("unigramEmFit byte grain: ASCII corpora are isomorphic to " +
      "the char grain under hex render; multibyte pieces learn " +
      "across codepoint boundaries over the byte-fallback floor") {
    import graft.llm.TextAnalysis
    val ascii = Seq((1L, "banana bandana"), (2L, "banana cabana"))
      .toDF("doc_id", "text")
    val ch = TextAnalysis.unigramEmFit(ascii, "text", vocabN = 16)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val by = TextAnalysis.unigramEmFit(ascii, "text", vocabN = 16,
        byteGrain = true)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def hx(s: String): String =
      s.map(c => f"${c.toInt}%02x").mkString
    // on ASCII the byte lattice IS the char lattice: same scores,
    // same ranks, pieces hex-rendered 1:1
    assert(by.toSeq === ch.map { case (p, s, r) => (hx(p), s, r) }.toSeq)
    // accented corpus: the 2-byte 'é' participates in learned
    // multi-byte pieces while its raw bytes stay in the single-char
    // floor — the SentencePiece byte-fallback production shape (an
    // unseen codepoint still tokenizes through its bytes)
    val acc = Seq((1L, "café café café")).toDF("doc_id", "text")
    val bv = TextAnalysis.unigramEmFit(acc, "text", vocabN = 8,
        byteGrain = true)
      .collect().map(_.getString(0)).toSet
    assert(bv.contains("c3") && bv.contains("a9"))
    assert(bv.exists(p => p.length > 2 && p.contains("c3")))
  }

  test("unigramEmFit seedN: the broadened candidate pool beats the " +
      "frequency-top seed's corpus likelihood at equal final vocabN") {
    // fixture where a mass-carrying piece sits OUTSIDE the frequency
    // top-8 but inside the wide pool: five 2-char words x5 flood the
    // count table with 5-count pairs/singles, while 'qqqq' x4 ranks
    // below them by raw frequency (behind q/qq/qqq and the 5-count
    // pieces) — yet as a whole-word piece it carries full
    // segmentation mass, so its round-1 EXPECTATION (~4e6) beats
    // every single char and survives the same keepN=8 cut the
    // frequency rank never let it reach
    val ws = Seq("ab", "cd", "ef", "gh", "ij")
      .flatMap(Seq.fill(5)(_)) ++ Seq.fill(4)("qqqq")
    val d = docs(ws.mkString(" "))
    def fit(seedN: Int): Map[String, Long] =
      TextAnalysis.unigramEmFit(d, "text", vocabN = 8, iters = 2,
        keepPpm = 1000000L, seedN = seedN)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val narrow = fit(0)
    val broad = fit(48)
    // equal final cut: same keepN schedule on both fits
    assert(!narrow.contains("qqqq"),
      "fixture broken: frequency top-8 must exclude qqqq")
    assert(broad.contains("qqqq"),
      "the wide pool must let EM surface the mass-carrying piece")
    def ll(vocab: Map[String, Long]): Double = {
      val total = vocab.values.sum.toDouble
      def alphaL(w: String): Double = {
        val a = Array.fill(w.length + 1)(0.0); a(0) = 1.0
        for (i <- 1 to w.length; l <- 1 to math.min(4, i))
          a(i) += a(i - l) * vocab.get(w.substring(i - l, i))
            .map(_.toDouble / total).getOrElse(0.0)
        a(w.length)
      }
      ws.map(w => math.log(alphaL(w))).sum
    }
    assert(ll(broad) > ll(narrow),
      s"broad seed must improve corpus LL: ${ll(broad)} vs " +
        s"${ll(narrow)}")
    // seedN below vocabN is a contract error, 0 is the legacy seed
    intercept[IllegalArgumentException] {
      TextAnalysis.unigramEmFit(d, "text", vocabN = 8, seedN = 4)
    }
  }

  test("supplementary codepoints: AC automaton and unigram DP index " +
      "by codepoint, not UTF-16 unit") {
    import graft.llm.{AcAutomaton, UnigramViterbi, UnigramVocab}
    import org.apache.spark.unsafe.types.UTF8String
    // U+1F600 is one codepoint, two UTF-16 units: a char-indexed
    // walk would misalign every match after it
    val emoji = new String(Character.toChars(0x1F600))
    val ac = new AcAutomaton(Seq("ab", emoji))
    val c = ac.countMatches(UTF8String.fromString(s"ab${emoji}ab$emoji"))
    assert(c.toSeq === Seq(2L, 2L))   // sorted: ab, emoji
    val v = new UnigramVocab(Array("ab" -> 5L, emoji -> 7L,
      "a" -> 1L, "b" -> 1L))
    val r = UnigramViterbi.compute(
      UTF8String.fromString(s"ab${emoji}ab"), v, 4, 16)
    assert(r.getLong(1) === 3L && r.getLong(0) === 17L)
    assert(r.getUTF8String(3).toString === s"ab $emoji ab")
    // length counts codepoints: 5-cp word fits a maxWordLen of 5
    val l = UnigramViterbi.compute(
      UTF8String.fromString(emoji * 5), v, 4, 5)
    assert(l.getLong(1) === 5L && l.getLong(2) === 0L)
  }

  test("normalizeText: idempotent on randomized unicode mess") {
    val rnd = new scala.util.Random(2026L)
    val pieces = Seq("Café", "CAFÉ", "ñ", "ñ",
      "x", " ", "\t", "\r\n", "", "  ", "Zöe", "z")
    val texts = (1 to 60).map { _ =>
      (1 to (2 + rnd.nextInt(12)))
        .map(_ => pieces(rnd.nextInt(pieces.size))).mkString
    }.filter(_.exists(c => !Character.isWhitespace(c) && c >= ' '))
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val once = TextAnalysis.normalizeText(d, "text")
      .select(col("doc_id"), col("norm_text").as("text"))
    val twice = TextAnalysis.normalizeText(once, "text")
      .filter(col("norm_changed"))
    assert(twice.isEmpty)
    // and every output is NFC-normalized with no controls/run-spaces
    val outs = once.collect().map(_.getString(1))
    outs.foreach { s =>
      assert(java.text.Normalizer.isNormalized(s,
        java.text.Normalizer.Form.NFC))
      assert(!s.exists(c => c < ' '))
      assert(!s.contains("  "))
    }
  }

  test("decodeEntities: named/decimal/hex forms, quote targets, and " +
      "the one-layer-per-pass double-encoding contract") {
    val d = docs(
      "a &amp; b &lt;i&gt; &quot;x&quot; &apos;y&apos; &#39;z&#39;",
      "&amp;lt; stays encoded once: &amp;amp;",
      "&#x3c;hex&#x3e; &#160;nb&#xa0;",
      "no entities at all",
      // double-encoding WITHIN the amp family: the single-scan
      // alternation resolves exactly one layer ('&amp;#38;' →
      // '&#38;'), where three sequential replaces used to cascade
      // two layers ('&amp;' → '&' re-read by the '&#38;' replace)
      "&amp;#38; and &amp;#x26; and &amp;amp;")
    val out = TextAnalysis.decodeEntities(d, "text")
      .select("doc_id", "dec_text", "n_entities")
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getLong(2)))
    assert(out(0)._1 === "a & b <i> \"x\" 'y' 'z'")
    assert(out(0)._2 === 9L) // amp lt gt quot×2 apos×2 #39×2
    // double-encoded: one layer resolves, result still encoded
    assert(out(1)._1 === "&lt; stays encoded once: &amp;")
    assert(out(1)._2 === 2L)
    assert(out(2)._1 === "<hex>  nb ")
    assert(out(2)._2 === 4L)
    assert(out(3) === (("no entities at all", 0L)))
    assert(out(4)._1 === "&#38; and &#x26; and &amp;")
    assert(out(4)._2 === 3L) // the three '&amp;' occurrences
  }

  test("AcAutomaton: nested/overlapping dictionary hits by hand and " +
      "vs brute force on random draws") {
    import graft.llm.AcAutomaton
    import org.apache.spark.unsafe.types.UTF8String
    val ac = new AcAutomaton(Seq("table", "able", "tab", "le",
      "value", "alu", "window", "dow"))
    // sorted order: able, alu, dow, le, tab, table, value, window
    assert(ac.terms.toSeq === Seq("able", "alu", "dow", "le", "tab",
      "table", "value", "window"))
    val c = ac.countMatches(UTF8String.fromString("table window"))
    assert(c.toSeq === Seq(1L, 0L, 1L, 1L, 1L, 1L, 0L, 1L))
    // 'lele': 'le' twice (overlapping same-term occurrences count)
    assert(ac.countMatches(UTF8String.fromString("lele")).toSeq ===
      Seq(0L, 0L, 0L, 2L, 0L, 0L, 0L, 0L))
    // property: AC == brute force for random strings/dictionaries
    val rnd = new scala.util.Random(15L)
    (1 to 100).foreach { _ =>
      val alpha = "abc"
      val terms = (1 to 5).map(_ => (1 to (1 + rnd.nextInt(3)))
        .map(_ => alpha(rnd.nextInt(3))).mkString).distinct
      val a = new AcAutomaton(terms)
      val s = (1 to (5 + rnd.nextInt(20)))
        .map(_ => alpha(rnd.nextInt(3))).mkString
      val brute = a.terms.map(t =>
        (0 to s.length - t.length)
          .count(p => s.regionMatches(p, t, 0, t.length)).toLong)
      assert(a.countMatches(UTF8String.fromString(s)).toSeq ===
        brute.toSeq, s"s=$s terms=${a.terms.mkString(",")}")
    }
  }

  test("multiMatch frame surface: totals, distinct, CSV witness") {
    val d = docs("the table by the window", "nothing here")
    val out = TextAnalysis.multiMatch(d, "text",
      Seq("table", "able", "tab", "le", "value", "alu", "window",
        "dow"))
      .select("doc_id", "total_hits", "distinct_terms", "counts_csv")
      .collect().sortBy(_.getLong(0))
    assert(out(0).getLong(1) === 6L)
    assert(out(0).getLong(2) === 6L)
    assert(out(0).getString(3) === "1,0,1,1,1,1,0,1")
    assert(out(1).getLong(1) === 0L)
    assert(out(1).getString(3) === "0,0,0,0,0,0,0,0")
  }

  test("blocklistGate: occurrence vs type accounting and the " +
      "two-factor gate verdict") {
    val d = docs(
      "bad bad bad word and more text here to pad this out",  // 3 hits, 1 type
      "bad and evil once each in a long enough document body", // 2 hits, 2 types
      "completely clean text with nothing at all blocked",
      "bad")                                                   // 1 hit, 100% density
    val out = TextAnalysis.blocklistGate(d, "text",
      Seq("bad", "evil"), maxPpm = 200000L, minTypes = 2)
      .select("doc_id", "blocked_hits", "blocked_types",
        "blocked_ppm", "blocked_gate")
      .collect().sortBy(_.getLong(0)).map(r =>
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(out(0) === ((3L, 1L, 250000L, true)))   // density trips
    assert(out(1) === ((2L, 2L, 181818L, true)))   // types trip
    assert(out(2) === ((0L, 0L, 0L, false)))
    assert(out(3) === ((1L, 1L, 1000000L, true)))
    intercept[IllegalArgumentException] {
      TextAnalysis.blocklistGate(d, "text", Seq("o'brien"))
    }
  }

  test("blocklistGate: non-ASCII terms fold under the ENGINE's case " +
      "mapping, not Java's full mapping") {
    // 'İ' (U+0130): Spark's lower() maps it to a single 'i' (simple
    // per-codepoint mapping); Java's String.toLowerCase(ROOT) emits
    // "i̇" (i + combining dot). A term folded under the Java
    // mapping would silently never match the engine-lowercased
    // token — the exact failure the round-17 fold fix closes.
    val d = docs(
      "visiting İSTANBUL was great",   // İSTANBUL
      "straße is a street")            // straße
    val out = TextAnalysis.blocklistGate(d, "text",
        Seq("İstanbul", "straße"), maxPpm = 1L,
        minTypes = 9)
      .select("doc_id", "blocked_hits").collect()
      .sortBy(_.getLong(0)).map(_.getLong(1))
    assert(out === Array(1L, 1L))
    // simple mapping on BOTH sides: an all-caps "STRASSE" document
    // does NOT match 'ß' (no full-mapping expansion) — consistent,
    // documented divergence
    val ss = TextAnalysis.blocklistGate(docs("STRASSE here"), "text",
        Seq("straße"))
      .select("blocked_hits").collect()(0).getLong(0)
    assert(ss === 0L)
  }

  test("rankQuantileSketch: partition-invariant, error-bounded, and " +
      "exact on sub-k groups") {
    val rows = (1 to 5000).map { i =>
      (if (i % 2 == 0) "a" else "b", i.toDouble, s"id$i")
    } ++ (1 to 9).map(i => ("tiny", i * 10.0, s"t$i"))
    val d = rows.toDF("g", "v", "id")
    val out = TextAnalysis.rankQuantileSketch(d, "g", "v", "id",
      k = 256, qs = Seq(50, 90))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(6)))
      .sortBy(x => (x._1, x._2))
    // partition invariance: same rows, radically different layout
    val out2 = TextAnalysis.rankQuantileSketch(
      d.repartition(17, col("id")), "g", "v", "id",
      k = 256, qs = Seq(50, 90))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(6)))
      .sortBy(x => (x._1, x._2))
    assert(out === out2)
    // error bound: 4 sigma + ceil-index slack, sigma = sqrt(q(1-q)/k)
    out.filter(x => x._1 != "tiny").foreach { case (_, q, _, ns, _, err) =>
      assert(ns === 256L)
      val p = q / 100.0
      val bound = 4.0 * math.sqrt(p * (1 - p) / 256) * 1e6 + 1e6 / 256
      assert(err <= bound, s"q=$q err=$err bound=$bound")
    }
    // sub-k group: sample IS the group, est = exact order statistic
    val tiny = out.filter(_._1 == "tiny")
    assert(tiny.map(_._4).forall(_ === 9L))
    assert(tiny.find(_._2 == 50L).get._5 === 50.0) // ceil(.5*9)=5th of 10..90
    assert(tiny.find(_._2 == 90L).get._5 === 90.0) // ceil(.9*9)=9th
  }

  test("shardPlan: every doc lands in exactly one shard, totals add " +
      "up, and dev_ppm signs around the mean") {
    val d = (0 until 200).map { i =>
      (i.toLong, s"document body number $i " * (1 + i % 13))
    }.toDF("doc_id", "text")
    val out = TextAnalysis.shardPlan(d, "text", "doc_id", nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.map(_._1).toSet.subsetOf((0L until 4L).toSet))
    assert(out.map(_._2).sum === 200L)
    val totalChars = d.select(sum(length(col("text")))).collect()(0)
      .getLong(0)
    assert(out.map(_._3).sum === totalChars)
    // signed deviations: at least one side of the mean each, and
    // magnitudes consistent with the totals
    val mean = totalChars / 4
    out.foreach { case (_, _, tc, _, dev) =>
      val expected =
        if (tc >= mean) (tc - mean) * 1000000L / mean
        else -((mean - tc) * 1000000L / mean)
      assert(dev === expected)
    }
  }

  test("fimSplit: spans reassemble the document, cuts are " +
      "thirds-bounded and partition-invariant, short docs pass raw") {
    val full = "the quick brown fox jumps over the lazy dog tonight"
    val df = docs(full, "short doc", "")
    val out = TextAnalysis.fimSplit(df, "text", "doc_id")
      .orderBy("doc_id")
      .select("fim_mode", "prefix", "middle", "suffix",
        "n_prefix", "n_middle", "n_suffix").collect()
    // non-raw: the three spans are a partition of the document
    assert(Set("psm", "spm").contains(out(0).getString(0)))
    assert(out(0).getString(1) + out(0).getString(2) +
      out(0).getString(3) === full)
    val third = full.length / 3
    // c1 in the first third, c2 in the last: prefix in [1, third],
    // suffix in [0, third - 1], middle never empty
    assert(out(0).getString(1).length >= 1 &&
      out(0).getString(1).length <= third)
    assert(out(0).getString(3).length <= third - 1)
    assert(out(0).getString(2).nonEmpty)
    assert((out(0).getLong(4), out(0).getLong(5), out(0).getLong(6))
      === ((out(0).getString(1).length.toLong,
        out(0).getString(2).length.toLong,
        out(0).getString(3).length.toLong)))
    // short / empty docs pass through untransformed as mode 'raw'
    assert((out(1).getString(0), out(1).getString(1),
      out(1).getString(2), out(1).getString(3))
      === (("raw", "short doc", "", "")))
    assert(out(2).getString(0) === "raw")
    // deterministic: identical under a different partitioning
    val again = TextAnalysis.fimSplit(df.repartition(7), "text",
        "doc_id").orderBy("doc_id")
      .select("fim_mode", "prefix", "middle", "suffix",
        "n_prefix", "n_middle", "n_suffix").collect()
    assert(again.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq)
    intercept[IllegalArgumentException] {
      TextAnalysis.fimSplit(df, "text", "doc_id", minChars = 2)
    }
  }

  test("blocklistScrub: whole-word masking, exact accounting, " +
      "idempotent, contract guards") {
    val df = docs(
      "Slow SLOW-cooker slows vectors vector filtered filter",
      "no blocked words here",
      "")
    val out = TextAnalysis.blocklistScrub(df, "text",
        Seq("slow", "filter", "vector")).orderBy("doc_id")
      .select("scrub_text", "n_masked", "masked_chars")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // whole-word only: "slows"/"vectors"/"filtered" survive;
    // case-insensitive; '-' is a word boundary so SLOW-cooker's
    // prefix masks
    assert(out(0) === ((
      "[TERM] [TERM]-cooker slows vectors [TERM] filtered [TERM]",
      4L, 20L)))
    assert(out(1) === (("no blocked words here", 0L, 0L)))
    assert(out(2) === (("", 0L, 0L)))
    // length identity: |scrub| = |orig| − masked_chars + n·|mask|
    val orig = "Slow SLOW-cooker slows vectors vector filtered filter"
    assert(out(0)._1.length === orig.length - 20 + 4 * "[TERM]".length)
    // idempotence: the mask token contains no blocked word, so a
    // second pass masks nothing
    val again = TextAnalysis.blocklistScrub(
        out.map(_._1).toSeq.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text"),
        "text", Seq("slow", "filter", "vector"))
      .orderBy("doc_id")
      .select("scrub_text", "n_masked").collect()
    assert(again.map(_.getLong(1)).sum === 0L)
    assert(again.map(r => r.getString(0)).toSeq === out.map(_._1).toSeq)
    // contract guards: non-ASCII / uppercase terms and unsafe masks
    // are rejected at plan time, not silently mismatched at run time
    intercept[IllegalArgumentException] {
      TextAnalysis.blocklistScrub(df, "text", Seq("Straße"))
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.blocklistScrub(df, "text", Seq("Slow"))
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.blocklistScrub(df, "text", Seq("slow"), mask = "$1")
    }
  }

  test("lrCalibration: all-integer contract, bin range, and the ECE " +
      "recomputes from the per-bin rows") {
    val df = docs(
      "the quick brown fox jumps over the lazy dog",
      "a b c d e f g h i j k l m n o p q r s t",
      "the the the the the and and and and and",
      "!!! ??? ,,, ... ;;; ::: @@@ ### $$$ %%%",
      "spark engines shuffle data across many executors in a stage",
      "one tiny doc")
    val out = TextAnalysis.lrCalibration(df, "text", "doc_id",
        dim = 8, bins = 4).orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // every doc has >= 1 token, so the frame is complete
    assert(out.map(_._2).sum === 6L)
    out.foreach { case (bin, n, _, phat, pos, gap, _) =>
      assert(bin >= 0L && bin < 4L)
      assert(phat >= 0L && phat <= 1000000L)
      assert(pos >= 0L && pos <= 1000000L)
      assert(gap === math.abs(phat - pos))
    }
    // the broadcast-cross ECE is exactly the doc-weighted mean gap
    val ece =
      out.map(r => r._6 * r._2).sum / out.map(_._2).sum
    assert(out.forall(_._7 === ece))
  }

  test("sketchOverlap: shortfall degeneracy collapses every estimate " +
      "to the exact value") {
    import spark.implicits._
    val a = (0 until 20).map(i => ("a", s"doc $i"))
    val b = (10 until 30).map(i => ("b", s"doc $i"))
    val df = (a ++ b).toDF("source", "text")
    // union (30 distinct) < k (64): the union sample IS the full
    // distinct union, so estimates must equal the exact columns
    val r = TextAnalysis.sketchOverlap(df, "source", "text", k = 64)
      .collect()
    assert(r.length === 1)
    val row = r(0)
    assert((row.getString(0), row.getString(1)) === (("a", "b")))
    assert((row.getLong(2), row.getLong(3)) === ((20L, 20L)))
    assert(row.getLong(4) === 30L)                 // k_eff = |union|
    assert(row.getLong(5) === 10L)                 // n_common exact
    assert(row.getLong(9) === 10L)                 // n_inter_exact
    assert(row.getLong(6) === row.getLong(10))     // jaccard == exact
    assert(row.getDouble(7) === 30.0)              // est_union exact
    assert(row.getDouble(8) === 10.0)              // est_inter exact
  }

  test("sketchOverlap: union sketch obeys the KMV mergeability " +
      "identity against the full distinct union") {
    import spark.implicits._
    val k = 8
    val a = (0 until 120).map(i => ("a", s"alpha text $i"))
    val b = (60 until 180).map(i => ("b", s"alpha text $i"))
    val df = (a ++ b).toDF("source", "text")
    val row = TextAnalysis.sketchOverlap(df, "source", "text", k = k)
      .collect()(0)
    // the operator only ever sees the two per-source bottom-k
    // samples; the estimate it produces must equal the one computed
    // from the FULL distinct union's k-th smallest hash — that
    // equality IS bottom-k(A∪B) == bottom-k(bottomK(A)∪bottomK(B))
    val kth = df
      .select(TextAnalysis.uniformHash60("text").as("h"))
      .distinct().orderBy("h").limit(k)
      .collect().map(_.getLong(0)).last
    val expected = BigDecimal((k - 1).toDouble * math.pow(2, 60) / kth)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getDouble(7) === expected)
    assert(row.getLong(4) === k.toLong)  // k_eff saturates at k
  }
}
