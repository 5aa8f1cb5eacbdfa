package graft

import graft.llm.{Dedup, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end corpus-curation job — the LLM-pipeline analogue of
  * [[ForecastJob]]: the composed flow a training-data pipeline runs
  * over a raw document corpus, each stage a distributed plan built
  * from the oracled operators in `graft.llm`:
  *
  *   1. exact dedup — one keeper per distinct text (min doc id);
  *   2. quality + language gates over the one-pass text stats;
  *   3. optional decontamination against an evaluation corpus
  *      (word n-gram overlap);
  *   4. context-window chunking of the surviving documents.
  *
  * Scale shape: stage 1 is one shuffle on the text, stage 2 is
  * narrow, stage 3 is one bounded collect of the eval corpus's
  * distinct n-grams ([[Dedup.evalGramSet]]) and a row-local probe of
  * each document's own grams ([[Dedup.withExactContaminationFlag]]),
  * stage 4 is a narrow explode. No stage compares documents pairwise;
  * only the eval n-gram set is collected.
  */
object CurationJob {

  /** Raw docs → curated chunk frame (doc_id, chunk_id, chunk,
    * chunk_len). `evalSet` enables decontamination.
    */
  def curate(docs: DataFrame, text: String, id: String,
      minQuality: Double = 0.5, lang: String = "en",
      evalSet: Option[DataFrame] = None,
      chunkSize: Int = 200, overlap: Int = 50): DataFrame = {
    val reps = docs.groupBy(col(text))
      .agg(min(col(id)).as(id))
      .select(col(id), col(text))
    val kept = TextAnalysis.withStats(reps, text)
      .filter(col("quality") >= minQuality && col("pred_lang") === lang)
      .select(col(id), col(text))
    val clean = evalSet.fold(kept)(ev =>
      Dedup.withExactContaminationFlag(kept, text,
          Dedup.evalGramSet(ev, text))
        .filter(!col("contaminated"))
        .select(col(id), col(text)))
    TextAnalysis.chunkDocuments(clean, text, id, chunkSize, overlap)
  }

  /** Per-gate attrition audit — the funnel a data-curation run
    * publishes: for each pipeline stage, how many documents and
    * tokens survive. Stages: raw → exact_dedup → quality_gate →
    * lang_gate → decontaminated; stage 5's survivors are the documents
    * [[curate]] keeps.
    *
    * ONE conditional aggregate over the exact-dedup frame: each text
    * group carries its duplicate count `__n`, so the raw stage is
    * `sum(__n)` docs and `sum(__n · tokens)` tokens — exact, since the
    * same text always has the same token count — and stages 2-5 are
    * predicate prefixes over that frame (true, quality, quality ∧
    * lang, and ∧ not contaminated). The contamination flag is the
    * row-local probe of [[curate]] (one bounded eval n-gram collect
    * per call), evaluated only on the rows both gates keep; it is per
    * row, not per id, so no join and no id assumption is involved.
    */
  def funnel(docs: DataFrame, text: String, id: String,
      minQuality: Double = 0.5, lang: String = "en",
      evalSet: Option[DataFrame] = None): DataFrame = {
    val reps = docs.groupBy(col(text))
      .agg(min(col(id)).as(id), count(lit(1)).as("__n"))
    val st = TextAnalysis.withStats(reps, text)
    val quality = col("quality") >= minQuality
    val kept = quality && col("pred_lang") === lang
    val (g, clean) = evalSet match {
      case Some(ev) =>
        (Dedup.withExactContaminationFlag(st, text,
            Dedup.evalGramSet(ev, text), gate = Some(kept)),
          kept && !col("contaminated"))
      case None => (st, kept)
    }
    stageCounts(
      g.withColumn("__nt", TextAnalysis.tokenCountExpr(text).cast("long")),
      Seq(
        ("raw", lit(true), col("__n")),
        ("exact_dedup", lit(true), lit(1L)),
        ("quality_gate", quality, lit(1L)),
        ("lang_gate", kept, lit(1L)),
        ("decontaminated", clean, lit(1L))))
  }

  /** A funnel's rows from ONE aggregate over `g`: stage i (1-based,
    * in order) counts `weight` docs and `weight · __nt` tokens over
    * the rows its predicate holds on, unfolded into (stage_ord, stage,
    * n_docs, n_tokens) rows — one pass over `g` however many stages.
    */
  private def stageCounts(g: DataFrame,
      stages: Seq[(String, Column, Column)]): DataFrame = {
    val indexed = stages.zipWithIndex
    val aggCols = indexed.flatMap { case ((_, p, w), i) => Seq(
      coalesce(sum(when(p, w)), lit(0L)).as(s"__d$i"),
      coalesce(sum(when(p, w * col("__nt"))), lit(0L)).as(s"__t$i")) }
    val rows = indexed.map { case ((name, _, _), i) =>
      s"named_struct('stage_ord', ${i + 1}L, 'stage', '$name', " +
        s"'n_docs', __d$i, 'n_tokens', __t$i)" }
    g.agg(aggCols.head, aggCols.tail: _*)
      .select(explode(expr(rows.mkString("array(", ", ", ")"))).as("__s"))
      .select(col("__s.stage_ord").as("stage_ord"),
        col("__s.stage").as("stage"),
        col("__s.n_docs").as("n_docs"),
        col("__s.n_tokens").as("n_tokens"))
  }

  /** Arithmetic-packed (doc, chunk) composite id. The packing is only
    * injective while 0 <= id < 2^63/1e6 and chunk_id < 1e6 —
    * out-of-range rows would silently collide with (or, under ANSI,
    * overflow into) neighboring doc ids and corrupt every downstream
    * split/shard/offset derivation, so they fail loud instead.
    */
  private[graft] def packedChunkId(id: String) =
    expr(
      s"""CASE WHEN $id > 9223372036853L OR $id < 0
                 OR chunk_id >= 1000000L
           THEN CAST(raise_error(concat(
                  'chunk id packing out of range: doc ', $id,
                  ' chunk ', chunk_id)) AS BIGINT)
           ELSE $id * 1000000L + chunk_id END""")

  /** Corpus release-readiness gate — the composed verdict a dataset
    * RELEASE runs, chaining the four individually-oracled compliance
    * gates into ONE declarative plan (the [[funnel]] discipline
    * applied to release readiness): per document,
    *
    *   - license: [[TextAnalysis.licenseScan]]'s Aho–Corasick marker
    *     verdict and its `copyleft_gate` ("needs legal review");
    *   - PII: [[TextAnalysis.piiCountsExpr]] regex counts and
    *     `pii_gate` (any email/IP/phone hit — a release ships the
    *     REDACTED text or not at all);
    *   - contamination: word-8-gram overlap against the evaluation
    *     corpus (`contaminated`, [[Dedup.withExactContaminationFlag]]
    *     per row, the eval n-grams collected once under a bound);
    *   - metadata privacy: [[TextAnalysis.kAnonymize]] over the
    *     document's quasi-identifier attributes (`is_anonymous` — a
    *     doc whose published metadata tuple cannot reach k even at
    *     the all-'*' level must not ship).
    *
    * `released` is the conjunction. Emits one row per document:
    * (id, license, copyleft_gate, n_email, n_ip, n_phone, pii_gate,
    * contaminated, is_anonymous, released).
    *
    * Ids must be unique: the PII frame raises on a duplicate id.
    *
    * Scale shape: the license, PII and contamination gates are
    * row-local scans (the last probes a bounded, collected set
    * of eval n-gram hashes); k-anonymity is the bounded level ladder;
    * the verdict join is equi-joins on the id key (one shuffle each,
    * or zero with a bucketed id layout). Nothing pairwise.
    */
  def releaseGate(docs: DataFrame, text: String, id: String,
      markers: Seq[(String, String)],
      copyleft: Set[String] = Set("agpl", "gpl"),
      evalSet: Option[DataFrame] = None,
      quasi: Seq[String] = Nil, k: Int = 10): DataFrame = {
    val lic = TextAnalysis.licenseScan(docs, text, id, markers,
        copyleft)
      .select(col(id), col("license"), col("copyleft_gate"))
    val piiCols = TextAnalysis.piiCountsExpr(text)
    // one row per id, loudly (the lDiversity duplicate-id guard): a
    // doubled doc id would multiply 2^4 through the four id-keyed
    // verdict joins and silently inflate every funnel count — ids
    // are unique by contract, so the PII frame (which scans every
    // doc anyway) enforces it. The guard folds into PII_GATE — the
    // column every downstream path genuinely consumes (`released`
    // conjoins it; every releaseFunnel stage predicate references
    // it), so Catalyst pruning cannot drop the raise (round-20
    // second self-review: a guard on n_email was dead code in the
    // funnel path, which never reads the count columns)
    val pii = TextAnalysis
      .withPiiGate(docs.select(col(id), col(text)), text)
      .groupBy(col(id))
      .agg(count(lit(1)).as("__rc"),
        (piiCols.map { case (n, _) => max(col(n)).as(n) } :+
          max(col("pii_gate")).as("__pg")): _*)
      .select(col(id) +: (piiCols.map { case (n, _) => col(n) } :+
        expr(
          s"""CASE WHEN __rc > 1L THEN raise_error(concat(
             |  'releaseGate: duplicate id ', CAST($id AS STRING),
             |  ' -- ids must be unique (run exact dedup upstream)'))
             |ELSE __pg END""".stripMargin).as("pii_gate")): _*)
    val clean = evalSet match {
      case Some(ev) =>
        Dedup.withExactContaminationFlag(
            docs.select(col(id), col(text)), text,
            Dedup.evalGramSet(ev, text))
          .select(col(id),
            coalesce(col("contaminated"), lit(false)).as("contaminated"))
      case None =>
        docs.select(col(id), lit(false).as("contaminated"))
    }
    val anon =
      if (quasi.nonEmpty)
        TextAnalysis.kAnonymize(docs, id, quasi, k)
          .select(col(id), col("is_anonymous"))
      else docs.select(col(id), lit(true).as("is_anonymous"))
    lic.join(pii, Seq(id)).join(clean, Seq(id)).join(anon, Seq(id))
      .withColumn("released",
        !col("copyleft_gate") && !col("pii_gate") &&
          !col("contaminated") && col("is_anonymous"))
  }

  /** Per-gate attrition over [[releaseGate]]'s verdicts — the release
    * audit's funnel report: docs and tokens surviving raw →
    * license_ok → pii_clean → decontaminated → anonymous, the gates
    * applied in that order; stage 5's survivors are exactly the
    * `released = true` rows (spec-pinned). Same one-aggregate shape
    * as [[funnel]].
    */
  def releaseFunnel(docs: DataFrame, text: String, id: String,
      markers: Seq[(String, String)],
      copyleft: Set[String] = Set("agpl", "gpl"),
      evalSet: Option[DataFrame] = None,
      quasi: Seq[String] = Nil, k: Int = 10): DataFrame = {
    val g = releaseGate(docs, text, id, markers, copyleft, evalSet,
        quasi, k)
      .join(docs.select(col(id),
        TextAnalysis.tokenCountExpr(text).cast("long").as("__nt")),
        Seq(id))
    // stages 2-5 are predicate prefixes over g's own boolean columns:
    // one aggregate, so the gate DAG (AC scan, PII scan, n-gram probe,
    // ladder) runs once, not once per stage
    val one = lit(1L)
    stageCounts(g, Seq(
      ("raw", lit(true), one),
      ("license_ok", !col("copyleft_gate"), one),
      ("pii_clean", !col("copyleft_gate") && !col("pii_gate"), one),
      ("decontaminated", !col("copyleft_gate") && !col("pii_gate") &&
        !col("contaminated"), one),
      ("anonymous", !col("copyleft_gate") && !col("pii_gate") &&
        !col("contaminated") && col("is_anonymous"), one)))
  }

  /** Raw docs → TRAINING-READY sequences: [[curate]], then a
    * deterministic doc-level hash split (a document's chunks never
    * straddle train/val — the leakage rule), then sequence-packing of
    * the train chunk stream into `seqLen`-token sequences across
    * `nShards` hash shards. Output: one row per train chunk with its
    * shard, stream offset, and first/last sequence index.
    *
    * This is the whole data-prep path a pretraining run consumes,
    * composed purely from the individually-oracled operators —
    * nothing here is new machinery, which is the point: stages stay
    * independently testable and the composition stays one declarative
    * plan (Catalyst sees through the whole chain; no materialization
    * between stages unless the caller checkpoints).
    */
  def prepare(docs: DataFrame, evalSet: Option[DataFrame],
      text: String, id: String,
      trainPerMille: Int = 960, valPerMille: Int = 20,
      splitSeed: Long = 7L, seqLen: Int = 256, nShards: Int = 4,
      packSeed: Long = 0L): DataFrame = {
    val chunks = curate(docs, text, id, evalSet = evalSet)
    // doc-level split (the id column hashes the DOC id, so every
    // chunk of a doc lands in the same split)
    val train = TextAnalysis
      .hashSplit(chunks, id, splitSeed, trainPerMille, valPerMille)
      .filter(col("split") === "train")
      // composite chunk id: unique, and ordered = (doc, chunk) order
      .withColumn("cid", packedChunkId(id))
    TextAnalysis.packSequences(train, "chunk", "cid", seqLen,
        nShards, packSeed)
      .select(
        // integer DIV, not floor(double /): cid can exceed 2^53,
        // where double division silently rounds the doc id
        expr("cid DIV 1000000").as(id),
        pmod(col("cid"), lit(1000000L)).cast("long").as("chunk_id"),
        col("n_tokens"), col("shard"), col("tok_offset"),
        col("pack_first"), col("pack_last"))
  }
}
