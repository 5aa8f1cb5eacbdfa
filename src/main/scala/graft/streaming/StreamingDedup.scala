package graft.streaming

import graft.llm.{Dedup, PolyHashColumns, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming exact dedup by CONTENT hash with watermark-bounded state
  * — the shape an unbounded document firehose needs.
  *
  * [[StreamingResample.dedupFirstSeen]]'s per-key state grows with
  * the all-time distinct-key count; on a corpus stream that is
  * unbounded. `dropDuplicatesWithinWatermark` instead evicts state
  * once the event-time watermark passes: state is one 16-byte md5 per
  * document inside the horizon — never the text, never the whole
  * history. Within the horizon the semantics are exactly the batch
  * `Dedup.exactDedupByHash` keeper rule (first arrival wins).
  */
object StreamingDedup {

  /** Emit only the first occurrence of each text content within the
    * watermark horizon. Falls back to plain `dropDuplicates` for a
    * batch frame (useful for spec parity checks).
    */
  def dedupByContent(docs: DataFrame, text: String, ts: String,
      watermarkDelay: String = "24 hours"): DataFrame = {
    val hashed = docs.withColumn("__md5", md5(col(text).cast("binary")))
    val out =
      if (docs.isStreaming)
        hashed.withWatermark(ts, watermarkDelay)
          .dropDuplicatesWithinWatermark("__md5")
      else hashed.dropDuplicates("__md5")
    out.drop("__md5")
  }

  /** Stateless streaming MinHash stage: per-document signature AND
    * banded LSH bucket keys as pure per-row projections — the batch
    * flow's native codegen'd expressions (PolyHashShingles,
    * MinHashSigExpr) are deterministic row-local functions, so they
    * are streaming-safe in any output mode with no state and no
    * watermark. Composed after [[dedupByContent]] this is the
    * streaming front half of `Dedup.dedupNearDup`: incremental
    * (id, band, band_key) rows land in a sink partitioned on
    * (band, band_key), where candidate judging runs as a periodic
    * batch job over closed partitions (pair emission is inherently
    * cross-row; keeping it out of the stream keeps state zero).
    * Emits one row per (doc, band).
    */
  def minhashBuckets(docs: DataFrame, text: String,
      id: String): DataFrame =
    Dedup.lshBuckets(Dedup.minhashSignatures(docs, text, id), id)

  /** [[SpanGramRow]] plus the event time that drives state TTL. */
  case class SpanGramEvent(doc_id: Long, win_start: Long, gram: Long,
      ts: java.sql.Timestamp)

  /** [[spanScrubDecisions]] with BOUNDED state: the gram's seen-marker
    * is evicted by an EVENT-TIME timeout once the watermark passes
    * `ttl` beyond the gram's newest occurrence. Semantics become
    * "first occurrence WITHIN THE DEDUP HORIZON wins" — a gram
    * recurring after `ttl` of event-time silence is canonical again,
    * exactly the trade [[dedupByContent]] makes with
    * `dropDuplicatesWithinWatermark`. State is one boolean + one
    * timeout timestamp per gram ACTIVE inside the horizon — bounded
    * by horizon churn, not all-time distinct grams, which is what an
    * unbounded firehose deployment needs.
    */
  def spanScrubDecisionsTtl(grams: DataFrame, tsCol: String,
      watermarkDelay: String, ttlDays: Int): Dataset[SpanGramDecision] = {
    val spark = grams.sparkSession
    import spark.implicits._
    val ttlMs = ttlDays.toLong * 86400000L
    grams
      .selectExpr("CAST(doc_id AS LONG) AS doc_id",
        "CAST(win_start AS LONG) AS win_start", "gram",
        s"CAST($tsCol AS TIMESTAMP) AS ts")
      // watermark AFTER the projection — a select that rewrites the
      // event-time column would silently drop the watermark tag
      .withWatermark("ts", watermarkDelay)
      .as[SpanGramEvent]
      .groupByKey(_.gram)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout)(
        (gram: Long, rows: Iterator[SpanGramEvent],
            state: GroupState[Boolean]) => {
          if (state.hasTimedOut) {
            // horizon passed with no new occurrence: forget the gram
            state.remove()
            Iterator.empty
          } else {
            val events = rows.toIndexedSeq
            val seen = state.exists && state.get
            state.update(true)
            // TTL from the NEWEST occurrence: the horizon slides
            state.setTimeoutTimestamp(
              events.map(_.ts.getTime).max + ttlMs)
            val sorted = events.sortBy(r => (r.doc_id, r.win_start))
            sorted.iterator.zipWithIndex.map { case (r, i) =>
              SpanGramDecision(r.doc_id, r.win_start, gram,
                keep = !seen && i == 0)
            }
          }
        })
  }

  /** One span-gram window routed through the stateful keep/drop
    * decision. */
  case class SpanGramRow(doc_id: Long, win_start: Long, gram: Long)

  /** [[SpanGramRow]] plus the decision: keep=true iff this window is
    * its gram's canonical (first-seen) occurrence. */
  case class SpanGramDecision(doc_id: Long, win_start: Long,
      gram: Long, keep: Boolean)

  /** The STATEFUL back half of streaming span-level dedup: "first
    * occurrence wins across micro-batches". Consumes the
    * [[graft.llm.Dedup.spanGrams]] stream and decides, per window,
    * keep (first time this gram is seen — its canonical occurrence)
    * or drop (gram already seen in this or any earlier micro-batch).
    * Within one micro-batch the tiebreak is the batch rule:
    * lexicographically first (doc_id, win_start). When documents
    * arrive in doc-id order the decisions equal the batch
    * [[graft.llm.Dedup.nonCanonicalWindows]] exactly (spec-pinned),
    * and feeding the drop set to
    * [[graft.llm.Dedup.scrubApply]] reproduces `scrubSpans`
    * bit-for-bit.
    *
    * State is ONE boolean per distinct gram ever seen —
    * `flatMapGroupsWithState` keyed on the 64-bit gram, no timeout
    * here because the batch-parity contract is all-time. An unbounded
    * deployment bounds it the usual way (event-time timeout evicting
    * grams idle past the dedup horizon — the same trade
    * [[dedupByContent]] makes with its watermark).
    */
  def spanScrubDecisions(grams: DataFrame)
      : Dataset[SpanGramDecision] = {
    import grams.sparkSession.implicits._
    firstOccurrence(grams
      .selectExpr("CAST(doc_id AS LONG) AS doc_id",
        "CAST(win_start AS LONG) AS win_start", "gram")
      .as[SpanGramRow])(_.gram, r => (r.doc_id, r.win_start))(
      (r, keep) => SpanGramDecision(r.doc_id, r.win_start, r.gram, keep))
  }

  /** First occurrence wins per key across micro-batches: a row's
    * decision is true iff its key was never seen in an earlier
    * micro-batch and the row sorts first under `order` in this one.
    * State is one boolean per distinct key, with no timeout.
    */
  private def firstOccurrence[R: Encoder, K: Encoder, O: Ordering,
      D: Encoder](rows: Dataset[R])(key: R => K, order: R => O)(
      decide: (R, Boolean) => D): Dataset[D] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout)(
        (_: K, rs: Iterator[R], state: GroupState[Boolean]) => {
          val seen = state.exists && state.get
          state.update(true)
          rs.toIndexedSeq.sortBy(order).iterator.zipWithIndex
            .map { case (r, i) => decide(r, !seen && i == 0) }
        })
  }

  /** One (doc, band) LSH bucket row through the stateful candidate
    * stage. */
  case class BandRow(doc_id: Long, band: Int, band_key: Long)

  /** A streamed near-dup candidate pair (rep = the bucket's first
    * arrival). */
  case class CandidatePair(band: Long, id1: Long, id2: Long)

  /** The STATEFUL back half of streaming MinHash near-dup: incremental
    * candidate-pair emission. State per (band, band_key) bucket is the
    * bucket's REPRESENTATIVE — the first document that ever landed in
    * it (min doc id within the arrival micro-batch, first-arrival
    * across batches). Every later arrival emits ONE candidate pair
    * (rep, newcomer). That is the STAR of each bucket rather than the
    * batch [[graft.llm.Dedup.candidatePairs]] CLIQUE: connectivity —
    * what transitive-closure clustering consumes — is identical, at
    * O(n) pairs per bucket instead of O(n²), and state is ONE id per
    * bucket ever seen regardless of bucket population. Exactly the
    * trade a firehose needs: the full clique of a hot bucket is
    * unbounded, its star is linear.
    *
    * Delivery note: output is AT-LEAST-ONCE per pair — state holds
    * only the representative, so a document re-delivered to a bucket
    * in a later micro-batch re-emits its (rep, doc) pair. Downstream
    * connected-components consumers are idempotent on duplicate
    * edges, which is why the state stays one id per bucket instead
    * of the unbounded seen-set exactly-once would need.
    */
  def minhashCandidateStage(buckets: DataFrame)
      : Dataset[CandidatePair] = {
    val spark = buckets.sparkSession
    import spark.implicits._
    buckets
      .selectExpr("CAST(doc_id AS LONG) AS doc_id",
        "CAST(band AS INT) AS band", "CAST(band_key AS LONG) AS band_key")
      .as[BandRow]
      .groupByKey(r => (r.band, r.band_key))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout)(
        (key: (Int, Long), rows: Iterator[BandRow],
            state: GroupState[Long]) => {
          val sorted = rows.map(_.doc_id).toIndexedSeq.sorted
          val rep = if (state.exists) state.get
            else { state.update(sorted.head); sorted.head }
          sorted.iterator.filter(_ != rep)
            .map(d => CandidatePair(key._1.toLong,
              math.min(rep, d), math.max(rep, d)))
        })
  }

  /** Streaming dedup against a STANDING batch corpus: each microbatch
    * anti-joins the (static, broadcastable) corpus fingerprint set —
    * the live-ingest face of [[graft.llm.Dedup.incrementalDedup]].
    * Stream-static joins are stateless on the stream side (no
    * watermark, any output mode): Spark re-plans the static side per
    * microbatch, so the corpus frame may even be a view over data
    * that grows between batches. Cross-batch self-duplicates are a
    * separate concern — compose with [[dedupByContent]] upstream for
    * watermark-bounded within-stream state.
    */
  def dedupVsCorpus(stream: DataFrame, corpus: DataFrame,
      text: String): DataFrame =
    stream.withColumn("__fp", TextAnalysis.fingerprintExpr(text))
      .join(corpus.select(TextAnalysis.fingerprintExpr(text)
        .as("__fp")).distinct(), Seq("__fp"), "left_anti")
      .drop("__fp")

  /** One content-defined chunk routed through the stateful
    * first-occurrence decision. */
  case class CdcChunkRow(doc_id: Long, chunk_id: Long,
      chunk_hash: String, chunk_len: Long)

  /** [[CdcChunkRow]] plus the decision: keep=true iff this occurrence
    * owns its chunk content (first seen). */
  case class CdcChunkDecision(doc_id: Long, chunk_id: Long,
      chunk_hash: String, chunk_len: Long, keep: Boolean)

  /** Stateless streaming front half of CHUNK-GRAIN dedup: content-
    * defined chunks ([[TextAnalysis.cdcChunks]] — the cut rule is a
    * row-local projection, no window/state, streaming-safe in any
    * output mode) hashed to their 16-byte content key. CDC is what
    * makes this stage worth streaming: an edited re-crawl of a page
    * re-chunks to mostly-identical content keys, so the stateful
    * back half drops the unchanged bulk instead of re-admitting the
    * whole document.
    */
  def cdcChunkStage(docs: DataFrame, text: String, id: String,
      divisor: Int = 64): DataFrame =
    TextAnalysis.cdcChunks(docs, text, id, divisor)
      .withColumn("chunk_hash", md5(col("chunk").cast("binary")))
      .select(col(id).cast("long").as("doc_id"),
        col("chunk_id"), col("chunk_hash"), col("chunk_len"))

  /** The STATEFUL back half of streaming chunk-grain dedup: first
    * occurrence owns each chunk content across micro-batches, later
    * arrivals are duplicates — the streaming form of
    * [[TextAnalysis.cdcDedupStats]]'s row_number rule. State is ONE
    * boolean per distinct chunk hash (same contract and bounding
    * trade as [[spanScrubDecisions]]: batch-parity here is all-time,
    * an unbounded deployment evicts idle keys by event-time
    * timeout). Within a micro-batch the tiebreak is the batch rule —
    * lexicographically first (doc_id, chunk_id) — so when documents
    * arrive in id order the keep set equals the batch first-
    * occurrence set exactly (spec-pinned).
    */
  def cdcChunkDecisions(chunks: DataFrame)
      : Dataset[CdcChunkDecision] = {
    import chunks.sparkSession.implicits._
    firstOccurrence(chunks.as[CdcChunkRow])(
      _.chunk_hash, r => (r.doc_id, r.chunk_id))(
      (r, keep) => CdcChunkDecision(r.doc_id, r.chunk_id, r.chunk_hash,
        r.chunk_len, keep))
  }

  /** Stateless streaming curation gate: Gopher-style rule booleans +
    * PII redaction in ONE per-row projection — every expression is a
    * deterministic row-local function (native class-stats pass +
    * three regex rewrites), so the stage is streaming-safe in any
    * output mode with zero state and no watermark. This is the
    * ingest-edge filter a live corpus feed runs BEFORE anything
    * stateful: rejected docs never reach the dedup stores, and
    * redaction happens before the text is ever persisted. Identical
    * semantics on a batch frame (spec-pinned parity).
    */
  def curationGate(docs: DataFrame, text: String,
      minTokens: Int = 40, maxTokens: Int = 1000): DataFrame =
    TextAnalysis.gopherRules(docs, text, minTokens, maxTokens)
      .withColumn("redacted", TextAnalysis.redactPiiExpr(text))
      .filter(col("keep"))
      .drop(text)

  /** Streaming TOKENIZER stage: apply an already-fitted BPE merge
    * table ([[TextAnalysis.bpeFitMerges]], fitted offline on a
    * reference corpus) to a live document feed, appending
    * `bpe_tokens` + `n_bpe_tokens` — the tokenizer-grain accounting
    * the batched mixture/budget family consumes. Entirely row-local
    * and JOIN-FREE: the merge rules ride as a plan literal and the
    * per-word fold runs in-plan per row (a stateless stream cannot
    * shuffle-dedupe distinct words, so unlike the batch apply each
    * occurrence folds its own word — the VALUES are identical), so
    * the stage is streaming-safe in any output mode with zero state
    * and no watermark. Docs with zero content tokens ride through
    * with n_bpe_tokens = 0 (the batch apply DROPS them — a count hook
    * must not drop rows).
    */
  def tokenizerStage(docs: DataFrame, text: String,
      merges: Seq[TextAnalysis.BpeMerge]): DataFrame =
    tokenizerStageImpl(docs, text, merges, byteGrain = false)

  /** Byte-grain twin of [[tokenizerStage]]: apply an already-fitted
    * BYTE-level merge table ([[TextAnalysis.bpeFitMerges]] with
    * `byteGrain = true`) to a live feed — the same row-local
    * join-free fold over two-hex-digit UTF-8 byte seed symbols
    * ([[TextAnalysis.bpeSeed]]), so live documents in scripts the fit
    * corpus never saw still tokenize (byte fallback: unseen bytes
    * surface as one-byte tokens instead of killing the stream with
    * UNKs). Zero state, any output mode; token sequences are
    * bit-identical to the batch [[TextAnalysis.bpeApplyWithMerges]]
    * on the same rows (spec-pinned).
    */
  def tokenizerBytesStage(docs: DataFrame, text: String,
      merges: Seq[TextAnalysis.BpeMerge]): DataFrame =
    tokenizerStageImpl(docs, text, merges, byteGrain = true)

  private def tokenizerStageImpl(docs: DataFrame, text: String,
      merges: Seq[TextAnalysis.BpeMerge], byteGrain: Boolean)
      : DataFrame = {
    val clash = Seq("__bpe_ms", "__bpe_words", "bpe_tokens",
      "n_bpe_tokens").filter(docs.columns.contains)
    require(clash.isEmpty,
      s"tokenizerStage: input already contains column(s) " +
        s"${clash.mkString(", ")}")
    docs
      .withColumn("__bpe_ms", typedlit(merges))
      .withColumn("__bpe_words", expr(
        s"filter(split(lower($text), ' '), t -> t != '')"))
      .withColumn("bpe_tokens", flatten(transform(col("__bpe_words"),
        w => filter(split(PolyHashColumns.bpeFold(
          TextAnalysis.bpeSeed(w, byteGrain), col("__bpe_ms")), " "),
          _ =!= ""))))
      .withColumn("n_bpe_tokens",
        size(col("bpe_tokens")).cast("long"))
      .drop("__bpe_ms", "__bpe_words")
  }

  /** Streaming MIXTURE ACCOUNTING: live per-(event-time window,
    * source) token totals over [[tokenizerStage]]'s counts — the
    * input the temperature/mixture reweighting and token-budget
    * operators consume, maintained as the corpus feed arrives. One
    * watermarked windowed aggregation over the stateless tokenizer
    * stage: state is ONE running sum per (window, source) inside the
    * watermark horizon (sources × windows rows — bounded, tiny),
    * evicted as event time passes. Batch parity: the same
    * `window()`/`sum` on a static frame (spec-pinned).
    */
  def mixAccountingStage(docs: DataFrame, text: String, ts: String,
      source: String, merges: Seq[TextAnalysis.BpeMerge],
      windowLen: String = "7 days",
      watermark: String = "10 days"): DataFrame =
    tokenizerStage(docs, text, merges)
      .withWatermark(ts, watermark)
      .groupBy(window(col(ts), windowLen).as("win"), col(source))
      .agg(sum(col("n_bpe_tokens")).as("n_tokens"))

  /** Streaming RELEASE-GATE stage (round-20): the row-local three of
    * [[graft.CurationJob.releaseGate]]'s four compliance gates over a
    * live document feed — the Aho–Corasick license verdict (marker
    * dictionary as plan literals), PII regex counts, and bloom
    * decontamination against the offline-fitted eval set
    * ([[graft.llm.Dedup.withContaminationFlag]]) — chained over ONE frame
    * (no join anywhere, so no stream-stream join), emitting the
    * per-doc verdict columns plus `released_rowlocal` (the
    * conjunction of the three). The fourth gate, metadata
    * k-anonymity, is inherently BATCH — a published class's size is
    * a global count no single row can know — so it gates at release
    * assembly over the accumulated corpus; this stage's verdict is
    * therefore an UPPER BOUND on releasability, the right direction
    * for a live divert-before-sharding filter. Zero state, any
    * output mode; the bloom's no-false-negative guarantee carries
    * over (contamination may over-flag an fpp fraction, never
    * under-flag), and the license/PII columns are bit-identical to
    * the batch operator's (spec-pinned).
    */
  def releaseGateStage(docs: DataFrame, text: String, id: String,
      markers: Seq[(String, String)],
      bloom: org.apache.spark.util.sketch.BloomFilter,
      copyleft: Set[String] = Set("agpl", "gpl"),
      n: Int = 8): DataFrame = {
    val lic = TextAnalysis.licenseScan(docs, text, id, markers,
      copyleft, carry = Seq(text))
    // the SHARED PII construction (TextAnalysis.withPiiGate) — one
    // definition for batch and stream, so the spec-pinned parity
    // cannot drift
    val withPii = TextAnalysis.withPiiGate(lic, text)
    graft.llm.Dedup.withContaminationFlag(withPii, text, bloom, n)
      .withColumn("released_rowlocal",
        !col("copyleft_gate") && !col("pii_gate") &&
          !col("contaminated"))
      .drop(text)
  }

  /** One Count-Min increment: a token occurrence mapped to one
    * (depth, cell) counter. */
  case class CmsEvent(depth: Int, cell: Long)

  /** One live sketch counter. */
  case class CmsCell(depth: Int, cell: Long, cnt: Long)

  /** Streaming COUNT-MIN SKETCH stage: accumulate the
    * [[TextAnalysis.cmsSketch]] counters over a document feed and
    * emit each touched counter's current value every trigger. The
    * stateless front half replays the batch hashes exactly — token
    * split, 60-bit md5 fingerprint, the same [[TextAnalysis
    * .cmsCellSql]] affine row hashes — so once the corpus has
    * streamed through, the (depth, cell, cnt) state equals the
    * batch sketch frame row-for-row (spec-pinned). State is ONE
    * LONG per touched counter, hard-capped at d·w keys total
    * regardless of feed length; counters only ever increase, so
    * duplicate delivery is the only hazard (at-least-once sinks
    * overcount — run exactly-once or idempotent-keyed sinks, same
    * contract as any additive streaming aggregate).
    */
  def cmsStage(docs: DataFrame, text: String,
      w: Int = 2048, d: Int = 4): Dataset[CmsCell] = {
    import docs.sparkSession.implicits._
    require(d >= 1 && d <= 8 && w >= 16, "need 1 <= d <= 8, w >= 16")
    val events = docs
      .select(explode(expr(
        s"filter(split(lower($text), ' '), t -> t != '')")).as("tok"))
      .withColumn("__fp", TextAnalysis.uniformHash60("tok"))
      .select(explode(expr(
        (0 until d).map(i => s"named_struct('depth', $i, 'cell', " +
          TextAnalysis.cmsCellSql(i, "__fp", w) + ")")
          .mkString("array(", ", ", ")"))).as("__dc"))
      .select(col("__dc.depth").as("depth"), col("__dc.cell").as("cell"))
      .as[CmsEvent]
    events.groupByKey(e => (e.depth, e.cell))
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout)(
        (key: (Int, Long), rows: Iterator[CmsEvent],
            state: GroupState[Long]) => {
          val next = state.getOption.getOrElse(0L) + rows.size
          state.update(next)
          Iterator.single(CmsCell(key._1, key._2, next))
        })
  }

  /** One judged pair for the streaming position-bias audit. */
  case class PrefEvent(judge: String, aWin: Boolean)

  /** Live per-judge position-bias row — the exact column set of the
    * batch [[graft.llm.Preference.positionBias]].
    */
  case class PositionBiasRow(judge: String, n_pairs: Long,
      n_a_wins: Long, a_win_ppm: Long, ci_lo: Double, ci_hi: Double,
      z_stat: Double, position_biased: Boolean)

  /** Streaming JUDGE POSITION-BIAS audit: maintain, per judge, the
    * (pairs seen, position-A wins) counters across micro-batches and
    * emit the batch operator's exact row on every update — Wilson
    * 95% bounds, binomial z vs 0.5, one-sided-interval flag. The
    * state is two longs per judge (bounded by the judge pool, never
    * the stream), counter merges are exact integer adds in any
    * arrival order, and the Wilson tail replays the SAME fixed-order
    * IEEE sequence as the batch side from those integers — so after
    * the same prefix of pairs, streaming and batch rows are
    * bit-identical (spec-pinned parity), and a live RLHF labeling
    * feed can trip the order-effect alarm mid-collection instead of
    * after the batch audit.
    */
  def positionBiasStage(pairs: DataFrame, judge: String,
      aWin: String, z: Double = 1.96): Dataset[PositionBiasRow] = {
    import pairs.sparkSession.implicits._
    pairs
      .select(col(judge).cast("string").as("judge"),
        // NULL label = counted pair, not a win — the batch
        // operator's when(aWin).otherwise(0L) semantics; without the
        // coalesce the non-nullable Boolean encoder would kill the
        // live query on the first NULL
        coalesce(col(aWin).cast("boolean"), lit(false)).as("aWin"))
      .as[PrefEvent]
      .groupByKey(_.judge)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout)(
        (j: String, rows: Iterator[PrefEvent],
            state: GroupState[(Long, Long)]) => {
          var (n, w) = state.getOption.getOrElse((0L, 0L))
          rows.foreach { e => n += 1; if (e.aWin) w += 1 }
          state.update((n, w))
          // the batch Wilson tail, replayed from the exact counters
          val nD = n.toDouble
          val phat = w.toDouble / nD
          val z2 = z * z
          val denom = 1.0 + z2 / nD
          val center = (phat + z2 / (2.0 * nD)) / denom
          val margin = z * math.sqrt(phat * (1.0 - phat) / nD +
            z2 / (4.0 * nD * nD)) / denom
          def r6(x: Double): Double =
            java.math.BigDecimal.valueOf(x)
              .setScale(6, java.math.RoundingMode.HALF_UP)
              .doubleValue
          val lo = r6(center - margin)
          val hi = r6(center + margin)
          Iterator.single(PositionBiasRow(j, n, w,
            w * 1000000L / n, lo, hi,
            r6((2.0 * phat - 1.0) * math.sqrt(nD)),
            lo > 0.5 || hi < 0.5))
        })
  }

  /** One paired per-unit comparison for the streaming sign test. */
  case class SignEvent(sysA: String, sysB: String, ma: Long, mb: Long)

  /** Live per-pair sign-test row — the exact column set of the batch
    * [[graft.llm.Retrieval.pairedSignTest]].
    */
  case class SignTestRow(sys_a: String, sys_b: String, n_pairs: Long,
      wins_a: Long, wins_b: Long, ties: Long, mean_diff_ppm: Long,
      z_sign: Double)

  /** Streaming PAIRED SIGN TEST (round-20): maintain, per system
    * pair, the (wins_a, wins_b, ties, diff-sum) counters across
    * micro-batches and emit the batch operator's exact row on every
    * update — so a live A/B (an interleaving experiment emitting one
    * paired metric row per query) can read its significance
    * mid-rollout instead of after the batch audit. The
    * [[positionBiasStage]] pattern: state is FOUR longs per pair
    * (bounded by the system-pair count, never the stream), counter
    * merges are exact integer adds in any arrival order, and the z
    * tail replays the batch's fixed-order IEEE sequence from those
    * integers — after the same comparisons, streaming and batch rows
    * are bit-identical (spec-pinned).
    *
    * Contract (what the batch front half does that a stream cannot):
    * the feed must carry ONE canonically-oriented (sys_a < sys_b)
    * paired comparison per (pair, unit) — the batch operator's
    * duplicate-collapse happens at fit/feed construction, because a
    * counted comparison cannot be retracted; NULL-metric rows drop
    * (the no-qrels-unit rule); at-least-once delivery overcounts,
    * the same contract as every additive streaming aggregate here.
    */
  def signTestStage(pairs: DataFrame, sysA: String, sysB: String,
      metricA: String, metricB: String): Dataset[SignTestRow] = {
    import pairs.sparkSession.implicits._
    pairs
      .select(col(sysA).cast("string").as("sysA"),
        col(sysB).cast("string").as("sysB"),
        col(metricA).cast("long").as("ma"),
        col(metricB).cast("long").as("mb"))
      .filter(col("ma").isNotNull && col("mb").isNotNull)
      .as[SignEvent]
      .groupByKey(e => (e.sysA, e.sysB))
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout)(
        (key: (String, String), rows: Iterator[SignEvent],
            state: GroupState[(Long, Long, Long, Long)]) => {
          var (wa, wb, ts, dsum) =
            state.getOption.getOrElse((0L, 0L, 0L, 0L))
          rows.foreach { e =>
            if (e.ma > e.mb) wa += 1L
            else if (e.mb > e.ma) wb += 1L
            else ts += 1L
            dsum += e.ma - e.mb
          }
          state.update((wa, wb, ts, dsum))
          val n = wa + wb + ts
          def r6(x: Double): Double =
            java.math.BigDecimal.valueOf(x)
              .setScale(6, java.math.RoundingMode.HALF_UP)
              .doubleValue
          val z =
            if (wa + wb == 0L) 0.0
            else r6((wa.toDouble - wb.toDouble) /
              math.sqrt((wa + wb).toDouble))
          // Scala Long / truncates toward zero = the batch DIV
          Iterator.single(SignTestRow(key._1, key._2, n, wa, wb, ts,
            dsum / n, z))
        })
  }

  /** One run row for the streaming retrieval-eval audit. */
  case class RunEvent(query_id: Long, doc_id: Long, rank: Long)

  /** Live per-query retrieval scoreboard row — the exact column set
    * of the batch [[graft.llm.Retrieval.retrievalEval]] (Options
    * carry the batch NULL semantics for no-qrels queries).
    */
  case class RetrievalEvalRow(query_id: Long, n_ret: Long,
      n_rel: Long, n_rel_ret: Long, recall_ppm: Option[Long],
      rr_ppm: Long, ap_ppm: Option[Long], dcg_micro: Long,
      idcg_micro: Long, ndcg_ppm: Option[Long])

  /** Streaming RETRIEVAL-EVAL audit: score a live run feed
    * (query_id, doc_id, rank) against qrels fitted offline
    * ([[graft.llm.Retrieval.retrievalEvalFit]]) and emit the batch
    * operator's exact metric row for each updated query every
    * trigger — nDCG@k / MRR / recall@k / MAP@k converge to the batch
    * scoreboard as the shortlist streams in, so a retriever A/B can
    * be read mid-rollout instead of after the batch eval.
    *
    * State per query is the (doc → best rank, rel) map, hard-capped
    * at `maxDocsPerQuery` with a named contract error — a malformed
    * feed that floods ONE query fails loudly. TOTAL state is that
    * cap times the feed's distinct query count: an eval run's query
    * set is bounded by construction, but a feed whose query ids
    * cannot be trusted should set `knownQueriesOnly = true`, which
    * drops rows whose query_id has no fitted qrels and so bounds
    * state by the MODEL's query set (note it also drops the honest
    * no-qrels queries the batch operator reports with NULL metrics —
    * that is the trade). Duplicate (query, doc)
    * arrivals collapse to their best rank and out-of-range ranks
    * drop, exactly the batch front half; every metric is replayed
    * from the integer counters with the batch's Long arithmetic, so
    * after the same rows, streaming and batch rows are bit-identical
    * (spec-pinned). Queries with qrels but NO streamed rows are the
    * one divergence: the batch full-outer emits them (n_ret 0), a
    * stream cannot key on rows that never arrived.
    */
  def retrievalEvalStage(run: DataFrame,
      model: graft.llm.Retrieval.RetrievalEvalModel,
      maxDocsPerQuery: Int = 4096,
      knownQueriesOnly: Boolean = false): Dataset[RetrievalEvalRow] = {
    import run.sparkSession.implicits._
    val k = model.k
    val knownQueries = model.queries.keySet
    run
      .select(col("query_id").cast("long").as("query_id"),
        col("doc_id").cast("long").as("doc_id"),
        col("rank").cast("long").as("rank"))
      .filter(col("rank") >= 1 && col("rank") <= k)
      .as[RunEvent]
      .filter((e: RunEvent) =>
        !knownQueriesOnly || knownQueries.contains(e.query_id))
      .groupByKey(_.query_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout)(
        (qid: Long, rows: Iterator[RunEvent],
            state: GroupState[Map[Long, Long]]) => {
          // state: doc_id -> best (min) rank seen
          var docs = state.getOption.getOrElse(Map.empty[Long, Long])
          rows.foreach { e =>
            val best = docs.get(e.doc_id) match {
              case Some(r) => math.min(r, e.rank)
              case None => e.rank
            }
            docs = docs.updated(e.doc_id, best)
          }
          require(docs.size <= maxDocsPerQuery,
            s"retrievalEvalStage: query $qid exceeds " +
              s"$maxDocsPerQuery distinct docs — malformed run feed")
          state.update(docs)
          val q = model.queries.get(qid)
          val rels = q.map(_.rels).getOrElse(Map.empty[Long, Long])
          // (rank, is-hit) sort — the batch collect_list sort key,
          // so same-rank ties fold identically
          val entries = docs.toSeq.map { case (d, r) =>
            (r, rels.getOrElse(d, 0L))
          }.sortBy { case (r, rel) => (r, if (rel > 0L) 1L else 0L) }
          val nRet = entries.length.toLong
          val dcg = entries.iterator.map { case (r, rel) =>
            (if (rel > 0L) (1L << rel.toInt) - 1L else 0L) *
              model.disc(r.toInt - 1)
          }.sum
          val nRelRet = entries.count(_._2 > 0L).toLong
          val firstRel = entries.collectFirst {
            case (r, rel) if rel > 0L => r
          }
          // the batch ap_ppm fold: P@i micro terms over rank order
          var h = 0L
          var apNum = 0L
          entries.foreach { case (r, rel) =>
            if (rel > 0L) { h += 1L; apNum += h * 1000000L / r }
          }
          val nRel = q.map(_.nRel).getOrElse(0L)
          val idcg = q.map(_.idcgMicro).getOrElse(0L)
          Iterator.single(RetrievalEvalRow(qid, nRet, nRel, nRelRet,
            if (nRel == 0L) None else Some(nRelRet * 1000000L / nRel),
            firstRel.map(1000000L / _).getOrElse(0L),
            if (nRel == 0L) None else Some(apNum / math.min(nRel, k.toLong)),
            dcg, idcg,
            if (idcg == 0L) None else Some(dcg * 1000000L / idcg)))
        })
  }

  /** One (group, bucket, rho) HLL observation from the stateless
    * front half of [[hllStage]]. */
  case class HllEvent(grp: String, bkt: Long, rho: Int)

  /** Live distinct-count estimate for one group. */
  case class HllEstimate(grp: String, n_est: Double)

  /** Streaming HyperLogLog: maintain, per group, the m = 2^b
    * max-combinable registers across micro-batches and emit the
    * current cardinality estimate every trigger — the textbook
    * mergeable streaming sketch (state is m SMALL INTEGERS per
    * group, independent of the feed length; registers only ever
    * ratchet up, so late/duplicate arrivals are harmless by
    * construction). The stateless front half computes (bucket, rho)
    * with the same portable-hash expressions as the batch
    * [[TextAnalysis.hllDistinct]]; the estimator replays the
    * identical bucket-sorted fold / alpha arithmetic / 6dp rounding
    * in Scala, so once the corpus has streamed through, the final
    * emission per group equals the batch `n_est` to the bit
    * (spec-pinned).
    */
  def hllStage(docs: DataFrame, group: String, text: String,
      b: Int = 8): Dataset[HllEstimate] = {
    import docs.sparkSession.implicits._
    require(b >= 4 && b <= 16, "need 4 <= b <= 16")
    val m = 1 << b
    val maxRho = 60 - b + 1
    val events = docs
      .select(col(group).cast("string").as("grp"),
        TextAnalysis.uniformHash60(text).as("__h"))
      .withColumn("bkt", expr(s"__h % ${m}L"))
      .withColumn("rho", expr(
        s"CASE WHEN __h DIV ${m}L = 0 THEN $maxRho " +
          s"ELSE $maxRho - length(bin(__h DIV ${m}L)) END")
        .cast("int"))
      .select("grp", "bkt", "rho")
      .as[HllEvent]
    events.groupByKey(_.grp)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout)(
        (grp: String, rows: Iterator[HllEvent],
            state: GroupState[Map[Long, Int]]) => {
          val regs = scala.collection.mutable.Map[Long, Int]() ++
            state.getOption.getOrElse(Map.empty[Long, Int])
          rows.foreach { e =>
            if (regs.getOrElse(e.bkt, 0) < e.rho) regs(e.bkt) = e.rho
          }
          state.update(regs.toMap)
          // the batch estimator, replayed: bucket-sorted 0.0-seeded
          // fold of exact 1/2^M divisions, then the same alpha /
          // linear-counting arithmetic and HALF_UP 6dp rounding
          val present = regs.size
          val zp = regs.toSeq.sortBy(_._1).foldLeft(0.0) {
            case (acc, (_, rho)) => acc + 1.0 / (1L << rho)
          }
          val z = zp + (m - present).toDouble
          val raw = (0.7213 / (1.0 + 1.079 / m.toDouble)) *
            m.toDouble * m.toDouble / z
          val zeros = m - present
          val est =
            if (raw <= 2.5 * m && zeros > 0)
              m.toDouble * math.log(m.toDouble / zeros)
            else raw
          // valueOf (toString-based), matching Spark's Round-on-
          // double path (scala BigDecimal(d) wraps valueOf) — the
          // exact-binary constructor can flip a .5 boundary
          Iterator.single(HllEstimate(grp,
            java.math.BigDecimal.valueOf(est)
              .setScale(6, java.math.RoundingMode.HALF_UP)
              .doubleValue))
        })
  }

  /** Streaming UNIGRAM-TOKENIZE stage: per-doc Viterbi piece/unk/
    * fertility accounting on a live feed against a batch-fitted
    * vocabulary (the side-input discipline of
    * [[graft.llm.UrlOps.robotsGate]] —
    * tokenizer vocabularies are fit offline and shipped to the
    * edge). Stateless and row-local: the batch form's distinct-word
    * memoization is a self-join a stream cannot do, so the DP runs
    * per occurrence inside an ArrayTransform — same arithmetic, same
    * expression, bit-identical output (spec-pinned). Any output
    * mode.
    */
  def unigramStage(docs: DataFrame, text: String, id: String,
      vocab: DataFrame, maxPiece: Int = 4, maxWordLen: Int = 16)
      : DataFrame = {
    import org.apache.spark.sql.graftglue.ColumnBridge.{column, expression}
    val entries = graft.engine.Guard.boundedCollect(
        vocab.select("piece", "cnt"),
        4000000, "unigramStage vocabulary")
      .map(r => (r.getString(0), r.getLong(1)))
    val holder = new graft.llm.UnigramVocab(entries)
    docs.select(col(id),
        expr(s"filter(split(lower($text), ' '), t -> t != '')")
          .as("__ws"))
      .withColumn("__rs", transform(col("__ws"), w =>
        column(graft.llm.UnigramViterbiExpr(expression(w), holder,
          maxPiece, maxWordLen))))
      .select(col(id),
        expr("CAST(size(__ws) AS BIGINT)").as("n_words"),
        expr("aggregate(__rs, 0L, (a, x) -> a + x.n_pieces)")
          .as("n_pieces"),
        expr("aggregate(__rs, 0L, (a, x) -> a + x.n_unk)")
          .as("n_unk"),
        expr("""coalesce(aggregate(__rs, 0L, (a, x) -> a + x.n_pieces)
          * 1000000L DIV greatest(CAST(size(__ws) AS BIGINT), 1L),
          0L)""").as("ppw_ppm"),
        expr("coalesce(try_element_at(__rs, 1).seg, '')")
          .as("seg_first"))
  }

  case class RsEvent(grp: String, v: Double, h: Long)

  /** One live quantile estimate for one (group, q). */
  case class RsQuantile(grp: String, q: Long, n_rows: Long,
      n_sample: Long, est: Double)

  /** Streaming BOTTOM-K RANK SKETCH: per group, maintain the row
    * count and the k rows with the smallest uniform row-id hashes
    * across micro-batches, and emit the current quantile estimates
    * every trigger. Because the sample is DEFINED by a hash order —
    * not arrival order like a reservoir — state merge is just
    * "bottom-k of union", so late, reordered, or re-partitioned
    * delivery changes nothing, and once the feed drains the final
    * emission per (group, q) equals the batch
    * [[graft.llm.TextAnalysis.rankQuantileSketch]] estimate exactly
    * (spec-pinned; the batch threshold prefilter is an oversample
    * cut above k, so both sides end at the identical bottom-k).
    * State per group: k (hash, value) pairs + one long — fixed
    * memory regardless of feed length.
    *
    * Delivery contract: the sample DEDUPS incoming rows by their
    * 60-bit hash (the sample key), so at-least-once redelivery of a
    * row that is — or ever was eligible to be — in the bottom-k
    * cannot insert a duplicate pair or skew the estimate; equal-hash
    * ties therefore resolve first-seen (distinct row ids make a real
    * tie a 2^-60 event; the batch form breaks them by id). The
    * `n_rows` COUNT, however, is exact only under exactly-once
    * delivery: a replay of a row that was already evicted from the
    * k-sample is indistinguishable from a new row in fixed memory
    * and counts again.
    */
  def quantileSketchStage(docs: DataFrame, group: String,
      value: String, id: String, k: Int = 512,
      qs: Seq[Int] = Seq(50, 90, 99)): Dataset[RsQuantile] = {
    import docs.sparkSession.implicits._
    require(k >= 8 && qs.nonEmpty && qs.forall(q => q >= 1 && q <= 99),
      "need k >= 8 and quantiles in [1, 99]")
    val events = docs
      .select(col(group).cast("string").as("grp"),
        col(value).cast("double").as("v"),
        TextAnalysis.uniformHash60(
          s"CAST($id AS STRING)").as("h"))
      .as[RsEvent]
    events.groupByKey(_.grp)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout)(
        (grp: String, rows: Iterator[RsEvent],
            state: GroupState[(Long, Seq[(Long, Double)])]) => {
          val (n0, kept0) = state.getOption.getOrElse(
            (0L, Seq.empty[(Long, Double)]))
          var n = n0
          val buf = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
          buf ++= kept0
          // hash-keyed dedup on merge: a redelivered sampled row
          // (same id → same 60-bit hash) must not enter the sample
          // twice nor bump the count (see the delivery contract in
          // the scaladoc)
          val seen = scala.collection.mutable.HashSet[Long]()
          kept0.foreach { case (h, _) => seen += h }
          rows.foreach { e =>
            if (seen.add(e.h)) { n += 1L; buf += ((e.h, e.v)) }
          }
          val kept = buf.sortBy(identity).take(k).toSeq
          state.update((n, kept))
          val sorted = kept.map { case (h, v) => (v, h) }.sorted
          val ns = sorted.size.toLong
          qs.iterator.map { q =>
            val idx = math.max((q * ns + 99) / 100, 1L).toInt
            RsQuantile(grp, q.toLong, n, ns, sorted(idx - 1)._1)
          }
        })
  }

  /** One live-feed hybrid score: a document against one fitted
    * query, both arms. `lex_hits` = 0 means the doc shares no term
    * with the query (excluded from the lexical shortlist, exactly
    * the batch inner-join semantics).
    */
  case class HybridScoreRow(query_id: Long, doc_id: Long,
      lex_micro: Long, lex_hits: Long, dense_sim: Double)

  /** Per-query hybrid shortlist state: top-m (score, doc) per arm. */
  case class HybridArmState(lexDocs: Seq[Long], lexMicros: Seq[Long],
      denseDocs: Seq[Long], denseSims: Seq[Double])

  /** One fused ranking row — the [[graft.llm.Retrieval.hybridRrf]]
    * output schema. */
  case class HybridRankRow(query_id: Long, rank: Long, doc_id: Long,
      rrf_ppm: Long, dense_rank: Long, lex_rank: Long)

  /** Streaming HYBRID-RETRIEVAL scoring stage: score a live document
    * feed (rows carry text + embedding) against an offline-fitted
    * [[graft.llm.Retrieval.HybridModel]] — the composition of the
    * fitted-BM25 stage with a dense literal-vector arm. Entirely
    * ROW-LOCAL and join-free: the per-query term tables and vectors
    * ride as ONE plan literal (`typedlit`), the per-(doc, query)
    * lexical score is the identical rational Robertson micro-long
    * tree as [[graft.llm.Retrieval.hybridRrf]] (terms with tf = 0
    * contribute floor(0) = exact 0, so summing ALL fitted terms
    * equals the batch matched-terms sum), and the dense arm is the
    * same native fixed-order cosine rounded to 6dp. Zero state, any
    * output mode. Emits one row per (doc × fitted query), self
    * pairs excluded.
    */
  def hybridScoreStage(docs: DataFrame, text: String, id: String,
      vec: String,
      model: graft.llm.Retrieval.HybridModel): DataFrame = {
    val clash = Seq("__hq", "__toks", "__len", "__qtf", "__dv",
      "__qv", "query_id", "lex_micro", "lex_hits", "dense_sim")
      .filter(docs.columns.contains)
    require(clash.isEmpty,
      s"hybridScoreStage: input already contains column(s) " +
        s"${clash.mkString(", ")}")
    val n = model.n; val tot = model.tot
    docs
      .withColumn("__hq", explode(typedlit(model.queries)))
      .filter(col(id).cast("long") =!= col("__hq.query_id"))
      .withColumn("__toks",
        expr(s"filter(split(lower($text), ' '), t -> t != '')"))
      .withColumn("__len", expr("CAST(size(__toks) AS BIGINT)"))
      .withColumn("__qtf", expr(
        "transform(__hq.terms, t -> " +
          "CAST(size(filter(__toks, x -> x = t.t)) AS BIGINT))"))
      .withColumn("lex_micro", expr(
        s"""aggregate(zip_with(__hq.terms, __qtf, (t, tf) ->
           |  CAST(floor(((${n}L - t.df + 0.5D) / (t.df + 0.5D)) *
           |    ((tf * 2.2D) / (tf + 0.3D + 0.9D *
           |      (__len * 1.0D * ${n}L / ${tot}L))) * 1000000.0D)
           |    AS BIGINT)),
           |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin))
      .withColumn("lex_hits", expr(
        """aggregate(__qtf, CAST(0 AS BIGINT),
          |  (a, x) -> a + CASE WHEN x > 0 THEN 1L ELSE 0L END)"""
          .stripMargin))
      .withColumn("__dv", expr(s"transform($vec, x -> CAST(x AS DOUBLE))"))
      .withColumn("__qv", expr("transform(__hq.vec, x -> CAST(x AS DOUBLE))"))
      .withColumn("dense_sim",
        round(graft.llm.Similarity.cosineExpr("__dv", "__qv"), 6))
      .select(col("__hq.query_id").as("query_id"),
        col(id).cast("long").as("doc_id"),
        col("lex_micro"), col("lex_hits"), col("dense_sim"))
  }

  /** The STATEFUL back half of streaming hybrid retrieval: maintain,
    * per query, the top-`m` shortlist of each arm across
    * micro-batches and emit the current RRF-fused top-`k` on every
    * trigger — a live retrieval index over an unbounded feed.
    *
    * State is 2·m (score, doc) pairs per query — bounded by the
    * model, never the feed: a doc that falls outside an arm's top-m
    * can be forgotten safely because per-doc scores are static, so
    * anything it could ever outrank is already ahead of it. Rank,
    * fusion (integer 1e6 div (rrfK + rank) per arm), and tiebreaks
    * replicate [[graft.llm.Retrieval.hybridRrf]] exactly: once the
    * whole corpus has streamed through, the last emission per query
    * IS the batch result (spec-pinned).
    */
  def hybridTopKStage(scores: Dataset[HybridScoreRow], m: Int = 50,
      k: Int = 10, rrfK: Int = 60): Dataset[HybridRankRow] = {
    import scores.sparkSession.implicits._
    require(m >= k && k >= 1, "need m >= k >= 1")
    scores.groupByKey(_.query_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout)(
        (qid: Long, rows: Iterator[HybridScoreRow],
            state: GroupState[HybridArmState]) => {
          val st = state.getOption
            .getOrElse(HybridArmState(Nil, Nil, Nil, Nil))
          val lex = scala.collection.mutable.Map(
            st.lexDocs.zip(st.lexMicros): _*)
          val den = scala.collection.mutable.Map(
            st.denseDocs.zip(st.denseSims): _*)
          rows.foreach { r =>
            if (r.lex_hits > 0) lex(r.doc_id) = r.lex_micro
            else lex.remove(r.doc_id)
            den(r.doc_id) = r.dense_sim
          }
          // batch tiebreaks: score desc, doc_id asc; keep top-m
          val lexTop = lex.toSeq
            .sortBy { case (d, s) => (-s, d) }.take(m)
          val denTop = den.toSeq
            .sortBy { case (d, s) => (-s, d) }.take(m)
          state.update(HybridArmState(
            lexTop.map(_._1), lexTop.map(_._2),
            denTop.map(_._1), denTop.map(_._2)))
          val lexRank = lexTop.zipWithIndex
            .map { case ((d, _), i) => d -> (i + 1L) }.toMap
          val denRank = denTop.zipWithIndex
            .map { case ((d, _), i) => d -> (i + 1L) }.toMap
          val fused = (lexRank.keySet ++ denRank.keySet).toSeq
            .map { d =>
              val lr = lexRank.getOrElse(d, 0L)
              val dr = denRank.getOrElse(d, 0L)
              val ppm = (if (dr > 0) 1000000L / (rrfK + dr) else 0L) +
                (if (lr > 0) 1000000L / (rrfK + lr) else 0L)
              (d, ppm, dr, lr)
            }
            .sortBy { case (d, ppm, _, _) => (-ppm, d) }.take(k)
          fused.iterator.zipWithIndex.map {
            case ((d, ppm, dr, lr), i) =>
              HybridRankRow(qid, i + 1L, d, ppm, dr, lr)
          }
        })
  }
}
