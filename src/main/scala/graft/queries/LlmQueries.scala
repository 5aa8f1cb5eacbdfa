package graft.queries

import graft.llm.{Dedup, HashConstants, Multimodal, Preference, Retrieval, Similarity, TextAnalysis, UrlOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-data-pipeline operator queries (dedup, similarity search, text
  * analysis, multimodal metadata) with DuckDB oracles built from the
  * SAME hash constants — all hashing is exact 64-bit integer
  * arithmetic, so results match bit-for-bit.
  */
object LlmQueries {
  import HashConstants._

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.BenchGrain.input(s.read.parquet(s"$dir/$name.parquet"))

  /** Deterministic synthetic URL per document — the fixture the
    * URL-grain curation queries run on (the corpus has a clean
    * `source` label, not a crawl url, so the edge shapes a real
    * crawl contains — subdomain chains, two-label public suffixes,
    * ports, userinfo, IPv4 hosts, mixed case — are derived from
    * (doc_id, source) identically on both engines).
    */
  private val syntheticUrl =
    """CASE CAST(doc_id % 5 AS INT)
      |  WHEN 0 THEN concat('https://www.', source, '.com/p/',
      |                     CAST(doc_id AS STRING))
      |  WHEN 1 THEN concat('http://a', CAST(doc_id % 3 AS STRING),
      |                     '.cdn.', source, '.CO.UK:8080/x/',
      |                     CAST(doc_id AS STRING))
      |  WHEN 2 THEN concat('https://user:pw@', source, '.org/d/',
      |                     CAST(doc_id AS STRING))
      |  WHEN 3 THEN concat('http://10.', CAST(doc_id % 200 AS STRING),
      |                     '.0.', CAST(doc_id % 7 AS STRING),
      |                     ':8000/raw')
      |  ELSE concat('https://M.', source, '.NET/a?id=',
      |              CAST(doc_id AS STRING))
      |END""".stripMargin

  /** Messy-Unicode text fixture for the normalization query: the same
    * grapheme planted composed and decomposed (NFC must merge them),
    * plus controls / mixed whitespace / double spaces / case noise.
    * Pure concat/CASE over (doc_id, source, text) with the Unicode
    * literals embedded verbatim, so the identical SQL text runs on
    * both engines.
    */
  private val messyUnicodeText =
    """concat(
      |  CASE CAST(doc_id % 4 AS INT)
      |    WHEN 0 THEN concat('  Café ', source, '')
      |    WHEN 1 THEN concat('CAFÉ  ', upper(source))
      |    WHEN 2 THEN concat('	tabs	and
      |newlines
', source)
      |    ELSE concat('ñ vs ñ ', source)
      |  END, ' | ', text, '  ')""".stripMargin

  /** Unigram-tokenizer fixtures. FIT text plants letters-only long
    * words (16-char boundary, >16 `<long>` collapse, corpus-word
    * compounds whose 2-4-gram pieces compete for the tight 64-slot
    * vocabulary — the selectivity that makes greedy maximal-munch
    * measurably suboptimal); TOKENIZE text is the superset adding a
    * digit-suffixed word per doc, so tokenize-time sees single chars
    * the fit never saw (the unk path).
    */
  private val unigramFitText =
    """concat(text,
      |  CASE CAST(doc_id % 5 AS INT)
      |    WHEN 0 THEN ' misunderstanding'
      |    WHEN 1 THEN ' internationalization'
      |    WHEN 2 THEN ' tokenization'
      |    WHEN 3 THEN ' hyperparameters'
      |    ELSE ' windowtables'
      |  END)""".stripMargin

  private val unigramTokText =
    s"""concat($unigramFitText,
       |  ' ', source, CAST(doc_id % 97 AS STRING))""".stripMargin

  /** Byte-grain unigram-EM fit text (round-20): the unigram fit
    * fixture with a Latin-accent slice planted (the fertility_bytes
    * move) so the byte lattice genuinely crosses multi-byte
    * codepoint boundaries instead of degenerating to the char grain.
    */
  private val unigramBytesFitText =
    s"""CASE WHEN doc_id % 3 = 1 THEN
       |  replace(replace($unigramFitText, 'a', 'ä'), 'e', 'é')
       |ELSE $unigramFitText END""".stripMargin.replace("\n", " ")

  /** Entity-decode fixture: the high-frequency crawl references in
    * named, decimal, and hex spellings, plus a double-encoded
    * '&amp;amp;lt;' that must resolve exactly ONE layer (single-pass
    * contract). Quote-free so the identical literal text parses in
    * both dialects.
    */
  private val entityFixture =
    "concat(text, ' x &amp; y &lt;b&gt; &quot;q&quot; &#39;s&#39; " +
      "&amp;lt; 5 &#60; 6 &#xa0;nb&nbsp;. &#x27;h&#x27; end', " +
      "CAST(doc_id % 3 AS STRING))"

  /** [[graft.llm.TextAnalysis.entityTableNonAmp]] as a DuckDB
    * replace chain (DuckDB quoting: quote doubling, no backslash
    * escapes — the Spark side uses backslash escaping, so each
    * dialect gets its own rendering of the SAME table), with the amp
    * family decoded LAST in one regex scan (ampFamilyRegex has no
    * same-offset alternation ambiguity, so RE2 and Java regex agree)
    * — mirroring decodeEntities' single-scan amp contract.
    */
  private def duckEntityChain(c: String): String = {
    val nonAmp = TextAnalysis.entityTableNonAmp
      .foldLeft(c) { case (acc, (e, v)) =>
        s"replace($acc, '${e.replace("'", "''")}', " +
          s"'${v.replace("'", "''")}')"
      }
    s"regexp_replace($nonAmp, '${TextAnalysis.ampFamilyRegex}', " +
      "'&', 'g')"
  }

  /** Aho–Corasick fixture dictionary: nested and overlapping terms
    * ('tab' ⊂ 'table' ⊃ 'able' ⊃ 'le'; 'dow' inside 'window') so the
    * automaton's fail edges and dictionary-suffix outputs are all
    * load-bearing. The counts vector is indexed by SORTED term order
    * (the [[graft.llm.AcAutomaton]] contract).
    */
  private val acTerms = Seq("table", "able", "tab", "le", "value",
    "alu", "window", "dow")
  private val acTermsSorted = acTerms.distinct.sorted
  private val acTermsValues = acTermsSorted.zipWithIndex
    .map { case (t, i) => s"(${i + 1}, '$t')" }.mkString(", ")

  /** Messier synthetic URL fixture for the canonicalization query:
    * tracking params, fragments, DEFAULT ports, trailing slashes,
    * unsorted params, and mixed case — built so variants 0/1 and
    * 2/3 COLLIDE after canonicalization (same resource fetched two
    * ways, the case url-exact dedup misses). Variants 0/1 fold on
    * the doc_id % 40 path; variants 2/3 key subdomain, site label,
    * AND path off doc_id DIV 6 (doc_id % 6 = 2 forces doc_id even
    * while % 6 = 3 forces it odd, and source is doc_id % 20, so any
    * doc_id-residue key would make the 2-vs-3 cross-variant merge
    * unsatisfiable — the round-14 fixture bug; DIV 6 makes each
    * consecutive (6q+2, 6q+3) pair a genuine cross-variant dup).
    */
  private val syntheticUrlMessy =
    """CASE CAST(doc_id % 6 AS INT)
      |  WHEN 0 THEN concat('https://WWW.', source, '.Com:443/p/',
      |    CAST(doc_id % 40 AS STRING), '/?utm_source=feed&id=',
      |    CAST(doc_id % 40 AS STRING), '#frag')
      |  WHEN 1 THEN concat('https://www.', source, '.com/p/',
      |    CAST(doc_id % 40 AS STRING), '?id=',
      |    CAST(doc_id % 40 AS STRING), '&utm_campaign=x')
      |  WHEN 2 THEN concat('http://a', CAST(doc_id DIV 6 % 3 AS STRING),
      |    '.cdn.src', CAST(doc_id DIV 6 % 20 AS STRING), '.CO.UK:80/x/',
      |    CAST(doc_id DIV 6 % 40 AS STRING), '?b=2&a=1')
      |  WHEN 3 THEN concat('http://a', CAST(doc_id DIV 6 % 3 AS STRING),
      |    '.cdn.src', CAST(doc_id DIV 6 % 20 AS STRING), '.co.uk/x/',
      |    CAST(doc_id DIV 6 % 40 AS STRING), '?a=1&b=2&fbclid=XYZ')
      |  WHEN 4 THEN concat('https://user:pw@', source, '.org/d/',
      |    CAST(doc_id % 40 AS STRING), '/')
      |  ELSE concat('http://10.', CAST(doc_id % 200 AS STRING),
      |    '.0.', CAST(doc_id % 7 AS STRING), ':8000/raw?gclid=g',
      |    CAST(doc_id % 5 AS STRING), '&z=1')
      |END""".stripMargin

  /** Synthetic document body with embedded hrefs for the link-graph
    * query: one cross-domain link (absent for doc_id % 5 = 1 — some
    * pages link nowhere), and either a SELF link (doc_id % 4 = 0 —
    * exercises the self-edge drop) or a second cross-domain link
    * into a `co.uk` multi-part-suffix family.
    */
  private val syntheticLinkText =
    """concat(
      |  CASE WHEN doc_id % 5 = 1 THEN 'no links here'
      |    ELSE concat('see <a href="https://w',
      |      CAST(doc_id % 3 AS STRING), '.dom',
      |      CAST(doc_id % 23 AS STRING), '.com/a/',
      |      CAST(doc_id AS STRING), '">t</a>') END,
      |  ' mid ',
      |  CASE WHEN doc_id % 4 = 0 THEN concat('<a href="', SELFURL,
      |      '">self</a>')
      |    ELSE concat('<a href="http://m.dom',
      |      CAST(doc_id % 7 AS STRING), '.co.uk/b?x=',
      |      CAST(doc_id % 11 AS STRING), '">u</a>') END)"""
      .stripMargin.replace("SELFURL", s"($syntheticUrl)")

  /** Planted per-site template header tail for site_boilerplate. */
  private val siteHeaderTail =
    "portal navigation menu home about contact search login"

  /** Anchor-tag fixture with VARIED anchor texts (the anchor-table
    * signal needs more than one label per target).
    */
  private val syntheticAnchorText =
    """concat('<a href="https://w', CAST(doc_id % 3 AS STRING),
      |  '.dom', CAST(doc_id % 23 AS STRING), '.com/a/',
      |  CAST(doc_id AS STRING), '">',
      |  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'home page'
      |    WHEN 1 THEN concat('review of product ',
      |      CAST(doc_id % 5 AS STRING))
      |    WHEN 2 THEN 'click here' ELSE 'best deals' END,
      |  '</a> filler <a href="http://m.dom',
      |  CAST(doc_id % 7 AS STRING), '.co.uk/b">',
      |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'news'
      |    ELSE 'sports section' END, '</a>')""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, d) => {
      Dedup.exactDedup(t(s, d, "documents"), "text", "doc_id")
        .orderBy("keeper")
    }),
    "dedup_exact_hash" -> ((s, d) => {
      Dedup.exactDedupByHash(t(s, d, "documents"), "text", "doc_id")
        .orderBy("keeper")
    }),
    // soft dedup: keep the representative, DOWNWEIGHT instead of
    // drop — repetition-aware loss weighting (1e6/n_copies ppm)
    "dedup_soft_weights" -> ((s, d) => {
      Dedup.softDedupWeights(t(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),
    "minhash_signature" -> ((s, d) => {
      Canon.stringifyArrays(
        Dedup.minhashSignatures(t(s, d, "documents"), "text", "doc_id"))
        .orderBy("doc_id")
    }),
    "lsh_band_buckets" -> ((s, d) => {
      val sigs = Dedup.minhashSignatures(t(s, d, "documents"), "text",
        "doc_id")
      Dedup.lshBuckets(sigs, "doc_id")
        .withColumn("band", col("band").cast("long"))
        .orderBy("doc_id", "band")
    }),
    "lsh_candidate_pairs" -> ((s, d) => {
      val sigs = Dedup.minhashSignatures(t(s, d, "documents"), "text",
        "doc_id")
      val buckets = Dedup.lshBuckets(sigs, "doc_id")
      Dedup.candidatePairs(buckets, "doc_id").orderBy("id1", "id2")
    }),
    // S-curve auto-parameterized LSH (round-20): the caller states a
    // target Jaccard threshold (0.9 here) and the layout is DERIVED —
    // (1/b)^(1/r) closest to the target over the divisor pairs of
    // K=16, which picks the steeper 2x8 layout instead of the
    // hand-tuned near-dup 4x4; the chosen layout rides as pinned
    // literal columns
    "lsh_auto" -> ((s, d) => {
      val (b, r) = Dedup.lshAutoParams(0.9)
      val sigs = Dedup.minhashSignatures(t(s, d, "documents"), "text",
        "doc_id")
      Dedup.lshBucketsAt(sigs, "doc_id", b, r)
        .withColumn("band", col("band").cast("long"))
        .withColumn("n_bands", lit(b.toLong))
        .withColumn("n_rows", lit(r.toLong))
        .orderBy("doc_id", "band")
    }),
    "dedup_neardup_flow" -> ((s, d) => {
      Dedup.dedupNearDup(t(s, d, "documents"), "text", "doc_id", 0.8)
        .orderBy("doc_id")
    }),
    // winnowing (MOSS) fingerprints: window-min sample of the
    // shingle-hash sequence — row-local, integer-exact
    "winnow_fingerprints" -> ((s, d) => {
      Canon.stringifyArrays(
        Dedup.winnowFingerprints(t(s, d, "documents"), "text",
          "doc_id", w = 5))
        .orderBy("doc_id")
    }),
    // MOSS match step: capped posting-list self-join on the
    // fingerprint, scored + thresholded on fingerprint-set Jaccard
    "winnow_pairs" -> ((s, d) => {
      Dedup.winnowPairs(
        Dedup.winnowFingerprints(t(s, d, "documents"), "text",
          "doc_id", w = 5), "doc_id", minJaccard = 0.7)
        .orderBy("id1", "id2")
    }),
    "dedup_clusters" -> ((s, d) => {
      Dedup.dedupClusters(t(s, d, "documents"), "text", "doc_id", 0.8)
        .orderBy("doc_id")
    }),
    "ngram_jaccard" -> ((s, d) => {
      // exact Jaccard verification on a fixed small candidate set
      val docs = t(s, d, "documents").filter(col("doc_id") < 15)
        .select(col("doc_id"),
          array_distinct(Dedup.shinglesExpr("text")).as("sh"))
      val a = docs.select(col("doc_id").as("id1"), col("sh").as("sh1"))
      val b = docs.select(col("doc_id").as("id2"), col("sh").as("sh2"))
      a.join(b, col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          round(Dedup.jaccardExpr("sh1", "sh2"), 6).as("jaccard"))
        .orderBy("id1", "id2")
    }),
    "simhash" -> ((s, d) => {
      Dedup.simhash(t(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),
    "simhash_neardup" -> ((s, d) => {
      Dedup.simhashNearDup(t(s, d, "documents"), "text", "doc_id")
        .orderBy("id1", "id2")
    }),
    "dedup_embed_cosine" -> ((s, d) => {
      // τ=0.35 sits just under the synthetic corpus's max pair cosine
      // (0.44) so the flow is exercised non-vacuously
      Similarity.dedupByCosine(t(s, d, "embeddings"), "vec_id",
        "embedding", planes = 6, minSim = 0.35)
        .orderBy("vec_id")
    }),
    // transitive-closure clustering of the same similarity graph: the
    // embedding-side twin of dedup_clusters (chains land in ONE
    // cluster; min reachable id labels the component)
    "embed_clusters" -> ((s, d) => {
      Similarity.embedClusters(t(s, d, "embeddings"), "vec_id",
        "embedding", planes = 6, minSim = 0.35)
        .orderBy("vec_id")
    }),
    // SemDedup: k-means cluster-then-prune semantic dedup — pairwise
    // cosine only within fitted cells, earlier-id member wins; the
    // learned-cell counterpart of the LSH dedup_embed_cosine flow
    "semdedup" -> ((s, d) => {
      Similarity.semDedup(t(s, d, "embeddings"), "vec_id",
        "embedding", cells = 16, iters = 2, minCos = 0.35)
        .orderBy("vec_id")
    }),
    // SemDedup with AUTO-SCALED cells (round-18): cells = 0 routes
    // through [[Similarity.autoCells]] = max(16, ceil(sqrt(n))) — the
    // k∝√n rule the sf1 study recorded (pinned cells=16 is the wrong
    // plan at 100 TB: per-cell pair work grows as (n/k)², so k must
    // grow with the corpus for the within-cell stage to stay linear)
    "semdedup_auto" -> ((s, d) => {
      Similarity.semDedup(t(s, d, "embeddings"), "vec_id",
        "embedding", cells = 0, iters = 2, minCos = 0.35)
        .orderBy("vec_id")
    }),
    // PageRank centrality over the same similarity graph — the
    // authority signal for canonical-document weighting; all-integer
    // ppm contract (teleport 150000, damping 850/1000, truncating
    // div), 5 unrolled power steps in the oracle
    "pagerank_sim" -> ((s, d) => {
      Similarity.pagerankSim(t(s, d, "embeddings"), "vec_id",
        "embedding", planes = 6, minSim = 0.35)
        .orderBy("vec_id")
    }),
    // BM25 lexical retrieval — the sparse counterpart of the ANN
    // family; rational (un-logged) Robertson idf keeps every score a
    // pure IEEE +,-,*,/ expression over exact integers, so the
    // doubles are bit-identical across engines (rank-equivalent to
    // the ln form per single-term query)
    "bm25_topk" -> ((s, d) => {
      TextAnalysis.bm25TopK(t(s, d, "documents"), "text", "doc_id")
        .orderBy("term", "rank")
    }),
    // hybrid query-by-example retrieval: BM25 lexical arm ∥ dense
    // cosine arm → reciprocal-rank fusion, pure-integer ppm contract
    // (per-term weights micro-pinned before the per-doc sum, fusion
    // is truncating integer division) — the RAG-retriever composition
    "hybrid_rrf" -> ((s, d) => {
      Retrieval.hybridRrf(t(s, d, "documents"), t(s, d, "embeddings"),
        queryIds = 0L until 8L)
        .orderBy("query_id", "rank")
    }),
    // graded-relevance retrieval scoreboard (round-18): nDCG@10 /
    // MRR / recall@10 of the hybrid retriever against planted graded
    // qrels ((doc+query) % {20,10,5} -> rel 3/2/1, self excluded) —
    // exact integer DCG via the pinned micro-discount table
    "retrieval_eval" -> ((s, d) => {
      val run = Retrieval.hybridRrf(t(s, d, "documents"),
        t(s, d, "embeddings"), queryIds = 0L until 8L)
        .select("query_id", "doc_id", "rank")
      val qrels = t(s, d, "documents")
        .select(explode(expr("sequence(0L, 7L)")).as("query_id"),
          col("doc_id"))
        .withColumn("rel", expr(
          "CAST(CASE WHEN (doc_id + query_id) % 20 = 0 THEN 3 " +
            "WHEN (doc_id + query_id) % 10 = 0 THEN 2 " +
            "WHEN (doc_id + query_id) % 5 = 0 THEN 1 " +
            "ELSE 0 END AS BIGINT)"))
        .filter("rel > 0 AND doc_id != query_id")
      Retrieval.retrievalEval(run, qrels, k = 10)
        .orderBy("query_id")
    }),
    // per-arm retrieval scoreboard (round-19): the SAME planted
    // qrels scored against bm25-only, dense-only, and the fused
    // hybrid shortlists — the operator's actual purpose is comparing
    // arms on one eval set, so every metric lands side-by-side in
    // one frame keyed by (arm, query_id). Arms reuse the exact
    // machinery the fusion runs on (lexicalTopK is hybridRrf's own
    // lexical arm; the dense arm is the same bruteForceTopK).
    "retrieval_eval_arms" -> ((s, d) =>
      hybridArmEvals(s, d).orderBy("arm", "query_id")),
    // paired sign test over the arm scoreboard (round-19): "arm A's
    // mean nDCG is higher" means nothing at 8 queries unless the
    // PAIRED per-query comparison is consistent — per arm pair:
    // wins/losses/ties on ndcg_ppm, truncating mean diff, and the
    // sign-test z (ties excluded), cross-engine exact
    "retrieval_sig" -> ((s, d) =>
      Retrieval.pairedSignTest(hybridArmEvals(s, d), "arm",
        "query_id", "ndcg_ppm")
        .orderBy("sys_a", "sys_b")),
    // rank-biased overlap between the fused hybrid ranking and the
    // dense-only arm (round-18): the qrel-free "how much did the
    // lexical evidence move the ranking" diagnostic — pinned
    // (1-p)p^(d-1) nano-weight literals, exact integer depth sum
    "rank_overlap" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val emb = t(s, d, "embeddings")
      // the dense shortlist is computed ONCE (round-19, the rrfFuse
      // split — the r18 "deliberate 2x" note said to fix this as
      // soon as hybridRrf grew more consumers, and the per-arm
      // scoreboard did exactly that): the fusion reads the m=50
      // frame, arm B is its rank-prefix filter
      val dense50 = Retrieval.denseTopK(emb, 0L until 8L)
        .localCheckpoint()
      val hybrid = Retrieval.rrfFuse(dense50,
        Retrieval.lexicalTopK(docs, 0L until 8L))
        .select("query_id", "doc_id", "rank")
      val dense = dense50.filter(col("dense_rank") <= 10)
        .select(col("query_id"), col("doc_id"),
          col("dense_rank").as("rank"))
      Retrieval.rankOverlap(hybrid, dense, k = 10)
        .orderBy("query_id")
    }),
    // data-constrained mixture planner: a 50/30/20 target over three
    // sources vs a 4-epoch repetition cap at a half-corpus token
    // budget — src0's share saturates at cap, src1/src2 split the
    // residual proportionally, the 17 zero-weight sources allocate 0
    "mix_budget_fit" -> ((s, d) => {
      TextAnalysis.mixBudgetFit(t(s, d, "documents"), "text",
        "source", Map("src0" -> 500000L, "src1" -> 300000L,
          "src2" -> 200000L), epochsCap = 4L, budgetPpm = 500000L)
        .orderBy("source")
    }),
    // surprise-boundary semantic chunking: split where the corpus
    // bigram model finds the continuation rare — integer
    // cross-multiplied add-1 probability, no libm, chunks cover
    // every doc exactly
    "surprise_chunks" -> ((s, d) => {
      TextAnalysis.surpriseChunks(t(s, d, "documents"), "text",
        "doc_id")
        .orderBy("doc_id", "chunk_id")
    }),
    // pseudo-relevance feedback expansion (RM3-lite): per BM25 query
    // term, the top co-occurring long terms from its top-10 feedback
    // docs — the query-expansion step between retrieval rounds
    "prf_expansion" -> ((s, d) => {
      TextAnalysis.prfExpansion(t(s, d, "documents"), "text",
        "doc_id")
        .orderBy("q_term", "exp_rank")
    }),
    // inverted-index build: capped sorted posting lists for the top
    // df terms, truncation surfaced explicitly (no silent caps)
    "inverted_index" -> ((s, d) => {
      Canon.stringifyArrays(
        TextAnalysis.invertedIndex(t(s, d, "documents"), "text",
          "doc_id"))
        .orderBy("term")
    }),
    // fitted-model BM25 corpus scoring: the bm25Fit/withBm25Score
    // fit/apply split (tiny term-table collect → plan literals →
    // row-local integer-pinned scoring) — the shape that streams
    "bm25_score" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val model = TextAnalysis.bm25Fit(docs, "text")
      TextAnalysis.withBm25Score(docs, "text", model)
        .select("doc_id", "bm25_micro", "bm25_hits")
        .orderBy("doc_id")
    }),
    // exact-n stratified sample: Hamilton largest-remainder quotas
    // per source, deterministic LCG-ranked pick inside each — the
    // "exactly n docs, source-proportional" training-data contract
    // that rate-based sampling only meets in expectation
    "quota_sample" -> ((s, d) => {
      TextAnalysis.quotaSample(t(s, d, "documents"), "doc_id",
        "source", 200L)
        .orderBy("source", "src_rank")
    }),
    // loader packing-efficiency report: bucketed vs naive padding
    // waste at batch size 8 — the number that justifies the
    // bucketed loader
    "packing_stats" -> ((s, d) => {
      TextAnalysis.packingStats(t(s, d, "documents"), "text",
        "doc_id")
        .orderBy("strategy")
    }),
    // length-bucketed training batches: pow-2 buckets, length-desc
    // order inside each bucket (padding-minimizing loader order),
    // batch ids dealt 8 at a time via the distributed prefix sum —
    // per-doc padding accounting, all-integer contract
    "length_buckets" -> ((s, d) => {
      TextAnalysis.lengthBucketBatches(t(s, d, "documents"), "text",
        "doc_id")
        .orderBy("doc_id")
    }),
    // top-principal-direction projection: exact decimal moment sums,
    // driver-side 10-step power iteration (deterministic by
    // construction), native fixed-order projection
    "pca_project" -> ((s, d) => {
      Similarity.pcaProject(t(s, d, "embeddings"), "vec_id",
        "embedding")
        .orderBy("vec_id")
    }),
    // mixture-interleave schedule: per-source deterministic shuffle
    // + weighted-fair-queueing virtual time + distributed-prefix-sum
    // global position — the training-order step after mix_weights
    "interleave_schedule" -> ((s, d) => {
      TextAnalysis.interleaveSchedule(t(s, d, "documents"), "doc_id",
        "source", Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .orderBy("sched_pos")
    }),
    // deterministic token augmentation: per-(doc, position) hash
    // gates decide drop / duplicate / keep — reproducible under task
    // retries (no RNG), row-local, oracle replays the same gates
    "augment_tokens" -> ((s, d) => {
      TextAnalysis.augmentTokens(t(s, d, "documents"), "text",
        "doc_id")
        .orderBy("doc_id")
    }),
    // collocation mining: top adjacent-word pairs by un-logged PMI
    // lift c_ab·T²/(B·c_a·c_b) — rank-identical to PMI, bit-exact
    // doubles (no libm), count floors against the rare-pair blow-up
    "collocations" -> ((s, d) => {
      TextAnalysis.collocationsTopK(t(s, d, "documents"), "text",
        "doc_id")
    }),
    "embed_cosine_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    }),
    // late-interaction (ColBERT MaxSim) retrieval: Σ_i max_j
    // cos(q_i, d_j) over 8×8-dim sub-vectors — soft alignment a
    // single dual-encoder cosine can't express; round-6 sub-cosines,
    // exact max, unrolled fixed-order sum
    "maxsim_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.maxSimTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 10)
        .orderBy("query_id", "rank")
    }),
    "embed_lsh_buckets" -> ((s, d) => {
      Similarity.lshBuckets(t(s, d, "embeddings"), "vec_id", "embedding")
        .withColumn("bucket", col("bucket").cast("long"))
        .orderBy("vec_id")
    }),
    "embed_lsh_simjoin" -> ((s, d) => {
      Similarity.lshSimilarityJoin(t(s, d, "embeddings"), "vec_id",
        "embedding", planes = 6, minSim = 0.0)
        .withColumn("bucket", col("bucket").cast("long"))
        .orderBy("id1", "id2")
    }),
    // margin-based bitext mining (round-14): ratio margin over
    // LSH-bucketed cross-side candidates on a TWO-TIER planted
    // fixture — per 6-cluster, odd id %6=1 is the true mate (tight
    // jitter) and %6=3,5 are distractors (wide jitter), except
    // every 5th cluster whose odds are ALL distractors (no true
    // pair). The margin gate must keep exactly the true-pair
    // clusters: candidates-only margins sit at ~1.0 without the
    // distractor contrast, which is why plantedEmbeddings alone
    // cannot exercise this operator. All-integer ppm after the 6dp
    // cosine.
    "bitext_mine" -> ((s, d) => {
      val planted = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"))
        .withColumn("__j", expr(
          """CASE WHEN vec_id % 2 = 1 AND (vec_id % 6 != 1
            |  OR (vec_id DIV 6) % 5 = 0) THEN 400001L
            |ELSE 21L END""".stripMargin))
        .withColumn("embedding", expr(
          """transform(sequence(0, 63), i ->
            |  CAST(((vec_id DIV 6 * 2654435761L + i * 40503L
            |          + vec_id DIV 6 * i * i * 97003L)
            |          % 2001L - 1000L) * 1000L
            |       + (vec_id * 1103515245L + i * 12345L) % __j
            |       - __j DIV 2 AS DOUBLE) / 100000.0D)"""
            .stripMargin))
        .withColumn("side", expr("CAST(vec_id % 2 AS INT)"))
      Similarity.bitextMine(planted, "vec_id", "embedding", "side")
        .orderBy("a")
    }),
    // contrastive triplet mining: per anchor the strongest
    // same-bucket neighbor (cos ≥ 0.35) as positive and the weakest
    // (cos ≤ 0.1) as hard negative — embedding-training data the
    // LSH buckets mine for free
    "triplet_mine" -> ((s, d) => {
      Similarity.tripletMine(t(s, d, "embeddings"), "vec_id",
        "embedding")
        .orderBy("anchor")
    }),
    "ivf_assign" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfAssign(emb, "vec_id", "embedding",
        Similarity.seedCentroids(emb, "vec_id", "embedding", 16))
        .orderBy("vec_id")
    }),
    // JL random-projection recall telemetry: brute top-k in the
    // 16-d LCG-projected space vs the exact 64-d top-k — the
    // dimension-reduction quality gate, integer ppm output. Runs on
    // the PLANTED-cluster fixture (round-14): the raw embeddings are
    // isotropic noise whose exact top-k is unrecoverable by any
    // projection, so recall on them measured nothing; on planted
    // micro-clusters the exact top-5 is recoverable by construction
    // and the telemetry is spec-pinned >= Similarity.RecallFloorPpm
    "rp_recall" -> ((s, d) => {
      Similarity.rpRecall(
        Similarity.plantedEmbeddings(t(s, d, "embeddings"), "vec_id"),
        "vec_id", "embedding")
        .orderBy("query_id")
    }),
    // 1-bit binary quantization + Hamming top-k (round-14): 64 dims
    // pack into ONE BIGINT (32x memory cut); per-candidate cost is a
    // single xor+popcount. On the planted fixture every query's 5
    // cluster-mates share its exact sign pattern (dist 0), so the
    // aggressive-quantization rung provably recovers the planted
    // top-5 — spec-pinned alongside the rp/ivf recall floors
    "hamming_topk" -> ((s, d) => {
      val emb = Similarity.plantedEmbeddings(
        t(s, d, "embeddings"), "vec_id")
      Similarity.hammingTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),
    // the binary-quantization serving path: Hamming shortlist (20)
    // over packed signatures, exact cosine re-rank of just those
    "hamming_rerank" -> ((s, d) => {
      val emb = Similarity.plantedEmbeddings(
        t(s, d, "embeddings"), "vec_id")
      Similarity.hammingRerank(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", shortlist = 20, k = 5)
        .orderBy("query_id", "rank")
    }),
    // IVF occupancy / skew telemetry: the index-health dashboard —
    // empty cells surface as 0, skew_ppm 1e6 = perfectly balanced
    "ivf_balance" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfBalance(emb, "vec_id", "embedding",
        Similarity.seedCentroids(emb, "vec_id", "embedding", 16))
        .orderBy("cell")
    }),
    "ivf_kmeans" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Canon.stringifyArrays(
        Similarity.kmeansCentroids(emb, "vec_id", "embedding",
          cells = 16, iters = 2)
          .select(col("cell"),
            expr("transform(cvec, x -> round(x, 6))").as("centroid")))
        .orderBy("cell")
    }),
    "ivf_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = Similarity.seedCentroids(emb, "vec_id", "embedding", 16)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8), "vec_id",
        "embedding", cents, k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),
    // the full IVF pipeline composed: Lloyd-fitted centroids feed the
    // probed search — fit, assign, probe, and search all oracled
    // through one query
    "ivf_topk_kmeans" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
        cells = 16, iters = 2)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8), "vec_id",
        "embedding", cents, k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),
    // PQ codebook fit (m=4 subspaces × 16 dims, k=16 cells, 2 Lloyd
    // iterations — all four sub-codebooks fit in the same passes)
    "pq_centroids" -> ((s, d) => {
      Canon.stringifyArrays(
        Similarity.pqCentroids(t(s, d, "embeddings"), "vec_id",
          "embedding", m = 4, subDim = 16, k = 16, iters = 2)
          .select(col("subspace").cast("long").as("subspace"),
            col("cell"),
            expr("transform(cvec, x -> round(x, 6))").as("centroid")))
        .orderBy("subspace", "cell")
    }),
    // PQ encoding: each 64-dim float vector stored as 4 cell ids
    "pq_encode" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = Similarity.pqCentroids(emb, "vec_id", "embedding",
        m = 4, subDim = 16, k = 16, iters = 2)
      Canon.stringifyArrays(
        Similarity.pqEncode(emb, "vec_id", "embedding", cents,
          m = 4, subDim = 16))
        .orderBy("vec_id")
    }),
    // PQ ADC top-k: per-query exact subspace distance tables, corpus
    // scored by 4 table lookups per vector — never shuffled
    "pq_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = Similarity.pqCentroids(emb, "vec_id", "embedding",
        m = 4, subDim = 16, k = 16, iters = 2)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 8), "vec_id",
        "embedding", cents, m = 4, subDim = 16, k = 5)
        .orderBy("query_id", "rank")
    }),
    // the composed FAISS-style IVF+PQ index: coarse cells restrict
    // the candidate set (nprobe=2 of 16), quantized ADC scores it —
    // full vectors never touched past encode time
    "ivfpq_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val ivfCents = Similarity.seedCentroids(emb, "vec_id",
        "embedding", 16)
      val pqCents = Similarity.pqCentroids(emb, "vec_id", "embedding",
        m = 4, subDim = 16, k = 16, iters = 2)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", ivfCents, pqCents, m = 4, subDim = 16,
        k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),
    // two-stage ANN serving path: PQ/ADC shortlist (20) -> exact
    // cosine re-rank (5). Full vectors are fetched only for the
    // shortlist — the recall-repair architecture a production ANN
    // deployment actually serves from
    "pq_rerank" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = Similarity.pqCentroids(emb, "vec_id", "embedding",
        m = 4, subDim = 16, k = 16, iters = 2)
      Similarity.pqRerank(emb, emb.filter(col("vec_id") < 8), "vec_id",
        "embedding", cents, m = 4, subDim = 16, shortlist = 20, k = 5)
        .orderBy("query_id", "rank")
    }),
    // ANN quality telemetry: recall@5 of the IVF index against the
    // brute-force ground truth, per query — the evaluation loop any
    // production ANN deployment runs on a sampled query set. On the
    // planted-cluster fixture (see rp_recall note): recall here is a
    // real quality number, spec-pinned >= Similarity.RecallFloorPpm
    // embedding-space decontamination (round-15): corpus docs whose
    // embedding is near-identical to an eval-set member — the
    // semantic complement of the n-gram decontaminate pass; the
    // planted eval copies (clusters 0-4, re-id'd into the eval id
    // space) are recovered with their whole clusters
    "decontam_embed" -> ((s, d) => {
      val emb = Similarity.plantedEmbeddings(
        t(s, d, "embeddings"), "vec_id")
      val evalSet = Similarity.plantedEmbeddings(
        t(s, d, "embeddings"), "vec_id")
        .filter(col("vec_id") < 30)
        .withColumn("vec_id", col("vec_id") + 10000000L)
      Similarity.decontaminateEmbed(emb, evalSet, "vec_id",
        "embedding", evalOffset = 10000000L)
        .orderBy("vec_id")
    }),
    // HNSW-class navigable-graph ANN (round-15): seeded-hash level
    // assignment, hub + LSH-bucket edges, greedy descent unrolled to
    // joins — recall telemetry vs exact brute force, ann_recall's
    // shape, over 48 queries spanning 8 planted clusters
    "hnsw_topk" -> ((s, d) => {
      val emb = Similarity.plantedEmbeddings(
        t(s, d, "embeddings"), "vec_id")
      val q = emb.filter(col("vec_id") < 48)
      val bf = Similarity.bruteForceTopK(emb, q, "vec_id",
        "embedding", k = 5).select("query_id", "cand_id")
      val hnsw = Similarity.hnswTopK(emb, q, "vec_id", "embedding",
        k = 5).select("query_id", "cand_id")
      val hits = bf.join(hnsw, Seq("query_id", "cand_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          round(coalesce(col("hits"), lit(0L)) / 5.0, 6).as("recall"))
        .orderBy("query_id")
    }),
    "ann_recall" -> ((s, d) => {
      val emb = Similarity.plantedEmbeddings(
        t(s, d, "embeddings"), "vec_id")
      val q = emb.filter(col("vec_id") < 8)
      val bf = Similarity.bruteForceTopK(emb, q, "vec_id",
        "embedding", k = 5).select("query_id", "cand_id")
      val cents = Similarity.kmeansCentroids(emb, "vec_id",
        "embedding", cells = 16, iters = 2)
      val ivf = Similarity.ivfTopK(emb, q, "vec_id", "embedding",
        cents, k = 5, nprobe = 2).select("query_id", "cand_id")
      val hits = bf.join(ivf, Seq("query_id", "cand_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          round(coalesce(col("hits"), lit(0L)) / 5.0, 6).as("recall"))
        .orderBy("query_id")
    }),
    // per-language mean embedding (the "mean pooling" vector
    // aggregate): decimal-routed component sums — exact on any
    // partitioning, like every centroid in this engine
    "lang_centroid" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        col("lang"))
      val emb = t(s, d, "embeddings")
      val joined = emb.join(docs, col("vec_id") === col("doc_id"))
        .select(col("lang"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))")
            .as("__v"))
      Canon.stringifyArrays(
        joined
          .select(col("lang"),
            posexplode(col("__v")).as(Seq("__i", "__x")))
          .groupBy(col("lang"), col("__i"))
          .agg((sum(col("__x").cast("decimal(28,10)")).cast("double")
            / count(lit(1))).as("__m"))
          .groupBy(col("lang"))
          .agg(expr(
            """transform(sort_array(collect_list(struct(__i, __m))),
               s -> round(s.__m, 6))""").as("centroid"),
            count(lit(1)).as("dims")))
        .select("lang", "centroid")
        .orderBy("lang")
    }),
    // n-gram novelty: fraction of a doc's distinct trigrams first
    // seen in THIS doc — ranks surviving docs by information added
    "novelty_score" -> ((s, d) => {
      Dedup.noveltyScore(t(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),
    // token-budget corpus cut: keep the highest-quality docs until
    // the token budget is spent — the running total comes from the
    // DISTRIBUTED prefix sum (Dist.prefixSum), never a single-
    // partition global window; the oracle is the naive-window form
    "token_budget_cut" -> ((s, d) => {
      val stats = TextAnalysis.withStats(t(s, d, "documents"), "text")
        .select(col("doc_id"), col("quality"),
          col("n_tokens").cast("bigint").as("n_tokens"))
      graft.engine.Dist.prefixSum(stats,
        Seq(col("quality").desc, col("doc_id")), "n_tokens",
        "cum_tokens")
        .filter(col("cum_tokens") <= 15000)
        .orderBy("doc_id")
    }),
    // the same budget cut at TOKENIZER grain: n_bpe_tokens from
    // 10 one-merge BPE rounds replace the whitespace count — the
    // accounting a real pretraining pipeline bills against. Budget
    // scaled ~5x (10-merge BPE tokens are near-character-grain).
    // Same distributed prefix sum; integral counts keep the
    // threshold engine-exact
    "token_budget_cut_bpe" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val stats = TextAnalysis.withStats(docs, "text")
        .select(col("doc_id"), col("quality"))
      // counts-only apply: the budget bills token COUNTS, so no
      // token arrays ride the per-doc groupBy exchange
      val bpe = TextAnalysis.bpeApplyCounts(docs, "text", "doc_id",
          rounds = 10, batch = 1)
        .select(col("doc_id"), col("n_bpe_tokens"))
      graft.engine.Dist.prefixSum(stats.join(bpe, Seq("doc_id")),
        Seq(col("quality").desc, col("doc_id")), "n_bpe_tokens",
        "cum_tokens")
        .filter(col("cum_tokens") <= 75000)
        .orderBy("doc_id")
    }),
    // the budget cut re-billed at the BATCHED tokenizer grain
    // (10 rounds × ≤8 merges) — same distributed prefix sum.
    // Budget 40000, not 75000: 80 batched merges compress the sf0.01
    // corpus to ~61k tokens total, so the whitespace-grain budget
    // would keep everything and never exercise the cut
    "token_budget_cut_bpe_batched" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val stats = TextAnalysis.withStats(docs, "text")
        .select(col("doc_id"), col("quality"))
      // counts-only apply — see token_budget_cut_bpe
      val bpe = TextAnalysis.bpeApplyCounts(docs, "text",
          "doc_id", rounds = 10, batch = 8)
        .select(col("doc_id"), col("n_bpe_tokens"))
      graft.engine.Dist.prefixSum(stats.join(bpe, Seq("doc_id")),
        Seq(col("quality").desc, col("doc_id")), "n_bpe_tokens",
        "cum_tokens")
        .filter(col("cum_tokens") <= 40000)
        .orderBy("doc_id")
    }),
    // intra-doc duplicate-line removal at token grain (this corpus
    // has no newlines; the operator's default sep is '\n') — one
    // row-local HOF projection, no shuffle
    "dedup_lines_intra" -> ((s, d) => {
      Dedup.dedupLinesIntra(t(s, d, "documents"), "text", "doc_id",
        sep = " ")
        .orderBy("doc_id")
    }),
    // feature-hashing document embedding (hashing trick): bucketed
    // token-hash counts, L2-normalized — a vocabulary-free, fully
    // deterministic featurizer; row-local, zero shuffle
    "feature_hash_embed" -> ((s, d) => {
      Canon.stringifyArrays(
        TextAnalysis.featureHashEmbed(t(s, d, "documents"), "text",
          "doc_id", dim = 32))
        .orderBy("doc_id")
    }),
    // model-based quality gate: linear classifier inference over the
    // hashed features (fastText-filter shape) — row-local, the weight
    // vector rides in the plan; keep thresholds the raw logit
    "quality_lr_gate" -> ((s, d) => {
      TextAnalysis.lrQualityGate(t(s, d, "documents"), "text",
        "doc_id", dim = 32)
        .orderBy("doc_id")
    }),
    // reliability diagram + ECE for the model gate (round-16): the
    // model's linear-link p̂ per score bin vs the observed positive
    // rate under the heuristic quality label — all-integer micro/ppm
    // after the row-local scoring, ECE total via pinned cross
    "lr_calibration" -> ((s, d) => {
      TextAnalysis.lrCalibration(t(s, d, "documents"), "text",
        "doc_id", dim = 32, bins = 8)
        .orderBy("bin")
    }),
    // ROC/AUC for the model gate (round-17): exact Mann-Whitney 2U
    // from the clamped micro-score HISTOGRAM (bounded ≤2e6+1 keys at
    // any corpus size) + a 16-point ROC curve — completes the
    // model-evaluation pair with lr_calibration
    "lr_auc" -> ((s, d) => {
      Preference.lrAuc(t(s, d, "documents"), "text", "doc_id",
        dim = 32, bins = 16)
        .orderBy("bin")
    }),
    // deterministic pairwise preferences (round-17): stride-1 and
    // stride-7 id joins, longer document wins, exact ties to the
    // lexicographically smaller source — the reproducible pair frame
    // the preference-fit family consumes
    "pref_pairs" -> ((s, d) => {
      Preference.prefPairs(t(s, d, "documents"), "doc_id", "source",
        "n_chars")
        .orderBy("id_a", "id_b")
    }),
    // Bradley-Terry strength fit (round-17): fixed 10-iteration MM in
    // pure integer micro units over the ≤items² win matrix (one
    // bounded-key aggregate; the fit replays driver-side — the BPE
    // merge-loop pattern); the oracle replays the identical HUGEINT
    // recurrence
    "bradley_terry" -> ((s, d) => {
      Preference.bradleyTerry(Preference.prefPairs(
        t(s, d, "documents"), "doc_id", "source", "n_chars"))
        .orderBy("item")
    }),
    // transitivity audit of the preference win digraph (round-17):
    // per-item degrees + decided/cyclic triangle counts, corpus
    // Condorcet-cycle rate — the judge-noise gauge read before
    // fitting Bradley-Terry on preference data
    "pref_cycles" -> ((s, d) => {
      // strides {1,7,8}: 1+7=8 closes comparison triangles (the
      // {1,7} pair set used by pref_pairs/bradley_terry can never
      // form one — every decided pair differs by 1 or 7, and no two
      // of those sum to a third), so the cyclic/transitive split is
      // actually exercised
      Preference.prefCycles(Preference.prefPairs(
        t(s, d, "documents"), "doc_id", "source", "n_chars",
        strides = Seq(1L, 7L, 8L)))
        .orderBy("item")
    }),
    // judge position-bias audit (round-18): position-A win rate per
    // judge with Wilson interval + binomial z vs 0.5. Fixture plants
    // three deterministic judges (id_a % 3); judge j0 is BIASED —
    // 2 of every 5 of its pairs are forced to the first-presented
    // item regardless of merit — so the flag actually fires while
    // j1/j2 stay inside their intervals
    "pref_position_bias" -> ((s, d) => {
      val pairs = Preference.prefPairs(t(s, d, "documents"),
        "doc_id", "source", "n_chars")
      Preference.positionBias(pairs,
        expr("concat('j', CAST(id_a % 3 AS STRING))"),
        expr("CASE WHEN id_a % 3 = 0 AND id_a % 5 < 2 THEN true " +
          "ELSE winner_item = item_a END"))
        .orderBy("judge")
    }),
    // machine-text telemetry (round-17): sentence-length burstiness
    // (exact CV² ppm) under the bounded 1024×1023 window — uniform
    // sentence lengths flag template/model-generated text; row-local
    "synthetic_signals" -> ((s, d) => {
      // the synthetic corpus has no sentence terminators (every doc
      // reads as ONE sentence — burstiness degenerately 0), so plant
      // them deterministically: common stopwords become sentence
      // breaks, giving naturally varying sentence lengths on both
      // engines
      val planted = t(s, d, "documents").select(col("doc_id"),
        expr("replace(replace(text, ' the ', '. '), ' a ', '! ')")
          .as("text"))
      TextAnalysis.syntheticSignals(planted, "text")
        .select("doc_id", "n_sent", "sum_len", "sum_len2",
          "mean_sent_ppm", "burstiness_ppm")
        .orderBy("doc_id")
    }),
    // mixed-script confusable signal (round-17): plant the homoglyph
    // trick deterministically (Cyrillic 'а' into one doc class,
    // Greek 'ο' into another) and read the per-script letter counts
    // + minority-letter ppm that expose it — row-local
    "script_mix" -> ((s, d) => {
      val planted = t(s, d, "documents").select(col("doc_id"),
        expr("CASE WHEN doc_id % 11 = 4 THEN replace(text, 'a', 'а') " +
          "WHEN doc_id % 11 = 7 THEN replace(text, 'o', 'ο') " +
          "ELSE text END").as("text"))
      TextAnalysis.scriptMix(planted, "text")
        .select("doc_id", "n_letters", "n_latin", "n_cyrillic",
          "n_greek", "n_other_letters", "mixed_ppm")
        .orderBy("doc_id")
    }),
    // corpus-concentration telemetry (round-17): exact Gini + Lorenz
    // coordinates of token mass across sources — the one-number
    // balance gauge next to the mix_weights table; one aggregate +
    // driver-side rank identity
    "token_gini" -> ((s, d) => {
      Preference.giniConcentration(t(s, d, "documents"),
        col("source"),
        expr("CAST(size(filter(split(lower(text), ' '), " +
          "t -> t != '')) AS BIGINT)"))
        .orderBy("grp")
    }),
    // exact KS drift per source vs rest (round-17): the
    // distribution-free "did this source's length profile move"
    // statistic — one bounded (source, bucket) aggregate + driver
    // CDF walk, exact integer numerator until the final ppm
    "ks_drift" -> ((s, d) => {
      Preference.ksDrift(t(s, d, "documents"), col("source"),
        expr("least(CAST(n_chars DIV 16 AS INT), 4095)"))
        .orderBy("grp")
    }),
    // homoglyph repair (round-17): the same plant as script_mix,
    // folded back — planted rows round-trip to their original text
    // (n_folded = the plant size), clean rows pass through untouched
    "confusable_fold" -> ((s, d) => {
      val planted = t(s, d, "documents").select(col("doc_id"),
        col("text").as("orig"),
        expr("CASE WHEN doc_id % 11 = 4 THEN replace(text, 'a', 'а') " +
          "WHEN doc_id % 11 = 7 THEN replace(text, 'o', 'ο') " +
          "ELSE text END").as("text"))
      TextAnalysis.confusableFold(planted, "text")
        .withColumn("restored", col("folded_text") === col("orig"))
        .select("doc_id", "folded_text", "n_folded", "restored")
        .orderBy("doc_id")
    }),
    // Cohen's kappa between two deterministic labelers (round-17):
    // char-band vs token-band quality labels, full confusion matrix
    // + integer po_ppm + fixed-order IEEE pe/kappa attached via the
    // pinned scalar cross
    "annotator_kappa" -> ((s, d) => {
      Preference.annotatorKappa(t(s, d, "documents"),
        expr("CASE WHEN n_chars < 250 THEN 'short' " +
          "WHEN n_chars < 380 THEN 'mid' ELSE 'long' END"),
        expr("CASE WHEN size(split(trim(text), '\\\\s+')) < 45 " +
          "THEN 'short' WHEN size(split(trim(text), '\\\\s+')) < 70 " +
          "THEN 'mid' ELSE 'long' END"))
        .orderBy("label_a", "label_b")
    }),
    // multi-rater agreement (round-17): Fleiss' kappa over three
    // deterministic labelers (char band / token band / bpe-ish band,
    // shared low/mid/high vocabulary) — the annotator-pool QA number;
    // one corpus aggregate, driver-side finish
    "fleiss_kappa" -> ((s, d) => {
      Preference.fleissKappa(t(s, d, "documents"), Seq(
        expr("CASE WHEN n_chars < 250 THEN 'low' " +
          "WHEN n_chars < 380 THEN 'mid' ELSE 'high' END"),
        expr("CASE WHEN size(split(trim(text), '\\\\s+')) < 45 " +
          "THEN 'low' WHEN size(split(trim(text), '\\\\s+')) < 70 " +
          "THEN 'mid' ELSE 'high' END"),
        expr("CASE WHEN size(regexp_extract_all(text, " +
          "'[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)) < 45 THEN 'low' " +
          "WHEN size(regexp_extract_all(text, " +
          "'[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)) < 80 THEN 'mid' " +
          "ELSE 'high' END")),
        Seq("low", "mid", "high"))
        .orderBy("category")
    }),
    // rank agreement between the model scorer and the heuristic
    // (round-17): Kendall tau-b over 256-bucket quantized scores —
    // "do the two scorers ORDER the corpus the same way", the
    // monotone-rescaling-robust cousin of lr_agreement's kappa
    "score_tau" -> ((s, d) => {
      val scored = TextAnalysis.withLrGate(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "text", dim = 32)
        .withColumn("__sm", expr(
          "CAST(round(lr_score * 1000000) AS BIGINT)"))
        .withColumn("__smc", expr(
          "least(greatest(__sm, -1000000L), 1000000L)"))
        .withColumn("__q",
          round(TextAnalysis.qualityScoreExpr("text") * lit(1000000))
            .cast("long"))
      Preference.kendallTauB(scored,
        expr("least((__smc + 1000000L) * 256 DIV 2000000L, 255L)"),
        expr("least(__q * 256 DIV 1000000L, 255L)"))
    }),
    // model-gate vs heuristic agreement (round-17): Cohen's kappa
    // between the LR gate's keep decision and the heuristic quality
    // label — with lr_calibration (is p̂ honest) and lr_auc (does the
    // ranking separate), this completes the gate-evaluation trio
    // (does the DECISION agree with what it replaces)
    "lr_agreement" -> ((s, d) => {
      val scored = TextAnalysis.withLrGate(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "text", dim = 32)
      Preference.annotatorKappa(scored, col("keep"),
        TextAnalysis.qualityScoreExpr("text") >= lit(0.5))
        .orderBy("label_a", "label_b")
    }),
    // mojibake repair (round-17): plant CP1252 double-encoding
    // corruption on two thirds of the corpus deterministically, then
    // undo it with the pinned replace chain — fix accounting from the
    // two phase length diffs; row-local, streaming-safe
    "mojibake_fix" -> ((s, d) => {
      val planted = t(s, d, "documents").select(col("doc_id"),
        expr("CASE WHEN doc_id % 3 = 0 THEN replace(text, 'e', 'Ã©') " +
          "WHEN doc_id % 3 = 1 THEN " +
          "replace(replace(text, 's', 'â€™'), 'o', 'â€¦') " +
          "ELSE text END").as("text"))
      TextAnalysis.mojibakeFix(planted, "text")
        .select("doc_id", "fixed_text", "n_fixes")
        .orderBy("doc_id")
    }),
    // temperature-scaled mixture weights (alpha = 0.75, the sqrt-
    // composable temperature — p^α = sqrt(sqrt(p³)) avoids libm pow
    // entirely): the low-resource-boosting sampling recipe, with the
    // up/down-sample factor per source
    "mix_temperature" -> ((s, d) => {
      TextAnalysis.temperatureWeights(t(s, d, "documents"), "source",
        "text")
        .orderBy("source")
    }),
    // diagnostic twin of mix_temperature carrying ONLY the integer
    // token counts (no float op anywhere): if the driver ever
    // disagrees on mix_temperature again, this row isolates whether
    // the divergence is in the tokenization input or the arithmetic
    "mix_tokens" -> ((s, d) => {
      val docs = t(s, d, "documents")
      docs.groupBy(col("source"))
        .agg(sum(size(expr(
          "filter(split(lower(text), ' '), t -> t != '')"))
          .cast("long")).as("n_tokens"),
          count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("n_chars"))
        .orderBy("source")
    }),
    // banded-LSH recall/precision vs exact all-pairs Jaccard truth on
    // a fixed 200-doc sample — the text-side ann_recall: the two
    // numbers that justify the (bands × rows) configuration
    "dedup_recall" -> ((s, d) => {
      Dedup.dedupRecall(t(s, d, "documents"), "text", "doc_id",
        maxId = 200, minJ = 0.8)
    }),
    // Zipf-law fit over the top-100 token frequencies: corpus-health
    // telemetry (natural text ≈ slope −1; templated corpora bend it)
    "zipf_fit" -> ((s, d) => {
      TextAnalysis.zipfFit(t(s, d, "documents"), "text", k = 100)
    }),
    // corpus-wide paragraph dedup (Dolma/CCNet stage): 10-word
    // paragraphs, first occurrence wins ACROSS documents, text
    // re-assembled — repeated boilerplate vanishes everywhere but its
    // first appearance
    "paragraph_dedup" -> ((s, d) => {
      Dedup.paragraphDedup(t(s, d, "documents"), "text", "doc_id",
        words = 10)
        .orderBy("doc_id")
    }),
    // deterministic weighted sample (A-ES exponential race) per
    // source, weight = doc length: the reproducible PPS draw a
    // mixture/curriculum sampler publishes in its data recipe
    "weighted_sample" -> ((s, d) => {
      TextAnalysis.weightedSample(t(s, d, "documents"), "source",
        "text", "doc_id", "n_chars", k = 10)
        .orderBy("source", "doc_id")
    }),
    // deterministic bottom-k sample per source: k smallest content
    // fingerprints — reproducible AND maximally stable across corpus
    // snapshots; rank filter pushes into WindowGroupLimit
    "kmv_sample" -> ((s, d) => {
      TextAnalysis.kmvSample(t(s, d, "documents"), "source", "text",
        "doc_id", k = 10)
        .orderBy("source", "doc_id")
    }),
    // KMV distinct-count estimate from the k-th smallest distinct
    // fingerprint: the bit-reproducible fixed-memory alternative to
    // approx_count_distinct, with the exact count as degenerate case
    "kmv_distinct" -> ((s, d) => {
      TextAnalysis.kmvDistinct(t(s, d, "documents"), "source", "text",
        k = 20)
        .orderBy("source")
    }),
    // bottom-k sketch set algebra (round-16): pairwise source
    // overlap/Jaccard/intersection ESTIMATES from k hashes per
    // source — one corpus scan where the exact form joins the corpus
    // per pair — with the exact pair counts riding along as
    // verification columns. Fixture plants real overlap: every
    // doc_id % 5 == 2 document is re-emitted under a synthetic
    // 'mirror' source (so mirror∩each-source is exactly its %5==2
    // slice, and natural source pairs pin the zero-overlap side)
    "sketch_overlap" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val mirrored = docs.filter(col("doc_id") % 5 === 2)
        .select((col("doc_id") + 90000000L).as("doc_id"),
          lit("mirror").as("source"), col("text"))
      TextAnalysis.sketchOverlap(docs.unionByName(mirrored),
        "source", "text", k = 64)
        .orderBy("source_a", "source_b")
    }),
    "text_stats" -> ((s, d) => {
      TextAnalysis.withStats(t(s, d, "documents"), "text")
        .select("doc_id", "n_tokens", "n_bpeish", "punct_ratio",
          "avg_word_len", "stopword_ratio", "quality", "pred_lang",
          "fingerprint")
        .orderBy("doc_id")
    }),
    // fill-in-the-middle training transform (round-17): hash-derived
    // deterministic (prefix, middle, suffix) cuts + PSM/SPM mode
    // deal — the code-model infilling stage; row-local codegen,
    // short docs pass through as mode 'raw'
    "fim_split" -> ((s, d) => {
      TextAnalysis.fimSplit(t(s, d, "documents"), "text", "doc_id")
        .select("doc_id", "fim_mode", "prefix", "middle", "suffix",
          "n_prefix", "n_middle", "n_suffix")
        .orderBy("doc_id")
    }),
    // context-window chunking (size 200, overlap 50): the training-
    // data windowing stage — narrow explode, chunk count scales with
    // doc length, never corpus size
    "chunk_windows" -> ((s, d) => {
      TextAnalysis.chunkDocuments(t(s, d, "documents"), "text",
        "doc_id", chunkSize = 200, overlap = 50)
        .orderBy("doc_id", "chunk_id")
    }),
    // content-defined chunking: rolling-hash cut rule (boundary
    // after shingle-hash % 64 == 0), edit-stable boundaries for
    // chunk-grain dedup
    "cdc_chunks" -> ((s, d) => {
      TextAnalysis.cdcChunks(t(s, d, "documents"), "text", "doc_id",
        divisor = 64)
        .orderBy("doc_id", "chunk_id")
    }),
    // per-doc corpus-redundancy report at CDC-chunk grain
    "cdc_dedup_stats" -> ((s, d) => {
      TextAnalysis.cdcDedupStats(
        TextAnalysis.cdcChunks(t(s, d, "documents"), "text",
          "doc_id", divisor = 64), "doc_id")
        .orderBy("doc_id")
    }),
    // chunk-grain deduplicated storage: first occurrence keeps its
    // chunk, later copies vanish corpus-wide
    "cdc_scrub" -> ((s, d) => {
      TextAnalysis.cdcScrub(
        TextAnalysis.cdcChunks(t(s, d, "documents"), "text",
          "doc_id", divisor = 64), "doc_id")
        .orderBy("doc_id")
    }),
    // the composed curation flow a corpus pipeline actually runs:
    // stats → quality + language gates → exact-dedup on the
    // normalized-content fingerprint (lowest doc id kept). One
    // narrow stats pass + ONE shuffle (the fingerprint groupBy via
    // min_by — no join-back for the carried columns)
    "curation_pipeline" -> ((s, d) => {
      TextAnalysis.withStats(t(s, d, "documents"), "text")
        .filter(col("quality") >= 0.5 && col("pred_lang") === "en")
        .groupBy(col("fingerprint"))
        .agg(min(col("doc_id")).as("doc_id"),
          min_by(col("n_tokens"), col("doc_id")).as("n_tokens"),
          min_by(col("quality"), col("doc_id")).as("quality"))
        .select("doc_id", "n_tokens", "quality")
        .orderBy("doc_id")
    }),
    // the round-9 flagship composition: heuristic gates + MODEL gate
    // (linear classifier) + exact dedup + chunk-grain CDC scrub, one
    // plan — each stage oracled individually elsewhere, this pins
    // the composition
    "curation_v2" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // reps and lr each feed the survivor build AND the final
      // attach — eagerly materialized (localCheckpoint, not a lazy
      // persist: within one cold action the consumers' stages race
      // and each re-runs the stats / LR corpus pass) so those passes
      // run once, not per consumer
      val reps = TextAnalysis.withStats(docs, "text")
        .filter(col("quality") >= 0.5 && col("pred_lang") === "en")
        .groupBy(col("fingerprint"))
        .agg(min(col("doc_id")).as("doc_id"),
          min_by(col("quality"), col("doc_id")).as("quality"))
        .select("doc_id", "quality")
        .localCheckpoint()
      // CHECKPOINT BEFORE the keep-filter: filter(keep) pushed below
      // the gate's projection re-inlines the full embedding chain
      // (vec, norm, and the per-token hash HOF) into the predicate —
      // measured 13.0 s vs 1.4 s for the same gate un-filtered at
      // sf0.1. Materializing the 3-column gate output first makes the
      // filter a trivial scan of checkpointed blocks.
      val lr = TextAnalysis.lrQualityGate(docs, "text", "doc_id")
        .localCheckpoint()
        .filter(col("keep")).select(col("doc_id"), col("lr_score"))
      val survivors = reps.join(lr, Seq("doc_id"))
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      TextAnalysis.cdcScrub(
          TextAnalysis.cdcChunks(survivors, "text", "doc_id",
            divisor = 64), "doc_id")
        .join(reps, Seq("doc_id")).join(lr, Seq("doc_id"))
        .select(col("doc_id"), col("quality"), col("lr_score"),
          col("scrubbed"), col("scrubbed_len"))
        .orderBy("doc_id")
    }),
    // curation_v3: the round-12 recipe composed end to end — Gopher
    // rule gate ∧ repetition gate → exact dedup → decontaminate vs
    // the held-out half → DSIR importance ranking → budgeted top-50.
    // Every stage is an independently-oracled operator; this pins
    // that they COMPOSE (joins on doc_id, one broadcast DSIR model)
    "curation_v3" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      val evalSet = docs.filter(col("doc_id") % 2 === 1)
      val gated = TextAnalysis.gopherRules(corpus, "text",
          minTokens = 40, maxTokens = 1000)
        .filter(col("keep")).select(col("doc_id"), col("text"))
        .join(TextAnalysis.docRepetition(corpus, "text", "doc_id")
          .filter(col("top2_ppm") <= 150000).select("doc_id"),
          Seq("doc_id"))
      // digest-keyed reps (md5, the dedup_exact_hash contract): the
      // shuffle carries a 16-byte key instead of the full document
      // body — the oracle's GROUP BY text is unchanged because the
      // groups are identical absent an md5 collision
      val reps = Dedup.exactReps(gated, "text", "doc_id")
        .select("doc_id")
      val kept = Dedup.decontaminate(gated.join(reps, Seq("doc_id")),
        evalSet, "text", "doc_id")
      val scored = TextAnalysis.dsirWeights(docs, "text", "doc_id",
        "source", "src0").select(col("doc_id"), col("dsir_score"))
      kept.join(scored, Seq("doc_id"))
        .orderBy(col("dsir_score").desc, col("doc_id").asc)
        .limit(50)
        .orderBy("doc_id")
    }),
    // curation_v4: the LOADER-PREP flagship — quality gate → digest
    // dedup → exact-n source-proportional sample → length-bucketed
    // padded batches: corpus in, training batches out, one plan, every
    // stage an independently-oracled operator
    "curation_v4" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val gated = TextAnalysis.gopherRules(docs, "text",
          minTokens = 40, maxTokens = 1000)
        .filter(col("keep")).select("doc_id")
      val gdocs = docs.join(gated, Seq("doc_id"))
      val reps = Dedup.exactReps(
        gdocs.select("doc_id", "text"), "text", "doc_id")
        .select("doc_id")
      // pinned (round 22): the survivor frame fans out FOUR ways —
      // quotaSample's strata-count collect, its prefix-sum range
      // pin, and the text join — and each reference re-executed the
      // whole gopher+dedup chain. One corpus-sized materialization
      // replaces three upstream re-executions.
      val surv = graft.engine.Pin.point(
        gdocs.join(reps, Seq("doc_id")), "curation_v4.survivors")
      val sampled = graft.engine.Pin.point(
        TextAnalysis.quotaSample(surv, "doc_id", "source", 100L),
        // pinned: two consumers (the text join + the final
        // source/src_rank join) — tiny (≤ n rows)
        "curation_v4.sampled")
      val withText = sampled.select("doc_id")
        .join(surv.select("doc_id", "text"), Seq("doc_id"))
      TextAnalysis.lengthBucketBatches(withText, "text", "doc_id",
          batchSize = 8)
        .join(sampled.select("doc_id", "source", "src_rank"),
          Seq("doc_id"))
        .select("doc_id", "source", "src_rank", "n_tokens", "bucket",
          "batch_id", "pad_tokens")
        .orderBy("doc_id")
    }),
    // curation_v5 (round-14): the CRAWL-NATIVE curation flagship —
    // what the corpus looks like when it arrives with urls instead
    // of clean source labels. Synthetic urls → RFC-3986 parse +
    // registered-domain fold → model langId gate (drop und) → exact
    // dedup (digest keeper) → quality-ranked cap per FOLDED domain.
    // Every stage is an individually-oracled operator; this pins
    // their composition in one plan.
    // curation_v6 (round-14): the crawl-to-corpus flagship over the
    // MESSY url fixture — canonicalize (tracking strip, param sort,
    // port/slash/fragment/case folds) → URL-GRAIN merge on the
    // canon key (the dedup url-exact merging misses) → model langId
    // gate (pinned before the filter, the v5 discipline) →
    // value-grain equidepth curriculum bands → row-local
    // size-stratified shard assignment. One corpus-grain chain:
    // canon projection is row-local, the merge shuffles the
    // (canon_url)-keyed slim frame, langId is row-local, bands come
    // from a broadcast value map, shards from a projection.
    "curation_v6" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("text"), col("source"))
        .withColumn("url", expr(syntheticUrlMessy))
      val canon = UrlOps.canonicalizeUrl(docs, "url")
        .select("doc_id", "text", "registered_domain", "canon_url")
      val keeper = canon.groupBy(col("canon_url"))
        .agg(min(col("doc_id")).as("doc_id"))
      val merged = canon.join(keeper, Seq("canon_url", "doc_id"))
      val langed = TextAnalysis.withLangId(merged, "text")
        .select("doc_id", "text", "registered_domain", "canon_url",
          "pred_lang")
        .localCheckpoint()
        .filter(col("pred_lang") =!= "und")
      val banded = TextAnalysis.curriculumOrder(langed, "text",
        "doc_id", nBands = 4)
        .select("doc_id", "quality", "band")
      TextAnalysis.withShard(
        langed.join(banded, Seq("doc_id")), "text", "doc_id",
        nShards = 8)
        .select("doc_id", "registered_domain", "pred_lang",
          "quality", "band", "shard")
        .orderBy("doc_id")
    }),
    "curation_v5" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("url", expr(syntheticUrl))
      val parsed = UrlOps.withUrlParts(docs, "url")
        .select("doc_id", "text", "registered_domain")
      // pin BEFORE the und filter: predicate pushdown substitutes
      // pred_lang's CASE into the Filter with the __zs array expr
      // inlined PER REFERENCE (~17x the whole trigram+count+dot
      // chain per row — the lrQualityGate consumer note; measured
      // 22 s vs 2.4 s at sf0.1). The pin also serves both downstream
      // consumers (reps build + surv join) from one evaluation.
      val langed = TextAnalysis.withLangId(parsed, "text")
        .select("doc_id", "text", "registered_domain", "pred_lang")
        .localCheckpoint()
        .filter(col("pred_lang") =!= "und")
      val reps = Dedup.exactReps(
        langed.select("doc_id", "text"), "text", "doc_id")
        .select("doc_id")
      val surv = langed.join(reps, Seq("doc_id"))
        .withColumn("quality", TextAnalysis.qualityScoreExpr("text"))
      TextAnalysis.capPerDomain(surv, "registered_domain",
        col("quality"), "doc_id", 10)
        .select("doc_id", "registered_domain", "pred_lang", "quality")
        .orderBy("doc_id")
    }),
    // the round-14 real-codec dispatcher oracled END TO END over a
    // MIXED payload corpus: every third doc becomes real BMP bytes,
    // real WAV bytes, or raw text (no codec claims it) — one
    // extractFeatures pass must route each to its codec and emit
    // that codec's features, with unknowns honestly empty
    "media_dispatch" -> ((s, d) => {
      val sp = s
      import sp.implicits._
      val payloads = Multimodal.prefixes(t(s, d, "documents"), "text",
          "doc_id", 192)
        .map { case (id, pfx) =>
          val payload = (id % 3) match {
            case 0 =>
              Multimodal.encodeBmp(Multimodal.DecodedImage(8, 8,
                Multimodal.rgbPixels(Multimodal.codepointBytes(pfx, 192),
                  0)))
            case 1 =>
              Multimodal.encodeWav(Multimodal.DecodedAudio(8000,
                Multimodal.pcmSamples(Multimodal.codepointBytes(pfx, 64))))
            case _ => pfx.getBytes("UTF-8")
          }
          (id, payload)
        }.toDF("doc_id", "payload")
      Canon.stringifyArrays(
        Multimodal.extractFeatures(payloads).toDF()
          .select(col("doc_id"), col("n_bytes"), col("kind"),
            col("feat")))
        .orderBy("doc_id")
    }),
    "multimodal_meta" -> ((s, d) => {
      Canon.stringifyArrays(
        Multimodal.withBinaryPayload(t(s, d, "documents"), "text")
          .select(col("doc_id"), col("meta.mime").as("mime"),
            col("meta.n_bytes").as("n_bytes"),
            col("meta.checksum").as("checksum"),
            Multimodal.sampleExpr("text", 16, 4).as("sample")))
        .orderBy("doc_id")
    }),
    // the full CurationJob flagship: exact dedup → quality/lang gates
    // → decontamination (odd ids as the eval corpus) → chunking, one
    // library call, every stage oracled individually elsewhere
    "curation_e2e" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.CurationJob.curate(
        docs.filter(col("doc_id") % 2 === 0), "text", "doc_id",
        evalSet = Some(docs.filter(col("doc_id") % 2 === 1)))
        .orderBy("doc_id", "chunk_id")
    }),
    // the FULL training-data prep flagship: curate -> doc-level hash
    // split -> pack the train chunk stream into 256-token sequences;
    // pure composition of individually-oracled stages, one plan
    "prep_e2e" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.CurationJob.prepare(
        docs.filter(col("doc_id") % 2 === 0),
        Some(docs.filter(col("doc_id") % 2 === 1)),
        "text", "doc_id")
        .orderBy("doc_id", "chunk_id")
    }),
    // per-gate attrition audit over the same corpus/eval split: doc
    // and token counts surviving raw → dedup → quality → lang →
    // decontamination — the funnel report a curation run publishes
    "curation_funnel" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.CurationJob.funnel(
        docs.filter(col("doc_id") % 2 === 0), "text", "doc_id",
        evalSet = Some(docs.filter(col("doc_id") % 2 === 1)))
        .orderBy("stage_ord")
    }),
    // domain mixture reweighting: per-source sampling probabilities
    // that reshape the natural token distribution into a 50/30/20
    // target over three sources — the pretraining data-mixing step
    "mix_weights" -> ((s, d) => {
      TextAnalysis.mixtureWeights(t(s, d, "documents"), "text",
        "source", Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .orderBy("source")
    }),
    // the same reweighting billed at TOKENIZER grain: per-source
    // token mass from BPE counts (10 one-merge rounds) — completes
    // the BPE accounting trio (pack_sequences, token_budget_cut_bpe,
    // this)
    "mix_weights_bpe" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val withBpe = docs.join(
        // counts-only apply — see token_budget_cut_bpe
        TextAnalysis.bpeApplyCounts(docs, "text", "doc_id",
            rounds = 10, batch = 1)
          .select(col("doc_id"), col("n_bpe_tokens")), Seq("doc_id"))
      TextAnalysis.mixtureWeights(withBpe, "text", "source",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
        tokenCounts = Some(col("n_bpe_tokens")))
        .orderBy("source")
    }),
    // the same reweighting billed at the BATCHED tokenizer grain
    // (10 rounds × ≤8 merges) — the scale-path tokenizer feeding the
    // same accounting hook
    "mix_weights_bpe_batched" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val withBpe = docs.join(
        // counts-only apply — see token_budget_cut_bpe
        TextAnalysis.bpeApplyCounts(docs, "text", "doc_id",
          rounds = 10, batch = 8)
          .select(col("doc_id"), col("n_bpe_tokens")), Seq("doc_id"))
      TextAnalysis.mixtureWeights(withBpe, "text", "source",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
        tokenCounts = Some(col("n_bpe_tokens")))
        .orderBy("source")
    }),
    // per-source percentile-rank normalization of the quality score:
    // scores from different sources aren't comparable raw (each
    // source has its own score distribution) — rank-normalizing
    // within source puts them on one [0,1] scale before any global
    // threshold; ONE shuffle on the source key
    "quality_pct_rank" -> ((s, d) => {
      // percent_rank() OVER (PARTITION BY source ...) is a whole-
      // source single-task sort (source cardinality = a handful) —
      // replaced (round 21) by the exact closed form
      // (rank - 1) / (n - 1) over Dist.groupedRank: the order
      // (quality, doc_id) is strict, so rank == row_number, and the
      // double division uses the identical IEEE operands Spark's
      // PercentRank evaluates — bit-identical output, pinned by spec
      TextAnalysis.withStats(t(s, d, "documents"), "text")
        .select(col("doc_id"), col("source"), col("quality"))
        .transform(df => graft.engine.Dist.groupedRank(df, "source",
          Seq(col("quality").asc, col("doc_id").asc), "__r",
          withGroupTotal = true))
        .withColumn("pct_rank", round(expr(
          """CASE WHEN __r_n <= 1L THEN 0.0D
            |ELSE CAST(__r - 1L AS DOUBLE) /
            |  CAST(__r_n - 1L AS DOUBLE) END""".stripMargin), 6))
        .select("doc_id", "source", "quality", "pct_rank")
        .orderBy("doc_id")
    }),
    // ranked vocabulary with cumulative coverage: top-100 tokens and
    // the fraction of all occurrences each vocabulary prefix covers
    // — the curve a vocab-size decision reads
    "vocab_coverage" -> ((s, d) => {
      TextAnalysis.vocabCoverage(t(s, d, "documents"), "text", k = 100)
        .orderBy("rank")
    }),
    // distribution-relative length gate: docs inside the corpus's own
    // p5-p95 token-count band (tails are truncation fragments and
    // run-on concatenations at any absolute scale)
    "length_gate" -> ((s, d) => {
      TextAnalysis.lengthGate(t(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),
    // bigram LM fluency score: mean add-1-smoothed log-prob of each
    // doc's bigrams under the corpus's own statistics — the cheap
    // perplexity stand-in for ranking docs before a neural scorer
    "bigram_lm_score" -> ((s, d) => {
      TextAnalysis.bigramLmScore(t(s, d, "documents"), "text",
        "doc_id")
        .orderBy("doc_id")
    }),
    // trigram stupid-backoff LM: stats fit on the even-doc_id train
    // slice, ALL docs scored — odd docs hit grams unseen in train,
    // so every backoff branch (trigram -> bigram -> add-1 unigram
    // floor) is exercised against the oracle
    "trigram_lm_score" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.trigramLmScore(docs,
        docs.filter(col("doc_id") % 2 === 0), "text", "doc_id")
        .orderBy("doc_id")
    }),
    // BPE merge-step statistics: top-20 adjacent character pairs
    // within words — the count a tokenizer trainer maximizes when
    // picking its next merge
    "bpe_pairs" -> ((s, d) => {
      TextAnalysis.bpePairCounts(t(s, d, "documents"), "text", k = 20)
        .orderBy("rank")
    }),
    // BPE fit + apply: 10 deterministic merges learned on the
    // corpus's word-frequency table, then every doc tokenized by
    // broadcast word->tokens join; the oracle replays the identical
    // merge chain as generated materialized CTE stages
    // WordPiece vocab fit (round-15): frequency-ranked substring
    // pieces with the '##' continuation marker and a single-char
    // totality floor — the BERT-family tokenizer next to BPE
    "wordpiece_vocab" -> ((s, d) => {
      TextAnalysis.wordpieceFit(t(s, d, "documents"), "text")
        .orderBy("rank")
    }),
    // WordPiece greedy maximal-munch inference over the fitted
    // vocab: per-doc piece/unk accounting, fertility ppm, and the
    // first word's segmentation as an oracled witness
    "wordpiece_tokenize" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.wordpieceApply(docs, "text", "doc_id",
        TextAnalysis.wordpieceFit(docs, "text"))
        .orderBy("doc_id")
    }),
    // UNIGRAM-family fit: positionless substring pieces, tight 64-cap
    // (selectivity is what makes greedy fallible below) + single-char
    // floor; the count doubles as the integer Viterbi score
    "unigram_vocab" -> ((s, d) => {
      TextAnalysis.unigramFit(t(s, d, "documents")
        .withColumn("ftext", expr(unigramFitText)), "ftext")
        .orderBy("rank")
    }),
    // SentencePiece-style unigram-LM EM fit (round-18): 2 full EM
    // rounds from the frequency vocabulary — native forward-backward
    // lattice expectations (exact truncated micro units, pinned add
    // tree), driver-side M-step with +1 smoothing and the 75%/round
    // (expectation desc, piece asc) shrink, single chars floored —
    // the oracle replays the identical chain as generated CTEs
    "unigram_em_vocab" -> ((s, d) => {
      TextAnalysis.unigramEmFit(t(s, d, "documents")
        .withColumn("ftext", expr(unigramFitText)), "ftext")
        .orderBy("rank")
    }),
    // broadened EM seeding (round-19, the SentencePiece recipe):
    // same EM chain and same prune SCHEDULE (keepN from vocabN,
    // 75%/round), but the round-1 candidate pool is the top-256
    // substring table instead of the frequency top-64 — the
    // EXPECTATIONS pick the survivors out of the wide pool rather
    // than the raw frequency rank pre-deciding; spec pins the
    // corpus-likelihood win at equal final vocabN
    "unigram_em_broad" -> ((s, d) => {
      TextAnalysis.unigramEmFit(t(s, d, "documents")
        .withColumn("ftext", expr(unigramFitText)), "ftext",
        seedN = 256)
        .orderBy("rank")
    }),
    // byte-grain unigram-LM EM (round-20): the SentencePiece
    // --byte_fallback production form — every word folds to its
    // UTF-8 byte sequence (1 char per byte) before the SAME EM
    // chain, so the single-char floor IS the 256-byte fallback
    // alphabet and pieces can cross multi-byte codepoint boundaries
    // (a planted accent slice makes them actually do it); pieces
    // render in the bpe_bytes lowercase-hex convention
    "unigram_em_bytes" -> ((s, d) => {
      TextAnalysis.unigramEmFit(t(s, d, "documents")
        .withColumn("ftext", expr(unigramBytesFitText)), "ftext",
        byteGrain = true)
        .orderBy("rank")
    }),
    // fit-on-sample byte-EM posture (round 22, VERDICT r21 #7): the
    // full-corpus EM fit's per-round lattice pass scales with the
    // corpus, which is the unigram_em_bytes sf1 cost — a TOKENIZER
    // FIT only needs a representative sample (the SentencePiece
    // production norm: --input_sentence_size). The sampled fit reads
    // the deterministic doc_id % 4 = 0 slice (engine-identical
    // arithmetic, no RNG); results differ from unigram_em_bytes by
    // design, so this is a NEW oracled query, not a mutation.
    "unigram_em_bytes_sampled" -> ((s, d) => {
      TextAnalysis.unigramEmFit(t(s, d, "documents")
        .filter(col("doc_id") % 4 === 0)
        .withColumn("ftext", expr(unigramBytesFitText)), "ftext",
        byteGrain = true)
        .orderBy("rank")
    }),
    // tokenize WITH the EM-fitted vocabulary (round-18): the same
    // Viterbi DP over the smoothed-expectation scores — closes the
    // EM loop end to end (fit -> segment); the fit's pruned pieces
    // change both segmentations and the optimal-vs-greedy gap
    "unigram_em_tokenize" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("ftext", expr(unigramFitText))
        .withColumn("ttext", expr(unigramTokText))
      val emVocab = TextAnalysis.unigramEmFit(docs, "ftext")
        .select(col("piece"), col("em_score").as("cnt"))
      TextAnalysis.unigramTokenizeWords(docs, "ttext", emVocab)
        .orderBy("word")
    }),
    // optimal (Viterbi) segmentation per distinct word: fit on the
    // letters-only fixture, tokenize on the superset that adds
    // digit-suffixed words — the digits are fit-unseen single chars,
    // so the unk path is exercised; >16-char planted words hit the
    // <long> collapse
    "unigram_tokenize" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("ftext", expr(unigramFitText))
        .withColumn("ttext", expr(unigramTokText))
      TextAnalysis.unigramTokenizeWords(docs, "ttext",
        TextAnalysis.unigramFit(docs, "ftext"))
        .orderBy("word")
    }),
    // doc-grain unigram tokenization (wordpiece_tokenize's shape on
    // the optimal lattice): fertility ppm + first-word witness
    "unigram_apply" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("ftext", expr(unigramFitText))
        .withColumn("ttext", expr(unigramTokText))
      TextAnalysis.unigramApply(docs, "ttext", "doc_id",
        TextAnalysis.unigramFit(docs, "ftext"))
        .orderBy("doc_id")
    }),
    // the measurable case for the DP: occurrence-weighted totals of
    // optimal vs greedy maximal-munch segmentation over the SAME
    // vocabulary. On a substring-closed candidate vocabulary greedy
    // is piece-count optimal (every piece suffix is itself a
    // candidate, so the munch always resyncs), so the count gap only
    // opens through cap holes — the honest, always-measurable gain is
    // the SCORE dimension: Viterbi picks the max-frequency minimal
    // segmentation, greedy leaves frequency mass behind
    "viterbi_gain" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("ftext", expr(unigramFitText))
        .withColumn("ttext", expr(unigramTokText))
      val stats = TextAnalysis.unigramTokenizeWords(docs, "ttext",
        TextAnalysis.unigramFit(docs, "ftext"))
      val occ = docs.select(explode(expr(
        "filter(split(lower(ttext), ' '), t -> t != '')")).as("word"))
      // broadcast the DISTINCT-WORD stats side: the occurrence side
      // is the token stream (unbounded at scale), the stats side is
      // vocabulary-bounded — left to itself AQE broadcast occ here
      occ.join(broadcast(stats), Seq("word"))
        .agg(count(lit(1)).as("n_words"),
          countDistinct(col("word")).as("n_distinct"),
          sum(col("n_pieces")).as("np_viterbi"),
          sum(col("n_pieces_greedy")).as("np_greedy"),
          countDistinct(when(col("n_pieces") < col("n_pieces_greedy"),
            col("word"))).as("words_improved"),
          countDistinct(when(col("best_score") > col("greedy_score"),
            col("word"))).as("words_score_improved"),
          sum(col("best_score") - col("greedy_score"))
            .as("score_gain"))
        .withColumn("saved_ppm", expr(
          "(np_greedy - np_viterbi) * 1000000L DIV greatest(np_greedy, 1L)"))
    }),
    "bpe_apply" -> ((s, d) => {
      Canon.stringifyArrays(
        TextAnalysis.bpeApply(t(s, d, "documents"), "text", "doc_id",
          rounds = 10, batch = 1))
        .orderBy("doc_id")
    }),
    // batched BPE fit: up to 8 dominance-disjoint merges per round,
    // 10 rounds; oracle replays the identical per-round selection
    // and fold
    "bpe_apply_batched" -> ((s, d) => {
      Canon.stringifyArrays(
        TextAnalysis.bpeApply(t(s, d, "documents"), "text",
          "doc_id", rounds = 10, batch = 8))
        .orderBy("doc_id")
    }),
    // byte-level BPE with byte fallback (round-19): merges learned
    // over UTF-8 bytes (two-hex-digit seed symbols), so the base
    // alphabet is the 256 bytes and every word tokenizes UNK-free —
    // the production (GPT-2/Llama) tokenizer grain; same batched
    // dominance-disjoint fit, tokens are lowercase hex runs
    "bpe_bytes_apply" -> ((s, d) => {
      Canon.stringifyArrays(
        TextAnalysis.bpeApply(t(s, d, "documents"), "text",
          "doc_id", rounds = 10, batch = 8, byteGrain = true))
        .orderBy("doc_id")
    }),
    // byte-vs-char fertility contrast (round-19): the PRODUCTION
    // scenario — both tokenizers fitted on the (ASCII) reference
    // slice, applied to the whole corpus including planted multibyte
    // slices. On out-of-fit scripts the char tokenizer emits one
    // seed symbol per unseen character while the byte tokenizer
    // falls back to its unmerged bytes (two hex tokens per 2-byte
    // codepoint) — so bytes_vs_char_ppm reads exactly 10^6 on the
    // ascii slice (on ASCII the grains are isomorphic) and > 10^6 on
    // the multibyte slices: the re-billing a byte-level tokenizer
    // applies to scripts its fit corpus under-represents
    "fertility_bytes" -> ((s, d) => {
      // the parquet fixture is pure ASCII, so multibyte slices are
      // PLANTED deterministically (the confusable_fold pattern):
      // one slice swaps vowels for 2-byte Latin accents, one for
      // Cyrillic/Greek homoglyphs
      val planted = t(s, d, "documents").select(col("doc_id"),
        expr("CASE WHEN doc_id % 3 = 1 THEN " +
          "replace(replace(text, 'a', 'ä'), 'e', 'é') " +
          "WHEN doc_id % 3 = 2 THEN " +
          "replace(replace(text, 'o', 'о'), 'i', 'ι') " +
          "ELSE text END").as("text"),
        expr("CASE WHEN doc_id % 3 = 1 THEN 'latin_acc' " +
          "WHEN doc_id % 3 = 2 THEN 'homoglyph' " +
          "ELSE 'ascii' END").as("slice"))
      val fitSlice = planted.filter(col("doc_id") % 3 === 0)
      // one fit loop for both grains: each round collects both
      // top-C cuts in one job, and the shared word-count frame is
      // computed once; merge tables are bit-identical to the
      // separate fits (spec-pinned)
      val (chM, byM) = TextAnalysis.bpeFitMergesDual(fitSlice, "text",
        rounds = 10, batch = 8)
      // both grains' counts in ONE corpus pass (the query only bills
      // token COUNTS — no token arrays through the per-doc groupBy)
      val counts = TextAnalysis.bpeTokenCountsDual(planted, "text",
          "doc_id", chM, byM)
        .select(col("doc_id"), col("n_char_tokens").as("__nc"),
          col("n_byte_tokens").as("__nb"))
      planted
        .select(col("doc_id"), col("slice"),
          expr("CAST(size(filter(split(lower(text), ' '), " +
            "t -> t != '')) AS BIGINT)").as("__w"))
        .join(counts, Seq("doc_id"))
        .groupBy("slice")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__w")).as("n_words"),
          sum(col("__nc")).as("n_bpe_char"),
          sum(col("__nb")).as("n_bpe_bytes"))
        .withColumn("fertility_char_ppm", expr(
          "CAST((n_bpe_char * 1000000L) DIV n_words AS BIGINT)"))
        .withColumn("fertility_bytes_ppm", expr(
          "CAST((n_bpe_bytes * 1000000L) DIV n_words AS BIGINT)"))
        .withColumn("bytes_vs_char_ppm", expr(
          "CAST((n_bpe_bytes * 1000000L) DIV n_bpe_char AS BIGINT)"))
        .orderBy("slice")
    }),
    // repetition-ratio quality gate (duplicate-bigram fraction)
    "rep_ratio" -> ((s, d) => {
      t(s, d, "documents")
        .withColumn("__toks", expr("split(lower(text), ' ')"))
        .select(col("doc_id"),
          TextAnalysis.repetitionRatioExpr("__toks").as("rep_ratio"))
        .orderBy("doc_id")
    }),
    // TF-IDF top-3 terms per doc (corpus-level statistic, in-plan N)
    "tfidf_topterms" -> ((s, d) => {
      TextAnalysis.tfIdfTopTerms(t(s, d, "documents"), "text",
        "doc_id", k = 3)
        .orderBy("doc_id", "rank")
    }),
    // benchmark decontamination: even doc_ids are "training", odd are
    // the "eval set"; training docs sharing any 8-token gram with eval
    // are dropped (the published n-gram-overlap scrub)
    "decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "text", "doc_id", n = 8)
        .orderBy("doc_id")
    }),
    // span-level exact-substring dedup: every 20-token window whose
    // gram repeats anywhere in the corpus (across docs or within one)
    // — the substring-granularity scrub document-level dedup misses
    "span_dup_windows" -> ((s, d) => {
      Dedup.dupSpanWindows(t(s, d, "documents"), "text", "doc_id",
        n = 20)
        .orderBy("doc_id", "win_start")
    }),
    // the scrub itself: remove every non-canonical duplicated span
    // (each repeated gram keeps its first (doc, win) occurrence),
    // emit the scrubbed token stream + kept/removed counts
    "span_scrub" -> ((s, d) => {
      Dedup.scrubSpans(t(s, d, "documents"), "text", "doc_id", n = 20)
        .orderBy("doc_id")
    }),
    // maximal duplicated runs: overlapping/adjacent dup windows merged
    // into arbitrary-length intervals (the ExactSubstr longest-dup
    // shape) — a 300-token repeated block is ONE run, not 281 windows
    "span_runs" -> ((s, d) => {
      Dedup.spanRuns(t(s, d, "documents"), "text", "doc_id", n = 20)
        .orderBy("doc_id", "run_start")
    }),
    // per-doc duplicated-span accounting: window count, interval-union
    // covered tokens (overlaps not double-counted), coverage ratio
    "span_dedup_stats" -> ((s, d) => {
      Dedup.spanDedupStats(t(s, d, "documents"), "text", "doc_id",
        n = 20)
        .orderBy("doc_id")
    }),
    // graded contamination report: per train doc, distinct 8-gram
    // count, eval-overlapping grams, and the fraction — the ratio
    // pipelines threshold instead of dropping on any single hit
    "contamination_report" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.contaminationReport(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "text", "doc_id", n = 8)
        .orderBy("doc_id")
    }),
    // cross-source n-gram overlap matrix: which corpus slices share
    // content (the pre-dedup leakage dashboard) — distinct-gram
    // Jaccard per source pair, zero-overlap pairs reported as 0
    "source_overlap" -> ((s, d) => {
      Dedup.sourceOverlapMatrix(t(s, d, "documents"), "text",
        "source", n = 8)
        .orderBy("src_a", "src_b")
    }),
    // corpus snapshot diff by content fingerprint: added / removed /
    // unchanged distinct contents between two corpus versions
    "corpus_diff" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.corpusDiff(
        docs.filter(col("doc_id") < 400),
        docs.filter(col("doc_id") >= 100), "text")
        .orderBy("change")
    }),
    // deterministic stratified sampling: 20% of the dominant language,
    // 50% of the rest, derived from a pure integer scramble of the id
    // — re-runnable to the exact same sample on any engine/partitioning
    "sample_stratified" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.sampleBucketExpr("doc_id", 42L).cast("long")
            .as("bucket"))
        .filter(when(col("lang") === "en", col("bucket") < 200)
          .otherwise(col("bucket") < 500))
        .orderBy("doc_id")
    }),
    // deterministic hash-based train/val/test split (96/2/2): a doc's
    // assignment never changes as the corpus grows — no stored split
    // table, no shuffle, re-derivable on any engine
    "hash_split" -> ((s, d) => {
      TextAnalysis.hashSplit(t(s, d, "documents"), "doc_id", 7L)
        .select("doc_id", "bucket", "split")
        .orderBy("doc_id")
    }),
    // sequence packing (concat-and-chunk, 256-token sequences over 8
    // hash shards): the tokenized-corpus layout stage — one shuffle,
    // per-shard window cumsum, bit-reproducible shard assignment
    "pack_sequences" -> ((s, d) => {
      TextAnalysis.packSequences(t(s, d, "documents"), "text",
        "doc_id", seqLen = 256, nShards = 8)
        .orderBy("doc_id")
    }),
    // incremental dedup: today's batch (odd ids) against the standing
    // corpus (even ids) — bloom prefilter splits the batch row-
    // locally, only might-contain rows anti-join; result provably
    // equals the plain anti-join at any fpp
    "incremental_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.incrementalDedup(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        "text", "doc_id", expectedItems = 100000, fpp = 0.03)
        .select("doc_id").orderBy("doc_id")
    }),
    // perplexity-style corpus-frequency gate: capped top-1000
    // vocabulary, per-doc mean token corpus-frequency in ppm — exact
    // integer aggregation end-to-end, no transcendentals
    "unigram_score" -> ((s, d) => {
      TextAnalysis.unigramFreqScore(t(s, d, "documents"), "text",
        "doc_id", vocabSize = 1000)
        .orderBy("doc_id")
    }),
    // canonical-doc selection: near-dup clustering, then keep the
    // highest-quality member of each cluster (not the lowest-id one)
    "cluster_keep_best" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.keepBestPerCluster(
        Dedup.dedupClusters(docs, "text", "doc_id", 0.8),
        TextAnalysis.withStats(docs, "text"), "doc_id", "quality")
        .orderBy("cluster")
    }),
    // symmetric int8 embedding quantization (decimal-routed rounding
    // — bit-portable to the oracle)
    // matryoshka truncation: first-16-dims prefix, L2-renormalized —
    // the k/d-smaller index trade when embeddings trained nested
    "embed_truncate" -> ((s, d) => {
      Canon.stringifyArrays(
        Similarity.truncateRenorm(t(s, d, "embeddings"), "vec_id",
          "embedding", k = 16))
        .orderBy("vec_id")
    }),
    "embed_quantize" -> ((s, d) => {
      Canon.stringifyArrays(
        Similarity.quantizeInt8(t(s, d, "embeddings"), "vec_id",
          "embedding"))
        .orderBy("vec_id")
    }),
    // REAL decode path: text-derived 8×8 raster → actual BMP bytes →
    // real parser → nearest-neighbor 4×4 resize. The oracle recomputes
    // every channel mean directly from the shared codepoint expression
    // (k/64 dyadic values — bit-exact, unrounded); encode∘decode
    // identity is checked in-query (roundtrip_ok)
    "multimodal_decode" -> ((s, d) => {
      Multimodal.bmpPipeline(t(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),
    // the same raster through a REAL COMPRESSED codec: PNG encode →
    // javax.imageio decode → resize. Lossless, so channel means stay
    // bit-exact dyadic; the encoder-dependent byte length is the one
    // quantity deliberately excluded from the output
    "multimodal_codec" -> ((s, d) => {
      Multimodal.pngPipeline(t(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),
    // ViT patchify over the REAL decoded raster: 2×2 grid of 4×4
    // patches, exact integer channel sums + poly-hash patch
    // fingerprints from the decoded pixels — vision-prep's tokenize
    "multimodal_patchify" -> ((s, d) => {
      Multimodal.patchifyPipeline(t(s, d, "documents"), "text",
        "doc_id")
        .orderBy("doc_id", "patch_id")
    }),
    // patch-grain image near-dup pairs: shared decoded-patch
    // fingerprints with the capped-bucket pair discipline — crops /
    // recompositions whole-image hashing misses
    "patch_dedup" -> ((s, d) => {
      Multimodal.patchDedupPairs(t(s, d, "documents"), "text",
        "doc_id")
        .orderBy("id1", "id2")
    }),
    // the LOSSY compressed codec: baseline JPEG encode → javax.imageio
    // decode. Dimensions + true (codepoint-derived) channel means are
    // exact; the real decode is gated by a ±16 mean-band boolean
    // (measured worst-case 7.33 — see Multimodal.jpegPipeline)
    "multimodal_jpeg" -> ((s, d) => {
      Multimodal.jpegPipeline(t(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),
    // VIDEO twin: four codepoint-derived 8×8 frames → REAL animated
    // GIF89a (hand-rolled encoder, lossless 256-color palette) →
    // stride-2 FRAME SAMPLING through the JDK's real GIF codec
    // (random access — unsampled frames never decode); per-frame
    // channel means recomputed by the oracle from the codepoints
    "multimodal_video" -> ((s, d) => {
      Multimodal.gifPipeline(t(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),
    // AUDIO twin of the decode path: codepoint-derived 16-bit PCM →
    // REAL RIFF/WAVE encode → real chunk-walking parser → RMS / peak
    // / zero-crossing / duration features; the oracle recomputes
    // every feature from the shared codepoint expression (integer
    // samples, dyadic mean, IEEE sqrt — bit-exact, unrounded)
    "multimodal_audio" -> ((s, d) => {
      Multimodal.wavPipeline(t(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),
    // COMPRESSED-audio twin: the same PCM clip through the REAL
    // G.711 μ-law WAVE codec (format tag 7, 2:1 lossy) and back;
    // features on the reconstruction plus quantization error — every
    // hashed column pure-integer BIGINT on both engines, so the
    // lossy codec carries a bit-exact oracle (the μ-law quantizer is
    // deterministic integer math, unlike DCT-based JPEG)
    "multimodal_ulaw" -> ((s, d) => {
      Multimodal.ulawPipeline(t(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),
    // the A-law (format 6) half of the G.711 pair — same container
    // and all-integer contract, the 13-bit 0x55-toggled quantizer
    "multimodal_alaw" -> ((s, d) => {
      Multimodal.alawPipeline(t(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),
    // PREDICTIVE codec: IMA ADPCM (~4:1, format 0x11) — the third
    // compression family (companding, transform, prediction); the
    // oracle replays the adaptive integer state machine with a
    // recursive CTE, all hashed columns BIGINT
    "multimodal_adpcm" -> ((s, d) => {
      Multimodal.adpcmPipeline(t(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),
    // TRANSFORM codec: fixed-point MDCT subband coding (the MP3/AAC
    // skeleton: overlap + window + DCT + quantize + low-pass keep) —
    // completes the codec-family triangle with a BIT-EXACT oracle:
    // the Q15 window/basis tables are injected into the SQL as
    // integer literals and every step is floor-div long arithmetic
    "multimodal_mdct" -> ((s, d) => {
      Multimodal.mdctPipeline(t(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),
    // MOTION-COMPENSATED video codec: the H.26x/MPEG skeleton (per-
    // block ±2 motion search on the previous RECONSTRUCTED frame +
    // 5-bit residual quantization) — the prediction-across-frames
    // member completing the codec family; all-integer, so the oracle
    // replays the full encode recursion as three unrolled CTE steps
    "multimodal_mcvideo" -> ((s, d) => {
      Multimodal.mcvPipeline(t(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),
    // MJPEG video profile (round-15): per-frame REAL JPEG inside a
    // REAL AVI container (RIFF/hdrl/movi/idx1) — the intra-only
    // compressed-video rung between the lossless GIF89a and the
    // motion-compensated toy; random frame access through the idx1
    // index, source-frame channel means as the oracled features,
    // container+lossy invariants as booleans
    "multimodal_mjpeg" -> ((s, d) => {
      Multimodal.mjpegPipeline(t(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),
    // PII scrub: deterministic contact info (email/phone/IPv4 derived
    // from doc_id — same arithmetic in the oracle) is appended to each
    // doc, then redacted; per-category hit counts audit the scrub
    "pii_redact" -> ((s, d) => {
      val aug = t(s, d, "documents")
        .withColumn("aug", expr(piiAugmentSql))
      TextAnalysis.piiCountsExpr("aug")
        .foldLeft(aug.withColumn("redacted",
          TextAnalysis.redactPiiExpr("aug"))) {
          case (df, (name, c)) => df.withColumn(name, c)
        }
        .select("doc_id", "redacted", "n_email", "n_ip", "n_phone")
        .orderBy("doc_id")
    }),
    // anchor-text table (round-14): what referring pages CALL each
    // target domain — tag extraction + (domain, anchor) counts +
    // top-5 rank per domain (WindowGroupLimit); fixture pinned
    "anchor_text" -> ((s, d) => {
      val fx = t(s, d, "documents")
        .select(col("doc_id"), expr(syntheticAnchorText).as("ltext"))
        .localCheckpoint()
      UrlOps.anchorTexts(fx, "ltext", k = 5)
        .orderBy("dst_dom", "rank")
    }),
    // politeness-aware crawl schedule (round-14): per-host fetch
    // slots (2 per slot) + host makespan; per-host rank window,
    // hosts independent; fixture pinned
    "crawl_schedule" -> ((s, d) => {
      val fx = t(s, d, "documents")
        .select(col("doc_id"), expr(syntheticUrl).as("url"))
        .localCheckpoint()
      UrlOps.crawlSchedule(fx, "url", "doc_id", perSlot = 2)
        .orderBy("doc_id")
    }),
    // SITE-template removal stage (round-14): word 8-grams covering
    // >= 50% of ONE registered domain's pages — the per-site form
    // real template scrubbing needs (a nav header on every page of
    // one site never clears a corpus-df bar proportionally); the
    // fixture plants a per-source header on 2/3 of docs
    // robots.txt fetch gate (round-15): RFC 9309 longest-prefix-match
    // precedence (Allow wins length ties, no match = allowed) over a
    // deterministic per-host policy fixture — variant 1 exercises the
    // longer-Allow-overrides-Disallow rule, variant 2 the block-all-
    // except pattern
    "robots_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"))
        .withColumn("url", expr(syntheticUrl))
      val rules = UrlOps.withUrlParts(docs, "url")
        .select("host").distinct()
        .select(col("host"), explode(expr(
          """CASE CAST((length(host) + ascii(substring(host, 1, 1))) % 3 AS INT)
            |  WHEN 0 THEN array(
            |    named_struct('allow', false, 'prefix', '/p/'))
            |  WHEN 1 THEN array(
            |    named_struct('allow', false, 'prefix', '/x/'),
            |    named_struct('allow', true, 'prefix', '/x/1'))
            |  ELSE array(
            |    named_struct('allow', false, 'prefix', '/'),
            |    named_struct('allow', true, 'prefix', '/d/'))
            |END""".stripMargin)).as("__r"))
        .select(col("host"), col("__r.allow").as("allow"),
          col("__r.prefix").as("prefix"))
      UrlOps.robotsGate(docs, "url", rules)
        .select("doc_id", "host", "path", "allowed", "matched_rule",
          "matched_len")
        .orderBy("doc_id")
    }),
    // main-content extraction (round-15): text-density/link-density
    // block rule over a planted page fixture — nav chrome (short,
    // link-saturated) dropped, body prose kept, a link-bearing but
    // low-density paragraph kept, sub-minimum fragments dropped; the
    // linkless site-template header deliberately SURVIVES (that is
    // site_boilerplate's job — the spec pins the composition)
    "main_content" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .withColumn("page", expr(
          """concat(
            |'<a href="https://', source, '.com/">home</a> ',
            |'<a href="https://', source, '.com/about">about us</a> ',
            |'<a href="https://', source, '.com/contact">contact</a>',
            |'\n',
            |'welcome to ', source,
            |' portal navigation menu home about contact search login',
            |'\n', text, '\n',
            |CASE WHEN doc_id % 4 = 0 THEN concat(
            |  'see also <a href="http://m.', source,
            |  '.co.uk/b">sports section</a> for the full background ',
            |  'and analysis of this story')
            |ELSE 'ok' END)""".stripMargin))
      TextAnalysis.mainContent(docs, "page")
        .select("doc_id", "n_blocks", "n_kept", "total_chars",
          "kept_chars", "link_chars", "kept_ppm", "main_text")
        .orderBy("doc_id")
    }),
    // Unicode normalization fold (NFC + casefold + whitespace/control
    // cleanup): the fixture plants the exact forms crawl text mixes —
    // decomposed combining accents (e+U+0301) vs their composed
    // spellings, C0 controls, tab/newline/CR whitespace, double
    // spaces, and shouting case — so the oracle exercises every rule,
    // not just the ASCII fast path
    "text_normalize" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .withColumn("raw", expr(messyUnicodeText))
      TextAnalysis.normalizeText(docs, "raw")
        .select("doc_id", "norm_text", "n_chars_raw", "n_chars_norm",
          "norm_changed")
        .orderBy("doc_id")
    }),
    "site_boilerplate" -> ((s, d) => {
      // fixture pin (the link_graph discipline): url-parse chain +
      // planted-header CASE are plan-literal bloat a real corpus
      // column doesn't have — materialized so the operator's spans
      // compile
      val docs = t(s, d, "documents")
        .withColumn("url", expr(syntheticUrl))
        .withColumn("ltext", expr(
          "CASE WHEN doc_id % 3 = 0 THEN text ELSE concat(" +
            s"'welcome to ', source, ' $siteHeaderTail ', text) END"))
      val parsed = UrlOps.withUrlParts(docs, "url")
        .select("doc_id", "registered_domain", "ltext")
        .localCheckpoint()
      Dedup.siteBoilerplate(parsed,
        "ltext", "doc_id", "registered_domain", n = 8)
        .orderBy("registered_domain", "gram")
    }),
    // normalization-gain report (round-14): exact-dup classes before
    // vs after lowercase/punct/whitespace normalization; the fixture
    // plants shouting "!!" copies that only normalized equality merges
    "norm_dedup_gain" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val variants = t(s, d, "documents")
        .filter(col("doc_id") % 7 === 2)
        .select((col("doc_id") + 20000000L).as("doc_id"),
          concat(upper(col("text")), lit("!!")).as("text"))
      Dedup.normDedupGain(docs.unionByName(variants), "text", "doc_id")
    }),
    // UNICODE twin of norm_dedup_gain: the fixture's planted twins
    // differ only by composed-vs-decomposed accents, case, and
    // whitespace — invisible to raw exact dedup, merged by the NFC
    // normalization fold (the composition argument for normalizeText
    // sitting in front of every hash-equality operator)
    "unicode_dedup_gain" -> ((s, d) => {
      val base = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"), lit(" café")).as("rawt"))
      val twins = t(s, d, "documents")
        .filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 30000000L).as("doc_id"),
          concat(upper(col("text")), lit("   café\t")).as("rawt"))
      TextAnalysis.normalizeText(base.unionByName(twins), "rawt")
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(md5(col("rawt").cast("binary")))
            .as("raw_classes"),
          count_distinct(md5(col("norm_text").cast("binary")))
            .as("norm_classes"))
        .withColumn("classes_merged",
          expr("raw_classes - norm_classes"))
        .withColumn("dup_rows_norm", expr("n_docs - norm_classes"))
    }),
    // Aho-Corasick one-pass dictionary matching: nested/overlapping
    // terms ('tab' ⊂ 'table' ⊃ 'able', 'le', 'dow' ⊂ 'window') all
    // fire per END position — the oracle recounts every (position,
    // term) pair by brute force, so a missing dictionary-suffix link
    // or a wrong fail edge flips the hash
    // round-15 composition flagship: entity decode → NFC normalize →
    // blocklist gate → normalized exact dedup → per-source funnel.
    // The planted twins spell the SAME document three ways at once
    // (&amp; vs &#38;, composed vs decomposed é, case/whitespace) —
    // they merge ONLY after both decode and normalize run, which is
    // the ordering argument the chain exists to prove
    "curation_v7" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val base = docs.select(col("doc_id"), col("source"),
        concat(col("text"), lit(" &amp; café")).as("enc"))
      val twins = docs.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 40000000L).as("doc_id"), col("source"),
          concat(upper(col("text")), lit("  &#38; café\t")).as("enc"))
      // gate bait: synthetic blocked terms absent from the corpus
      // vocabulary, planted densely — the gate drops exactly these,
      // never a natural document (a corpus-common blocklist would
      // gate 95% of the feed and starve the downstream stages)
      val bait = docs.filter(col("doc_id") % 9 === 5)
        .select((col("doc_id") + 80000000L).as("doc_id"), col("source"),
          concat(lit("spamword adword spamword "), col("text"),
            lit(" &amp; caf\u00e9")).as("enc"))
      val st = TextAnalysis.blocklistGate(
        TextAnalysis.normalizeText(
          TextAnalysis.decodeEntities(
            base.unionByName(twins).unionByName(bait), "enc"),
          "dec_text"),
        "norm_text", Seq("spamword", "adword"))
      // normalized-class keeper by hashed key: the 100-TB form keys
      // the dedup shuffle on a digest, not the full document string
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("norm_text").cast("binary")))
      val dd = st.filter(!col("blocked_gate"))
        .withColumn("__keep", min(col("doc_id")).over(w))
      val gated = st.filter(col("blocked_gate"))
        .groupBy("source").agg(count(lit(1)).as("n_gated"))
      val dups = dd.filter(col("doc_id") =!= col("__keep"))
        .groupBy("source").agg(count(lit(1)).as("n_dup_dropped"))
      val kept = dd.filter(col("doc_id") === col("__keep"))
        .groupBy("source").agg(count(lit(1)).as("n_out"),
          sum(col("n_tokens")).as("tokens_out"))
      st.groupBy("source").agg(count(lit(1)).as("n_in"))
        .join(gated, Seq("source"), "left")
        .join(dups, Seq("source"), "left")
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_in"),
          coalesce(col("n_gated"), lit(0L)).as("n_gated"),
          coalesce(col("n_dup_dropped"), lit(0L)).as("n_dup_dropped"),
          coalesce(col("n_out"), lit(0L)).as("n_out"),
          coalesce(col("tokens_out"), lit(0L)).as("tokens_out"))
        .orderBy("source")
    }),
    // curation_v8 flagship (round-17): the v7 funnel fed CORRUPTED
    // crawl bytes — the café marker arrives CP1252-double-encoded
    // ('cafÃ©'), the gated bait class additionally carries a 3-byte
    // 'â€¦' — so the chain is repair → entity-decode → normalize →
    // gate → digest-keyed dedup, with per-source repair accounting
    // riding the funnel. The twin class still normalizes onto its
    // base document AFTER repair (same suffix once fixed), so the
    // dedup semantics of v7 are preserved through the new stage.
    "curation_v8" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val base = docs.select(col("doc_id"), col("source"),
        concat(col("text"), lit(" &amp; cafÃ©")).as("enc"))
      val twins = docs.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 40000000L).as("doc_id"),
          col("source"),
          concat(upper(col("text")), lit("  &#38; cafÃ©\t")).as("enc"))
      val bait = docs.filter(col("doc_id") % 9 === 5)
        .select((col("doc_id") + 80000000L).as("doc_id"),
          col("source"),
          concat(lit("spamword adword spamword "), col("text"),
            lit(" &amp; cafÃ©â€¦")).as("enc"))
      val fixed = TextAnalysis.mojibakeFix(
        base.unionByName(twins).unionByName(bait), "enc")
      val st = TextAnalysis.blocklistGate(
        TextAnalysis.normalizeText(
          TextAnalysis.decodeEntities(fixed, "fixed_text"),
          "dec_text"),
        "norm_text", Seq("spamword", "adword"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("norm_text").cast("binary")))
      val dd = st.filter(!col("blocked_gate"))
        .withColumn("__keep", min(col("doc_id")).over(w))
      val gated = st.filter(col("blocked_gate"))
        .groupBy("source").agg(count(lit(1)).as("n_gated"))
      val dups = dd.filter(col("doc_id") =!= col("__keep"))
        .groupBy("source").agg(count(lit(1)).as("n_dup_dropped"))
      val kept = dd.filter(col("doc_id") === col("__keep"))
        .groupBy("source").agg(count(lit(1)).as("n_out"),
          sum(col("n_tokens")).as("tokens_out"))
      st.groupBy("source").agg(count(lit(1)).as("n_in"),
          sum(col("n_fixes")).as("n_fixes"))
        .join(gated, Seq("source"), "left")
        .join(dups, Seq("source"), "left")
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_in"), col("n_fixes"),
          coalesce(col("n_gated"), lit(0L)).as("n_gated"),
          coalesce(col("n_dup_dropped"), lit(0L)).as("n_dup_dropped"),
          coalesce(col("n_out"), lit(0L)).as("n_out"),
          coalesce(col("tokens_out"), lit(0L)).as("tokens_out"))
        .orderBy("source")
    }),
    // HTML entity decode (named + decimal + hex crawl core set, amp
    // family last — the double-encoded fixture pin proves one layer
    // per pass) with decoded-reference accounting
    "decode_entities" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("enc", expr(entityFixture))
      TextAnalysis.decodeEntities(docs, "enc")
        .select("doc_id", "dec_text", "n_entities")
        .orderBy("doc_id")
    }),
    "multimatch_counts" -> ((s, d) => {
      TextAnalysis.multiMatch(t(s, d, "documents"), "text", acTerms)
        .select("doc_id", "total_hits", "distinct_terms", "counts_csv")
        .orderBy("doc_id")
    }),
    // license-marker classification (round-19): the code-corpus
    // curation gate — one AC pass over a bounded phrase dictionary,
    // per-tag hit sums, verdict = most hits (tie to smaller tag,
    // zero -> unknown), copyleft flag. Markers are PLANTED by slice
    // (the fixture corpus has no license text), including a
    // dual-licensed slice that exercises the tie rule.
    "license_scan" -> ((s, d) => {
      val planted = t(s, d, "documents").select(col("doc_id"),
        expr(licensePlantSql).as("text"))
      TextAnalysis.licenseScan(planted, "text", "doc_id",
        licenseMarkers)
        .orderBy("doc_id")
    }),
    // k-anonymity suppression ladder (round-19): every published
    // quasi-identifier combination must reach k=10 members, else the
    // last quasi column folds to '*', then the last two, ... — the
    // ladder is SEQUENTIAL (each level counts only the rows still
    // unpublished), which is what makes every published class >= k
    "k_anonymity" -> ((s, d) => {
      val cust = t(s, d, "customer").withColumn("acct_band", expr(
        "CAST(CAST(floor(c_acctbal / 2000.0D) AS BIGINT) AS STRING)"))
      TextAnalysis.kAnonymize(cust, "c_custkey",
        Seq("c_mktsegment", "c_nationkey", "acct_band"), k = 10)
        .orderBy("c_custkey")
    }),
    // l-diversity audit (round-19): k-anonymity's homogeneity check —
    // each PUBLISHED class must also carry >= l distinct sensitive
    // values (here: the nation key behind (segment, acctbal-band)
    // quasi tuples), else a k-sized group still discloses
    "l_diversity" -> ((s, d) => {
      val cust = t(s, d, "customer").withColumn("acct_band", expr(
        "CAST(CAST(floor(c_acctbal / 2000.0D) AS BIGINT) AS STRING)"))
      TextAnalysis.lDiversity(cust, "c_custkey",
        Seq("c_mktsegment", "acct_band"), "c_nationkey",
        k = 10, l = 3)
        .orderBy("c_mktsegment", "acct_band")
    }),
    // t-closeness audit (round-20): the privacy triad's third check —
    // a class can be k-anonymous AND l-diverse while its sensitive
    // DISTRIBUTION still leaks (the skewness attack); per published
    // class: exact ordered-attribute EMD vs the global nation
    // distribution, truncating ppm cumulative gaps, gated at t=0.15
    "t_closeness" -> ((s, d) => {
      val cust = t(s, d, "customer").withColumn("acct_band", expr(
        "CAST(CAST(floor(c_acctbal / 2000.0D) AS BIGINT) AS STRING)"))
      TextAnalysis.tCloseness(cust, "c_custkey",
        Seq("c_mktsegment", "acct_band"), "c_nationkey",
        k = 10, tPpm = 150000L)
        .orderBy("c_mktsegment", "acct_band")
    }),
    // k-anonymity utility report (round-20): the metric sheet for
    // CHOOSING k — per ladder level: class counts/spread, anonymous
    // vs flagged rows, and the Bayardo-Agrawal discernibility
    // penalty sum(group_n^2) over anonymous classes, exact longs
    "k_anon_utility" -> ((s, d) => {
      val cust = t(s, d, "customer").withColumn("acct_band", expr(
        "CAST(CAST(floor(c_acctbal / 2000.0D) AS BIGINT) AS STRING)"))
      TextAnalysis.kAnonUtility(cust, "c_custkey",
        Seq("c_mktsegment", "c_nationkey", "acct_band"), k = 10)
        .orderBy("anon_level")
    }),
    // composed release-readiness gate (round-20 flagship): license +
    // PII + decontamination + k-anonymity verdicts in ONE plan over
    // the planted release half (even docs; odd docs are the eval
    // corpus) — per doc the four gate columns and the released
    // conjunction, every part an individually-oracled operator
    "release_gate" -> ((s, d) => {
      val (rel, ev) = releaseFixture(s, d)
      graft.CurationJob.releaseGate(rel, "rtext", "doc_id",
        licenseMarkers, evalSet = Some(ev),
        quasi = Seq("source", "lang", "band"), k = 10)
        .orderBy("doc_id")
    }),
    // the release audit's attrition funnel: docs/tokens surviving
    // raw -> license_ok -> pii_clean -> decontaminated -> anonymous
    // applied sequentially; stage 5 IS the released set (spec-pinned
    // against the per-doc verdicts)
    "release_funnel" -> ((s, d) => {
      val (rel, ev) = releaseFixture(s, d)
      graft.CurationJob.releaseFunnel(rel, "rtext", "doc_id",
        licenseMarkers, evalSet = Some(ev),
        quasi = Seq("source", "lang", "band"), k = 10)
        .orderBy("stage_ord")
    }),
    // word-blocklist content-safety gate: occurrence + distinct-type
    // hits against a bounded plan-literal term list, density ppm, and
    // the one-incidental-term-is-not-a-pattern gate verdict
    "blocklist_gate" -> ((s, d) => {
      TextAnalysis.blocklistGate(t(s, d, "documents"), "text",
        Seq("slow", "filter", "vector"))
        .select("doc_id", "n_tokens", "blocked_hits", "blocked_types",
          "blocked_ppm", "blocked_gate")
        .orderBy("doc_id")
    }),
    // dictionary scrub (round-16): the redaction counterpart of the
    // gate — whole-word case-insensitive mask in one regex pass,
    // with occurrence + masked-char accounting; row-local codegen
    "blocklist_scrub" -> ((s, d) => {
      TextAnalysis.blocklistScrub(t(s, d, "documents"), "text",
        Seq("slow", "filter", "vector"), mask = "[TERM]")
        .select("doc_id", "scrub_text", "n_masked", "masked_chars")
        .orderBy("doc_id")
    }),
    // corpus-level boilerplate scan: word 8-grams present in >= 3
    // distinct documents (repeated chrome/header detection)
    "boilerplate_ngrams" -> ((s, d) => {
      Dedup.boilerplateNgrams(t(s, d, "documents"), "text", "doc_id",
        n = 8, minDocs = 3)
        .orderBy(col("df").desc, col("gram"))
    }),
    // per-source document cap: keep the 10 highest-quality docs per
    // source (deterministic doc_id tiebreak) — the rebalancing stage
    // that stops one crawl host from dominating the mix
    "domain_cap" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("quality", TextAnalysis.qualityScoreExpr("text"))
      TextAnalysis.capPerDomain(docs, "source", col("quality"),
        "doc_id", 10)
        .select("doc_id", "source", "quality")
        .orderBy("doc_id")
    }),
    // URL-grain curation (round-14): real crawl corpora carry a url,
    // not a clean source label. The CommonCrawl-recipe stage
    // upstream of domain_cap: parse scheme/host/port/path, fold the
    // host to its registrable domain (PSL-subset rule), then key
    // stats and caps on the folded domain so subdomain/port variants
    // of one host family count as one. Fixture urls derive from
    // (doc_id, source) identically on both engines (syntheticUrl).
    "url_parse" -> ((s, d) => {
      UrlOps.withUrlParts(
        t(s, d, "documents").select(col("doc_id"), col("source"))
          .withColumn("url", expr(syntheticUrl)), "url")
        .select("doc_id", "url", "scheme", "host", "port", "path",
          "is_ip", "registered_domain")
        .orderBy("doc_id")
    }),
    // domain-level quality prior (round-14): mean doc quality per
    // registered domain with a blocklist flag — the domain-grain
    // filtering stage (one bad host family gates thousands of docs
    // at once). Decimal-routed mean: order-independent on any
    // partitioning (the lang_centroid discipline)
    "domain_quality" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("url", expr(syntheticUrl))
      UrlOps.withUrlParts(docs, "url")
        .withColumn("quality", TextAnalysis.qualityScoreExpr("text"))
        .groupBy("registered_domain")
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("quality").cast("decimal(28,10)"))
            .cast("double") / count(lit(1)), 6).as("mean_quality"))
        .withColumn("blocklisted", col("mean_quality") < 0.3)
        .orderBy("registered_domain")
    }),
    // crawl-frequency table at the registered-domain grain: doc
    // count, distinct hosts under the domain, corpus share ppm
    "host_stats" -> ((s, d) => {
      UrlOps.hostStats(
        t(s, d, "documents").select(col("doc_id"), col("source"))
          .withColumn("url", expr(syntheticUrl)), "url", "doc_id")
        .orderBy("registered_domain")
    }),
    // domain_cap's URL-native form: cap per FOLDED domain, so one
    // host family spanning subdomains and ports cannot dominate
    "host_cap" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("url", expr(syntheticUrl))
        .withColumn("quality", TextAnalysis.qualityScoreExpr("text"))
      UrlOps.capPerRegisteredDomain(docs, "url", col("quality"),
        "doc_id", 10)
        .select("doc_id", "registered_domain", "quality")
        .orderBy("doc_id")
    }),
    // context-window fit report (round-14): per candidate window
    // size, how many docs fit whole, how many truncate, and the
    // token share lost to truncation — the number that picks the
    // training context length for a corpus. One scan, the window
    // sizes explode from a 3-element literal array
    "context_fit" -> ((s, d) => {
      val sized = t(s, d, "documents")
        .select(expr("CAST(size(filter(split(lower(text), ' '), " +
          "t -> t != '')) AS BIGINT)").as("n_tokens"))
        // window sizes are parameters; these are fixture-matched so
        // the report exercises both fit and truncation regimes (real
        // runs would pass 2048/4096/8192)
        .withColumn("win",
          explode(expr("array(64L, 128L, 256L)")))
      sized.groupBy("win")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_tokens") <= col("win"), 1L).otherwise(0L))
            .as("n_fit"),
          sum("n_tokens").as("total_tokens"),
          sum(when(col("n_tokens") > col("win"),
            col("n_tokens") - col("win")).otherwise(0L))
            .as("lost_tokens"))
        .withColumn("lost_ppm", expr(
          "CAST((lost_tokens * 1000000L) DIV total_tokens AS BIGINT)"))
        .select("win", "n_docs", "n_fit", "lost_tokens", "lost_ppm")
        .orderBy("win")
    }),
    // per-language corpus composition (round-14): the table every
    // multilingual pipeline reports before picking mixture weights —
    // docs / tokens / chars / share per PREDICTED language (model
    // langId, not a trusted label). Row-local scoring + one tiny
    // aggregate on pred_lang
    "lang_stats" -> ((s, d) => {
      // share denominator via pinned-aggregate broadcast cross, not
      // `sum OVER ()` (round-16 no-unpartitioned-window sweep)
      val agg = TextAnalysis.withLangId(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "text")
        .groupBy("pred_lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("CAST(size(filter(split(lower(text), ' '), " +
            "t -> t != '')) AS BIGINT)")).as("n_tokens"),
          sum(length(col("text")).cast("long")).as("n_chars"))
        .localCheckpoint()
      agg
        .crossJoin(broadcast(agg.agg(sum(col("n_docs")).as("__tot"))))
        .withColumn("doc_share_ppm", expr(
          "CAST((n_docs * 1000000L) DIV __tot AS BIGINT)"))
        .drop("__tot")
        .orderBy("pred_lang")
    }),
    // HyperLogLog per-source distinct-text estimate (round-14): the
    // mergeable fixed-memory cardinality sketch (m=256 registers,
    // max-combinable — no window pass, unlike kmv_sample's order
    // statistic), exact vs estimate side by side
    "hll_distinct" -> ((s, d) => {
      TextAnalysis.hllDistinct(t(s, d, "documents"), "source",
        "text")
        .orderBy("source")
    }),
    // bottom-k-by-hash rank sketch (round-15): deterministic
    // mergeable quantile estimates vs true ranks — the fixed-memory
    // percentile whose sample is bit-reproducible cross-engine; the
    // hash-threshold prefilter keeps the shuffle ~4k rows per group
    "rank_quantiles" -> ((s, d) => {
      val li = t(s, d, "lineitem").withColumn("rid", expr(
        "concat(CAST(l_orderkey AS STRING), '-', " +
          "CAST(l_linenumber AS STRING))"))
      TextAnalysis.rankQuantileSketch(li, "l_returnflag",
        "l_extendedprice", "rid")
        .orderBy("l_returnflag", "q")
    }),
    // Count-Min sketch token-frequency estimates vs exact truth
    // (round-14): d=4 × w=2048 counters built in ONE corpus scan
    // with full map-side combine (shuffle = sketch-sized), exact
    // top-20 via TakeOrdered, estimates by broadcast-sketch join —
    // the mergeable "how hot is this token in 100 TB" answer
    "cms_topk" -> ((s, d) => {
      TextAnalysis.cmsTopK(t(s, d, "documents"), "text", k = 20)
        .orderBy(col("n_exact").desc, col("tok").asc)
    }),
    // n-gram diversity per source (round-14): type-token ratio and
    // distinct-2/3-gram ppm — the mode-collapse / template-farm
    // detector; three map-side-combined aggregates, no window
    "ngram_diversity" -> ((s, d) => {
      TextAnalysis.ngramDiversity(t(s, d, "documents"), "text",
        "source")
        .orderBy("source")
    }),
    // URL canonicalization (round-14): tracking params stripped,
    // survivors sorted, default ports/fragments/trailing slash/case
    // folded — then url-grain dup accounting on the canon key (the
    // merge url-exact dedup silently misses without this stage)
    "url_canon" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("canon_url"))
      UrlOps.canonicalizeUrl(
        t(s, d, "documents").select(col("doc_id"), col("source"))
          .withColumn("url", expr(syntheticUrlMessy)), "url")
        .withColumn("n_same_canon",
          count(lit(1)).over(w).cast("long"))
        .withColumn("is_keeper", col("doc_id") === min("doc_id").over(w))
        .select("doc_id", "url", "canon_url", "n_params_dropped",
          "n_same_canon", "is_keeper")
        .orderBy("doc_id")
    }),
    // tokenizer fertility per predicted language (round-14): BPE
    // tokens per word and chars per BPE token — the tokenizer-bias
    // report (a tokenizer that fragments one language 3× inflates
    // its training cost 3×); fitted-BPE token counts join the
    // langId projection, one tiny per-lang aggregate
    "tokenizer_fertility" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // counts-only apply — see token_budget_cut_bpe
      val bpe = TextAnalysis.bpeApplyCounts(docs, "text",
        "doc_id", rounds = 10, batch = 8)
        .select(col("doc_id"), col("n_bpe_tokens"))
      TextAnalysis.withLangId(
        docs.select(col("doc_id"), col("text")), "text")
        .select(col("doc_id"), col("pred_lang"),
          expr("CAST(size(filter(split(lower(text), ' '), " +
            "t -> t != '')) AS BIGINT)").as("__w"),
          length(col("text")).cast("long").as("__c"))
        .join(bpe, Seq("doc_id"))
        .groupBy("pred_lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__w")).as("n_words"),
          sum(col("n_bpe_tokens")).as("n_bpe"),
          sum(col("__c")).as("n_chars"))
        .withColumn("fertility_ppm", expr(
          "CAST((n_bpe * 1000000L) DIV n_words AS BIGINT)"))
        .withColumn("chars_per_tok_ppm", expr(
          "CAST((n_chars * 1000000L) DIV n_bpe AS BIGINT)"))
        .orderBy("pred_lang")
    }),
    // CCNet-style perplexity buckets (round-14): per predicted
    // language, docs split into head/middle/tail thirds by the
    // held-slice trigram-LM score — ntile(3) on the ROUNDED score
    // (count-based tertiles: no percentile interpolation to
    // diverge cross-engine), decimal-routed per-bucket means
    "ppl_buckets" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val scored = TextAnalysis.trigramLmScore(docs,
        docs.filter(col("doc_id") % 2 === 0), "text", "doc_id")
      val langed = TextAnalysis.withLangId(
        docs.select(col("doc_id"), col("text")), "text")
        .select("doc_id", "pred_lang")
      // ntile(3) OVER (PARTITION BY pred_lang ...) puts each
      // language's ENTIRE corpus slice through one single-task sort
      // (pred_lang cardinality is a handful) — the round-21 grouped
      // prefix-rank sweep replaces it with the exact closed form
      // ntile(k) = (r - 1) * k DIV n + 1 over Dist.groupedRank's
      // (rank, group count); identical buckets by the standard
      // ntile identity (first n mod k buckets get ceil(n/k) rows),
      // pinned by spec against the window form
      scored.join(langed, Seq("doc_id"))
        .select("doc_id", "pred_lang", "avg_logprob")
        .transform(j => graft.engine.Dist.groupedRank(j, "pred_lang",
          Seq(col("avg_logprob").desc, col("doc_id").asc), "__r",
          withGroupTotal = true))
        .withColumn("__n", expr("(__r - 1L) * 3L DIV __r_n + 1L"))
        .withColumn("bucket", expr("CASE __n WHEN 1 THEN 'head' " +
          "WHEN 2 THEN 'middle' ELSE 'tail' END"))
        .groupBy("pred_lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("avg_logprob").cast("decimal(28,10)"))
            .cast("double") / count(lit(1)), 6).as("mean_logprob"),
          min(col("avg_logprob")).as("min_logprob"),
          max(col("avg_logprob")).as("max_logprob"))
        .orderBy("pred_lang", "bucket")
    }),
    // heuristic-vs-model language-ID confusion matrix (round-14):
    // where the stopword heuristic and the trigram-centroid model
    // disagree — the classifier-upgrade audit table; two row-local
    // scorers, one tiny (heur, pred) aggregate, share window over
    // the AGGREGATED frame (<= 25 rows)
    "lang_confusion" -> ((s, d) => {
      TextAnalysis.withLangId(
        t(s, d, "documents").select(col("doc_id"), col("text")), "text")
        .withColumn("heur_lang", TextAnalysis.langIdExpr("text"))
        .groupBy("heur_lang", "pred_lang")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("share_ppm", expr(
          """CAST(n_docs * 1000000L DIV
            | sum(n_docs) OVER (PARTITION BY heur_lang) AS BIGINT)"""
            .stripMargin))
        .orderBy("heur_lang", "pred_lang")
    }),
    // curriculum ordering (round-14): equal-count quality bands from
    // the value-grain equidepth map (broadcast back), row-local
    // hash shuffle key — NO corpus-sized window; loader sorts by
    // (band, shuffle_key) as a distributed range sort
    "curriculum_order" -> ((s, d) => {
      TextAnalysis.curriculumOrder(t(s, d, "documents"), "text",
        "doc_id", nBands = 5)
        .orderBy("band", "shuffle_key", "doc_id")
    }),
    // size-stratified output-shard plan (round-14): row-local
    // (log2-class + content hash) shard assignment, per-shard
    // balance report with signed abs-routed ppm deviation
    "shard_plan" -> ((s, d) => {
      TextAnalysis.shardPlan(t(s, d, "documents"), "text", "doc_id",
        nShards = 8)
        .orderBy("shard")
    }),
    // domain-grain link graph (round-14): hrefs extracted from the
    // body, both ends folded to registered domains, self-links
    // dropped; per-target in-links, distinct referrers, and one
    // integer PageRank push (1e6 DIV outdeg summed over in-edges)
    "link_graph" -> ((s, d) => {
      // fixture pin: the synthetic url+body CASEs are plan-literal
      // bloat a real crawl column doesn't have — materialized here
      // so the operator's own parse/aggregate spans stay compiled
      // (unpinned, the fixture inlined per-href blew the projection
      // span past Janino's method limit → interpreted fallback)
      val fx = t(s, d, "documents").select(col("doc_id"),
        expr(syntheticUrl).as("url"),
        expr(syntheticLinkText).as("ltext"))
        .localCheckpoint()
      UrlOps.linkGraph(fx, "ltext", "url")
        .orderBy("dst_dom")
    }),
    // directional containment over LSH candidates (round-14): the
    // near-SUBSET detector — excerpt fixture plants truncated
    // copies whose Jaccard sits below τ but containment ≈ 1
    "containment_pairs" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val excerpts = t(s, d, "documents")
        .filter(col("doc_id") % 10 === 3 && length(col("text")) >= 40)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          expr("substring(text, 1, CAST(length(text) DIV 2 AS INT))")
            .as("text"))
      Dedup.containmentPairs(docs.unionByName(excerpts), "text",
        "doc_id")
        .orderBy("id1", "id2")
    }),
    // model-based multilingual language ID (round-14): cosine of the
    // doc's hashed char-trigram profile against per-language seed
    // centroids (fastText-style hash-bucket linear model, centroids
    // as plan literals), argmax + und floor — langIdExpr's upgrade
    "lang_id" -> ((s, d) => {
      TextAnalysis.withLangId(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "text")
        .select("doc_id", "score_en", "score_es", "score_fr",
          "score_de", "pred_lang")
        .orderBy("doc_id")
    }),
    // Gopher-style rule gate: per-rule booleans + the conjunction
    "gopher_rules" -> ((s, d) => {
      TextAnalysis.gopherRules(t(s, d, "documents"), "text",
        minTokens = 40, maxTokens = 1000)
        .select("doc_id", "rule_tokens", "rule_word_len",
          "rule_symbols", "rule_stopwords", "keep")
        .orderBy("doc_id")
    }),
    // character-bigram Shannon entropy: the templatedness /
    // compressibility gate, fixed-order fold (sorted per-doc counts)
    "char_entropy" -> ((s, d) => {
      TextAnalysis.charEntropy(t(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),
    // Gopher REPETITION signals (the within-doc family gopher_rules
    // doesn't cover): duplicate-line fraction/characters and top
    // 2/3-gram character coverage — all-integer ppm contract,
    // explode+aggregate shape (never a per-row O(distinct×n) HOF)
    "doc_repetition" -> ((s, d) => {
      TextAnalysis.docRepetition(t(s, d, "documents"), "text",
        "doc_id")
        .orderBy("doc_id")
    }),
    // DSIR importance weights: log-likelihood ratio between add-1
    // hashed-token models fitted on the src0 docs vs the rest — the
    // published importance-resampling data-selection score; fit is
    // one aggregate collapsed to a broadcast row, scoring row-local
    "dsir_weights" -> ((s, d) => {
      TextAnalysis.dsirWeights(t(s, d, "documents"), "text", "doc_id",
        "source", "src0")
        .orderBy("doc_id")
    }),
    // the SQL-extension surface end to end: every graft_* function
    // GraftExtensions registers, exercised through spark.sql over a
    // path-scoped table (no temp view — keeps the shared Verify/Bench
    // session clean), hash-matched against the same DuckDB poly-hash
    // formulations the batch operators oracle against
    "graft_sql" -> ((s, d) => {
      graft.GraftExtensions.register(s)
      s.sql(
        s"""SELECT doc_id,
           |  graft_fingerprint(text) AS fp,
           |  CAST(size(graft_shingle_hashes(text, 5)) AS BIGINT)
           |    AS n_shingles,
           |  CAST(size(graft_token_hashes(text)) AS BIGINT) AS n_tok,
           |  element_at(graft_minhash(text), 1) AS mh_first,
           |  element_at(graft_minhash(text), -1) AS mh_last,
           |  graft_simhash(text) AS sh,
           |  graft_text_stats(text).n_chars AS n_chars,
           |  graft_text_stats(text).n_tokens AS n_tokens,
           |  graft_text_stats(text).n_punct AS n_punct,
           |  element_at(
           |    graft_feature_hash(graft_token_hashes(text), 8), 1)
           |    AS fh0,
           |  CAST(size(graft_content_token_hashes(lower(text)))
           |    AS BIGINT) AS n_ctok,
           |  CAST(size(graft_winnow_mins(
           |    graft_shingle_hashes(text, 5), 5)) AS BIGINT) AS n_fps,
           |  element_at(graft_winnow_mins(
           |    graft_shingle_hashes(text, 5), 5), 1) AS wm_first,
           |  element_at(graft_ngram_hashes(
           |    graft_content_token_hashes(lower(text)), 8), 1)
           |    AS g8_first
           |FROM parquet.`$d/documents.parquet`
           |ORDER BY doc_id""".stripMargin)
    }))

  /** Deterministic contact-info augmentation shared VERBATIM with the
    * DuckDB oracle (integer arithmetic + concat only, both engines
    * implicitly cast the numerics).
    */
  private val piiAugmentSql =
    """concat(text, ' contact user', doc_id, '@example', doc_id % 7,
      |'.com or 555-', 100 + doc_id % 900, '-', 1000 + doc_id % 9000,
      |' from ', 10 + doc_id % 240, '.', doc_id % 256, '.',
      |(3 * doc_id) % 256, '.', (7 * doc_id) % 256)"""
      .stripMargin.replace("\n", " ")

  // ---- DuckDB oracle builders sharing the Scala-side constants ----

  /** char-fold polynomial hash of a (DuckDB) string expression. */
  /** Unigram-fit CTE chain (fit-text words → substring candidates →
    * counted/ranked vocabulary `ugv`): the DuckDB mirror of
    * [[graft.llm.TextAnalysis.unigramFit]].
    */
  /** DuckDB mirror of the engine's byte→char fold (decode(encode(w,
    * UTF-8), ISO-8859-1)): UTF-8 bytes from codepoint arithmetic
    * (the 1-3 byte forms cover every BMP fixture), each byte
    * rendered as the chr(byte) single char.
    */
  private def duckByteMap(w: String): String = {
    def u = s"unicode(substring($w, CAST(i AS INT), 1))"
    // 1-3 byte UTF-8 arithmetic covers the BMP; a supplementary
    // (astral) codepoint needs the 4-byte form this mirror does not
    // implement — fail LOUDLY instead of emitting wrong bytes while
    // the engine's real decode/encode fold stays correct
    s"""array_to_string(flatten(list_transform(
        generate_series(1, length($w)),
        i -> CASE
          WHEN $u < 128 THEN [chr($u)]
          WHEN $u < 2048 THEN [chr(192 + $u // 64), chr(128 + $u % 64)]
          WHEN $u < 65536 THEN [chr(224 + $u // 4096),
                chr(128 + ($u // 64) % 64), chr(128 + $u % 64)]
          ELSE [chr(CAST(error('duckByteMap: supplementary ' ||
                'codepoint needs the 4-byte UTF-8 form') AS INT))]
          END)), '')"""
  }

  /** Lowercase-hex render of a byte-mapped piece (the engine's
    * hexOfMapped output edge).
    */
  private def duckHexPieces(p: String): String =
    s"""array_to_string(list_transform(
        generate_series(1, length($p)),
        i -> printf('%02x', unicode(substring($p, CAST(i AS INT), 1)))), '')"""

  private def duckUnigramVocab(vocabN: Int = 64,
      textSql: String = unigramFitText,
      byteMap: Boolean = false, fitWhere: String = ""): String = {
    // optional fit-corpus predicate (unigram_em_bytes_sampled): the
    // sampled fit reads a deterministic corpus slice, everything
    // downstream (ugw/uew and every EM round) inherits it
    val whereSql = if (fitWhere.isEmpty) "" else s" WHERE $fitWhere"
    val head =
      if (byteMap)
        s"""ugw0 AS (
           |  SELECT unnest(list_filter(string_split(
           |    lower($textSql), ' '), t -> t != '')) AS w0
           |  FROM documents$whereSql),
           |ugw AS (SELECT ${duckByteMap("w0")} AS w FROM ugw0)"""
          .stripMargin
      else
        s"""ugw AS (
           |  SELECT unnest(list_filter(string_split(
           |    lower($textSql), ' '), t -> t != '')) AS w
           |  FROM documents$whereSql)""".stripMargin
    s"""$head,
       |ugp AS (SELECT w,
       |  unnest(generate_series(1, CAST(len(w) AS BIGINT))) AS p
       |  FROM ugw),
       |ugl AS (SELECT w, p, unnest(generate_series(1, 4)) AS l
       |  FROM ugp),
       |ugc AS (SELECT substring(w, CAST(p AS INT), CAST(l AS INT))
       |    AS piece
       |  FROM ugl WHERE p + l - 1 <= len(w)),
       |ugt AS (SELECT piece, count(*) AS cnt FROM ugc GROUP BY piece),
       |ugr AS (SELECT piece, cnt,
       |  row_number() OVER (ORDER BY cnt DESC, piece) AS rank
       |  FROM ugt),
       |ugv AS (SELECT piece, CAST(cnt AS BIGINT) AS cnt FROM ugr
       |  WHERE rank <= $vocabN OR len(piece) = 1)""".stripMargin
  }

  /** Unigram-LM EM replay ([[graft.llm.TextAnalysis.unigramEmFit]]):
    * per EM round, a piece-probability CTE (one correctly-rounded
    * double division from the exact integer scores), a 16-step
    * forward chain and a 16-step backward chain each carrying its
    * lattice values as a growing list column with the PINNED add
    * tree ((c1 + c2) + c3) + c4 per step (absent piece / out-of-range
    * term = +0.0e0 — the engine expression's exact tree), then the
    * occurrence-expectation five-op sequence
    * floor(((((alpha·p)·beta)/alphaL)·cnt)·10^6), an exact integer
    * piece sum, and the (expectation desc, piece asc) prune with +1
    * smoothing and the single-char floor. Ends with vocab CTE
    * `uv{iters+1}`.
    */
  private def duckUnigramEm(vocabN: Int = 64, iters: Int = 2,
      keepPpm: Long = 750000L, maxWordLen: Int = 16): String = {
    def vname(r: Int): String = if (r == 1) "ugv" else s"uv$r"
    val uew =
      s"""uew AS MATERIALIZED (
         |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM ugw
         |  WHERE len(w) <= $maxWordLen GROUP BY w)""".stripMargin
    var keepN = vocabN.toLong
    val rounds = (1 to iters).map { r =>
      keepN = keepN * keepPpm / 1000000L
      val v = vname(r)
      // one DP step: position i of the `dir` chain. Forward looks up
      // the piece ENDING at prefix-position i (substring(w, i-l+1,
      // l), predecessor alpha al[i-l+1]); backward the piece
      // STARTING at suffix-position j from the end (substring(w,
      // len-j+1, l), predecessor gamma al[j-l+1]).
      def step(dir: String, i: Int): String = {
        val prev = s"e$dir${r}p${i - 1}"
        val terms = (1 to 4).map { l =>
          if (i < l) "0.0e0"
          else s"coalesce(p$l.p * e.al[${i - l + 1}], 0.0e0)"
        }
        val sum = s"((${terms(0)} + ${terms(1)}) + ${terms(2)}) + " +
          terms(3)
        val joins = (1 to 4).flatMap { l =>
          if (i < l) None
          else {
            val pos =
              if (dir == "a") s"${i - l + 1}"
              else s"len(e.w) - $i + 1"
            Some(s"""  LEFT JOIN pv$r p$l ON $i <= len(e.w)
                    |    AND p$l.piece = substring(e.w,
                    |      CAST($pos AS INT), $l)""".stripMargin)
          }
        }.mkString("\n")
        s"""e$dir${r}p$i AS MATERIALIZED (
           |  SELECT e.w, e.cnt, e.al ||
           |    [CASE WHEN $i > len(e.w) THEN NULL
           |     ELSE $sum END] AS al
           |  FROM $prev e
           |$joins)""".stripMargin
      }
      val chain = (dir: String) =>
        (s"""e$dir${r}p0 AS (SELECT w, cnt,
            |  [CAST(1.0e0 AS DOUBLE)] AS al FROM uew)""".stripMargin
          +: (1 to maxWordLen).map(step(dir, _))).mkString(",\n")
      s"""tt$r AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM $v),
         |pv$r AS MATERIALIZED (
         |  SELECT piece, CAST(v.cnt AS DOUBLE) / CAST(t.tot AS DOUBLE)
         |    AS p
         |  FROM $v v, tt$r t),
         |${chain("a")},
         |${chain("g")},
         |ep${r}a AS (SELECT w, cnt,
         |  unnest(generate_series(1, CAST(len(w) AS BIGINT))) AS st
         |  FROM uew),
         |ep${r}b AS (SELECT w, cnt, st,
         |  unnest(generate_series(1, 4)) AS l FROM ep${r}a),
         |ep${r}c AS (SELECT w, cnt, st, l,
         |  substring(w, CAST(st AS INT), CAST(l AS INT)) AS piece
         |  FROM ep${r}b WHERE st + l - 1 <= len(w)),
         |ee$r AS (
         |  SELECT c.piece,
         |    CAST(floor(((((a.al[CAST(c.st AS INT)] * p.p)
         |      * g.al[CAST(len(c.w) - (c.st + c.l - 1) + 1 AS INT)])
         |      / a.al[CAST(len(c.w) + 1 AS INT)])
         |      * CAST(c.cnt AS DOUBLE)) * 1000000.0e0) AS BIGINT)
         |      AS em
         |  FROM ep${r}c c
         |  JOIN pv$r p ON p.piece = c.piece
         |  JOIN ea${r}p$maxWordLen a ON a.w = c.w
         |  JOIN eg${r}p$maxWordLen g ON g.w = c.w),
         |em$r AS (SELECT piece, CAST(sum(em) AS BIGINT) AS s
         |  FROM ee$r GROUP BY piece),
         |rk$r AS (
         |  SELECT v.piece, CAST(coalesce(m.s, 0) AS BIGINT) AS s,
         |    row_number() OVER (ORDER BY coalesce(m.s, 0) DESC,
         |      v.piece) AS rk
         |  FROM $v v LEFT JOIN em$r m USING (piece)),
         |${vname(r + 1)} AS MATERIALIZED (
         |  SELECT piece, CAST(s + 1 AS BIGINT) AS cnt FROM rk$r
         |  WHERE rk <= $keepN OR len(piece) = 1)""".stripMargin
    }
    (uew +: rounds).mkString(",\n")
  }

  /** Viterbi-DP CTE chain over the tokenize-text DISTINCT words: one
    * chained CTE per position 1..maxWordLen, each referencing ONLY
    * its predecessor (linear, no exponential inlining) and carrying
    * the last-4 DP cells (c0..c3) plus the final cell (f*) captured
    * when the position reaches the word length. Candidate selection
    * is the same total order as [[graft.llm.UnigramViterbi]]:
    * struct_pack(n asc, -score, -k) sorted, first wins. Also emits
    * the greedy maximal-munch recursion (`uggf`) and the `<long>`
    * collapse rows, ending with per-word finals in `ufin`.
    */
  private def duckUnigramDp(maxWordLen: Int = 16,
      vocab: String = "ugv"): String = {
    def cellNulls(j: Int): String =
      s"CAST(NULL AS BIGINT) AS s$j, CAST(NULL AS BIGINT) AS n$j, " +
        s"CAST(NULL AS BIGINT) AS u$j, CAST(NULL AS VARCHAR) AS g$j"
    val b0 =
      s"""b0 AS (SELECT w, CAST(0 AS BIGINT) AS s0,
         |  CAST(0 AS BIGINT) AS n0, CAST(0 AS BIGINT) AS u0,
         |  '' AS g0, ${cellNulls(1)}, ${cellNulls(2)}, ${cellNulls(3)},
         |  CAST(NULL AS BIGINT) AS fs, CAST(NULL AS BIGINT) AS fn_,
         |  CAST(NULL AS BIGINT) AS fu, CAST(NULL AS VARCHAR) AS fg
         |  FROM ugs)""".stripMargin
    def cand(k: Int, i: Int): String = {
      val (ps, pn, pu, pg) =
        (s"b.s${k - 1}", s"b.n${k - 1}", s"b.u${k - 1}", s"b.g${k - 1}")
      val vcnt = if (k == 1) "coalesce(v1.cnt, 0)" else s"v$k.cnt"
      val known =
        if (k == 1) s"$ps IS NOT NULL"
        else s"$ps IS NOT NULL AND v$k.piece IS NOT NULL"
      val unkInc =
        if (k == 1) "CASE WHEN v1.piece IS NULL THEN 1 ELSE 0 END"
        else "0"
      // concat(), not the || operator: these lines pass through up to
      // three stripMargin layers (cand → step template → oracle
      // entry), and a line-leading '||' loses a pipe per layer
      s"""CASE WHEN len(b.w) >= $i AND $known THEN struct_pack(
         |  n := $pn + 1, negs := -($ps + $vcnt), negk := ${-k},
         |  s := $ps + $vcnt, u := $pu + $unkInc,
         |  g := concat($pg, CASE WHEN $pg = '' THEN '' ELSE ' ' END,
         |    substring(b.w, ${i - k + 1}, $k))) END""".stripMargin
    }
    val steps = (1 to maxWordLen).map { i =>
      val ks = 1 to math.min(4, i)
      val joins = ks.map { k =>
        if (k == 1)
          s"LEFT JOIN $vocab v1 ON len(b.w) >= $i " +
            s"AND v1.piece = substring(b.w, $i, 1)"
        else
          s"LEFT JOIN $vocab v$k ON len(b.w) >= $i " +
            s"AND v$k.piece = substring(b.w, ${i - k + 1}, $k)"
      }.mkString("\n  ")
      val cands = ks.map(cand(_, i)).mkString(",\n  ")
      def ex(f: String) = s"struct_extract(best, '$f')"
      s"""b$i AS (
         |SELECT w,
         |  CASE WHEN len(w) >= $i THEN ${ex("s")} END AS s0,
         |  CASE WHEN len(w) >= $i THEN ${ex("n")} END AS n0,
         |  CASE WHEN len(w) >= $i THEN ${ex("u")} END AS u0,
         |  CASE WHEN len(w) >= $i THEN ${ex("g")} END AS g0,
         |  ps0 AS s1, pn0 AS n1, pu0 AS u1, pg0 AS g1,
         |  ps1 AS s2, pn1 AS n2, pu1 AS u2, pg1 AS g2,
         |  ps2 AS s3, pn2 AS n3, pu2 AS u3, pg2 AS g3,
         |  CASE WHEN len(w) = $i THEN ${ex("s")} ELSE fs END AS fs,
         |  CASE WHEN len(w) = $i THEN ${ex("n")} ELSE fn_ END AS fn_,
         |  CASE WHEN len(w) = $i THEN ${ex("u")} ELSE fu END AS fu,
         |  CASE WHEN len(w) = $i THEN ${ex("g")} ELSE fg END AS fg
         |FROM (
         |  SELECT b.w AS w,
         |    b.s0 AS ps0, b.n0 AS pn0, b.u0 AS pu0, b.g0 AS pg0,
         |    b.s1 AS ps1, b.n1 AS pn1, b.u1 AS pu1, b.g1 AS pg1,
         |    b.s2 AS ps2, b.n2 AS pn2, b.u2 AS pu2, b.g2 AS pg2,
         |    b.fs AS fs, b.fn_ AS fn_, b.fu AS fu, b.fg AS fg,
         |    list_sort(list_filter([
         |  $cands], x -> x IS NOT NULL))[1] AS best
         |  FROM b${i - 1} b
         |  $joins))""".stripMargin
    }.mkString(",\n")
    s"""ugd AS (SELECT DISTINCT w FROM (
       |  SELECT unnest(list_filter(string_split(
       |    lower($unigramTokText), ' '), t -> t != '')) AS w
       |  FROM documents)),
       |ugs AS (SELECT w FROM ugd WHERE len(w) <= $maxWordLen),
       |ugx AS (SELECT w FROM ugd WHERE len(w) > $maxWordLen),
       |$b0,
       |$steps,
       |ugrec AS (
       |  SELECT w, 1 AS pos, CAST(0 AS BIGINT) AS n,
       |    CAST(0 AS BIGINT) AS gs
       |  FROM ugs
       |  UNION ALL
       |  SELECT r.w,
       |    r.pos + (CASE WHEN v4.piece IS NOT NULL THEN 4
       |      WHEN v3.piece IS NOT NULL THEN 3
       |      WHEN v2.piece IS NOT NULL THEN 2 ELSE 1 END) AS pos,
       |    r.n + 1 AS n,
       |    r.gs + (CASE WHEN v4.piece IS NOT NULL THEN v4.cnt
       |      WHEN v3.piece IS NOT NULL THEN v3.cnt
       |      WHEN v2.piece IS NOT NULL THEN v2.cnt
       |      ELSE coalesce(v1.cnt, 0) END) AS gs
       |  FROM ugrec r
       |  LEFT JOIN $vocab v4 ON len(r.w) - r.pos + 1 >= 4
       |    AND v4.piece = substring(r.w, CAST(r.pos AS INT), 4)
       |  LEFT JOIN $vocab v3 ON len(r.w) - r.pos + 1 >= 3
       |    AND v3.piece = substring(r.w, CAST(r.pos AS INT), 3)
       |  LEFT JOIN $vocab v2 ON len(r.w) - r.pos + 1 >= 2
       |    AND v2.piece = substring(r.w, CAST(r.pos AS INT), 2)
       |  LEFT JOIN $vocab v1
       |    ON v1.piece = substring(r.w, CAST(r.pos AS INT), 1)
       |  WHERE r.pos <= len(r.w)),
       |ugg AS (SELECT w, max_by(n, pos) AS ng, max_by(gs, pos) AS gsc
       |  FROM ugrec GROUP BY w),
       |uggf AS (SELECT w, ng, gsc FROM ugg
       |  UNION ALL SELECT w, CAST(1 AS BIGINT), CAST(0 AS BIGINT)
       |  FROM ugx),
       |ufin AS (
       |  SELECT w, fs AS best_score, fn_ AS n_pieces, fu AS n_unk,
       |    fg AS seg
       |  FROM b$maxWordLen
       |  UNION ALL
       |  SELECT w, CAST(0 AS BIGINT), CAST(1 AS BIGINT),
       |    CAST(1 AS BIGINT), '<long>'
       |  FROM ugx)""".stripMargin
  }

  /** Shared release-gate CTE chain (round-20): the planted release
    * half, then the license / PII / decontamination / k-anonymity
    * mirrors, ending with the per-doc verdict CTE `rgv` both release
    * queries read. Each fragment replays its standalone oracle's
    * shape (license_scan's positional substring join, pii_redact's
    * regexp counts, decontaminate's 8-gram poly-hash semi-join, the
    * k_anonymity sequential ladder at 3 quasi columns).
    */
  private def duckReleaseChain: String = {
    val tmValues = licenseMarkers
      .map { case (tag, p) => s"('$tag', '$p')" }.mkString(", ")
    s"""rel AS (
       |  SELECT doc_id, $releasePlantSql AS rtext, source, lang,
       |    CAST(n_chars // 32 AS VARCHAR) AS band
       |  FROM documents WHERE doc_id % 2 = 0),
       |rtm(tag, term) AS (VALUES $tmValues),
       |rlt AS (SELECT doc_id, lower(rtext) AS t FROM rel),
       |rps AS (SELECT doc_id, t,
       |    unnest(generate_series(1, CAST(len(t) AS BIGINT))) AS p
       |  FROM rlt),
       |rmm AS (SELECT doc_id, rtm.tag, count(*) AS c
       |  FROM rps JOIN rtm
       |    ON substring(rps.t, CAST(rps.p AS INT), len(rtm.term))
       |      = rtm.term
       |  GROUP BY 1, 2),
       |rwin AS (SELECT doc_id,
       |    list_sort(list(struct_pack(h := -c, t := tag))) AS sl
       |  FROM rmm GROUP BY 1),
       |rlic AS (SELECT r.doc_id,
       |    coalesce(list_filter(w.sl, s -> s.h < 0)[1].t, 'unknown')
       |      AS license
       |  FROM rel r LEFT JOIN rwin w USING (doc_id)),
       |rpii AS (SELECT doc_id,
       |    CAST(len(regexp_extract_all(rtext,
       |      '${TextAnalysis.emailRe}')) AS BIGINT) AS n_email,
       |    CAST(len(regexp_extract_all(rtext,
       |      '${TextAnalysis.ipRe}')) AS BIGINT) AS n_ip,
       |    CAST(len(regexp_extract_all(rtext,
       |      '${TextAnalysis.phoneRe}')) AS BIGINT) AS n_phone
       |  FROM rel),
       |rtht AS (SELECT doc_id,
       |    list_transform(list_filter(string_split(lower(rtext), ' '),
       |      t -> t != ''), t -> ${duckPolyHash("t")}) AS th
       |  FROM rel
       |  WHERE len(list_filter(string_split(lower(rtext), ' '),
       |      t -> t != '')) > 0),
       |rthe AS (SELECT doc_id,
       |    list_transform(list_filter(string_split(lower(text), ' '),
       |      t -> t != ''), t -> ${duckPolyHash("t")}) AS th
       |  FROM documents
       |  WHERE doc_id % 2 = 1
       |    AND len(list_filter(string_split(lower(text), ' '),
       |      t -> t != '')) > 0),
       |rgt AS (SELECT doc_id,
       |    unnest(list_transform(
       |      generate_series(1, greatest(len(th) - 7, 1)),
       |      i -> list_reduce(
       |             list_slice(th, i, i + least(8, len(th)) - 1),
       |             (acc, h) -> (acc * 31 + h) % $P))) AS gram
       |  FROM rtht),
       |rge AS (SELECT doc_id,
       |    unnest(list_transform(
       |      generate_series(1, greatest(len(th) - 7, 1)),
       |      i -> list_reduce(
       |             list_slice(th, i, i + least(8, len(th)) - 1),
       |             (acc, h) -> (acc * 31 + h) % $P))) AS gram
       |  FROM rthe),
       |rbad AS (SELECT DISTINCT tr.doc_id
       |  FROM rgt tr JOIN rge ev ON tr.gram = ev.gram),
       |rkb AS (SELECT doc_id AS id,
       |    coalesce(CAST(source AS VARCHAR), '<null>') AS q0,
       |    coalesce(CAST(lang AS VARCHAR), '<null>') AS q1,
       |    coalesce(band, '<null>') AS q2
       |  FROM rel),
       |rkc0 AS (SELECT q0, q1, q2, CAST(count(*) AS BIGINT) AS n
       |  FROM rkb GROUP BY 1, 2, 3),
       |rkt0 AS (SELECT rkb.id, rkb.q0, rkb.q1, rkb.q2, rkc0.n
       |  FROM rkb JOIN rkc0 USING (q0, q1, q2)),
       |rkp0 AS (SELECT id, n FROM rkt0 WHERE n >= 10),
       |rkr0 AS (SELECT id, q0, q1 FROM rkt0 WHERE n < 10),
       |rkc1 AS (SELECT q0, q1, CAST(count(*) AS BIGINT) AS n
       |  FROM rkr0 GROUP BY 1, 2),
       |rkt1 AS (SELECT rkr0.id, rkr0.q0, rkc1.n
       |  FROM rkr0 JOIN rkc1 USING (q0, q1)),
       |rkp1 AS (SELECT id, n FROM rkt1 WHERE n >= 10),
       |rkr1 AS (SELECT id, q0 FROM rkt1 WHERE n < 10),
       |rkc2 AS (SELECT q0, CAST(count(*) AS BIGINT) AS n
       |  FROM rkr1 GROUP BY 1),
       |rkt2 AS (SELECT rkr1.id, rkc2.n
       |  FROM rkr1 JOIN rkc2 USING (q0)),
       |rkp2 AS (SELECT id, n FROM rkt2 WHERE n >= 10),
       |rkr2 AS (SELECT id FROM rkt2 WHERE n < 10),
       |rkc3 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rkr2),
       |rkp3 AS (SELECT id, rkc3.n FROM rkr2, rkc3),
       |rkan AS (SELECT id, n >= 10 AS is_anonymous FROM (
       |  SELECT * FROM rkp0 UNION ALL SELECT * FROM rkp1
       |  UNION ALL SELECT * FROM rkp2 UNION ALL SELECT * FROM rkp3)),
       |rgv AS (
       |  SELECT r.doc_id, l.license,
       |    l.license IN ('agpl', 'gpl') AS copyleft_gate,
       |    p.n_email, p.n_ip, p.n_phone,
       |    (p.n_email + p.n_ip + p.n_phone) > 0 AS pii_gate,
       |    r.doc_id IN (SELECT doc_id FROM rbad) AS contaminated,
       |    ka.is_anonymous,
       |    CAST(len(string_split_regex(trim(r.rtext), '\\s+'))
       |      AS BIGINT) AS nt
       |  FROM rel r JOIN rlic l USING (doc_id)
       |  JOIN rpii p USING (doc_id)
       |  JOIN rkan ka ON ka.id = r.doc_id)""".stripMargin
  }

  private def duckPolyHash(s: String): String =
    s"""list_reduce(list_transform(generate_series(1, length($s)),
        i -> CAST(ascii(substring($s, i, 1)) AS BIGINT)),
        (acc, x) -> (acc * 31 + x) % $P)"""

  private val duckShingles =
    s"""CASE WHEN length(text) >= $shingleSize
        THEN list_transform(generate_series(1, length(text) - ${shingleSize - 1}),
             i -> substring(text, i, $shingleSize))
        ELSE [text] END"""

  /** Exact-dedup representatives (min doc id per distinct text) — the
    * collapse step Dedup.dedupNearDup runs before LSH.
    */
  private val repsCte =
    "reps AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text)"

  private def duckHashes(shingles: String): String =
    s"list_transform($shingles, s -> ${duckPolyHash("s")})"

  /** Linear quality-classifier CTEs: the feature-hash embedding
    * chain (same as feature_hash_embed) folded against the shared
    * weight fixture in index order — ends with `lrz` (doc_id, z =
    * the raw logit).
    */
  private val duckLrChain = {
    val ws = TextAnalysis.lrFixtureWeights(32)
      .map(java.lang.Double.toString).mkString("[", ", ", "]")
    s"""lth AS (
       |  SELECT doc_id, list_transform(
       |    list_filter(string_split(lower(text), ' '),
       |      t -> t != ''),
       |    t -> ${duckPolyHash("t")}) AS th
       |  FROM documents),
       |lcnt AS (
       |  SELECT doc_id, list_transform(range(0, 32),
       |    b -> CAST(len(list_filter(th, h -> h % 32 = b))
       |         AS DOUBLE)) AS cnt
       |  FROM lth WHERE len(th) > 0),
       |lnrm AS (
       |  SELECT doc_id, cnt,
       |    sqrt(list_reduce(list_transform(cnt, x -> x * x),
       |      (a, b) -> a + b)) AS nrm
       |  FROM lcnt),
       |lx AS (
       |  SELECT doc_id,
       |    list_transform(cnt, x -> round(x / nrm, 6)) AS xs,
       |    CAST($ws AS DOUBLE[]) AS ws
       |  FROM lnrm),
       |lrz AS (
       |  SELECT doc_id, list_reduce(
       |    list_transform(generate_series(1, 32),
       |      i -> xs[i] * ws[i]), (a, v) -> a + v) AS z
       |  FROM lx)""".stripMargin
  }

  /** The shared preference-pair CTE body for the given stride set
    * (`pp` with the winner/loser CASE pair) —
    * [[graft.llm.Preference.prefPairs]]'s exact rule: longer document
    * wins, integer tie to the lexicographically smaller source (both
    * engines compare ASCII source names bytewise). Default strides
    * (1, 7) match `pref_pairs`/`bradley_terry`; `pref_cycles` adds 8
    * so comparison triangles exist at all.
    */

  /** The shared hybrid-RRF oracle chain (BM25 arm, dense arm, RRF
    * fusion) as WITH-body CTEs ending in `fin` — reused verbatim by
    * the hybrid_rrf mirror and the retrieval_eval run side so the
    * evaluated run can never drift from the evaluated retriever.
    */
  private def duckHybridChain: String =
      s"""toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split(lower(text), ' '), t -> t != '')
         |      AS ts
         |  FROM documents),
         |lens AS (
         |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS len FROM toks),
         |tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
         |  GROUP BY doc_id, term),
         |dfreq AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS df
         |  FROM tf GROUP BY term),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(len) AS BIGINT) AS tot
         |  FROM lens),
         |qt AS (
         |  SELECT doc_id AS query_id, term FROM tf
         |  WHERE doc_id < 8 AND length(term) >= 5),
         |lexw AS (
         |  SELECT qt.query_id, tf.doc_id,
         |    CAST(floor(((t.n - d.df + 0.5e0) / (d.df + 0.5e0))
         |      * ((tf.tf * 2.2e0) / (tf.tf + 0.3e0
         |         + 0.9e0 * (l.len * 1.0e0 * t.n / t.tot)))
         |      * 1000000.0e0) AS BIGINT) AS w
         |  FROM tf
         |  JOIN qt ON qt.term = tf.term
         |  JOIN dfreq d ON d.term = tf.term
         |  JOIN lens l ON l.doc_id = tf.doc_id, tot t
         |  WHERE tf.doc_id != qt.query_id),
         |lex AS (
         |  SELECT query_id, doc_id, CAST(sum(w) AS BIGINT) AS lexm
         |  FROM lexw GROUP BY 1, 2),
         |lexr AS (
         |  SELECT query_id, doc_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY lexm DESC, doc_id) AS BIGINT) AS lex_rank
         |  FROM lex),
         |v AS (SELECT vec_id, $duckVec AS vec FROM embeddings),
         |qv AS (
         |  SELECT vec_id AS query_id, vec AS qvec FROM v
         |  WHERE vec_id < 8),
         |dns AS (
         |  SELECT qv.query_id, v.vec_id AS doc_id,
         |    round(${duckCos("v.vec", "qv.qvec")}, 6) + 0.0 AS sim
         |  FROM v, qv WHERE v.vec_id != qv.query_id),
         |dnr AS (
         |  SELECT query_id, doc_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, doc_id) AS BIGINT) AS dense_rank
         |  FROM dns),
         |fused AS (
         |  SELECT coalesce(dd.query_id, ll.query_id) AS query_id,
         |    coalesce(dd.doc_id, ll.doc_id) AS doc_id,
         |    coalesce(dd.dense_rank, 0) AS dense_rank,
         |    coalesce(ll.lex_rank, 0) AS lex_rank
         |  FROM (SELECT * FROM dnr WHERE dense_rank <= 50) dd
         |  FULL OUTER JOIN (SELECT * FROM lexr WHERE lex_rank <= 50) ll
         |    ON dd.query_id = ll.query_id AND dd.doc_id = ll.doc_id),
         |sc AS (
         |  SELECT query_id, doc_id, dense_rank, lex_rank,
         |    CAST((CASE WHEN dense_rank > 0
         |          THEN 1000000 // (60 + dense_rank) ELSE 0 END)
         |      + (CASE WHEN lex_rank > 0
         |          THEN 1000000 // (60 + lex_rank) ELSE 0 END)
         |      AS BIGINT) AS rrf_ppm
         |  FROM fused),
         |fin AS (
         |  SELECT query_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf_ppm DESC, doc_id) AS BIGINT) AS rank,
         |    doc_id, rrf_ppm, dense_rank, lex_rank
         |  FROM sc)""".stripMargin

  /** License-marker dictionary for `license_scan`: (tag, lowercase
    * phrase) — the public license-identifying strings a code-corpus
    * curation pass greps for. Bounded, quote-free (they ride as SQL
    * literals in both engines).
    */
  private val licenseMarkers: Seq[(String, String)] = Seq(
    "mit" -> "permission is hereby granted, free of charge",
    "apache" -> "licensed under the apache license",
    "bsd" -> "redistribution and use in source and binary forms",
    "gpl" -> "gnu general public license",
    "agpl" -> "gnu affero general public license",
    "mpl" -> "mozilla public license",
    "cc" -> "creative commons",
    "proprietary" -> "all rights reserved")

  /** Planted license slices for `license_scan` (the fixture corpus
    * carries no license text): one slice per family plus a
    * dual-licensed slice (mit + gpl at one hit each) that exercises
    * the tie-to-smaller-tag rule — shared verbatim with the mirror.
    */
  private val licensePlantSql: String =
    """CASE CAST(doc_id % 7 AS INT)
      |  WHEN 1 THEN concat(text,
      |    ' permission is hereby granted, free of charge to any person')
      |  WHEN 2 THEN concat(text,
      |    ' licensed under the apache license version 2')
      |  WHEN 3 THEN concat(text,
      |    ' gnu general public license as published by')
      |  WHEN 4 THEN concat(text, ' all rights reserved')
      |  WHEN 5 THEN concat(text,
      |    ' permission is hereby granted, free of charge under the gnu general public license')
      |  ELSE text END""".stripMargin.replace("\n", " ")

  /** Planted release corpus for `release_gate`/`release_funnel`
    * (round-20): the license_scan slices (copyleft markers land on
    * doc_id%7 ∈ {3,5}) plus a PII suffix (email + phone) on the
    * doc_id%5=2 slice — shared verbatim with the mirror so both
    * engines gate the identical planted text.
    */
  private val releasePlantSql: String =
    s"""CASE WHEN doc_id % 5 = 2 THEN concat($licensePlantSql,
       |  ' contact user', doc_id, '@example', doc_id % 7,
       |  '.com or 555-', 100 + doc_id % 900, '-',
       |  1000 + doc_id % 9000)
       |ELSE $licensePlantSql END""".stripMargin.replace("\n", " ")

  /** The release-gate fixture frames: the planted release half (even
    * docs with `rtext` + quasi metadata) and the eval corpus (odd
    * docs, raw text). Shared by `release_gate`/`release_funnel`.
    */
  private def releaseFixture(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val docs = t(s, d, "documents")
    val rel = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), expr(releasePlantSql).as("rtext"),
        col("source"), col("lang"),
        expr("CAST(n_chars DIV 32 AS STRING)").as("band"))
    val ev = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text").as("rtext"))
    (rel, ev)
  }

  /** Shared engine-side arm scoreboard (retrieval_eval_arms /
    * retrieval_sig): the planted graded qrels scored against the
    * bm25-only, dense-only, and fused hybrid shortlists. Each arm is
    * computed ONCE (query-proportional m=50 shortlists,
    * checkpointed): the fusion reads the checkpointed frames and the
    * standalone arms are rank-prefix filters of the SAME frames — no
    * corpus pass runs twice (round-19, the rrfFuse split).
    *
    * Round-21 optimization, results pinned identical by spec: the
    * two independent corpus passes (dense/lexical shortlists) pin
    * CONCURRENTLY (graft.engine.Pin.parallel — they used to
    * serialize on the driver), and the three arms are scored in ONE
    * Retrieval.retrievalEvalArms plan instead of three unioned
    * retrievalEval plans — the qrel dedup/guard and the ideal (IDCG)
    * chain are arm-independent and now run once (the qrels frame no
    * longer needs its own pin: the single consumer pins the deduped
    * `rel` internally).
    */
  private def hybridArmEvals(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val emb = t(s, d, "embeddings")
    val qids = 0L until 8L
    val qrels = docs
      .select(explode(expr("sequence(0L, 7L)")).as("query_id"),
        col("doc_id"))
      .withColumn("rel", expr(
        "CAST(CASE WHEN (doc_id + query_id) % 20 = 0 THEN 3 " +
          "WHEN (doc_id + query_id) % 10 = 0 THEN 2 " +
          "WHEN (doc_id + query_id) % 5 = 0 THEN 1 " +
          "ELSE 0 END AS BIGINT)"))
      .filter("rel > 0 AND doc_id != query_id")
    val Seq(dense50, lex50) = graft.engine.Pin.parallel(
      Retrieval.denseTopK(emb, qids),
      Retrieval.lexicalTopK(docs, qids))
    val hybrid = Retrieval.rrfFuse(dense50, lex50)
      .select("query_id", "doc_id", "rank")
    val lex = lex50.filter(col("lex_rank") <= 10)
      .select(col("query_id"), col("doc_id"),
        col("lex_rank").as("rank"))
    val dense = dense50.filter(col("dense_rank") <= 10)
      .select(col("query_id"), col("doc_id"),
        col("dense_rank").as("rank"))
    Retrieval.retrievalEvalArms(
      Seq("dense" -> dense, "hybrid" -> hybrid, "lex" -> lex),
      qrels, k = 10)
  }

  /** Shared qrel/ideal CTEs for the retrieval-eval mirrors: planted
    * graded qrels ((doc+query) % {20,10,5} → rel 3/2/1, self
    * excluded), max-grade collapse, the pinned micro-discount table,
    * and the run-independent ideal (IDCG) side. Expects `documents`
    * in scope; emits CTEs `qr, rel, disc, itop, ideal`.
    */
  private def duckEvalQrelCtes: String = {
    val discList = Retrieval.dcgDiscountMicro(10).mkString("[", ", ", "]")
    s"""qr AS (
       |  SELECT q.query_id, d.doc_id,
       |    CAST(CASE WHEN (d.doc_id + q.query_id) % 20 = 0 THEN 3
       |         WHEN (d.doc_id + q.query_id) % 10 = 0 THEN 2
       |         WHEN (d.doc_id + q.query_id) % 5 = 0 THEN 1
       |         ELSE 0 END AS BIGINT) AS rel
       |  FROM documents d,
       |       (SELECT unnest(generate_series(0, 7)) AS query_id) q
       |  WHERE d.doc_id != q.query_id),
       |rel AS (SELECT query_id, doc_id, CAST(max(rel) AS BIGINT)
       |  AS rel FROM qr WHERE rel > 0 GROUP BY 1, 2),
       |disc AS (
       |  SELECT unnest(generate_series(1, 10)) AS rank,
       |    unnest($discList) AS d),
       |itop AS (
       |  SELECT query_id, rel,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC) AS rn,
       |    CAST(count(*) OVER (PARTITION BY query_id) AS BIGINT)
       |      AS n_rel
       |  FROM rel),
       |ideal AS (
       |  SELECT query_id, any_value(n_rel) AS n_rel,
       |    CAST(sum(CASE WHEN rn <= 10
       |      THEN ((1::BIGINT << rel) - 1) * disc.d ELSE 0 END)
       |      AS BIGINT) AS idcg_micro
       |  FROM itop LEFT JOIN disc ON disc.rank = itop.rn
       |  GROUP BY 1)""".stripMargin
  }

  /** Per-run eval CTEs, suffixed so several arms coexist in one
    * query: expects `run$sfx(query_id, doc_id, rank)` plus the
    * [[duckEvalQrelCtes]] names in scope; emits
    * `hits$sfx, hc$sfx, apn$sfx, perq$sfx`.
    */
  private def duckEvalRunCtes(sfx: String): String =
    s"""hits$sfx AS (
       |  SELECT r.query_id, r.rank, rel.rel,
       |    (CASE WHEN rel.rel IS NULL THEN 0
       |     ELSE (1::BIGINT << rel.rel) - 1 END) * disc.d AS gd
       |  FROM run$sfx r
       |  LEFT JOIN rel ON rel.query_id = r.query_id
       |               AND rel.doc_id = r.doc_id
       |  JOIN disc ON disc.rank = r.rank),
       |hc$sfx AS (
       |  SELECT query_id, rank, rel,
       |    sum(CASE WHEN rel IS NOT NULL THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY query_id ORDER BY rank) AS ht
       |  FROM hits$sfx),
       |apn$sfx AS (
       |  SELECT query_id,
       |    CAST(sum(CASE WHEN rel IS NOT NULL
       |      THEN ht * 1000000 // rank ELSE 0 END) AS BIGINT)
       |      AS ap_num
       |  FROM hc$sfx GROUP BY 1),
       |perq$sfx AS (
       |  SELECT h.query_id, CAST(count(*) AS BIGINT) AS n_ret,
       |    CAST(sum(h.gd) AS BIGINT) AS dcg_micro,
       |    CAST(sum(CASE WHEN h.rel IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_rel_ret,
       |    min(CASE WHEN h.rel IS NOT NULL THEN h.rank END)
       |      AS first_rel,
       |    any_value(a.ap_num) AS ap_num
       |  FROM hits$sfx h JOIN apn$sfx a ON a.query_id = h.query_id
       |  GROUP BY 1)""".stripMargin

  /** The final per-arm metric SELECT: perq$sfx ⟗ ideal with the
    * truncating-ppm divisions; `armSel` prepends an arm label column
    * (empty for the single-run mirror).
    */
  private def duckEvalSelect(sfx: String, armSel: String): String =
    s"""SELECT ${armSel}coalesce(p.query_id, i.query_id) AS query_id,
       |  CAST(coalesce(p.n_ret, 0) AS BIGINT) AS n_ret,
       |  CAST(coalesce(i.n_rel, 0) AS BIGINT) AS n_rel,
       |  CAST(coalesce(p.n_rel_ret, 0) AS BIGINT) AS n_rel_ret,
       |  CAST(CASE WHEN coalesce(i.n_rel, 0) = 0 THEN NULL
       |    ELSE coalesce(p.n_rel_ret, 0) * 1000000 // i.n_rel END
       |    AS BIGINT) AS recall_ppm,
       |  CAST(CASE WHEN p.first_rel IS NULL THEN 0
       |    ELSE 1000000 // p.first_rel END AS BIGINT) AS rr_ppm,
       |  CAST(CASE WHEN coalesce(i.n_rel, 0) = 0 THEN NULL
       |    ELSE coalesce(p.ap_num, 0) //
       |      least(i.n_rel, 10) END AS BIGINT) AS ap_ppm,
       |  CAST(coalesce(p.dcg_micro, 0) AS BIGINT) AS dcg_micro,
       |  CAST(coalesce(i.idcg_micro, 0) AS BIGINT) AS idcg_micro,
       |  CAST(CASE WHEN coalesce(i.idcg_micro, 0) = 0 THEN NULL
       |    ELSE coalesce(p.dcg_micro, 0) * 1000000 // i.idcg_micro
       |    END AS BIGINT) AS ndcg_ppm
       |FROM perq$sfx p FULL OUTER JOIN ideal i USING (query_id)""".stripMargin

  private def duckPrefPairs(strides: Seq[Long] = Seq(1L, 7L)): String =
    strides.map(k =>
      s"""  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.source AS item_a, b.source AS item_b,
         |    a.n_chars AS sa, b.n_chars AS sb
         |  FROM documents a JOIN documents b
         |    ON b.doc_id = a.doc_id + $k""".stripMargin)
      .mkString("pp0 AS (\n", "\n  UNION ALL\n", ") ,\n") +
    """pp AS (
      |  SELECT id_a, id_b, item_a, item_b,
      |    CASE WHEN sa > sb THEN item_a WHEN sa < sb THEN item_b
      |         WHEN item_a < item_b THEN item_a ELSE item_b END
      |      AS winner_item,
      |    CASE WHEN sa > sb THEN item_b WHEN sa < sb THEN item_a
      |         WHEN item_a < item_b THEN item_b ELSE item_a END
      |      AS loser_item
      |  FROM pp0 WHERE item_a <> item_b)""".stripMargin

  /** Replays [[graft.llm.Preference.bradleyTerry]]'s fixed-iteration
    * integer MM recurrence in HUGEINT: win matrix + symmetric pair
    * totals from the shared pair CTE, then one MATERIALIZED CTE per
    * iteration (each `s_k` is read twice — inlined it would
    * re-evaluate the whole chain exponentially, the DP-CTE rule from
    * the BPE oracle). Every division is non-negative HUGEINT `//`
    * against BigInt truncating `/` on the engine side — identical.
    */
  private def duckBradleyTerry: String = {
    val scale = "1000000000000"
    val iters = (1 to Preference.btIters).map { k =>
      s"""s$k AS MATERIALIZED (
         |  SELECT w.item,
         |    CASE WHEN d.den IS NULL OR d.den = 0
         |         THEN CAST(0 AS HUGEINT)
         |         ELSE w.wins * $scale // d.den END AS s
         |  FROM wt w LEFT JOIN (
         |    SELECT nm.i AS item,
         |      sum((nm.nij * $scale) // greatest(si.s + sj.s, 1))
         |        AS den
         |    FROM nm
         |    JOIN s${k - 1} si ON si.item = nm.i
         |    JOIN s${k - 1} sj ON sj.item = nm.j
         |    GROUP BY nm.i) d ON d.item = w.item)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${duckPrefPairs()},
       |wl AS MATERIALIZED (
       |  SELECT winner_item AS w, loser_item AS l,
       |    CAST(count(*) AS BIGINT) AS wins
       |  FROM pp GROUP BY 1, 2),
       |it AS MATERIALIZED (
       |  SELECT DISTINCT item FROM (
       |    SELECT w AS item FROM wl UNION ALL SELECT l AS item FROM wl)),
       |wt AS MATERIALIZED (
       |  SELECT i.item, CAST(coalesce(sum(wl.wins), 0) AS HUGEINT)
       |    AS wins
       |  FROM it i LEFT JOIN wl ON wl.w = i.item GROUP BY i.item),
       |lt AS MATERIALIZED (
       |  SELECT i.item, CAST(coalesce(sum(wl.wins), 0) AS HUGEINT)
       |    AS losses
       |  FROM it i LEFT JOIN wl ON wl.l = i.item GROUP BY i.item),
       |nm AS MATERIALIZED (
       |  SELECT i, j, CAST(sum(wins) AS HUGEINT) AS nij FROM (
       |    SELECT w AS i, l AS j, wins FROM wl
       |    UNION ALL SELECT l AS i, w AS j, wins FROM wl)
       |  GROUP BY i, j),
       |s0 AS (SELECT item, CAST(1000000 AS HUGEINT) AS s FROM it),
       |$iters
       |SELECT it.item, CAST(wt.wins AS BIGINT) AS wins,
       |  CAST(lt.losses AS BIGINT) AS losses,
       |  CAST(s${Preference.btIters}.s AS BIGINT) AS strength_micro
       |FROM it JOIN wt ON wt.item = it.item
       |JOIN lt ON lt.item = it.item
       |JOIN s${Preference.btIters} ON s${Preference.btIters}.item = it.item
       |ORDER BY it.item""".stripMargin
  }

  /** Replays the mojibake plant + [[graft.llm.TextAnalysis
    * .mojibakeFix]] repair: the replace chains are GENERATED from the
    * same [[graft.llm.TextAnalysis.mojibakeMap]] constant the engine
    * folds over, so the two engines execute literally the same
    * longest-first chain (raw UTF-8 characters in both literals —
    * no escape-spelling divergence).
    */
  /** The two mojibake replace-chain phases as SQL expressions over
    * `inner` — generated from the same map constant the engine folds
    * over (shared by the `mojibake_fix` oracle and the `curation_v8`
    * funnel's repair stage).
    */
  private def mojChain(inner: String, threeCharPhase: Boolean)
      : String = {
    val (three, two) =
      TextAnalysis.mojibakeMap.partition(_._1.length == 3)
    (if (threeCharPhase) three else two)
      .foldLeft(inner) { case (acc, (bad, good)) =>
        s"replace($acc, '$bad', '$good')"
      }
  }

  private def duckMojibake: String = {
    s"""WITH pl AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN replace(text, 'e', 'Ã©')
       |         WHEN doc_id % 3 = 1 THEN
       |           replace(replace(text, 's', 'â€™'), 'o', 'â€¦')
       |         ELSE text END AS t0
       |  FROM documents),
       |m3 AS (SELECT doc_id, t0, ${mojChain("t0", true)} AS t3 FROM pl),
       |m2 AS (SELECT doc_id, t0, t3, ${mojChain("t3", false)} AS t2
       |  FROM m3)
       |SELECT doc_id, t2 AS fixed_text,
       |  CAST((length(t0) - length(t3)) // 2
       |    + (length(t3) - length(t2)) AS BIGINT) AS n_fixes
       |FROM m2 ORDER BY doc_id""".stripMargin
  }

  /** Content-defined chunking CTEs (divisor 64): the cut rule over
    * shingle hashes, boundary list, exploded chunks — ends with `cc`
    * (doc_id, cid 0-based, ch, chlen). `src` must expose
    * (doc_id, text).
    */
  private def cdcCte(src: String = "documents"): String =
    s"""cdh AS (
       |  SELECT doc_id, text, ${duckHashes(duckShingles)} AS hs
       |  FROM $src WHERE length(text) >= 1),
       |bnd AS (
       |  SELECT doc_id, text,
       |    CASE WHEN length(text) < $shingleSize
       |    THEN [CAST(1 AS BIGINT), CAST(length(text) + 1 AS BIGINT)]
       |    ELSE list_sort(list_distinct(
       |      [CAST(1 AS BIGINT)] ||
       |      list_transform(list_filter(
       |           generate_series(1, len(hs)), i -> hs[i] % 64 = 0),
       |           i -> CAST(i + $shingleSize AS BIGINT)) ||
       |      [CAST(length(text) + 1 AS BIGINT)])) END AS bs
       |  FROM cdh),
       |cc AS (
       |  SELECT doc_id, s.cid AS cid, s.ch AS ch,
       |    CAST(length(s.ch) AS BIGINT) AS chlen
       |  FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      generate_series(1, len(bs) - 1),
       |      j -> struct_pack(cid := j - 1,
       |        ch := substring(text, CAST(bs[j] AS INT),
       |          CAST(bs[j + 1] - bs[j] AS INT))))) AS s
       |    FROM bnd))""".stripMargin

  /** Winnowing (w=5) fingerprint CTEs: shingle hashes, then the
    * window-min sample, distinct + sorted — ends with `fp`.
    */
  private val winnowCte =
    s"""hs AS (
       |  SELECT doc_id, ${duckHashes(duckShingles)} AS hs
       |  FROM documents),
       |fp AS (
       |  SELECT doc_id, list_sort(list_distinct(list_transform(
       |      generate_series(1, greatest(len(hs) - 4, 1)),
       |      i -> list_min(list_slice(hs, i,
       |        i + least(5, len(hs)) - 1))))) AS fps
       |  FROM hs)""".stripMargin

  private def duckSig(hashes: String): String = {
    val mins = minhashA.zip(minhashB).map { case (a, b) =>
      s"list_min(list_transform($hashes, h -> ($a * h + $b) % $P))"
    }
    mins.mkString("[", ", ", "]")
  }

  private def sigCteFrom(src: String): String =
    s"""sigs AS (
       |  SELECT doc_id, ${duckSig("hashes")} AS sig
       |  FROM (SELECT doc_id, ${duckHashes("shingles")} AS hashes
       |        FROM (SELECT doc_id, $duckShingles AS shingles
       |              FROM $src)))""".stripMargin

  private val sigCte = sigCteFrom("documents")

  private val bandCte = {
    val bands = (0 until lshBands).map { b =>
      s"""SELECT doc_id, CAST($b AS BIGINT) AS band,
          list_reduce(list_slice(sig, ${b * lshRows + 1}, ${(b + 1) * lshRows}),
            (acc, h) -> (acc * 31 + h) % $P) AS band_key FROM sigs"""
    }
    s"buckets AS (${bands.mkString(" UNION ALL ")})"
  }

  /** LSH candidate pairs + exact-Jaccard verification over the capped
    * buckets — shared by the near-dup flow and clustering oracles
    * (expects `reps`/`capped` CTEs in scope).
    */
  private val verifiedCtes =
    s"""pairs AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM capped a JOIN capped b
       |    ON a.band = b.band AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id),
       |sh AS (SELECT doc_id, list_distinct(${duckHashes(duckShingles)}) AS sh
       |       FROM reps),
       |verified AS (
       |  SELECT p.id1, p.id2
       |  FROM pairs p
       |  JOIN sh a ON a.doc_id = p.id1
       |  JOIN sh b ON b.doc_id = p.id2
       |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
       |        >= 0.8)""".stripMargin

  /** Mirror of candidatePairs' maxBucket cap (keep the lowest
    * `maxBucket` doc ids per (band, band_key) bucket).
    */
  private def cappedCte(maxBucket: Int = 4096): String =
    s"""capped AS (
       |  SELECT doc_id, band, band_key FROM (
       |    SELECT doc_id, band, band_key, row_number() OVER
       |      (PARTITION BY band, band_key ORDER BY doc_id) AS __rn
       |    FROM buckets)
       |  WHERE __rn <= $maxBucket)""".stripMargin

  private def duckSimhash: String = {
    val hashes =
      s"""list_transform(string_split(text, ' '), t -> ${duckPolyHash("t")})"""
    val bits = (0 until simhashBits).map { j =>
      val pw = 1L << j
      s"(CASE WHEN list_sum(list_transform($hashes, h -> ((h // $pw) % 2) * 2 - 1)) > 0 THEN ${1L << j} ELSE 0 END)"
    }
    bits.mkString("(", " + ", ")")
  }

  /** left-fold dot product of two DOUBLE list expressions (same fold
    * order as Spark's aggregate).
    */
  private def duckDot(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, 65),
        i -> $a[i] * $b[i]), (x, y) -> x + y)"""

  /** Exact left-fold squared-L2 over `subDim` dims — (0+d1)+d2+…
    * equals DuckDB's init-less list_reduce (d1+d2+…) exactly, so the
    * fold is bit-identical to the Spark sqDistExpr.
    */
  private def duckSqDist(a: String, b: String, subDim: Int): String =
    s"""list_reduce(list_transform(generate_series(1, $subDim),
        i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (acc, x) -> acc + x)"""

  /** PQ mirror of [[duckKmeansChain]]: per-subspace k-means keyed on
    * (j, cell) — two unrolled Lloyd iterations ending in centroid CTE
    * `pc2`, plus the final assignment `pa3` and per-vector `pcodes`.
    * Assumes CTEs `v` (cast vectors) is already defined.
    */
  private def duckPqChain(m: Int = 4, subDim: Int = 16,
      k: Int = 16): String = {
    def assign(cs: String, out: String) =
      s"""$out AS (
         |  SELECT vec_id, j, cell FROM (
         |    SELECT s.vec_id, s.j, c.cell, row_number() OVER
         |      (PARTITION BY s.vec_id, s.j ORDER BY
         |       ${duckSqDist("s.sv", "c.cvec", subDim)} ASC, c.cell ASC) rn
         |    FROM sub s JOIN $cs c ON s.j = c.j)
         |  WHERE rn = 1)""".stripMargin
    def step(prev: String, a: String, mm: String, out: String) =
      s"""${assign(prev, a)},
         |$mm AS (
         |  SELECT a.j, a.cell, dims.i,
         |    CAST(sum(CAST(s.sv[dims.i] AS DECIMAL(28,10))) AS DOUBLE)
         |      / count(*) AS m
         |  FROM $a a JOIN sub s ON a.vec_id = s.vec_id AND a.j = s.j,
         |       (SELECT unnest(generate_series(1, $subDim)) AS i) dims
         |  GROUP BY 1, 2, 3),
         |${out}_new AS (
         |  SELECT j, cell, list(m ORDER BY i) AS cvec
         |  FROM $mm GROUP BY j, cell),
         |$out AS (
         |  SELECT p.j, p.cell, coalesce(n.cvec, p.cvec) AS cvec
         |  FROM $prev p LEFT JOIN ${out}_new n
         |    ON p.j = n.j AND p.cell = n.cell)""".stripMargin
    s"""sub AS (
       |  SELECT vec_id, j,
       |    list_slice(vec, j * $subDim + 1, j * $subDim + $subDim) AS sv
       |  FROM v, (SELECT unnest(generate_series(0, ${m - 1})) AS j) js),
       |pc0 AS (
       |  SELECT j, CAST(vec_id AS BIGINT) AS cell, sv AS cvec
       |  FROM sub WHERE vec_id < $k),
       |${step("pc0", "pa1", "pm1", "pc1")},
       |${step("pc1", "pa2", "pm2", "pc2")},
       |${assign("pc2", "pa3")},
       |pcodes AS (
       |  SELECT vec_id, list(cell ORDER BY j) AS codes
       |  FROM pa3 GROUP BY vec_id)""".stripMargin
  }

  private def duckCos(a: String, b: String): String =
    s"${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)}))"

  /** 8-dim init-less left-fold dot (the sub-vector grain maxsim_topk
    * scores at) — bit-identical to the native dot on an 8-slice.
    */
  private def duckDot8(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, 9),
        i -> $a[i] * $b[i]), (x, y) -> x + y)"""

  private val duckVec =
    "list_transform(embedding, x -> CAST(x AS DOUBLE))"

  /** [[graft.llm.Similarity.plantedEmbeddings]] mirror: the planted
    * micro-cluster v CTE (clusterSize 6, dim 64) — all-integer hash
    * arithmetic with one final constant division, bit-identical to
    * the Spark derivation.
    */
  /** [[graft.llm.UrlOps.withUrlParts]] mirror over the
    * [[syntheticUrl]] fixture: same derivation, same RFC-3986
    * authority regexes (leftmost-match identical), same PSL-subset
    * folding. Ends with CTE `pr` (doc_id, url, scheme, host, port,
    * path, is_ip, registered_domain).
    */
  private val duckUrlChain =
    """uu AS (
      |  SELECT doc_id, source,
      |    CASE CAST(doc_id % 5 AS INT)
      |      WHEN 0 THEN concat('https://www.', source, '.com/p/',
      |                         CAST(doc_id AS VARCHAR))
      |      WHEN 1 THEN concat('http://a', CAST(doc_id % 3 AS VARCHAR),
      |                         '.cdn.', source, '.CO.UK:8080/x/',
      |                         CAST(doc_id AS VARCHAR))
      |      WHEN 2 THEN concat('https://user:pw@', source, '.org/d/',
      |                         CAST(doc_id AS VARCHAR))
      |      WHEN 3 THEN concat('http://10.', CAST(doc_id % 200 AS VARCHAR),
      |                         '.0.', CAST(doc_id % 7 AS VARCHAR),
      |                         ':8000/raw')
      |      ELSE concat('https://M.', source, '.NET/a?id=',
      |                  CAST(doc_id AS VARCHAR))
      |    END AS url
      |  FROM documents),
      |pa AS (
      |  SELECT *,
      |    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
      |    regexp_extract(regexp_extract(url,
      |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1), '([^@]*)$', 1) AS hp,
      |    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path
      |  FROM uu),
      |ph AS (
      |  SELECT *,
      |    lower(CASE WHEN hp LIKE '[%'
      |      THEN regexp_extract(hp, '^\[([^\]]+)\]', 1)
      |      ELSE regexp_extract(hp, '^([^:]*)', 1) END) AS host,
      |    CASE WHEN hp LIKE '[%' THEN
      |      (CASE WHEN regexp_extract(hp, '\]:([0-9]+)$', 1) = ''
      |        THEN CAST(-1 AS BIGINT)
      |        ELSE CAST(regexp_extract(hp, '\]:([0-9]+)$', 1) AS BIGINT) END)
      |      WHEN regexp_extract(hp, ':([0-9]+)$', 1) = ''
      |        THEN CAST(-1 AS BIGINT)
      |      ELSE CAST(regexp_extract(hp, ':([0-9]+)$', 1) AS BIGINT)
      |    END AS port
      |  FROM pa),
      |pi AS (
      |  SELECT *,
      |    (regexp_matches(host, '^[0-9]{1,3}(\.[0-9]{1,3}){3}$')
      |      OR hp LIKE '[%') AS is_ip,
      |    string_split(host, '.') AS ls
      |  FROM ph),
      |pr AS (
      |  SELECT doc_id, url, scheme, host, port, path, is_ip,
      |    CASE WHEN is_ip OR len(ls) <= 2 THEN host
      |      WHEN (ls[-2] || '.' || ls[-1]) IN (SUFFIXES)
      |        THEN (ls[-3] || '.' || ls[-2] || '.' || ls[-1])
      |      ELSE (ls[-2] || '.' || ls[-1]) END AS registered_domain
      |  FROM pi)""".stripMargin
      .replace("SUFFIXES",
        UrlOps.multiPartSuffixes.map(x => s"'$x'").mkString(", "))

  /** [[graft.llm.TextAnalysis.withLangId]] mirror: same char-trigram
    * poly-hash buckets, same 6dp-normalized profile, init-less
    * product folds against the SAME 6dp centroid literals (generated
    * from the one fitted model), same argmax/und floor.
    */
  private def duckLangIdSql: String = {
    val m = TextAnalysis.langIdFit()
    def cent(l: String): String = m.centroids(l)
      .map(x => new java.math.BigDecimal(x).toPlainString)
      .mkString("[", ", ", "]")
    val dim = m.dim
    val zCols = m.langs.map { l =>
      s"""list_reduce(list_transform(range(1, ${dim + 1}),
         |      i -> cnt[i] * (${cent(l)})[i]), (a, b) -> a + b) / nrm
         |      AS z_$l""".stripMargin
    }.mkString(",\n    ")
    val pred = m.langs.map { l =>
      val others = m.langs.filterNot(_ == l)
        .map(o => s"z_$l >= z_$o").mkString(" AND ")
      s"WHEN $others AND z_$l > 0.25 THEN '$l'"
    }.mkString(" ")
    val scoreSel = m.langs
      .map(l => s"round(z_$l, 6) AS score_$l").mkString(", ")
    s"""WITH $duckLangIdChain
       |SELECT doc_id, $scoreSel,
       |  CASE $pred ELSE 'und' END AS pred_lang
       |FROM lz ORDER BY doc_id""".stripMargin
  }

  /** The lang-id CTE chain alone (ends with `lz` carrying per-doc
    * z_&lt;lang&gt; scores and `lp` carrying `pred_lang`), for
    * composition into flagship oracles.
    */
  private def duckLangIdChain: String = {
    val m = TextAnalysis.langIdFit()
    def cent(l: String): String = m.centroids(l)
      .map(x => new java.math.BigDecimal(x).toPlainString)
      .mkString("[", ", ", "]")
    val dim = m.dim
    val zCols = m.langs.map { l =>
      s"""list_reduce(list_transform(range(1, ${dim + 1}),
         |      i -> cnt[i] * (${cent(l)})[i]), (a, b) -> a + b) / nrm
         |      AS z_$l""".stripMargin
    }.mkString(",\n    ")
    val pred = m.langs.map { l =>
      val others = m.langs.filterNot(_ == l)
        .map(o => s"z_$l >= z_$o").mkString(" AND ")
      s"WHEN $others AND z_$l > 0.25 THEN '$l'"
    }.mkString(" ")
    s"""lhs AS (
       |  SELECT doc_id,
       |    CASE WHEN length(lower(text)) >= ${m.n} THEN
       |      list_transform(list_transform(
       |        generate_series(1, length(lower(text)) - ${m.n - 1}),
       |        j -> substring(lower(text), j, ${m.n})),
       |        g -> ${duckPolyHash("g")})
       |    ELSE [${duckPolyHash("lower(text)")}] END AS hs
       |  FROM documents),
       |lc AS (
       |  SELECT doc_id, list_transform(range(0, $dim), b ->
       |    CAST(len(list_filter(hs, h -> h % $dim = b)) AS DOUBLE))
       |    AS cnt
       |  FROM lhs),
       |lnv AS (
       |  SELECT doc_id, cnt,
       |    sqrt(list_reduce(list_transform(cnt, y -> y * y),
       |      (a, b) -> a + b)) AS nrm
       |  FROM lc),
       |lz AS (
       |  SELECT doc_id,
       |    $zCols
       |  FROM lnv),
       |lp AS (
       |  SELECT doc_id, CASE $pred ELSE 'und' END AS pred_lang
       |  FROM lz)""".stripMargin
  }

  /** [[syntheticUrlMessy]] + [[graft.llm.UrlOps.canonicalizeUrl]]
    * mirror: same authority grammar regexes as [[duckUrlChain]],
    * plus query-string extraction, tracking-key filter, bytewise
    * param sort, default-port/trailing-slash/fragment folds.
    * Final CTE `cu`: doc_id, url, canon_url, n_params_dropped.
    */
  private val duckCanonChain =
    """mu AS (
      |  SELECT doc_id, source,
      |    CASE CAST(doc_id % 6 AS INT)
      |      WHEN 0 THEN concat('https://WWW.', source, '.Com:443/p/',
      |        CAST(doc_id % 40 AS VARCHAR), '/?utm_source=feed&id=',
      |        CAST(doc_id % 40 AS VARCHAR), '#frag')
      |      WHEN 1 THEN concat('https://www.', source, '.com/p/',
      |        CAST(doc_id % 40 AS VARCHAR), '?id=',
      |        CAST(doc_id % 40 AS VARCHAR), '&utm_campaign=x')
      |      WHEN 2 THEN concat('http://a',
      |        CAST(doc_id // 6 % 3 AS VARCHAR),
      |        '.cdn.src', CAST(doc_id // 6 % 20 AS VARCHAR),
      |        '.CO.UK:80/x/',
      |        CAST(doc_id // 6 % 40 AS VARCHAR), '?b=2&a=1')
      |      WHEN 3 THEN concat('http://a',
      |        CAST(doc_id // 6 % 3 AS VARCHAR),
      |        '.cdn.src', CAST(doc_id // 6 % 20 AS VARCHAR),
      |        '.co.uk/x/',
      |        CAST(doc_id // 6 % 40 AS VARCHAR), '?a=1&b=2&fbclid=XYZ')
      |      WHEN 4 THEN concat('https://user:pw@', source, '.org/d/',
      |        CAST(doc_id % 40 AS VARCHAR), '/')
      |      ELSE concat('http://10.', CAST(doc_id % 200 AS VARCHAR),
      |        '.0.', CAST(doc_id % 7 AS VARCHAR), ':8000/raw?gclid=g',
      |        CAST(doc_id % 5 AS VARCHAR), '&z=1')
      |    END AS url
      |  FROM documents),
      |ca AS (
      |  SELECT *,
      |    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
      |    regexp_extract(regexp_extract(url,
      |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1), '([^@]*)$', 1) AS hp,
      |    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
      |    regexp_extract(url, '^[^#?]*\?([^#]*)', 1) AS qs
      |  FROM mu),
      |ch AS (
      |  SELECT *,
      |    lower(CASE WHEN hp LIKE '[%'
      |      THEN regexp_extract(hp, '^\[([^\]]+)\]', 1)
      |      ELSE regexp_extract(hp, '^([^:]*)', 1) END) AS host,
      |    CASE WHEN hp LIKE '[%' THEN
      |      (CASE WHEN regexp_extract(hp, '\]:([0-9]+)$', 1) = ''
      |        THEN CAST(-1 AS BIGINT)
      |        ELSE CAST(regexp_extract(hp, '\]:([0-9]+)$', 1) AS BIGINT) END)
      |      WHEN regexp_extract(hp, ':([0-9]+)$', 1) = ''
      |        THEN CAST(-1 AS BIGINT)
      |      ELSE CAST(regexp_extract(hp, ':([0-9]+)$', 1) AS BIGINT)
      |    END AS port
      |  FROM ca),
      |cq AS (
      |  SELECT *, list_filter(string_split(qs, '&'), p -> p != '') AS allp
      |  FROM ch),
      |cp AS (
      |  SELECT *, list_filter(allp, p -> NOT regexp_matches(
      |    regexp_extract(p, '^([^=]*)', 1), 'TRACKRE')) AS pairs
      |  FROM cq),
      |cu AS (
      |  SELECT doc_id, url,
      |    concat(scheme, '://', host,
      |      CASE WHEN port = -1 OR (scheme = 'http' AND port = 80)
      |        OR (scheme = 'https' AND port = 443) THEN ''
      |        ELSE concat(':', CAST(port AS VARCHAR)) END,
      |      regexp_replace(path, '/$', ''),
      |      CASE WHEN len(pairs) = 0 THEN ''
      |        ELSE concat('?', array_to_string(list_sort(pairs), '&')) END)
      |      AS canon_url,
      |    CAST(len(allp) - len(pairs) AS BIGINT) AS n_params_dropped
      |  FROM cp)""".stripMargin
      .replace("TRACKRE", UrlOps.trackingParamRegex)

  /** [[syntheticUrl]]'s VARCHAR form as a standalone expression
    * (duckUrlChain inlines the same derivation in its `uu` CTE).
    */
  private val duckSyntheticUrl =
    """(CASE CAST(doc_id % 5 AS INT)
      |      WHEN 0 THEN concat('https://www.', source, '.com/p/',
      |                         CAST(doc_id AS VARCHAR))
      |      WHEN 1 THEN concat('http://a', CAST(doc_id % 3 AS VARCHAR),
      |                         '.cdn.', source, '.CO.UK:8080/x/',
      |                         CAST(doc_id AS VARCHAR))
      |      WHEN 2 THEN concat('https://user:pw@', source, '.org/d/',
      |                         CAST(doc_id AS VARCHAR))
      |      WHEN 3 THEN concat('http://10.', CAST(doc_id % 200 AS VARCHAR),
      |                         '.0.', CAST(doc_id % 7 AS VARCHAR),
      |                         ':8000/raw')
      |      ELSE concat('https://M.', source, '.NET/a?id=',
      |                  CAST(doc_id AS VARCHAR))
      |    END)""".stripMargin

  /** Registered-domain-only URL parse chain over an arbitrary source
    * CTE — [[duckUrlChain]]'s authority/host/PSL-fold stages,
    * parameterized: `srcCte` must expose the `keep` columns plus
    * `urlCol`. Emits `${pfx}r` (keep columns, registered_domain).
    */
  private def duckParse(srcCte: String, urlCol: String, keep: String,
      pfx: String): String =
    s"""${pfx}a AS (
       |  SELECT $keep,
       |    regexp_extract(regexp_extract($urlCol,
       |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1),
       |      '([^@]*)$$', 1) AS hp
       |  FROM $srcCte),
       |${pfx}h AS (
       |  SELECT *,
       |    lower(CASE WHEN hp LIKE '[%'
       |      THEN regexp_extract(hp, '^\\[([^\\]]+)\\]', 1)
       |      ELSE regexp_extract(hp, '^([^:]*)', 1) END) AS host
       |  FROM ${pfx}a),
       |${pfx}i AS (
       |  SELECT *,
       |    (regexp_matches(host, '^[0-9]{1,3}(\\.[0-9]{1,3}){3}$$')
       |      OR hp LIKE '[%') AS is_ip,
       |    string_split(host, '.') AS ls
       |  FROM ${pfx}h),
       |${pfx}r AS (
       |  SELECT $keep,
       |    CASE WHEN is_ip OR len(ls) <= 2 THEN host
       |      WHEN (ls[-2] || '.' || ls[-1]) IN (SUFFIXES)
       |        THEN (ls[-3] || '.' || ls[-2] || '.' || ls[-1])
       |      ELSE (ls[-2] || '.' || ls[-1]) END AS registered_domain
       |  FROM ${pfx}i)""".stripMargin
      .replace("SUFFIXES",
        UrlOps.multiPartSuffixes.map(x => s"'$x'").mkString(", "))

  private val duckPlantedV =
    """v AS (SELECT vec_id, list_transform(range(0, 64), i ->
      |  CAST(((vec_id // 6 * 2654435761 + i * 40503) % 2001 - 1000)
      |         * 1000
      |       + (vec_id * 1103515245 + i * 12345) % 21 - 10
      |       AS DOUBLE) / 100000.0) AS vec
      |  FROM embeddings)""".stripMargin

  private def duckLshBucket(vec: String, planes: Int): String = {
    val bits = (0 until planes).map { j =>
      val d = s"""list_reduce(list_transform(range(0, 64),
                  i -> $vec[i + 1] * ${Similarity.planeCoef(j, "i")}),
                  (x, y) -> x + y)"""
      s"(CASE WHEN $d >= 0 THEN ${1 << j} ELSE 0 END)"
    }
    bits.mkString("(", " + ", ")")
  }

  private val duckStopwords = TextAnalysis.stopwords.map { case (l, ws) =>
    l -> ws.map(w => s"'$w'").mkString("[", ", ", "]")
  }

  private def duckHits(lang: String): String =
    s"len(list_filter(string_split_regex(trim(text), '\\s+'), t -> list_contains(${duckStopwords(lang)}, t)))"

  private val duckNTokens =
    "len(string_split_regex(trim(text), '\\s+'))"

  /** Replays [[TextAnalysis.bpeApply]]'s `batch = 1` merge chain as
    * generated CTE stages: `w0` = the word-frequency table as spaced
    * symbol strings, `w$i` = after merge round i (MATERIALIZED — each
    * stage is read twice and inlined CTEs would re-evaluate the chain
    * exponentially), `dw` = per-occurrence word positions per doc.
    * Returns the WITH-body up through `dw` (no trailing comma);
    * callers join `dw` against `w$n` for tokens or counts.
    */
  private def duckBpeChain(n: Int = 10): String = {
    val stages = (1 to n).map { i =>
      val p = s"w${i - 1}"
      s"""p$i AS (
         |  SELECT a, b, sum(cnt) AS c FROM (
         |    SELECT unnest(list_slice(t, 1, len(t) - 1)) AS a,
         |           unnest(list_slice(t, 2, len(t))) AS b, cnt
         |    FROM (SELECT list_filter(string_split(repr, ' '),
         |        x -> x != '') AS t, cnt FROM $p)
         |    WHERE len(t) >= 2)
         |  GROUP BY a, b),
         |b$i AS (SELECT a, b FROM p$i
         |  ORDER BY c DESC, a, b LIMIT 1),
         |w$i AS MATERIALIZED (SELECT word, cnt,
         |  replace(replace(replace(repr, ' ', '  '),
         |    ' ' || a || '  ' || b || ' ', ' ' || a || b || ' '),
         |    '  ', ' ') AS repr
         |  FROM $p, b$i),""".stripMargin
    }.mkString("\n")
    s"""w0 AS MATERIALIZED (
       |  SELECT word, count(*) AS cnt,
       |    ' ' || regexp_replace(word, '([^ ])', '\\1 ', 'g')
       |      AS repr
       |  FROM (SELECT unnest(list_filter(
       |      string_split(lower(text), ' '), t -> t != '')) AS word
       |    FROM documents)
       |  GROUP BY word),
       |$stages
       |dw AS (
       |  SELECT doc_id, unnest(ws) AS word,
       |         unnest(generate_series(1, len(ws))) AS pos
       |  FROM (SELECT doc_id, list_filter(
       |      string_split(lower(text), ' '), t -> t != '') AS ws
       |    FROM documents))""".stripMargin
  }

  /** Replays [[TextAnalysis.bpeApply]]'s batched merge rounds:
    * per round, `bp$r` = pair counts, `bc$r` = ranked top-4·batch
    * candidates, `bs$r` = dominance-disjoint survivors (NOT EXISTS a
    * higher-ranked candidate sharing a symbol) capped at `batch`,
    * `bm$r` = the ordered merge list as chr(1)-joined strings (empty
    * list when nothing merges), `bw$r` = the vocabulary after the
    * whole batch applied by one init-via-prepend `list_reduce` fold
    * — the same left-to-right rank-order application as the Spark
    * side's `aggregate` fold. Ends with doc-word CTE `bdw`; callers
    * join `bdw` against `bw$rounds`.
    */
  private def duckBpeBatchedChain(rounds: Int, batch: Int,
      pfx: String = "b", byteSeed: Boolean = false,
      src: String = "documents"): String = {
    val candCap = 4 * batch
    // char grain: one symbol per character; byte grain: one lowercase
    // two-hex-digit literal per UTF-8 byte (hex(encode(..)) is
    // uppercase hex of the UTF-8 blob in BOTH engines) — the
    // [[TextAnalysis.bpeSeed]], mirrored
    val seed =
      if (byteSeed)
        "' ' || regexp_replace(lower(hex(encode(word))), " +
          "'(..)', '\\1 ', 'g')"
      else "' ' || regexp_replace(word, '([^ ])', '\\1 ', 'g')"
    val stages = (1 to rounds).map { r =>
      val p = s"${pfx}w${r - 1}"
      s"""${pfx}p$r AS (
         |  SELECT a, b, sum(cnt) AS c FROM (
         |    SELECT unnest(list_slice(t, 1, len(t) - 1)) AS a,
         |           unnest(list_slice(t, 2, len(t))) AS b, cnt
         |    FROM (SELECT list_filter(string_split(repr, ' '),
         |        x -> x != '') AS t, cnt FROM $p)
         |    WHERE len(t) >= 2)
         |  GROUP BY a, b),
         |${pfx}c$r AS (
         |  SELECT a, b, row_number() OVER (ORDER BY c DESC, a, b) AS rk
         |  FROM (SELECT * FROM ${pfx}p$r ORDER BY c DESC, a, b
         |        LIMIT $candCap)),
         |${pfx}s$r AS (
         |  SELECT a, b, rk FROM ${pfx}c$r i WHERE NOT EXISTS (
         |    SELECT 1 FROM ${pfx}c$r j WHERE j.rk < i.rk
         |      AND (j.a IN (i.a, i.b) OR j.b IN (i.a, i.b)))
         |  ORDER BY rk LIMIT $batch),
         |${pfx}m$r AS (SELECT coalesce(list(a || chr(1) || b ORDER BY rk),
         |  []) AS ml FROM ${pfx}s$r),
         |${pfx}w$r AS MATERIALIZED (
         |  SELECT word, cnt, list_reduce(list_prepend(repr, ml),
         |    (acc, m) -> replace(replace(replace(acc, ' ', '  '),
         |      ' ' || string_split(m, chr(1))[1] || '  ' ||
         |        string_split(m, chr(1))[2] || ' ',
         |      ' ' || replace(m, chr(1), '') || ' '), '  ', ' '))
         |    AS repr
         |  FROM $p, ${pfx}m$r),""".stripMargin
    }.mkString("\n")
    s"""${pfx}w0 AS MATERIALIZED (
       |  SELECT word, count(*) AS cnt,
       |    $seed AS repr
       |  FROM (SELECT unnest(list_filter(
       |      string_split(lower(text), ' '), t -> t != '')) AS word
       |    FROM $src)
       |  GROUP BY word),
       |$stages
       |${pfx}dw AS (
       |  SELECT doc_id, unnest(ws) AS word,
       |         unnest(generate_series(1, len(ws))) AS pos
       |  FROM (SELECT doc_id, list_filter(
       |      string_split(lower(text), ' '), t -> t != '') AS ws
       |    FROM $src))""".stripMargin
  }

  /** Two unrolled Lloyd iterations over the `v` CTE; decimal-routed
    * component sums make the means order-independent, matching the
    * Spark side. Ends with centroid CTE `c2`. `seedCut` is the SQL
    * expression bounding the seed COUNT — seeds are the seedCut
    * smallest ids by rank, matching [[Similarity.seedCentroids]]'s
    * rank-based rule (default the pinned 16; the
    * auto-cells mirror passes a scalar subquery computing
    * greatest(16, ceil(sqrt(n))) — [[Similarity.autoCells]]).
    */
  private def duckKmeansChain(seedCut: String = "16"): String = {
    def assign(cs: String) =
      s"""SELECT vec_id, cell
         |  FROM (SELECT v.vec_id, $cs.cell, row_number() OVER
         |          (PARTITION BY v.vec_id ORDER BY
         |           ${duckCos("v.vec", s"$cs.cvec")} DESC, $cs.cell DESC) rn
         |        FROM v, $cs)
         |  WHERE rn = 1""".stripMargin
    def step(prev: String, a: String, m: String, out: String) =
      s"""$a AS (${assign(prev)}),
         |${m} AS (
         |  SELECT $a.cell, dims.i,
         |    CAST(sum(CAST(v.vec[dims.i] AS DECIMAL(28,10))) AS DOUBLE)
         |      / count(*) AS m
         |  FROM $a JOIN v USING (vec_id),
         |       (SELECT unnest(generate_series(1, 64)) AS i) dims
         |  GROUP BY 1, 2),
         |${out}_new AS (
         |  SELECT cell, list(m ORDER BY i) AS cvec FROM $m GROUP BY cell),
         |$out AS (
         |  SELECT p.cell, coalesce(n.cvec, p.cvec) AS cvec
         |  FROM $prev p LEFT JOIN ${out}_new n USING (cell))""".stripMargin
    s"""c0 AS (SELECT cell, cvec FROM (
       |         SELECT CAST(vec_id AS BIGINT) AS cell, vec AS cvec,
       |           row_number() OVER (ORDER BY vec_id) AS rn
       |         FROM v) WHERE rn <= $seedCut),
       |${step("c0", "a1", "m1", "c1")},
       |${step("c1", "a2", "m2", "c2")}""".stripMargin
  }

  /** IVF probed top-k over a centroid CTE named `cent` (expects `v` in
    * scope); mirrors Similarity.ivfTopK exactly.
    */
  private def duckIvfTopkTail(cent: String): String =
    s"""assign AS (
       |  SELECT vec_id, cell
       |  FROM (SELECT v.vec_id, $cent.cell, row_number() OVER
       |          (PARTITION BY v.vec_id ORDER BY
       |           ${duckCos("v.vec", s"$cent.cvec")} DESC, $cent.cell DESC) rn
       |        FROM v, $cent)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT query_id, cell
       |  FROM (SELECT q.vec_id AS query_id, $cent.cell, row_number() OVER
       |          (PARTITION BY q.vec_id ORDER BY
       |           ${duckCos("q.vec", s"$cent.cvec")} DESC, $cent.cell DESC) rn
       |        FROM v q, $cent WHERE q.vec_id < 8)
       |  WHERE rn <= 2),
       |cands AS (
       |  SELECT a.vec_id AS cand_id, a.cell, v.vec AS cvec2
       |  FROM assign a JOIN v ON a.vec_id = v.vec_id),
       |joined AS (
       |  SELECT p.query_id, c.cand_id,
       |    round(${duckCos("qv.vec", "c.cvec2")}, 6) + 0.0 AS sim
       |  FROM cands c JOIN probes p ON c.cell = p.cell
       |  JOIN v qv ON qv.vec_id = p.query_id
       |  WHERE c.cand_id != p.query_id)
       |SELECT query_id, cand_id, sim,
       |  rank FROM (SELECT query_id, cand_id, sim, row_number() OVER
       |    (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
       |  FROM joined)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Shared curation CTE chain (corpus = even ids, eval = odd
    * ids): exact-dedup reps -> quality/lang gates -> n-gram
    * decontamination -> chunk starts. Ends with CTE `starts`.
    */
  private def duckCurationChain: String =
    s"""reps AS (
         |  SELECT min(doc_id) AS doc_id, text
         |  FROM documents WHERE doc_id % 2 = 0 GROUP BY text),
         |st AS (
         |  SELECT doc_id, text,
         |    round(least(CAST($duckNTokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |      + (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
         |      + least(CAST(${duckHits("en")} AS DOUBLE) / $duckNTokens * 4.0, 1.0) * 0.3, 6)
         |      AS quality,
         |    CASE
         |      WHEN ${duckHits("en")} >= greatest(greatest(${duckHits("es")}, 0), greatest(${duckHits("fr")}, 0), greatest(${duckHits("de")}, 0)) AND ${duckHits("en")} > 0 THEN 'en'
         |      WHEN ${duckHits("es")} >= greatest(greatest(${duckHits("en")}, 0), greatest(${duckHits("fr")}, 0), greatest(${duckHits("de")}, 0)) AND ${duckHits("es")} > 0 THEN 'es'
         |      WHEN ${duckHits("fr")} >= greatest(greatest(${duckHits("en")}, 0), greatest(${duckHits("es")}, 0), greatest(${duckHits("de")}, 0)) AND ${duckHits("fr")} > 0 THEN 'fr'
         |      WHEN ${duckHits("de")} >= greatest(greatest(${duckHits("en")}, 0), greatest(${duckHits("es")}, 0), greatest(${duckHits("fr")}, 0)) AND ${duckHits("de")} > 0 THEN 'de'
         |      ELSE 'und' END AS pred_lang
         |  FROM reps),
         |kept AS (
         |  SELECT doc_id, text FROM st
         |  WHERE quality >= 0.5 AND pred_lang = 'en'),
         |kth AS (
         |  SELECT doc_id, list_transform(
         |    list_filter(string_split(lower(text), ' '), t -> t != ''),
         |    t -> ${duckPolyHash("t")}) AS th
         |  FROM kept
         |  WHERE len(list_filter(string_split(lower(text), ' '),
         |        t -> t != '')) > 0),
         |eth AS (
         |  SELECT doc_id, list_transform(
         |    list_filter(string_split(lower(text), ' '), t -> t != ''),
         |    t -> ${duckPolyHash("t")}) AS th
         |  FROM documents WHERE doc_id % 2 = 1
         |    AND len(list_filter(string_split(lower(text), ' '),
         |        t -> t != '')) > 0),
         |kgrams AS (
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, greatest(len(th) - 7, 1)),
         |    i -> list_reduce(list_slice(th, i, i + least(8, len(th)) - 1),
         |           (acc, h) -> (acc * 31 + h) % $P))) AS gram
         |  FROM kth),
         |egrams AS (
         |  SELECT unnest(list_transform(
         |    generate_series(1, greatest(len(th) - 7, 1)),
         |    i -> list_reduce(list_slice(th, i, i + least(8, len(th)) - 1),
         |           (acc, h) -> (acc * 31 + h) % $P))) AS gram
         |  FROM eth),
         |bad AS (
         |  SELECT DISTINCT k.doc_id FROM kgrams k
         |  JOIN egrams e ON k.gram = e.gram),
         |clean AS (
         |  SELECT doc_id, text FROM kept
         |  WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
         |starts AS (
         |  SELECT doc_id, text,
         |    unnest(generate_series(1, length(text), 150)) AS s
         |  FROM clean WHERE length(text) >= 1)""".stripMargin

  /** Shared span-dedup CTE chain: non-empty lowercased token hashes,
    * every 20-token window with its 1-based start (docs shorter than
    * 20 tokens contribute nothing), and the corpus-repeated grams.
    * Mirrors Dedup.spanGrams/dupSpanWindows; ends with CTEs `sgrams`
    * and `sdup`.
    */
  private def duckSpanChain: String =
    s"""sth AS (
       |  SELECT doc_id, list_transform(
       |    list_filter(string_split(lower(text), ' '), t -> t != ''),
       |    t -> ${duckPolyHash("t")}) AS th
       |  FROM documents),
       |sw AS (
       |  SELECT doc_id, th,
       |    unnest(generate_series(1, len(th) - 19)) AS ws
       |  FROM sth WHERE len(th) >= 20),
       |sgrams AS (
       |  SELECT doc_id, CAST(ws AS BIGINT) AS win_start,
       |    CAST(list_reduce(list_slice(th, ws, ws + 19),
       |      (acc, h) -> (acc * 31 + h) % $P) AS BIGINT) AS gram
       |  FROM sw),
       |sdup AS (
       |  SELECT gram FROM sgrams GROUP BY gram HAVING count(*) >= 2)""".stripMargin

  /** One unrolled encode step of the motion-compensated video codec
    * (frame `f` predicted from CTE `rec{f-1}`): exhaustive ±2 block
    * motion search (SAD over the 16 block pixels, 25 candidates,
    * ties → lowest candidate code), residual quantization with the
    * +260-biased division that keeps every dividend non-negative
    * (where DuckDB's truncating `//` coincides with floor and with
    * the Scala side), reconstruction clamp — the ADPCM recursive-CTE
    * discipline applied across FRAMES instead of samples, unrolled
    * because the frame count is a codec constant (4).
    * Mirrors `Multimodal.mcvStep`.
    */
  private def mcvStepSql(f: Int): String = {
    // block b row-major over 2×2 blocks of 4×4; pixel-in-block u
    // row-major; candidate c = (dy+2)*5 + (dx+2)
    val curP = "((gb.b // 2) * 4 + gu.u // 4) * 8 " +
      "+ (gb.b % 2) * 4 + gu.u % 4"
    def predP(c: String) =
      s"""greatest(0, least(7,
         |      (gb.b // 2) * 4 + gu.u // 4 + $c // 5 - 2)) * 8
         |    + greatest(0, least(7,
         |      (gb.b % 2) * 4 + gu.u % 4 + $c % 5 - 2))""".stripMargin
    s"""sad$f AS (
       |  SELECT x.doc_id, gb.b, gc.c, sum(abs(x.x - r.rv)) AS sad
       |  FROM range(0, 4) gb(b), range(0, 25) gc(c),
       |       range(0, 16) gu(u), px x, rec${f - 1} r
       |  WHERE x.f = $f AND x.doc_id = r.doc_id
       |    AND x.p = $curP
       |    AND r.p = ${predP("gc.c")}
       |  GROUP BY x.doc_id, gb.b, gc.c),
       |best$f AS (
       |  SELECT s.doc_id, s.b, min(s.c) AS c
       |  FROM sad$f s
       |  JOIN (SELECT doc_id, b, min(sad) AS ms
       |        FROM sad$f GROUP BY doc_id, b) m
       |    ON m.doc_id = s.doc_id AND m.b = s.b AND s.sad = m.ms
       |  GROUP BY s.doc_id, s.b),
       |res$f AS (
       |  SELECT x.doc_id, gb.b, gu.u, x.p, x.x, r.rv AS pv,
       |    greatest(-15, least(15, (x.x - r.rv + 260) // 8 - 32)) AS q
       |  FROM range(0, 4) gb(b), range(0, 16) gu(u),
       |       best$f bv, px x, rec${f - 1} r
       |  WHERE bv.b = gb.b AND x.f = $f AND x.doc_id = bv.doc_id
       |    AND r.doc_id = bv.doc_id
       |    AND x.p = $curP
       |    AND r.p = ${predP("bv.c")}),
       |rec$f AS (
       |  SELECT doc_id, p, greatest(0, least(255, pv + 8 * q)) AS rv
       |  FROM res$f)""".stripMargin
  }

  /** One unrolled PCA power step: p{k} from p{k-1} over the `gm`
    * full-matrix CTE — matvec and norm as ORDERED list_reduce left
    * folds (init-less list_reduce == the 0-seeded fold for + on
    * doubles: 0+x is exact), IEEE sqrt, division — every op
    * correctly rounded and engine-identical.
    * Mirrors the driver-side loop in `Similarity.pcaProject`.
    */
  private def pcaStepSql(k: Int): String =
    // w$k MUST be MATERIALIZED: n$k and p$k both reference it, so an
    // inlining planner doubles the evaluated tree per step — 2^10 by
    // p10 (measured: p6 0.9 s, p8 10 s, p10 times out; materialized,
    // the whole chain is milliseconds)
    s"""w$k AS MATERIALIZED (
       |  SELECT gm.i,
       |    list_reduce(list(gm.m * p.val ORDER BY gm.j),
       |      (a, b) -> a + b) AS wv
       |  FROM gm JOIN p${k - 1} p ON p.i = gm.j
       |  GROUP BY gm.i),
       |n$k AS (
       |  SELECT sqrt(list_reduce(list(wv * wv ORDER BY i),
       |    (a, b) -> a + b)) AS nv
       |  FROM w$k),
       |p$k AS MATERIALIZED (
       |  SELECT w.i, w.wv / n.nv AS val FROM w$k w, n$k n)"""
      .stripMargin

  /** One unrolled integer-PageRank power step: r{i} from r{i-1} over
    * the `adj`/`dg` edge CTEs — pr'(v) = 150000 + (850 · Σ (pr(u) //
    * deg(u))) // 1000, all operands non-negative so DuckDB's
    * truncating `//` coincides with Spark's `div`.
    * Mirrors `Similarity.pagerankSim`.
    */
  private def prStepSql(i: Int): String =
    s"""r$i AS (
       |  SELECT n.node,
       |    CAST(150000 + (850 * coalesce(s.t, 0)) // 1000 AS BIGINT)
       |      AS pr
       |  FROM n LEFT JOIN (
       |    SELECT a.dst AS node, sum(rp.pr // dg.deg) AS t
       |    FROM adj a
       |    JOIN r${i - 1} rp ON rp.node = a.src
       |    JOIN dg ON dg.src = a.src
       |    GROUP BY a.dst) s ON s.node = n.node)""".stripMargin

  val oracle: Map[String, String] = Map(
    // whole-word case-insensitive mask: identical (?i)\b-anchored
    // alternation on both engines — under the ASCII-word-anchor
    // contract Java (leftmost-first) and RE2 (leftmost-longest)
    // agree on every input (see TextAnalysis.blocklistScrub);
    // DuckDB's regexp_replace needs the explicit 'g' flag where
    // Spark's is always-global
    "blocklist_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(text,
        |    '(?i)\b(filter|vector|slow)\b', '[TERM]', 'g')
        |    AS scrub_text,
        |  CAST(len(regexp_extract_all(text,
        |    '(?i)\b(filter|vector|slow)\b')) AS BIGINT) AS n_masked,
        |  CAST(coalesce(list_sum(list_transform(
        |    regexp_extract_all(text, '(?i)\b(filter|vector|slow)\b'),
        |    x -> length(x))), 0) AS BIGINT) AS masked_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // reliability diagram + ECE replay: the LR scoring chain (shared
    // lrz CTE) then PURE INTEGER micro/ppm arithmetic — score clamped
    // to ±1e6 BEFORE any integer division so truncate-vs-floor
    // semantics never see a negative operand (the lrCalibration
    // contract); every integer aggregate reaching the final SELECT is
    // CAST(... AS BIGINT) against DuckDB's HUGEINT sum
    "lr_calibration" ->
      s"""WITH $duckLrChain,
         |sc AS (
         |  SELECT l.doc_id,
         |    CAST(round(round(z, 6) * 1000000) AS BIGINT) AS sm,
         |    (round(least(CAST($duckNTokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |      + (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
         |      + least(CAST(${duckHits("en")} AS DOUBLE) / $duckNTokens * 4.0, 1.0) * 0.3, 6)
         |      >= 0.5) AS label
         |  FROM lrz l JOIN documents d ON l.doc_id = d.doc_id),
         |s2 AS (
         |  SELECT doc_id, sm, label,
         |    least(greatest(sm, -1000000), 1000000) AS smc
         |  FROM sc),
         |s3 AS (
         |  SELECT doc_id, sm, label,
         |    (smc + 1000000) // 2 AS phat,
         |    least((smc + 1000000) * 8 // 2000000, 7) AS bin
         |  FROM s2),
         |per AS (
         |  SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(sm) AS BIGINT) AS sum_score_micro,
         |    CAST(sum(phat) AS BIGINT) AS sp,
         |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
         |      AS np
         |  FROM s3 GROUP BY bin),
         |p2 AS (
         |  SELECT bin, n_docs, sum_score_micro,
         |    sp // n_docs AS mean_phat_ppm,
         |    np * 1000000 // n_docs AS pos_rate_ppm
         |  FROM per),
         |p3 AS (
         |  SELECT *, abs(mean_phat_ppm - pos_rate_ppm) AS gap_ppm
         |  FROM p2),
         |e AS (
         |  SELECT CAST(sum(gap_ppm * n_docs) // sum(n_docs) AS BIGINT)
         |    AS ece_ppm
         |  FROM p3)
         |SELECT CAST(bin AS BIGINT) AS bin, n_docs, sum_score_micro,
         |  CAST(mean_phat_ppm AS BIGINT) AS mean_phat_ppm,
         |  CAST(pos_rate_ppm AS BIGINT) AS pos_rate_ppm,
         |  CAST(gap_ppm AS BIGINT) AS gap_ppm, e.ece_ppm
         |FROM p3, e ORDER BY bin""".stripMargin,
    // Mann-Whitney 2U from the micro-score histogram: the same lrz
    // scoring + clamp + label as lr_calibration, cum_neg over the
    // bounded distinct-score frame, exact HUGEINT tie-credit fold,
    // suffix-sum ROC bins; AUC is the single fixed-order double
    // division from the exact integers (identical IEEE on both sides)
    "lr_auc" ->
      s"""WITH $duckLrChain,
         |sc AS (
         |  SELECT l.doc_id,
         |    CAST(round(round(z, 6) * 1000000) AS BIGINT) AS sm,
         |    (round(least(CAST($duckNTokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |      + (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
         |      + least(CAST(${duckHits("en")} AS DOUBLE) / $duckNTokens * 4.0, 1.0) * 0.3, 6)
         |      >= 0.5) AS label
         |  FROM lrz l JOIN documents d ON l.doc_id = d.doc_id),
         |s2 AS (
         |  SELECT least(greatest(sm, -1000000), 1000000) AS smc, label
         |  FROM sc),
         |h AS (
         |  SELECT smc,
         |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_pos,
         |    CAST(sum(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT)
         |      AS n_neg
         |  FROM s2 GROUP BY smc),
         |h2 AS MATERIALIZED (
         |  SELECT smc, n_pos, n_neg,
         |    CAST(sum(n_neg) OVER (ORDER BY smc) AS BIGINT) AS cum_neg
         |  FROM h),
         |tot AS (
         |  SELECT CAST(sum(n_pos) AS BIGINT) AS np,
         |    CAST(sum(n_neg) AS BIGINT) AS nn,
         |    sum(CAST(n_pos AS HUGEINT) *
         |        CAST(2 * (cum_neg - n_neg) + n_neg AS HUGEINT)) AS u2
         |  FROM h2),
         |b AS MATERIALIZED (
         |  SELECT least((smc + 1000000) * 16 // 2000000, 15) AS bin,
         |    CAST(sum(n_pos) AS BIGINT) AS n_pos,
         |    CAST(sum(n_neg) AS BIGINT) AS n_neg
         |  FROM h2 GROUP BY 1),
         |sfx AS (
         |  SELECT b.bin, b.n_pos, b.n_neg,
         |    CAST(sum(q.n_pos) AS BIGINT) AS cum_pos_ge,
         |    CAST(sum(q.n_neg) AS BIGINT) AS cum_neg_ge
         |  FROM b JOIN b q ON q.bin >= b.bin
         |  GROUP BY b.bin, b.n_pos, b.n_neg)
         |SELECT CAST(bin AS BIGINT) AS bin, n_pos, n_neg, cum_pos_ge,
         |  cum_neg_ge,
         |  CASE WHEN np = 0 THEN NULL
         |       ELSE cum_pos_ge * 1000000 // np END AS tpr_ppm,
         |  CASE WHEN nn = 0 THEN NULL
         |       ELSE cum_neg_ge * 1000000 // nn END AS fpr_ppm,
         |  np AS n_pos_total, nn AS n_neg_total,
         |  CASE WHEN np = 0 OR nn = 0 THEN NULL
         |       ELSE CAST(u2 AS DOUBLE) / (2.0 *
         |         CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)) END AS auc
         |FROM sfx, tot ORDER BY bin""".stripMargin,
    // stride-join preference pairs: winner/loser CASE shared with the
    // Bradley-Terry oracle via the pp CTE
    "pref_pairs" ->
      s"""WITH ${duckPrefPairs()}
         |SELECT id_a, id_b, item_a, item_b, winner_item, loser_item
         |FROM pp ORDER BY id_a, id_b""".stripMargin,
    // fixed-iteration integer MM replay in HUGEINT — generated from
    // the same btIters constant the engine loops over
    "bradley_terry" -> duckBradleyTerry,
    // confusion matrix + po/pe/kappa: integer cell counts, exact
    // HUGEINT pe numerator over the class marginals, then the same
    // fixed-order double sequence as the engine
    "annotator_kappa" ->
      """WITH conf AS MATERIALIZED (
        |  SELECT CASE WHEN n_chars < 250 THEN 'short'
        |              WHEN n_chars < 380 THEN 'mid'
        |              ELSE 'long' END AS label_a,
        |    CASE WHEN len(string_split_regex(trim(text), '\s+')) < 45
        |           THEN 'short'
        |         WHEN len(string_split_regex(trim(text), '\s+')) < 70
        |           THEN 'mid'
        |         ELSE 'long' END AS label_b,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT label_a AS cls, CAST(sum(n) AS BIGINT) AS row_n
        |  FROM conf GROUP BY 1),
        |c AS (SELECT label_b AS cls, CAST(sum(n) AS BIGINT) AS col_n
        |  FROM conf GROUP BY 1),
        |pe AS (
        |  SELECT sum(CAST(coalesce(r.row_n, 0) AS HUGEINT) *
        |             CAST(coalesce(c.col_n, 0) AS HUGEINT)) AS pe_num
        |  FROM r FULL OUTER JOIN c ON r.cls = c.cls),
        |sc AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_total,
        |    CAST(sum(CASE WHEN label_a = label_b THEN n ELSE 0 END)
        |      AS BIGINT) AS n_agree
        |  FROM conf),
        |k AS (
        |  SELECT n_total, n_agree,
        |    CAST(n_agree * 1000000 // n_total AS BIGINT) AS po_ppm,
        |    CAST(pe_num AS DOUBLE) /
        |      (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)) AS pe
        |  FROM sc, pe)
        |SELECT conf.label_a, conf.label_b, conf.n, k.n_total,
        |  k.n_agree, k.po_ppm, k.pe,
        |  CASE WHEN 1.0 - k.pe = 0.0 THEN NULL
        |       ELSE (CAST(k.n_agree AS DOUBLE) /
        |         CAST(k.n_total AS DOUBLE) - k.pe) / (1.0 - k.pe)
        |  END AS kappa
        |FROM conf, k ORDER BY label_a, label_b""".stripMargin,
    // Gini replay: the same rank identity over the (mass, group)
    // total order via window rank + running mass, HUGEINT numerator
    "token_gini" ->
      """WITH tm AS MATERIALIZED (
        |  SELECT source AS g,
        |    CAST(sum(len(list_filter(string_split(lower(text), ' '),
        |      t -> t != ''))) AS BIGINT) AS m
        |  FROM documents GROUP BY 1),
        |rk AS MATERIALIZED (
        |  SELECT g, m,
        |    CAST(row_number() OVER (ORDER BY m, g) AS BIGINT)
        |      AS rank,
        |    CAST(sum(m) OVER (ORDER BY m, g) AS HUGEINT) AS cum
        |  FROM tm),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(m) AS HUGEINT) AS t FROM tm),
        |gn AS (SELECT CAST(sum((2 * rank - tot.n - 1) *
        |    CAST(m AS HUGEINT)) AS HUGEINT) AS num
        |  FROM rk, tot)
        |SELECT rk.g AS grp, rk.m AS mass, rk.rank,
        |  CASE WHEN tot.t = 0 THEN NULL
        |       ELSE CAST(cum * 1000000 // tot.t AS BIGINT)
        |  END AS lorenz_ppm,
        |  tot.n AS n_groups, CAST(tot.t AS BIGINT) AS total_mass,
        |  CASE WHEN tot.t = 0 OR tot.n = 0 THEN NULL
        |       ELSE CAST(gn.num * 1000000 // (tot.n * tot.t)
        |         AS BIGINT) END AS gini_ppm
        |FROM rk, tot, gn ORDER BY grp""".stripMargin,
    // KS replay: dense group×bucket grid, per-group and global
    // cumulative sums over the occupied buckets, max |cross-scaled
    // CDF gap| with smallest-bucket argmax, HUGEINT ppm division
    "ks_drift" ->
      """WITH vb AS MATERIALIZED (
        |  SELECT source AS g,
        |    least(CAST(n_chars // 16 AS BIGINT), 4095) AS b,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2),
        |gs AS (SELECT DISTINCT g FROM vb),
        |bs AS (SELECT DISTINCT b FROM vb),
        |grid AS MATERIALIZED (
        |  SELECT gs.g, bs.b, CAST(coalesce(vb.n, 0) AS BIGINT) AS n
        |  FROM gs CROSS JOIN bs
        |  LEFT JOIN vb ON vb.g = gs.g AND vb.b = bs.b),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM vb),
        |gn AS MATERIALIZED (
        |  SELECT g, CAST(sum(n) AS BIGINT) AS ng FROM vb GROUP BY 1),
        |gb AS (SELECT b, CAST(sum(n) AS BIGINT) AS nb FROM vb
        |  GROUP BY 1),
        |cum AS (
        |  SELECT grid.g, grid.b,
        |    CAST(sum(grid.n) OVER (PARTITION BY grid.g
        |      ORDER BY grid.b) AS HUGEINT) AS cg,
        |    CAST(sum(gb.nb) OVER (PARTITION BY grid.g
        |      ORDER BY grid.b) AS HUGEINT) AS call
        |  FROM grid JOIN gb ON gb.b = grid.b),
        |dd AS (
        |  SELECT cum.g, cum.b,
        |    abs(cg * (tot.nt - gn.ng) - (call - cg) * gn.ng) AS num
        |  FROM cum JOIN gn ON gn.g = cum.g, tot),
        |mx AS (SELECT g, max(num) AS mnum FROM dd GROUP BY g),
        |am AS (
        |  SELECT dd.g, min(dd.b) AS d_at_bucket, mx.mnum
        |  FROM dd JOIN mx ON mx.g = dd.g AND dd.num = mx.mnum
        |  GROUP BY dd.g, mx.mnum)
        |SELECT am.g AS grp, gn.ng AS n_grp,
        |  tot.nt - gn.ng AS n_rest,
        |  CAST(am.d_at_bucket AS BIGINT) AS d_at_bucket,
        |  CASE WHEN gn.ng = 0 OR tot.nt - gn.ng = 0 THEN NULL
        |       ELSE CAST(am.mnum * 1000000 //
        |         (CAST(gn.ng AS HUGEINT) * (tot.nt - gn.ng))
        |         AS BIGINT) END AS d_ppm
        |FROM am JOIN gn ON gn.g = am.g, tot
        |ORDER BY grp""".stripMargin,
    // confusable-fold replay: identical plant, one translate pass
    // over the shared from/to constants, from-class erasure count,
    // and the restores-the-original invariant as a result column
    "confusable_fold" ->
      s"""WITH pl AS (
         |  SELECT doc_id, text AS orig,
         |    CASE WHEN doc_id % 11 = 4 THEN replace(text, 'a', 'а')
         |         WHEN doc_id % 11 = 7 THEN replace(text, 'o', 'ο')
         |         ELSE text END AS t
         |  FROM documents)
         |SELECT doc_id,
         |  translate(t, '${TextAnalysis.confusableFrom}',
         |    '${TextAnalysis.confusableTo}') AS folded_text,
         |  CAST(length(t) - length(translate(t,
         |    '${TextAnalysis.confusableFrom}', ''))
         |    AS BIGINT) AS n_folded,
         |  translate(t, '${TextAnalysis.confusableFrom}',
         |    '${TextAnalysis.confusableTo}') = orig AS restored
         |FROM pl ORDER BY doc_id""".stripMargin,
    // script-mix replay: identical plant + per-script class-erasure
    // length diffs (RE2 spells the script classes \p{Latin}, Java
    // \p{IsLatin} — same Unicode script property)
    "script_mix" ->
      """WITH pl AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 4 THEN replace(text, 'a', 'а')
        |         WHEN doc_id % 11 = 7 THEN replace(text, 'o', 'ο')
        |         ELSE text END AS t
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(length(regexp_replace(t, '[^\p{L}]', '', 'g'))
        |      AS BIGINT) AS n_letters,
        |    CAST(length(regexp_replace(t, '[^\p{Latin}]', '', 'g'))
        |      AS BIGINT) AS n_latin,
        |    CAST(length(regexp_replace(t, '[^\p{Cyrillic}]', '', 'g'))
        |      AS BIGINT) AS n_cyrillic,
        |    CAST(length(regexp_replace(t, '[^\p{Greek}]', '', 'g'))
        |      AS BIGINT) AS n_greek
        |  FROM pl)
        |SELECT doc_id, n_letters, n_latin, n_cyrillic, n_greek,
        |  n_letters - n_latin - n_cyrillic - n_greek
        |    AS n_other_letters,
        |  CASE WHEN n_letters = 0 THEN NULL
        |       ELSE (n_letters - greatest(n_latin, n_cyrillic,
        |         n_greek, n_letters - n_latin - n_cyrillic - n_greek))
        |         * 1000000 // n_letters END AS mixed_ppm
        |FROM sc ORDER BY doc_id""".stripMargin,
    // Fleiss replay: row-local tally vectors per category, one
    // aggregate, then the identical fixed-order double sequence
    "fleiss_kappa" ->
      """WITH v AS (
        |  SELECT
        |    CASE WHEN n_chars < 250 THEN 'low'
        |         WHEN n_chars < 380 THEN 'mid' ELSE 'high' END AS ra,
        |    CASE WHEN len(string_split_regex(trim(text), '\s+')) < 45
        |           THEN 'low'
        |         WHEN len(string_split_regex(trim(text), '\s+')) < 70
        |           THEN 'mid' ELSE 'high' END AS rb,
        |    CASE WHEN len(regexp_extract_all(text,
        |           '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) < 45 THEN 'low'
        |         WHEN len(regexp_extract_all(text,
        |           '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) < 80 THEN 'mid'
        |         ELSE 'high' END AS rc
        |  FROM documents),
        |tl AS (
        |  SELECT
        |    (CASE WHEN ra = 'low' THEN 1 ELSE 0 END
        |     + CASE WHEN rb = 'low' THEN 1 ELSE 0 END
        |     + CASE WHEN rc = 'low' THEN 1 ELSE 0 END) AS nl,
        |    (CASE WHEN ra = 'mid' THEN 1 ELSE 0 END
        |     + CASE WHEN rb = 'mid' THEN 1 ELSE 0 END
        |     + CASE WHEN rc = 'mid' THEN 1 ELSE 0 END) AS nm,
        |    (CASE WHEN ra = 'high' THEN 1 ELSE 0 END
        |     + CASE WHEN rb = 'high' THEN 1 ELSE 0 END
        |     + CASE WHEN rc = 'high' THEN 1 ELSE 0 END) AS nh
        |  FROM v),
        |ag AS (
        |  SELECT CAST(count(*) AS BIGINT) AS nit,
        |    CAST(sum(nl * nl + nm * nm + nh * nh) AS BIGINT) AS s,
        |    CAST(sum(nl) AS BIGINT) AS cl,
        |    CAST(sum(nm) AS BIGINT) AS cm,
        |    CAST(sum(nh) AS BIGINT) AS ch
        |  FROM tl),
        |k AS (
        |  SELECT nit, s, cl, cm, ch, nit * 3 AS nn,
        |    CAST(s - nit * 3 AS DOUBLE)
        |      / CAST(nit * 3 * 2 AS DOUBLE) AS pbar,
        |    CAST(CAST(cl AS HUGEINT) * CAST(cl AS HUGEINT)
        |       + CAST(cm AS HUGEINT) * CAST(cm AS HUGEINT)
        |       + CAST(ch AS HUGEINT) * CAST(ch AS HUGEINT) AS DOUBLE)
        |      / (CAST(nit * 3 AS DOUBLE) * CAST(nit * 3 AS DOUBLE))
        |      AS pe
        |  FROM ag)
        |SELECT cat.category,
        |  CASE cat.category WHEN 'low' THEN cl WHEN 'mid' THEN cm
        |       ELSE ch END AS votes,
        |  CAST(CASE cat.category WHEN 'low' THEN cl WHEN 'mid' THEN cm
        |       ELSE ch END * 1000000 // nn AS BIGINT) AS share_ppm,
        |  nit AS n_items, CAST(3 AS BIGINT) AS n_raters, s AS sum_sq,
        |  pbar, pe,
        |  CASE WHEN 1.0 - pe = 0.0 THEN NULL
        |       ELSE (pbar - pe) / (1.0 - pe) END AS kappa
        |FROM (VALUES ('low'), ('mid'), ('high')) cat(category), k
        |ORDER BY category""".stripMargin,
    // Kendall tau-b replay: the same 256-bucket grid, pair counts by
    // quadratic join over the tiny cell frame (the engine's dense
    // 2-D suffix sums and this join count the SAME pairs), identical
    // sqrt/divide order
    "score_tau" ->
      s"""WITH $duckLrChain,
         |sc AS (
         |  SELECT l.doc_id,
         |    least(greatest(CAST(round(round(z, 6) * 1000000)
         |      AS BIGINT), -1000000), 1000000) AS smc,
         |    CAST(round(round(least(CAST($duckNTokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |      + (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
         |      + least(CAST(${duckHits("en")} AS DOUBLE) / $duckNTokens * 4.0, 1.0) * 0.3, 6) * 1000000) AS BIGINT) AS q
         |  FROM lrz l JOIN documents d ON l.doc_id = d.doc_id),
         |g AS MATERIALIZED (
         |  SELECT least((smc + 1000000) * 256 // 2000000, 255) AS bx,
         |    least(q * 256 // 1000000, 255) AS by_,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM sc GROUP BY 1, 2),
         |cp AS (
         |  SELECT CAST(coalesce(sum(CAST(a.n AS HUGEINT) *
         |    CAST(b.n AS HUGEINT)), 0) AS HUGEINT) AS c
         |  FROM g a JOIN g b ON b.bx > a.bx AND b.by_ > a.by_),
         |dp AS (
         |  SELECT CAST(coalesce(sum(CAST(a.n AS HUGEINT) *
         |    CAST(b.n AS HUGEINT)), 0) AS HUGEINT) AS d
         |  FROM g a JOIN g b ON b.bx > a.bx AND b.by_ < a.by_),
         |tots AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS nit,
         |    CAST(count(*) AS BIGINT) AS ncells
         |  FROM g),
         |n1 AS (
         |  SELECT CAST(coalesce(sum(CAST(rn AS HUGEINT) *
         |    (CAST(rn AS HUGEINT) - 1) // 2), 0) AS HUGEINT) AS v
         |  FROM (SELECT CAST(sum(n) AS BIGINT) AS rn FROM g
         |    GROUP BY bx)),
         |n2 AS (
         |  SELECT CAST(coalesce(sum(CAST(cn AS HUGEINT) *
         |    (CAST(cn AS HUGEINT) - 1) // 2), 0) AS HUGEINT) AS v
         |  FROM (SELECT CAST(sum(n) AS BIGINT) AS cn FROM g
         |    GROUP BY by_)),
         |n0 AS (
         |  SELECT CAST(CAST(nit AS HUGEINT) *
         |    (CAST(nit AS HUGEINT) - 1) // 2 AS HUGEINT) AS v
         |  FROM tots)
         |SELECT tots.nit AS n_items, tots.ncells AS n_cells,
         |  CAST(cp.c AS DOUBLE) AS concordant,
         |  CAST(dp.d AS DOUBLE) AS discordant,
         |  CAST(n0.v AS DOUBLE) AS pairs_total,
         |  CAST(n1.v AS DOUBLE) AS ties_x_pairs,
         |  CAST(n2.v AS DOUBLE) AS ties_y_pairs,
         |  CASE WHEN n0.v - n1.v = 0 OR n0.v - n2.v = 0 THEN NULL
         |       ELSE CAST(cp.c - dp.d AS DOUBLE) /
         |         sqrt(CAST(n0.v - n1.v AS DOUBLE) *
         |           CAST(n0.v - n2.v AS DOUBLE)) END AS tau_b
         |FROM tots, cp, dp, n0, n1, n2""".stripMargin,
    // gate-vs-heuristic kappa: the lrz keep decision and the quality
    // label as boolean-string labelers through the same confusion /
    // class-union-marginal / fixed-order-IEEE replay as
    // annotator_kappa
    "lr_agreement" ->
      s"""WITH $duckLrChain,
         |lab AS (
         |  SELECT CAST(l.z >= 0.0 AS VARCHAR) AS label_a,
         |    CAST((round(least(CAST($duckNTokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |      + (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
         |      + least(CAST(${duckHits("en")} AS DOUBLE) / $duckNTokens * 4.0, 1.0) * 0.3, 6)
         |      >= 0.5) AS VARCHAR) AS label_b
         |  FROM lrz l JOIN documents d ON l.doc_id = d.doc_id),
         |conf AS MATERIALIZED (
         |  SELECT label_a, label_b, CAST(count(*) AS BIGINT) AS n
         |  FROM lab GROUP BY 1, 2),
         |r AS (SELECT label_a AS cls, CAST(sum(n) AS BIGINT) AS row_n
         |  FROM conf GROUP BY 1),
         |c AS (SELECT label_b AS cls, CAST(sum(n) AS BIGINT) AS col_n
         |  FROM conf GROUP BY 1),
         |pe AS (
         |  SELECT sum(CAST(coalesce(r.row_n, 0) AS HUGEINT) *
         |             CAST(coalesce(c.col_n, 0) AS HUGEINT)) AS pe_num
         |  FROM r FULL OUTER JOIN c ON r.cls = c.cls),
         |sc AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS n_total,
         |    CAST(sum(CASE WHEN label_a = label_b THEN n ELSE 0 END)
         |      AS BIGINT) AS n_agree
         |  FROM conf),
         |k AS (
         |  SELECT n_total, n_agree,
         |    CAST(n_agree * 1000000 // n_total AS BIGINT) AS po_ppm,
         |    CAST(pe_num AS DOUBLE) /
         |      (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)) AS pe
         |  FROM sc, pe)
         |SELECT conf.label_a, conf.label_b, conf.n, k.n_total,
         |  k.n_agree, k.po_ppm, k.pe,
         |  CASE WHEN 1.0 - k.pe = 0.0 THEN NULL
         |       ELSE (CAST(k.n_agree AS DOUBLE) /
         |         CAST(k.n_total AS DOUBLE) - k.pe) / (1.0 - k.pe)
         |  END AS kappa
         |FROM conf, k ORDER BY label_a, label_b""".stripMargin,
    // plant + repair replay with chains generated from mojibakeMap
    "mojibake_fix" -> duckMojibake,
    // win-digraph transitivity audit replay: ordered duel matrix from
    // the shared pair CTE, decided triangles a<b<c with the
    // no-vertex-beats-both cyclic test, per-item membership via the
    // 3-way rotation union — all tiny MATERIALIZED frames
    "pref_cycles" ->
      s"""WITH ${duckPrefPairs(Seq(1L, 7L, 8L))},
         |wl AS MATERIALIZED (
         |  SELECT winner_item AS w, loser_item AS l,
         |    CAST(count(*) AS BIGINT) AS wins
         |  FROM pp GROUP BY 1, 2),
         |it AS MATERIALIZED (
         |  SELECT DISTINCT item FROM (
         |    SELECT w AS item FROM wl UNION ALL SELECT l AS item FROM wl)),
         |wm AS MATERIALIZED (
         |  SELECT a.item AS i, b.item AS j,
         |    CAST(coalesce(wl.wins, 0) AS BIGINT) AS wij
         |  FROM it a JOIN it b ON a.item <> b.item
         |  LEFT JOIN wl ON wl.w = a.item AND wl.l = b.item),
         |duel AS MATERIALIZED (
         |  SELECT x.i, x.j, x.wij, y.wij AS wji,
         |    CASE WHEN x.wij > y.wij THEN 1 ELSE 0 END AS win
         |  FROM wm x JOIN wm y ON y.i = x.j AND y.j = x.i),
         |tric AS MATERIALIZED (
         |  SELECT ab.i AS a, ab.j AS b, bc.j AS c,
         |    CASE WHEN (ab.win = 1 AND ac.win = 1)
         |           OR (ab.win = 0 AND bc.win = 1)
         |           OR (ac.win = 0 AND bc.win = 0) THEN 0
         |         ELSE 1 END AS cyc
         |  FROM duel ab
         |  JOIN duel bc ON bc.i = ab.j
         |  JOIN duel ac ON ac.i = ab.i AND ac.j = bc.j
         |  WHERE ab.i < ab.j AND bc.i < bc.j
         |    AND ab.wij <> ab.wji AND bc.wij <> bc.wji
         |    AND ac.wij <> ac.wji),
         |od AS (SELECT i AS item, CAST(sum(win) AS BIGINT) AS out_deg
         |  FROM duel GROUP BY i),
         |idg AS (SELECT j AS item, CAST(sum(win) AS BIGINT) AS in_deg
         |  FROM duel GROUP BY j),
         |trii AS (
         |  SELECT item, CAST(count(*) AS BIGINT) AS n_tri,
         |    CAST(sum(cyc) AS BIGINT) AS n_cyc
         |  FROM (SELECT a AS item, cyc FROM tric
         |    UNION ALL SELECT b AS item, cyc FROM tric
         |    UNION ALL SELECT c AS item, cyc FROM tric)
         |  GROUP BY item),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_triangles,
         |    CAST(coalesce(sum(cyc), 0) AS BIGINT) AS n_cycles
         |  FROM tric),
         |ne AS (SELECT CAST(coalesce(sum(win), 0) AS BIGINT)
         |  AS n_edges FROM duel),
         |ni AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM it)
         |SELECT it.item,
         |  CAST(coalesce(od.out_deg, 0) AS BIGINT) AS out_deg,
         |  CAST(coalesce(idg.in_deg, 0) AS BIGINT) AS in_deg,
         |  CAST(coalesce(trii.n_tri, 0) AS BIGINT) AS n_tri,
         |  CAST(coalesce(trii.n_cyc, 0) AS BIGINT) AS n_cyc,
         |  ni.n_items, ne.n_edges, tot.n_triangles, tot.n_cycles,
         |  CAST(CASE WHEN tot.n_triangles = 0 THEN 0
         |       ELSE tot.n_cycles * 1000000 // tot.n_triangles END
         |    AS BIGINT) AS cycle_ppm
         |FROM it
         |LEFT JOIN od ON od.item = it.item
         |LEFT JOIN idg ON idg.item = it.item
         |LEFT JOIN trii ON trii.item = it.item, ni, ne, tot
         |ORDER BY it.item""".stripMargin,
    // position-bias audit: same planted-judge fixture over the shared
    // pair CTE; the Wilson tail is the return_rate_ci double tree
    // (each op IEEE correctly rounded, identical order both engines)
    "pref_position_bias" ->
      s"""WITH ${duckPrefPairs()},
         |jp AS (
         |  SELECT concat('j', CAST(id_a % 3 AS VARCHAR)) AS judge,
         |    CASE WHEN id_a % 3 = 0 AND id_a % 5 < 2 THEN true
         |         ELSE winner_item = item_a END AS aw
         |  FROM pp),
         |c AS (
         |  SELECT judge, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(CASE WHEN aw THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_a_wins
         |  FROM jp GROUP BY 1),
         |w AS (
         |  SELECT judge, n_pairs, n_a_wins,
         |    CAST(n_a_wins AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS phat,
         |    CAST(n_pairs AS DOUBLE) AS nd
         |  FROM c),
         |b AS (
         |  SELECT judge, n_pairs, n_a_wins,
         |    CAST(n_a_wins * 1000000 // n_pairs AS BIGINT) AS a_win_ppm,
         |    round((phat + 1.96 * 1.96 / (2.0 * nd))
         |        / (1.0 + 1.96 * 1.96 / nd)
         |      - 1.96 * sqrt(phat * (1.0 - phat) / nd
         |          + 1.96 * 1.96 / (4.0 * nd * nd))
         |        / (1.0 + 1.96 * 1.96 / nd), 6) AS ci_lo,
         |    round((phat + 1.96 * 1.96 / (2.0 * nd))
         |        / (1.0 + 1.96 * 1.96 / nd)
         |      + 1.96 * sqrt(phat * (1.0 - phat) / nd
         |          + 1.96 * 1.96 / (4.0 * nd * nd))
         |        / (1.0 + 1.96 * 1.96 / nd), 6) AS ci_hi,
         |    round((2.0 * phat - 1.0) * sqrt(nd), 6) AS z_stat
         |  FROM w)
         |SELECT judge, n_pairs, n_a_wins, a_win_ppm, ci_lo, ci_hi,
         |  z_stat, (ci_lo > 0.5 OR ci_hi < 0.5) AS position_biased
         |FROM b ORDER BY judge""".stripMargin,
    // burstiness replay: identical bounded-window HOF chain
    // (list_slice/least caps) with init-via-prepend integer folds
    "synthetic_signals" ->
      """WITH l AS (
        |  SELECT doc_id,
        |    list_transform(list_slice(list_filter(list_transform(
        |      string_split_regex(text, '[.!?]+'),
        |      s -> len(list_filter(string_split(trim(s), ' '),
        |        t -> t != ''))),
        |      c -> c > 0), 1, 1024),
        |      c -> CAST(least(c, 1023) AS BIGINT)) AS lens
        |  FROM documents),
        |a AS (
        |  SELECT doc_id,
        |    CAST(len(lens) AS BIGINT) AS n_sent,
        |    CAST(list_reduce(list_prepend(0, lens),
        |      (x, y) -> x + y) AS BIGINT) AS sum_len,
        |    CAST(list_reduce(list_prepend(0,
        |      list_transform(lens, c -> c * c)),
        |      (x, y) -> x + y) AS BIGINT) AS sum_len2
        |  FROM l)
        |SELECT doc_id, n_sent, sum_len, sum_len2,
        |  CASE WHEN n_sent = 0 THEN NULL
        |       ELSE sum_len * 1000000 // n_sent END AS mean_sent_ppm,
        |  CASE WHEN sum_len = 0 THEN NULL
        |       ELSE (n_sent * sum_len2 - sum_len * sum_len) * 1000000
        |         // (sum_len * sum_len) END AS burstiness_ppm
        |FROM a ORDER BY doc_id""".stripMargin
      .replace("FROM documents",
        "FROM (SELECT doc_id, replace(replace(text, ' the ', '. '), " +
          "' a ', '! ') AS text FROM documents)"),
    // FIM split replay: the 60-bit md5-prefix hash drives both cut
    // points and the PSM/SPM deal; all cut arithmetic is integer on
    // non-negative operands (DIV/% agree across engines), substring
    // and length are code-point-based in both
    "fim_split" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    CAST(('0x' || substring(md5(lower(regexp_replace(
        |      trim(text), '\s+', ' ', 'g'))), 1, 15)) AS BIGINT) AS h,
        |    CAST(length(text) AS BIGINT) AS L
        |  FROM documents),
        |c AS (SELECT *, L // 3 AS t FROM b),
        |d2 AS (
        |  SELECT doc_id, text, L,
        |    CASE WHEN L < 12 THEN 'raw'
        |         WHEN (h // 4096) % 2 = 0 THEN 'psm'
        |         ELSE 'spm' END AS fim_mode,
        |    CASE WHEN t > 0 THEN 1 + (h % t) END AS c1,
        |    CASE WHEN t > 0 THEN L - t + 1 + ((h // 65536) % t) END
        |      AS c2
        |  FROM c),
        |f AS (
        |  SELECT doc_id, fim_mode,
        |    CASE WHEN fim_mode = 'raw' THEN text
        |         ELSE substring(text, 1, CAST(c1 AS INT))
        |    END AS prefix,
        |    CASE WHEN fim_mode = 'raw' THEN ''
        |         ELSE substring(text, CAST(c1 + 1 AS INT),
        |           CAST(c2 - c1 AS INT))
        |    END AS middle,
        |    CASE WHEN fim_mode = 'raw' THEN ''
        |         ELSE substring(text, CAST(c2 + 1 AS INT),
        |           CAST(L - c2 AS INT))
        |    END AS suffix
        |  FROM d2)
        |SELECT doc_id, fim_mode, prefix, middle, suffix,
        |  CAST(length(prefix) AS BIGINT) AS n_prefix,
        |  CAST(length(middle) AS BIGINT) AS n_middle,
        |  CAST(length(suffix) AS BIGINT) AS n_suffix
        |FROM f ORDER BY doc_id""".stripMargin,
    // KMV bottom-k set algebra replay: per-source bottom-64 distinct
    // content hashes (the oracle skips the engine's scan-level
    // threshold prefilter — a prefilter shortfall would surface here
    // as a mismatch, by design), union sketch via the mergeability
    // identity, integer-ppm Jaccard, and the exact pair counts from
    // a shared-hash self-join
    "sketch_overlap" ->
      """WITH base AS (
        |  SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'mirror' AS source, text FROM documents
        |  WHERE doc_id % 5 = 2),
        |d AS (
        |  SELECT DISTINCT source AS g,
        |    CAST(('0x' || substring(md5(lower(regexp_replace(
        |      trim(text), '\s+', ' ', 'g'))), 1, 15)) AS BIGINT) AS h
        |  FROM base),
        |counts AS (SELECT g, count(*) AS n FROM d GROUP BY 1),
        |r AS (
        |  SELECT g, h, row_number() OVER (
        |    PARTITION BY g ORDER BY h) AS r
        |  FROM d),
        |samp AS (
        |  SELECT g, list_sort(list(h)) AS hs
        |  FROM r WHERE r <= 64 GROUP BY g),
        |s AS (SELECT samp.g, hs, n FROM samp JOIN counts USING (g)),
        |p0 AS (
        |  SELECT a.g AS source_a, b.g AS source_b, a.hs AS ha,
        |    b.hs AS hb, a.n AS n_a, b.n AS n_b
        |  FROM s a JOIN s b ON a.g < b.g),
        |p1 AS (
        |  SELECT *, list_sort(list_distinct(ha || hb)) AS u FROM p0),
        |p2 AS (
        |  SELECT *, list_slice(u, 1, 64) AS bu,
        |    CASE WHEN len(u) >= 64 THEN u[64] END AS kth
        |  FROM p1),
        |p3 AS (
        |  SELECT source_a, source_b, n_a, n_b, kth,
        |    CAST(len(bu) AS BIGINT) AS k_eff,
        |    CAST(len(list_intersect(bu, list_intersect(ha, hb)))
        |      AS BIGINT) AS n_common
        |  FROM p2),
        |p4 AS (
        |  SELECT *,
        |    n_common * 1000000 // greatest(k_eff, 1) AS jaccard_ppm,
        |    CASE WHEN kth IS NOT NULL
        |      THEN round(63.0 * CAST(1152921504606846976 AS DOUBLE)
        |        / kth, 6)
        |      ELSE CAST(k_eff AS DOUBLE) END AS est_union
        |  FROM p3),
        |p5 AS (
        |  SELECT *, round(CAST(n_common AS DOUBLE) * est_union
        |    / greatest(k_eff, 1), 6) AS est_intersection
        |  FROM p4),
        |ex AS (
        |  SELECT a.g AS source_a, b.g AS source_b,
        |    CAST(count(*) AS BIGINT) AS n_inter
        |  FROM d a JOIN d b ON a.h = b.h AND a.g < b.g
        |  GROUP BY 1, 2)
        |SELECT p5.source_a, p5.source_b, n_a, n_b, k_eff, n_common,
        |  CAST(jaccard_ppm AS BIGINT) AS jaccard_ppm,
        |  est_union, est_intersection,
        |  CAST(coalesce(ex.n_inter, 0) AS BIGINT) AS n_inter_exact,
        |  CAST(coalesce(ex.n_inter, 0) * 1000000
        |    // greatest(n_a + n_b - coalesce(ex.n_inter, 0), 1)
        |    AS BIGINT) AS jaccard_exact_ppm
        |FROM p5 LEFT JOIN ex
        |  ON p5.source_a = ex.source_a AND p5.source_b = ex.source_b
        |ORDER BY 1, 2""".stripMargin,
    "dedup_exact" ->
      """SELECT text, min(doc_id) AS keeper, count(*) AS dup_count
        |FROM documents GROUP BY text ORDER BY keeper""".stripMargin,
    "dedup_exact_hash" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keeper,
        |  count(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY keeper""".stripMargin,
    // soft-dedup mirror: same md5 grouping, integer ppm downweight
    "dedup_soft_weights" ->
      """SELECT min(doc_id) AS doc_id,
        |  CAST(count(*) AS BIGINT) AS n_copies,
        |  CAST(1000000 // count(*) AS BIGINT) AS weight_ppm
        |FROM documents GROUP BY md5(text)
        |ORDER BY doc_id""".stripMargin,
    "minhash_signature" ->
      s"""WITH $sigCte
         |SELECT doc_id, array_to_string(sig, ',') AS sig
         |FROM sigs ORDER BY doc_id""".stripMargin,
    "lsh_band_buckets" ->
      s"""WITH $sigCte, $bandCte
         |SELECT doc_id, band, band_key FROM buckets
         |ORDER BY doc_id, band""".stripMargin,
    "lsh_candidate_pairs" ->
      s"""WITH $sigCte, $bandCte, ${cappedCte()}
         |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |FROM capped a JOIN capped b
         |  ON a.band = b.band AND a.band_key = b.band_key
         | AND a.doc_id < b.doc_id
         |ORDER BY id1, id2""".stripMargin,
    // auto-parameterized LSH mirror: the same signature chain banded
    // at the layout the SHARED Scala derivation picks for the 0.9
    // target (the pinned-literal discipline — both engines stamp the
    // identical (b, r))
    "lsh_auto" -> {
      val (ab, ar) = Dedup.lshAutoParams(0.9)
      val bands = (0 until ab).map { bi =>
        s"""SELECT doc_id, CAST($bi AS BIGINT) AS band,
            list_reduce(list_slice(sig, ${bi * ar + 1}, ${(bi + 1) * ar}),
              (acc, h) -> (acc * 31 + h) % $P) AS band_key FROM sigs"""
      }
      s"""WITH $sigCte,
         |abuckets AS (${bands.mkString(" UNION ALL ")})
         |SELECT doc_id, band, band_key,
         |  CAST($ab AS BIGINT) AS n_bands,
         |  CAST($ar AS BIGINT) AS n_rows
         |FROM abuckets ORDER BY doc_id, band""".stripMargin
    },
    "dedup_neardup_flow" ->
      s"""WITH $repsCte, ${sigCteFrom("reps")}, $bandCte, ${cappedCte()},
         |$verifiedCtes,
         |drops AS (SELECT DISTINCT id2 AS doc_id FROM verified)
         |SELECT r.doc_id FROM reps r
         |WHERE r.doc_id NOT IN (SELECT doc_id FROM drops)
         |ORDER BY r.doc_id""".stripMargin,
    "winnow_fingerprints" ->
      s"""WITH $winnowCte
         |SELECT doc_id, array_to_string(fps, ',') AS fps
         |FROM fp ORDER BY doc_id""".stripMargin,
    "winnow_pairs" ->
      s"""WITH $winnowCte,
         |pl AS (SELECT doc_id, unnest(fps) AS f FROM fp),
         |keptf AS (
         |  SELECT f FROM pl GROUP BY f HAVING count(*) <= 256),
         |kp AS (SELECT doc_id, f FROM pl JOIN keptf USING (f)),
         |sz AS (SELECT doc_id, count(*) AS n FROM kp GROUP BY doc_id),
         |pc AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2,
         |    CAST(count(*) AS BIGINT) AS shared_fps
         |  FROM kp a JOIN kp b
         |    ON a.f = b.f AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id1, id2, shared_fps,
         |  round(CAST(shared_fps AS DOUBLE)
         |    / (sa.n + sb.n - shared_fps), 6) AS sim
         |FROM pc
         |JOIN sz sa ON sa.doc_id = pc.id1
         |JOIN sz sb ON sb.doc_id = pc.id2
         |WHERE round(CAST(shared_fps AS DOUBLE)
         |    / (sa.n + sb.n - shared_fps), 6) >= 0.7
         |ORDER BY id1, id2""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE $repsCte, ${sigCteFrom("reps")}, $bandCte, ${cappedCte()},
         |$verifiedCtes,
         |sym AS (SELECT id1 AS a, id2 AS b FROM verified
         |        UNION ALL SELECT id2, id1 FROM verified),
         |walk AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT w.a, s.b FROM walk w JOIN sym s ON w.b = s.a),
         |labels AS (
         |  SELECT a AS doc_id, least(a, min(b)) AS cluster
         |  FROM walk GROUP BY a)
         |SELECT r.doc_id, coalesce(l.cluster, r.doc_id) AS cluster
         |FROM reps r LEFT JOIN labels l USING (doc_id)
         |ORDER BY r.doc_id""".stripMargin,
    "ngram_jaccard" ->
      s"""WITH sh AS (
         |  SELECT doc_id, list_distinct($duckShingles) AS sh
         |  FROM documents WHERE doc_id < 15)
         |SELECT a.doc_id AS id1, b.doc_id AS id2,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
         |    AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |ORDER BY id1, id2""".stripMargin,
    "simhash" ->
      s"""SELECT doc_id, $duckSimhash AS simhash
         |FROM documents ORDER BY doc_id""".stripMargin,
    "simhash_neardup" -> {
      val nBands = 2
      val width = simhashBits / nBands
      val bandRows = (0 until nBands).map { b =>
        s"""SELECT doc_id, CAST($b AS BIGINT) AS band,
            (s // ${1L << (b * width)}) % ${1L << width} AS band_key
            FROM sh"""
      }.mkString(" UNION ALL ")
      s"""WITH sh AS (SELECT doc_id, $duckSimhash AS s FROM documents),
         |buckets AS ($bandRows),
         |${cappedCte()},
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM capped a JOIN capped b
         |    ON a.band = b.band AND a.band_key = b.band_key
         |   AND a.doc_id < b.doc_id)
         |SELECT p.id1, p.id2,
         |  CAST(bit_count(xor(x.s, y.s)) AS BIGINT) AS hamming
         |FROM pairs p JOIN sh x ON x.doc_id = p.id1
         |JOIN sh y ON y.doc_id = p.id2
         |WHERE bit_count(xor(x.s, y.s)) <= 1
         |ORDER BY id1, id2""".stripMargin
    },
    "dedup_embed_cosine" ->
      s"""WITH v0 AS (
         |  SELECT vec_id, $duckVec AS vec,
         |    CAST(${duckLshBucket(duckVec, 6)} AS BIGINT) AS bucket
         |  FROM embeddings),
         |v AS (
         |  SELECT vec_id, vec, bucket FROM (
         |    SELECT v0.*, row_number() OVER (PARTITION BY bucket
         |      ORDER BY vec_id) AS rn FROM v0)
         |  WHERE rn <= 4096),
         |drops AS (
         |  SELECT DISTINCT b.vec_id AS vec_id
         |  FROM v a JOIN v b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE round(${duckCos("a.vec", "b.vec")}, 6) >= 0.35)
         |SELECT e.vec_id FROM embeddings e
         |WHERE e.vec_id NOT IN (SELECT vec_id FROM drops)
         |ORDER BY e.vec_id""".stripMargin,
    "embed_clusters" ->
      s"""WITH RECURSIVE v0 AS (
         |  SELECT vec_id, $duckVec AS vec,
         |    CAST(${duckLshBucket(duckVec, 6)} AS BIGINT) AS bucket
         |  FROM embeddings),
         |v AS (
         |  SELECT vec_id, vec, bucket FROM (
         |    SELECT v0.*, row_number() OVER (PARTITION BY bucket
         |      ORDER BY vec_id) AS rn FROM v0)
         |  WHERE rn <= 4096),
         |edges AS (
         |  SELECT a.vec_id AS id1, b.vec_id AS id2
         |  FROM v a JOIN v b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE round(${duckCos("a.vec", "b.vec")}, 6) >= 0.35),
         |sym AS (SELECT id1 AS a, id2 AS b FROM edges
         |        UNION ALL SELECT id2, id1 FROM edges),
         |walk AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT w.a, s.b FROM walk w JOIN sym s ON w.b = s.a),
         |labels AS (
         |  SELECT a AS vec_id, least(a, min(b)) AS cluster
         |  FROM walk GROUP BY a)
         |SELECT e.vec_id, coalesce(l.cluster, e.vec_id) AS cluster
         |FROM embeddings e LEFT JOIN labels l USING (vec_id)
         |ORDER BY e.vec_id""".stripMargin,
    "embed_cosine_topk" ->
      s"""WITH v AS (SELECT vec_id, $duckVec AS vec FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    round(${duckCos("q.vec", "c.vec")}, 6) + 0.0 AS sim
         |  FROM v q JOIN v c ON q.vec_id < 8 AND c.vec_id != q.vec_id),
         |ranked AS (
         |  SELECT query_id, cand_id, sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, cand_id) AS rank
         |  FROM scored)
         |SELECT query_id, cand_id, sim, rank FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "embed_lsh_buckets" ->
      s"""SELECT vec_id,
         |  CAST(${duckLshBucket(duckVec, 8)} AS BIGINT) AS bucket
         |FROM embeddings ORDER BY vec_id""".stripMargin,
    "embed_lsh_simjoin" ->
      s"""WITH v0 AS (
         |  SELECT vec_id, $duckVec AS vec,
         |    CAST(${duckLshBucket(duckVec, 6)} AS BIGINT) AS bucket
         |  FROM embeddings),
         |v AS (
         |  SELECT vec_id, vec, bucket FROM (
         |    SELECT v0.*, row_number() OVER (PARTITION BY bucket
         |      ORDER BY vec_id) AS rn FROM v0)
         |  WHERE rn <= 4096)
         |SELECT a.bucket, a.vec_id AS id1, b.vec_id AS id2,
         |  round(${duckCos("a.vec", "b.vec")}, 6) + 0.0 AS sim
         |FROM v a JOIN v b
         |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE round(${duckCos("a.vec", "b.vec")}, 6) >= 0.0
         |ORDER BY id1, id2""".stripMargin,
    // bitext-mine mirror: planted v, the embed_lsh_simjoin candidate
    // chain, cross-bucket dedupe, parity orientation, integer-ppm
    // NN means and ratio margin, best-per-a
    "bitext_mine" ->
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(range(0, 64), i ->
         |    CAST(((vec_id // 6 * 2654435761 + i * 40503
         |            + vec_id // 6 * i * i * 97003)
         |            % 2001 - 1000) * 1000
         |         + (vec_id * 1103515245 + i * 12345) %
         |           (CASE WHEN vec_id % 2 = 1 AND (vec_id % 6 != 1
         |              OR (vec_id // 6) % 5 = 0)
         |            THEN 400001 ELSE 21 END)
         |         - (CASE WHEN vec_id % 2 = 1 AND (vec_id % 6 != 1
         |              OR (vec_id // 6) % 5 = 0)
         |            THEN 400001 ELSE 21 END) // 2
         |         AS DOUBLE) / 100000.0) AS vec
         |  FROM embeddings),
         |bx0 AS (
         |  SELECT vec_id, vec,
         |    CAST(${duckLshBucket("vec", 6)} AS BIGINT) AS bucket
         |  FROM v),
         |bxv AS (
         |  SELECT vec_id, vec, bucket FROM (
         |    SELECT bx0.*, row_number() OVER (PARTITION BY bucket
         |      ORDER BY vec_id) AS rn FROM bx0)
         |  WHERE rn <= 4096),
         |bxp AS (
         |  SELECT a.vec_id AS id1, b.vec_id AS id2,
         |    round(${duckCos("a.vec", "b.vec")}, 6) + 0.0 AS sim
         |  FROM bxv a JOIN bxv b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE round(${duckCos("a.vec", "b.vec")}, 6) >= 0.0),
         |bxd AS (SELECT id1, id2, max(sim) AS sim FROM bxp
         |        GROUP BY id1, id2),
         |bxl AS (
         |  SELECT CASE WHEN id1 % 2 = 0 THEN id1 ELSE id2 END AS a,
         |    CASE WHEN id1 % 2 = 0 THEN id2 ELSE id1 END AS b,
         |    CAST(CAST(sim AS DECIMAL(18,6)) * 1000000 AS BIGINT)
         |      AS sim_ppm
         |  FROM bxd WHERE id1 % 2 != id2 % 2),
         |bxa AS (
         |  SELECT a, CAST(sum(sim_ppm) AS BIGINT) // count(*)
         |      AS nn_a_ppm
         |  FROM (SELECT a, b, sim_ppm, row_number() OVER
         |      (PARTITION BY a ORDER BY sim_ppm DESC, b ASC) AS rk
         |    FROM bxl)
         |  WHERE rk <= 4 GROUP BY a),
         |bxb AS (
         |  SELECT b, CAST(sum(sim_ppm) AS BIGINT) // count(*)
         |      AS nn_b_ppm
         |  FROM (SELECT a, b, sim_ppm, row_number() OVER
         |      (PARTITION BY b ORDER BY sim_ppm DESC, a ASC) AS rk
         |    FROM bxl)
         |  WHERE rk <= 4 GROUP BY b),
         |bxm AS (
         |  SELECT l.a, l.b, l.sim_ppm, bxa.nn_a_ppm, bxb.nn_b_ppm,
         |    l.sim_ppm * 2000000 //
         |      greatest(bxa.nn_a_ppm + bxb.nn_b_ppm, 1) AS margin_ppm
         |  FROM bxl l JOIN bxa USING (a) JOIN bxb USING (b)),
         |bxw AS (
         |  SELECT *, row_number() OVER (PARTITION BY a
         |    ORDER BY margin_ppm DESC, b ASC) AS bk FROM bxm)
         |SELECT a, b, sim_ppm, nn_a_ppm, nn_b_ppm,
         |  CAST(margin_ppm AS BIGINT) AS margin_ppm
         |FROM bxw WHERE bk = 1 AND margin_ppm >= 1050000
         |ORDER BY a""".stripMargin,
    // surprise-chunk mirror: same integer boundary rule over the
    // same corpus bigram counts; bounds list -> span unnest
    "surprise_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t != '')
        |      AS ts
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n FROM toks
        |  WHERE len(ts) >= 1),
        |pp AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS i,
        |    ts[i - 1] AS a, ts[i] AS b
        |  FROM (SELECT doc_id, ts, unnest(range(2, len(ts) + 1)) AS i
        |        FROM tk)),
        |uni AS (
        |  SELECT a, CAST(count(*) AS BIGINT) AS ca FROM (
        |    SELECT unnest(ts) AS a FROM tk) GROUP BY a),
        |voc AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
        |big AS (
        |  SELECT a, b, CAST(count(*) AS BIGINT) AS cab
        |  FROM pp GROUP BY a, b),
        |bd AS (
        |  SELECT pp.doc_id, pp.i
        |  FROM pp JOIN big USING (a, b) JOIN uni USING (a), voc
        |  WHERE (big.cab + 1) * 64 < uni.ca + voc.v),
        |bs AS (
        |  SELECT doc_id, list(i ORDER BY i) AS bps FROM bd
        |  GROUP BY doc_id),
        |bn AS (
        |  SELECT tk.doc_id,
        |    list_concat(list_concat([CAST(1 AS BIGINT)],
        |      coalesce(bs.bps, [])), [tk.n + 1]) AS bounds
        |  FROM tk LEFT JOIN bs USING (doc_id)),
        |sp AS (
        |  SELECT doc_id, bounds, unnest(range(1, len(bounds))) AS j
        |  FROM bn)
        |SELECT doc_id, CAST(j AS BIGINT) AS chunk_id,
        |  CAST(bounds[j] AS BIGINT) AS start_pos,
        |  CAST(bounds[j + 1] - 1 AS BIGINT) AS end_pos,
        |  CAST(bounds[j + 1] - bounds[j] AS BIGINT) AS n_tokens
        |FROM sp ORDER BY doc_id, chunk_id""".stripMargin,
    // PRF mirror: the bm25_topk chain feeds the feedback doc set;
    // expansion counts sum integer tfs with id/term tiebreaks
    "prf_expansion" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t != '')
        |      AS ts
        |  FROM documents),
        |lens AS (
        |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS len FROM toks),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
        |  GROUP BY doc_id, term),
        |dfreq AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df
        |  FROM tf GROUP BY term),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(len) AS BIGINT) AS tot
        |  FROM lens),
        |q AS (
        |  SELECT term, df FROM dfreq WHERE length(term) >= 5
        |  ORDER BY df DESC, term ASC LIMIT 5),
        |scored AS (
        |  SELECT q.term, tf.doc_id,
        |    ((t.n - q.df + 0.5e0) / (q.df + 0.5e0)) * ((tf.tf * 2.2e0)
        |      / (tf.tf + 0.3e0
        |         + 0.9e0 * (l.len * 1.0e0 * t.n / t.tot))) AS score
        |  FROM tf
        |  JOIN q ON q.term = tf.term
        |  JOIN lens l ON l.doc_id = tf.doc_id, tot t),
        |r AS (
        |  SELECT term, doc_id, CAST(row_number() OVER (PARTITION BY
        |    term ORDER BY score DESC, doc_id) AS BIGINT) AS rank
        |  FROM scored),
        |fb AS (SELECT term AS q_term, doc_id FROM r WHERE rank <= 10),
        |ltf AS (
        |  SELECT doc_id, term, tf FROM tf WHERE length(term) >= 5),
        |e AS (
        |  SELECT fb.q_term, ltf.term,
        |    CAST(sum(ltf.tf) AS BIGINT) AS exp_count
        |  FROM fb JOIN ltf USING (doc_id)
        |  WHERE ltf.term != fb.q_term
        |  GROUP BY 1, 2),
        |x AS (
        |  SELECT q_term, term, exp_count,
        |    CAST(row_number() OVER (PARTITION BY q_term
        |      ORDER BY exp_count DESC, term) AS BIGINT) AS exp_rank
        |  FROM e)
        |SELECT q_term, exp_rank, term AS exp_term, exp_count
        |FROM x WHERE exp_rank <= 3
        |ORDER BY q_term, exp_rank""".stripMargin,
    // inverted-index mirror: same tf/df chain, same id-ranked cap
    // before the ordered list aggregate
    "inverted_index" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t != '')
        |      AS ts
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
        |  GROUP BY doc_id, term),
        |q AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df
        |  FROM tf GROUP BY term
        |  HAVING length(term) >= 5
        |  ORDER BY df DESC, term ASC LIMIT 50),
        |r AS (
        |  SELECT tf.term, tf.doc_id, q.df,
        |    row_number() OVER (PARTITION BY tf.term
        |      ORDER BY tf.doc_id) AS rk
        |  FROM tf JOIN q USING (term))
        |SELECT term, CAST(df AS BIGINT) AS df,
        |  array_to_string(list(doc_id ORDER BY doc_id), ',')
        |    AS postings,
        |  df > 100 AS truncated
        |FROM r WHERE rk <= 100
        |GROUP BY term, df ORDER BY term""".stripMargin,
    // triplet mirror: the sim-join chain (no minSim floor), both
    // directions, two rank windows, inner join of the two sides
    "triplet_mine" ->
      s"""WITH v0 AS (
         |  SELECT vec_id, $duckVec AS vec,
         |    CAST(${duckLshBucket(duckVec, 6)} AS BIGINT) AS bucket
         |  FROM embeddings),
         |v AS (
         |  SELECT vec_id, vec, bucket FROM (
         |    SELECT v0.*, row_number() OVER (PARTITION BY bucket
         |      ORDER BY vec_id) AS rn FROM v0)
         |  WHERE rn <= 4096),
         |e AS (
         |  SELECT a.vec_id AS id1, b.vec_id AS id2,
         |    round(${duckCos("a.vec", "b.vec")}, 6) + 0.0 AS sim
         |  FROM v a JOIN v b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |sym AS (
         |  SELECT id1 AS anchor, id2 AS other, sim FROM e
         |  UNION ALL
         |  SELECT id2 AS anchor, id1 AS other, sim FROM e),
         |rk AS (
         |  SELECT anchor, other, sim,
         |    row_number() OVER (PARTITION BY anchor
         |      ORDER BY sim DESC, other) AS pr,
         |    row_number() OVER (PARTITION BY anchor
         |      ORDER BY sim ASC, other) AS nr
         |  FROM sym),
         |pos AS (
         |  SELECT anchor, other AS pos_id, sim AS pos_sim FROM rk
         |  WHERE pr = 1 AND sim >= 0.35),
         |neg AS (
         |  SELECT anchor, other AS neg_id, sim AS neg_sim FROM rk
         |  WHERE nr = 1 AND sim <= 0.1)
         |SELECT p.anchor, p.pos_id, p.pos_sim, n.neg_id, n.neg_sim
         |FROM pos p JOIN neg n USING (anchor)
         |ORDER BY p.anchor""".stripMargin,
    // BM25 mirror: identical expression tree (rational idf, expanded
    // len·N/tot length norm) — the doubles must match bit-for-bit,
    // no rounding on either side. The e0 literal notation matters:
    // a bare 0.5 is DECIMAL in DuckDB (as in Spark, where the query
    // uses the D suffix) and the decimal division path is one ulp
    // off the IEEE double path.
    "bm25_topk" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t != '')
        |      AS ts
        |  FROM documents),
        |lens AS (
        |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS len FROM toks),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
        |  GROUP BY doc_id, term),
        |dfreq AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df
        |  FROM tf GROUP BY term),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(len) AS BIGINT) AS tot
        |  FROM lens),
        |q AS (
        |  SELECT term, df FROM dfreq WHERE length(term) >= 5
        |  ORDER BY df DESC, term ASC LIMIT 5),
        |scored AS (
        |  SELECT q.term, tf.doc_id, tf.tf,
        |    ((t.n - q.df + 0.5e0) / (q.df + 0.5e0)) * ((tf.tf * 2.2e0)
        |      / (tf.tf + 0.3e0
        |         + 0.9e0 * (l.len * 1.0e0 * t.n / t.tot))) AS score
        |  FROM tf
        |  JOIN q ON q.term = tf.term
        |  JOIN lens l ON l.doc_id = tf.doc_id, tot t),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY term
        |    ORDER BY score DESC, doc_id) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT term, rank, doc_id, tf, score FROM r WHERE rank <= 10
        |ORDER BY term, rank""".stripMargin,
    // maxsim mirror: same staged sub-vectors/norms, round-6
    // sub-cosines, exact GREATEST, left-assoc 8-term sum
    "maxsim_topk" -> {
      def sl(v: String, i: Int) =
        s"list_slice($v, ${i * 8 + 1}, ${i * 8 + 8})"
      val subs = (0 until 8).map(i => sl("vec", i)).mkString("[", ", ", "]")
      val sn = (0 until 8)
        .map(i => s"sqrt(${duckDot8(sl("vec", i), sl("vec", i))})")
        .mkString("[", ", ", "]")
      def cos(i: Int, j: Int) =
        s"round(CASE WHEN q.qsn[${i + 1}] > 0.0 AND c.sn[${j + 1}] > 0.0 " +
          s"THEN ${duckDot8(s"q.qsubs[${i + 1}]", s"c.subs[${j + 1}]")} " +
          s"/ (q.qsn[${i + 1}] * c.sn[${j + 1}]) ELSE 0.0 END, 6)"
      val maxsim = (0 until 8).map { i =>
        (0 until 8).map(j => cos(i, j))
          .mkString("GREATEST(", ", ", ")")
      }.mkString(" + ")
      s"""WITH v AS (SELECT vec_id, $duckVec AS vec FROM embeddings),
         |s AS (
         |  SELECT vec_id, $subs AS subs, $sn AS sn
         |  FROM v),
         |q AS (
         |  SELECT vec_id AS query_id, subs AS qsubs, sn AS qsn
         |  FROM s WHERE vec_id < 8),
         |c AS (SELECT vec_id AS cand_id, subs, sn FROM s),
         |p AS (
         |  SELECT q.query_id, c.cand_id,
         |    ($maxsim) + 0.0 AS maxsim
         |  FROM c, q WHERE c.cand_id != q.query_id),
         |r AS (
         |  SELECT query_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY maxsim DESC, cand_id) AS BIGINT) AS rank,
         |    cand_id, maxsim
         |  FROM p)
         |SELECT * FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin
    },
    // hybrid RRF mirror: same rational BM25 tree micro-pinned to
    // longs before the per-doc sum, same round-6 cosine shortlists,
    // same truncating-integer-division fusion — every hashed column
    // BIGINT
    "hybrid_rrf" ->
      s"""WITH $duckHybridChain
         |SELECT * FROM fin WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,
    // retrieval eval mirror: the shared hybrid chain's top-10 run,
    // planted graded qrels, the pinned micro-discount literals, and
    // integer DCG/IDCG sums — ndcg/recall/rr as truncating ppm
    "retrieval_eval" ->
      s"""WITH $duckHybridChain,
         |run AS (SELECT query_id, doc_id, rank FROM fin
         |        WHERE rank <= 10),
         |$duckEvalQrelCtes,
         |${duckEvalRunCtes("")}
         |${duckEvalSelect("", "")}
         |ORDER BY query_id""".stripMargin,
    // per-arm scoreboard mirror: the shared hybrid chain already
    // carries the bm25-only (lexr) and dense-only (dnr) rankings the
    // fusion consumed, so each arm's run CTE reads straight from it
    // and the eval chain is stamped once per arm via the shared
    // helpers — the three arms can never drift from the fused run
    "retrieval_eval_arms" ->
      s"""WITH $duckHybridChain,
         |$duckEvalQrelCtes,
         |runh AS (SELECT query_id, doc_id, rank FROM fin
         |         WHERE rank <= 10),
         |runl AS (SELECT query_id, doc_id, lex_rank AS rank FROM lexr
         |         WHERE lex_rank <= 10),
         |rund AS (SELECT query_id, doc_id, dense_rank AS rank FROM dnr
         |         WHERE dense_rank <= 10),
         |${duckEvalRunCtes("h")},
         |${duckEvalRunCtes("l")},
         |${duckEvalRunCtes("d")}
         |${duckEvalSelect("d", "'dense' AS arm, ")}
         |UNION ALL
         |${duckEvalSelect("h", "'hybrid' AS arm, ")}
         |UNION ALL
         |${duckEvalSelect("l", "'lex' AS arm, ")}
         |ORDER BY arm, query_id""".stripMargin,
    // paired-sign-test mirror: the same three per-arm eval chains
    // wrapped as a CTE, self-joined per (arm_a < arm_b) on query_id;
    // the truncating mean diff is sign-split because DuckDB's // is
    // floor division on negatives where Spark's DIV truncates
    "retrieval_sig" ->
      s"""WITH $duckHybridChain,
         |$duckEvalQrelCtes,
         |runh AS (SELECT query_id, doc_id, rank FROM fin
         |         WHERE rank <= 10),
         |runl AS (SELECT query_id, doc_id, lex_rank AS rank FROM lexr
         |         WHERE lex_rank <= 10),
         |rund AS (SELECT query_id, doc_id, dense_rank AS rank FROM dnr
         |         WHERE dense_rank <= 10),
         |${duckEvalRunCtes("h")},
         |${duckEvalRunCtes("l")},
         |${duckEvalRunCtes("d")},
         |ev AS (
         |${duckEvalSelect("d", "'dense' AS arm, ")}
         |UNION ALL
         |${duckEvalSelect("h", "'hybrid' AS arm, ")}
         |UNION ALL
         |${duckEvalSelect("l", "'lex' AS arm, ")}),
         |evd AS (
         |  SELECT arm, query_id, max(ndcg_ppm) AS m
         |  FROM ev WHERE ndcg_ppm IS NOT NULL GROUP BY 1, 2),
         |pj AS (
         |  SELECT a.arm AS sys_a, b.arm AS sys_b,
         |    a.m AS ma, b.m AS mb
         |  FROM evd a JOIN evd b ON a.query_id = b.query_id
         |    AND a.arm < b.arm),
         |ag AS (
         |  SELECT sys_a, sys_b, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(CASE WHEN ma > mb THEN 1 ELSE 0 END) AS BIGINT)
         |      AS wins_a,
         |    CAST(sum(CASE WHEN mb > ma THEN 1 ELSE 0 END) AS BIGINT)
         |      AS wins_b,
         |    CAST(sum(CASE WHEN ma = mb THEN 1 ELSE 0 END) AS BIGINT)
         |      AS ties,
         |    CAST(sum(ma - mb) AS BIGINT) AS dsum
         |  FROM pj GROUP BY 1, 2)
         |SELECT sys_a, sys_b, n_pairs, wins_a, wins_b, ties,
         |  CAST(CASE WHEN dsum >= 0 THEN dsum // n_pairs
         |    ELSE -((-dsum) // n_pairs) END AS BIGINT)
         |    AS mean_diff_ppm,
         |  CASE WHEN wins_a + wins_b = 0 THEN CAST(0.0 AS DOUBLE)
         |    ELSE round((CAST(wins_a AS DOUBLE)
         |      - CAST(wins_b AS DOUBLE))
         |      / sqrt(CAST(wins_a + wins_b AS DOUBLE)), 6) END
         |    AS z_sign
         |FROM ag ORDER BY sys_a, sys_b""".stripMargin,
    // RBO mirror: hybrid fin vs the chain's own dense ranking (dnr),
    // same pinned nano-weight literals, same unrolled depth sum
    "rank_overlap" -> {
      val w = Retrieval.rboWeightsNano(10, 900000L)
      val terms = (1 to 10).map { d =>
        s"${w(d - 1)} * len(list_filter(ms, m -> m <= $d)) // $d"
      }.mkString(" + ")
      s"""WITH $duckHybridChain,
         |ra AS (SELECT query_id, doc_id, rank FROM fin
         |       WHERE rank BETWEEN 1 AND 10),
         |rb AS (SELECT query_id, doc_id, dense_rank AS rank FROM dnr
         |       WHERE dense_rank BETWEEN 1 AND 10),
         |sh AS (
         |  SELECT a.query_id,
         |    list(greatest(a.rank, b.rank)) AS ms
         |  FROM ra a JOIN rb b USING (query_id, doc_id)
         |  GROUP BY 1),
         |qs AS (SELECT DISTINCT query_id FROM
         |  (SELECT query_id FROM ra UNION ALL
         |   SELECT query_id FROM rb)),
         |base AS (
         |  SELECT q.query_id,
         |    coalesce(s.ms, CAST([] AS BIGINT[])) AS ms
         |  FROM qs q LEFT JOIN sh s USING (query_id))
         |SELECT query_id,
         |  CAST(len(list_filter(ms, m -> m <= 10)) AS BIGINT)
         |    AS overlap_k,
         |  CAST(len(list_filter(ms, m -> m <= 10)) * 1000000 // 10
         |    AS BIGINT) AS agree_ppm,
         |  CAST($terms AS BIGINT) AS rbo_nano
         |FROM base ORDER BY query_id""".stripMargin
    },
    // length-bucket mirror: the oracle's global row_number stands in
    // for the engine's distributed prefix sum (same total order)
    "length_buckets" ->
      """WITH sized AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      t -> t != '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(CASE WHEN n_tokens <= 16 THEN 16
        |      WHEN n_tokens <= 32 THEN 32
        |      WHEN n_tokens <= 64 THEN 64
        |      WHEN n_tokens <= 128 THEN 128
        |      WHEN n_tokens <= 256 THEN 256
        |      WHEN n_tokens <= 512 THEN 512
        |      WHEN n_tokens <= 1024 THEN 1024
        |      WHEN n_tokens <= 2048 THEN 2048
        |      WHEN n_tokens <= 4096 THEN 4096
        |      ELSE 8192 END AS BIGINT) AS bucket
        |  FROM sized),
        |p AS (
        |  SELECT doc_id, n_tokens, bucket,
        |    CAST(row_number() OVER (ORDER BY bucket, n_tokens DESC,
        |      doc_id) AS BIGINT) AS gpos
        |  FROM b),
        |s AS (SELECT bucket, min(gpos) AS b0 FROM p GROUP BY bucket),
        |a AS (
        |  SELECT p.doc_id, p.n_tokens, p.bucket,
        |    CAST((p.gpos - s.b0) // 8 AS BIGINT) AS batch_id
        |  FROM p JOIN s USING (bucket)),
        |m AS (
        |  SELECT bucket, batch_id, max(n_tokens) AS bmax
        |  FROM a GROUP BY 1, 2)
        |SELECT a.doc_id, a.n_tokens, a.bucket, a.batch_id,
        |  CAST(m.bmax - a.n_tokens AS BIGINT) AS pad_tokens
        |FROM a JOIN m USING (bucket, batch_id)
        |ORDER BY doc_id""".stripMargin,
    // curation_v4 mirror: gopher gate CTE (curation_v3's, full
    // corpus) → min-id text dedup → Hamilton quota + LCG rank →
    // pow-2 bucket/batch/pad chain
    "curation_v4" ->
      s"""WITH gt AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      $duckNTokens AS nt,
         |      CAST(length(regexp_replace(text, '\\s', '', 'g'))
         |        AS DOUBLE) / $duckNTokens AS awl,
         |      CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '',
         |        'g')) AS DOUBLE) / length(text) AS sym,
         |      CAST(${duckHits("en")} AS DOUBLE) / $duckNTokens AS swr
         |    FROM documents)
         |  WHERE nt >= 40 AND nt <= 1000 AND awl >= 2.0
         |    AND awl <= 12.0 AND sym <= 0.1 AND swr >= 0.0),
         |g2 AS (
         |  SELECT gt.doc_id, gt.text, d.source
         |  FROM gt JOIN documents d USING (doc_id)),
         |drep AS (SELECT min(doc_id) AS doc_id FROM g2 GROUP BY text),
         |surv AS (SELECT g2.* FROM g2 JOIN drep USING (doc_id)),
         |c AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS c FROM surv
         |  GROUP BY source),
         |tt AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM c),
         |q0 AS (
         |  SELECT source, c,
         |    CAST((100 * c) // tt AS BIGINT) AS base,
         |    CAST((100 * c) % tt AS BIGINT) AS rem
         |  FROM c, tt),
         |l AS (SELECT CAST(100 - sum(base) AS BIGINT) AS leftover
         |      FROM q0),
         |q1 AS (
         |  SELECT source, base, rem,
         |    CAST(row_number() OVER (ORDER BY rem DESC, source)
         |      AS BIGINT) AS rr
         |  FROM q0),
         |q AS (
         |  SELECT source,
         |    CAST(base + (CASE WHEN rr <= l.leftover THEN 1 ELSE 0
         |      END) AS BIGINT) AS quota
         |  FROM q1, l),
         |r AS (
         |  SELECT doc_id, source, text,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY ((doc_id % 1073741824) * 2654435761) % $P,
         |        doc_id) AS BIGINT) AS src_rank
         |  FROM surv),
         |sam AS (
         |  SELECT r.* FROM r JOIN q USING (source)
         |  WHERE r.src_rank <= q.quota),
         |sized AS (
         |  SELECT doc_id, source, src_rank,
         |    CAST(len(list_filter(string_split(lower(text), ' '),
         |      t -> t != '')) AS BIGINT) AS n_tokens
         |  FROM sam),
         |bkt AS (
         |  SELECT *,
         |    CAST(CASE WHEN n_tokens <= 16 THEN 16
         |      WHEN n_tokens <= 32 THEN 32
         |      WHEN n_tokens <= 64 THEN 64
         |      WHEN n_tokens <= 128 THEN 128
         |      WHEN n_tokens <= 256 THEN 256
         |      WHEN n_tokens <= 512 THEN 512
         |      WHEN n_tokens <= 1024 THEN 1024
         |      WHEN n_tokens <= 2048 THEN 2048
         |      WHEN n_tokens <= 4096 THEN 4096
         |      ELSE 8192 END AS BIGINT) AS bucket
         |  FROM sized),
         |p AS (
         |  SELECT *,
         |    CAST(row_number() OVER (ORDER BY bucket, n_tokens DESC,
         |      doc_id) AS BIGINT) AS gpos
         |  FROM bkt),
         |b0 AS (SELECT bucket, min(gpos) AS b0 FROM p GROUP BY bucket),
         |a AS (
         |  SELECT p.*, CAST((p.gpos - b0.b0) // 8 AS BIGINT)
         |    AS batch_id
         |  FROM p JOIN b0 USING (bucket)),
         |m AS (
         |  SELECT bucket, batch_id, max(n_tokens) AS bmax
         |  FROM a GROUP BY 1, 2)
         |SELECT a.doc_id, a.source, a.src_rank, a.n_tokens, a.bucket,
         |  a.batch_id, CAST(m.bmax - a.n_tokens AS BIGINT)
         |    AS pad_tokens
         |FROM a JOIN m USING (bucket, batch_id)
         |ORDER BY a.doc_id""".stripMargin,
    // mix_budget_fit mirror: the planner recurrence replayed as a
    // recursive CTE (the ADPCM state-machine discipline) — same
    // truncated saturation-pressure order, same (R, W) carry, pure
    // BIGINT throughout
    "mix_budget_fit" ->
      """WITH RECURSIVE s0 AS (
        |  SELECT source,
        |    CAST(sum(CAST(len(list_filter(string_split(lower(text),
        |      ' '), t -> t != '')) AS BIGINT)) AS BIGINT) AS c
        |  FROM documents GROUP BY source),
        |wt AS (SELECT * FROM (VALUES
        |  ('src0', CAST(500000 AS BIGINT)),
        |  ('src1', CAST(300000 AS BIGINT)),
        |  ('src2', CAST(200000 AS BIGINT))) AS t(source, w_ppm)),
        |tot AS (
        |  SELECT CAST((CAST(sum(c) AS BIGINT) * 500000) // 1000000
        |    AS BIGINT) AS b
        |  FROM s0),
        |j AS (
        |  SELECT s0.source, s0.c,
        |    CAST(coalesce(wt.w_ppm, 0) AS BIGINT) AS w_ppm,
        |    CAST(4 * s0.c AS BIGINT) AS cap
        |  FROM s0 LEFT JOIN wt USING (source)),
        |act AS (
        |  SELECT source, c, w_ppm, cap,
        |    CAST(row_number() OVER (ORDER BY (cap * 1000000) // w_ppm,
        |      source) AS BIGINT) AS rn
        |  FROM j WHERE w_ppm > 0),
        |w0 AS (SELECT CAST(sum(w_ppm) AS BIGINT) AS w0 FROM act),
        |scan(rn, alloc, r_after, w_after) AS (
        |  SELECT a.rn,
        |    CASE WHEN a.cap * w0.w0 <= t.b * a.w_ppm THEN a.cap
        |         ELSE (t.b * a.w_ppm) // w0.w0 END,
        |    t.b - (CASE WHEN a.cap * w0.w0 <= t.b * a.w_ppm
        |           THEN a.cap ELSE (t.b * a.w_ppm) // w0.w0 END),
        |    w0.w0 - a.w_ppm
        |  FROM act a, w0, tot t WHERE a.rn = 1
        |  UNION ALL
        |  SELECT a.rn,
        |    CASE WHEN a.cap * s.w_after <= s.r_after * a.w_ppm
        |         THEN a.cap
        |         ELSE (s.r_after * a.w_ppm) // s.w_after END,
        |    s.r_after - (CASE WHEN a.cap * s.w_after
        |             <= s.r_after * a.w_ppm THEN a.cap
        |           ELSE (s.r_after * a.w_ppm) // s.w_after END),
        |    s.w_after - a.w_ppm
        |  FROM scan s JOIN act a ON a.rn = s.rn + 1),
        |al AS (
        |  SELECT a.source, s.alloc FROM scan s JOIN act a USING (rn))
        |SELECT j.source, j.c AS n_tokens, j.w_ppm,
        |  j.cap AS cap_tokens,
        |  CAST(coalesce(al.alloc, 0) AS BIGINT) AS alloc_tokens,
        |  CAST(CASE WHEN j.c > 0
        |    THEN (coalesce(al.alloc, 0) * 1000000) // j.c
        |    ELSE 0 END AS BIGINT) AS epochs_ppm
        |FROM j LEFT JOIN al USING (source)
        |ORDER BY source""".stripMargin,
    // bm25_score mirror: recompute the fitted artifacts (top-5 term
    // table, corpus stats) in-query, then the same micro-pinned
    // per-term weights summed as integers per doc — a zero-tf term
    // contributes an exact 0 on both engines
    "bm25_score" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t != '')
        |      AS ts
        |  FROM documents),
        |lens AS (
        |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS len FROM toks),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
        |  GROUP BY doc_id, term),
        |dfreq AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df
        |  FROM tf GROUP BY term),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(len) AS BIGINT) AS tot
        |  FROM lens),
        |q AS (
        |  SELECT term, df FROM dfreq WHERE length(term) >= 5
        |  ORDER BY df DESC, term ASC LIMIT 5),
        |grid AS (
        |  SELECT l.doc_id, l.len, q.term, q.df,
        |    coalesce(tf.tf, 0) AS tf
        |  FROM lens l
        |  CROSS JOIN q
        |  LEFT JOIN tf ON tf.doc_id = l.doc_id AND tf.term = q.term),
        |w AS (
        |  SELECT g.doc_id,
        |    CAST(floor(((t.n - g.df + 0.5e0) / (g.df + 0.5e0))
        |      * ((g.tf * 2.2e0) / (g.tf + 0.3e0
        |         + 0.9e0 * (g.len * 1.0e0 * t.n / t.tot)))
        |      * 1000000.0e0) AS BIGINT) AS wm,
        |    CASE WHEN g.tf > 0 THEN 1 ELSE 0 END AS hit
        |  FROM grid g, tot t)
        |SELECT doc_id, CAST(sum(wm) AS BIGINT) AS bm25_micro,
        |  CAST(sum(hit) AS BIGINT) AS bm25_hits
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // packing_stats mirror: the length_buckets chain aggregated +
    // the naive doc_id-ordered deal, one row per strategy
    "packing_stats" ->
      """WITH sized AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      t -> t != '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(CASE WHEN n_tokens <= 16 THEN 16
        |      WHEN n_tokens <= 32 THEN 32
        |      WHEN n_tokens <= 64 THEN 64
        |      WHEN n_tokens <= 128 THEN 128
        |      WHEN n_tokens <= 256 THEN 256
        |      WHEN n_tokens <= 512 THEN 512
        |      WHEN n_tokens <= 1024 THEN 1024
        |      WHEN n_tokens <= 2048 THEN 2048
        |      WHEN n_tokens <= 4096 THEN 4096
        |      ELSE 8192 END AS BIGINT) AS bucket
        |  FROM sized),
        |p AS (
        |  SELECT doc_id, n_tokens, bucket,
        |    CAST(row_number() OVER (ORDER BY bucket, n_tokens DESC,
        |      doc_id) AS BIGINT) AS gpos
        |  FROM b),
        |s AS (SELECT bucket, min(gpos) AS b0 FROM p GROUP BY bucket),
        |a AS (
        |  SELECT p.doc_id, p.n_tokens, p.bucket,
        |    CAST((p.gpos - s.b0) // 8 AS BIGINT) AS batch_id
        |  FROM p JOIN s USING (bucket)),
        |m AS (
        |  SELECT bucket, batch_id, max(n_tokens) AS bmax
        |  FROM a GROUP BY 1, 2),
        |buck AS (
        |  SELECT 'length_bucketed' AS strategy,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(a.n_tokens) AS BIGINT) AS sum_tokens,
        |    CAST(sum(m.bmax - a.n_tokens) AS BIGINT) AS pad_tokens
        |  FROM a JOIN m USING (bucket, batch_id)),
        |np AS (
        |  SELECT doc_id, n_tokens,
        |    CAST((row_number() OVER (ORDER BY doc_id) - 1) // 8
        |      AS BIGINT) AS batch_id
        |  FROM sized),
        |nm AS (
        |  SELECT batch_id, max(n_tokens) AS bmax FROM np
        |  GROUP BY batch_id),
        |nv AS (
        |  SELECT 'naive_id_order' AS strategy,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(np.n_tokens) AS BIGINT) AS sum_tokens,
        |    CAST(sum(nm.bmax - np.n_tokens) AS BIGINT) AS pad_tokens
        |  FROM np JOIN nm USING (batch_id)),
        |u AS (SELECT * FROM buck UNION ALL SELECT * FROM nv)
        |SELECT strategy, n_docs, sum_tokens, pad_tokens,
        |  CAST((pad_tokens * 1000000) // (sum_tokens + pad_tokens)
        |    AS BIGINT) AS waste_ppm
        |FROM u ORDER BY strategy""".stripMargin,
    // quota-sample mirror: identical integer Hamilton apportionment
    // (n·c DIV/MOD T — no fractions) and the same LCG in-stratum order
    "quota_sample" ->
      s"""WITH k AS (
         |  SELECT doc_id, source,
         |    ((doc_id % 1073741824) * 2654435761) % $P AS kk
         |  FROM documents),
         |c AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS c
         |  FROM documents GROUP BY source),
         |t AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM c),
         |q0 AS (
         |  SELECT source, c,
         |    CAST((200 * c) // tt AS BIGINT) AS base,
         |    CAST((200 * c) % tt AS BIGINT) AS rem
         |  FROM c, t),
         |l AS (SELECT CAST(200 - sum(base) AS BIGINT) AS leftover
         |      FROM q0),
         |q1 AS (
         |  SELECT source, base, rem,
         |    CAST(row_number() OVER (ORDER BY rem DESC, source)
         |      AS BIGINT) AS rr
         |  FROM q0),
         |q AS (
         |  SELECT source,
         |    CAST(base + (CASE WHEN rr <= l.leftover THEN 1 ELSE 0
         |      END) AS BIGINT) AS quota
         |  FROM q1, l),
         |r AS (
         |  SELECT doc_id, source,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY kk, doc_id) AS BIGINT) AS src_rank
         |  FROM k)
         |SELECT r.source, r.doc_id, r.src_rank, q.quota
         |FROM r JOIN q USING (source)
         |WHERE r.src_rank <= q.quota
         |ORDER BY source, src_rank""".stripMargin,
    // PCA mirror: same 2^18 decimal quantization, exact DECIMAL(38,0)
    // moment sums, 10 unrolled power steps with ordered folds, native
    // fixed-order projection — doubles bit-identical end to end
    "pca_project" ->
      s"""WITH v AS (SELECT vec_id, $duckVec AS vec FROM embeddings),
         |q AS (
         |  SELECT vec_id, list_transform(vec, x ->
         |    CAST(round_even(CAST(x * 262144.0e0 AS DECIMAL(28,12)),
         |      0) AS BIGINT)) AS qv
         |  FROM v),
         |cells AS (
         |  SELECT ri.i, rj.j,
         |    CAST(sum(CAST(qv[ri.i + 1] * qv[rj.j + 1]
         |      AS DECIMAL(38,0))) AS DOUBLE) AS m
         |  FROM q, range(0, 64) ri(i), range(0, 64) rj(j)
         |  WHERE ri.i <= rj.j
         |  GROUP BY ri.i, rj.j),
         |gm AS MATERIALIZED (
         |  SELECT i, j, m FROM cells
         |  UNION ALL SELECT j AS i, i AS j, m FROM cells WHERE i < j),
         |p0 AS (SELECT r.i, 0.125e0 AS val FROM range(0, 64) r(i)),
         |${(1 to 10).map(pcaStepSql).mkString(",\n")}
         |SELECT v.vec_id,
         |  list_reduce(list(v.vec[p.i + 1] * p.val ORDER BY p.i),
         |    (a, b) -> a + b) AS pc1
         |FROM v, p10 p GROUP BY v.vec_id ORDER BY v.vec_id""".stripMargin,
    // Interleave mirror: same hash shuffle key, same r/w virtual
    // time (e0 double literals), global position as a row_number
    // over the identical total order
    "interleave_schedule" ->
      s"""WITH w(source, w) AS (VALUES
         |    ('src0', 0.5e0), ('src1', 0.3e0), ('src2', 0.2e0)),
         |k AS (
         |  SELECT d.doc_id, d.source, w.w,
         |    ((d.doc_id % 1073741824) * 2654435761)
         |      % ${graft.llm.HashConstants.P} AS k
         |  FROM documents d JOIN w ON w.source = d.source),
         |r AS (
         |  SELECT doc_id, source, w,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY k, doc_id) AS BIGINT) AS src_rank
         |  FROM k),
         |t AS (
         |  SELECT doc_id, source, src_rank,
         |    src_rank * 1.0e0 / w AS vtime
         |  FROM r)
         |SELECT doc_id, source, src_rank, vtime,
         |  CAST(row_number() OVER (ORDER BY vtime, source, doc_id)
         |    AS BIGINT) AS sched_pos
         |FROM t ORDER BY sched_pos""".stripMargin,
    // Augmentation mirror: the same integer hash gates (non-negative
    // operands, % == pmod on both engines) drive the identical
    // drop/duplicate/keep decision per (doc, position)
    "augment_tokens" -> {
      def g(i: String) =
        s"(((doc_id % 1073741824) * 2654435761 + $i * 1315423911 + 7)" +
          s" % ${graft.llm.HashConstants.P}) % 1000"
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split(text, ' '), t -> t != '') AS ts
         |  FROM documents),
         |aug AS (
         |  SELECT doc_id, ts,
         |    CASE WHEN len(ts) < 1 THEN ts
         |    ELSE flatten(list_transform(generate_series(1, len(ts)),
         |      i -> list_slice([ts[i], ts[i]], 1,
         |        CASE WHEN ${g("i")} < 100 THEN 0
         |             WHEN ${g("i")} < 150 THEN 2 ELSE 1 END)))
         |    END AS au
         |  FROM toks)
         |SELECT doc_id, array_to_string(au, ' ') AS aug_text,
         |  CAST(len(ts) AS BIGINT) AS n_tokens,
         |  CAST(len(au) AS BIGINT) AS n_aug,
         |  CAST(CASE WHEN len(ts) < 1 THEN 0 ELSE
         |    len(list_filter(generate_series(1, len(ts)),
         |      i -> ${g("i")} < 100)) END AS BIGINT) AS n_dropped,
         |  CAST(CASE WHEN len(ts) < 1 THEN 0 ELSE
         |    len(list_filter(generate_series(1, len(ts)),
         |      i -> ${g("i")} >= 100 AND ${g("i")} < 150)) END
         |    AS BIGINT) AS n_dupped
         |FROM aug ORDER BY doc_id""".stripMargin
    },
    // Collocation mirror: zipped equal-length slice unnests make the
    // adjacent pairs; identical IEEE lift tree (e0 literals — the
    // BM25 decimal-literal lesson)
    "collocations" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t != '')
        |      AS ts
        |  FROM documents),
        |uni AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY w),
        |pairs AS (
        |  SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
        |  FROM (SELECT unnest(list_slice(ts, 1, len(ts) - 1)) AS a,
        |               unnest(list_slice(ts, 2, len(ts))) AS b
        |        FROM toks WHERE len(ts) >= 2)
        |  GROUP BY a, b),
        |tot AS (
        |  SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS t,
        |         (SELECT CAST(sum(c_ab) AS BIGINT) FROM pairs) AS bt)
        |SELECT p.a, p.b, p.c_ab,
        |  ((p.c_ab * 1.0e0) * t.t / ua.c) * ((t.t * 1.0e0) / ub.c)
        |    / t.bt AS lift
        |FROM pairs p
        |JOIN uni ua ON ua.w = p.a
        |JOIN uni ub ON ub.w = p.b, tot t
        |WHERE p.c_ab >= 5 AND ua.c >= 10 AND ub.c >= 10
        |ORDER BY lift DESC, a, b LIMIT 20""".stripMargin,
    // Integer-PageRank mirror: the simjoin edge chain (same bucket
    // cap and round-6 cosine threshold as embed_lsh_simjoin), then 5
    // unrolled power steps in ppm longs — no float anywhere
    "pagerank_sim" ->
      s"""WITH v0 AS (
         |  SELECT vec_id, $duckVec AS vec,
         |    CAST(${duckLshBucket(duckVec, 6)} AS BIGINT) AS bucket
         |  FROM embeddings),
         |v AS (
         |  SELECT vec_id, vec, bucket FROM (
         |    SELECT v0.*, row_number() OVER (PARTITION BY bucket
         |      ORDER BY vec_id) AS rn FROM v0)
         |  WHERE rn <= 4096),
         |e0 AS (
         |  SELECT a.vec_id AS id1, b.vec_id AS id2
         |  FROM v a JOIN v b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE round(${duckCos("a.vec", "b.vec")}, 6) >= 0.35),
         |adj AS (
         |  SELECT id1 AS src, id2 AS dst FROM e0
         |  UNION ALL SELECT id2 AS src, id1 AS dst FROM e0),
         |dg AS (SELECT src, count(*) AS deg FROM adj GROUP BY src),
         |n AS (SELECT vec_id AS node FROM embeddings),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM n),
         |${(1 to 5).map(prStepSql).mkString(",\n")}
         |SELECT n.node AS vec_id,
         |  CAST(coalesce(dg.deg, 0) AS BIGINT) AS deg,
         |  CAST(r5.pr AS BIGINT) AS pr
         |FROM n JOIN r5 ON r5.node = n.node
         |LEFT JOIN dg ON dg.src = n.node
         |ORDER BY vec_id""".stripMargin,
    "ivf_assign" ->
      s"""WITH v AS (SELECT vec_id, $duckVec AS vec FROM embeddings),
         |cent AS (SELECT cell, cvec FROM (
         |           SELECT CAST(vec_id AS BIGINT) AS cell, vec AS cvec,
         |             row_number() OVER (ORDER BY vec_id) AS rn
         |           FROM v) WHERE rn <= 16),
         |scored AS (
         |  SELECT v.vec_id, cent.cell,
         |    ${duckCos("v.vec", "cent.cvec")} AS sim
         |  FROM v, cent)
         |SELECT vec_id, cell
         |FROM (SELECT vec_id, cell, row_number() OVER
         |        (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) rn
         |      FROM scored)
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // rp_recall mirror: same LCG plane coefficients, init-less fold
    // dots, round-6 cosines in both spaces, same rank/semi-join
    "rp_recall" -> {
      def pj(j: Int) =
        s"""list_reduce(list_transform(range(0, 64),
            i -> vec[i + 1] * ${Similarity.planeCoef(j, "i")}),
            (x, y) -> x + y)"""
      val pvec = (0 until 16).map(pj).mkString("[", ", ", "]")
      def dot16(a: String, b: String) =
        s"""list_reduce(list_transform(range(1, 17),
            i -> $a[i] * $b[i]), (x, y) -> x + y)"""
      def cos16(a: String, b: String) =
        s"${dot16(a, b)} / (sqrt(${dot16(a, a)}) * sqrt(${dot16(b, b)}))"
      s"""WITH $duckPlantedV,
         |bfs AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    round(${duckCos("q.vec", "c.vec")}, 6) + 0.0 AS sim
         |  FROM v q JOIN v c ON q.vec_id < 8 AND c.vec_id != q.vec_id),
         |bf AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id, row_number() OVER
         |      (PARTITION BY query_id ORDER BY sim DESC, cand_id)
         |      AS rank
         |    FROM bfs)
         |  WHERE rank <= 5),
         |pv AS (SELECT vec_id, $pvec AS pvec FROM v),
         |rsim AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    round(${cos16("q.pvec", "c.pvec")}, 6) + 0.0 AS sim
         |  FROM pv q JOIN pv c
         |    ON q.vec_id < 8 AND c.vec_id != q.vec_id),
         |rp AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id, row_number() OVER
         |      (PARTITION BY query_id ORDER BY sim DESC, cand_id)
         |      AS rank
         |    FROM rsim)
         |  WHERE rank <= 5),
         |h AS (
         |  SELECT bf.query_id, CAST(count(*) AS BIGINT) AS hits
         |  FROM bf JOIN rp ON bf.query_id = rp.query_id
         |    AND bf.cand_id = rp.cand_id
         |  GROUP BY bf.query_id)
         |SELECT q.vec_id AS query_id,
         |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
         |  CAST((coalesce(h.hits, 0) * 1000000) // 5 AS BIGINT)
         |    AS recall_ppm
         |FROM v q LEFT JOIN h ON h.query_id = q.vec_id
         |WHERE q.vec_id < 8
         |ORDER BY query_id""".stripMargin
    },
    // ivf_balance mirror: the ivf_assign chain + occupancy counts
    // over a centroid scaffold (empty cells 0)
    "ivf_balance" ->
      s"""WITH v AS (SELECT vec_id, $duckVec AS vec FROM embeddings),
         |cent AS (SELECT cell, cvec FROM (
         |           SELECT CAST(vec_id AS BIGINT) AS cell, vec AS cvec,
         |             row_number() OVER (ORDER BY vec_id) AS rn
         |           FROM v) WHERE rn <= 16),
         |scored AS (
         |  SELECT v.vec_id, cent.cell,
         |    ${duckCos("v.vec", "cent.cvec")} AS sim
         |  FROM v, cent),
         |assign AS (
         |  SELECT vec_id, cell
         |  FROM (SELECT vec_id, cell, row_number() OVER
         |          (PARTITION BY vec_id ORDER BY sim DESC, cell DESC)
         |          rn
         |        FROM scored)
         |  WHERE rn = 1),
         |occ AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS n_members
         |  FROM assign GROUP BY cell),
         |k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM cent),
         |tt AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM assign)
         |SELECT c.cell,
         |  CAST(coalesce(o.n_members, 0) AS BIGINT) AS n_members,
         |  CAST((coalesce(o.n_members, 0) * 1000000) // tt.tot
         |    AS BIGINT) AS share_ppm,
         |  CAST((coalesce(o.n_members, 0) * k.k * 1000000) // tt.tot
         |    AS BIGINT) AS skew_ppm
         |FROM cent c LEFT JOIN occ o USING (cell), k, tt
         |ORDER BY c.cell""".stripMargin,
    // SemDedup mirror: shared Lloyd chain (c2 centroids), same
    // argmax-assignment tiebreak, within-cell pairs at round-6 cos.
    // Zero-norm split mirrors the ENGINE's (Similarity.semDedup):
    // clustering/seeding/pairs run on non-zero vectors only, zeros
    // ride out as always-kept cell -1 rows — without the split a
    // zero vector among the k smallest ids would be SEEDED here but
    // not on the engine side (round-19 self-review finding)
    "semdedup" ->
      s"""WITH vall AS (SELECT vec_id, $duckVec AS vec
         |              FROM embeddings),
         |v AS (SELECT vec_id, vec FROM vall
         |      WHERE list_reduce(list_transform(vec, x -> x * x),
         |        (a, b) -> a + b) > 0),
         |vz AS (SELECT vec_id FROM vall
         |       WHERE NOT (list_reduce(list_transform(vec,
         |         x -> x * x), (a, b) -> a + b) > 0)),
         |${duckKmeansChain()},
         |assign AS (
         |  SELECT vec_id, cell
         |  FROM (SELECT v.vec_id, c2.cell, row_number() OVER
         |          (PARTITION BY v.vec_id ORDER BY
         |           ${duckCos("v.vec", "c2.cvec")} DESC, c2.cell DESC) rn
         |        FROM v, c2)
         |  WHERE rn = 1),
         |m AS (
         |  SELECT a.vec_id, a.cell, v.vec
         |  FROM assign a JOIN v USING (vec_id)),
         |capped AS (
         |  SELECT vec_id, cell, vec FROM (
         |    SELECT vec_id, cell, vec, row_number() OVER
         |      (PARTITION BY cell ORDER BY vec_id) rk FROM m)
         |  WHERE rk <= 4096),
         |dup AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM capped a JOIN capped b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE round(${duckCos("a.vec", "b.vec")}, 6) >= 0.35)
         |SELECT m.vec_id, m.cell, d.vec_id IS NULL AS keep
         |FROM m LEFT JOIN dup d ON m.vec_id = d.vec_id
         |UNION ALL
         |SELECT vec_id, CAST(-1 AS BIGINT) AS cell, true AS keep
         |FROM vz
         |ORDER BY vec_id""".stripMargin,
    // auto-cells SemDedup mirror: identical chain, seed cut =
    // greatest(16, ceil(sqrt(n))) computed from the NON-ZERO count —
    // the k∝√n scale rule (Similarity.autoCells); same zero-norm
    // split as the pinned mirror
    "semdedup_auto" ->
      s"""WITH vall AS (SELECT vec_id, $duckVec AS vec
         |              FROM embeddings),
         |v AS (SELECT vec_id, vec FROM vall
         |      WHERE list_reduce(list_transform(vec, x -> x * x),
         |        (a, b) -> a + b) > 0),
         |vz AS (SELECT vec_id FROM vall
         |       WHERE NOT (list_reduce(list_transform(vec,
         |         x -> x * x), (a, b) -> a + b) > 0)),
         |kk AS (SELECT greatest(16, CAST(ceil(sqrt(
         |         CAST(count(*) AS DOUBLE))) AS BIGINT)) AS k
         |       FROM v),
         |${duckKmeansChain("(SELECT k FROM kk)")},
         |assign AS (
         |  SELECT vec_id, cell
         |  FROM (SELECT v.vec_id, c2.cell, row_number() OVER
         |          (PARTITION BY v.vec_id ORDER BY
         |           ${duckCos("v.vec", "c2.cvec")} DESC, c2.cell DESC) rn
         |        FROM v, c2)
         |  WHERE rn = 1),
         |m AS (
         |  SELECT a.vec_id, a.cell, v.vec
         |  FROM assign a JOIN v USING (vec_id)),
         |capped AS (
         |  SELECT vec_id, cell, vec FROM (
         |    SELECT vec_id, cell, vec, row_number() OVER
         |      (PARTITION BY cell ORDER BY vec_id) rk FROM m)
         |  WHERE rk <= 4096),
         |dup AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM capped a JOIN capped b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE round(${duckCos("a.vec", "b.vec")}, 6) >= 0.35)
         |SELECT m.vec_id, m.cell, d.vec_id IS NULL AS keep
         |FROM m LEFT JOIN dup d ON m.vec_id = d.vec_id
         |UNION ALL
         |SELECT vec_id, CAST(-1 AS BIGINT) AS cell, true AS keep
         |FROM vz
         |ORDER BY vec_id""".stripMargin,
    "ivf_kmeans" ->
      s"""WITH v AS (SELECT vec_id, $duckVec AS vec FROM embeddings),
         |${duckKmeansChain()}
         |SELECT cell,
         |  array_to_string(list_transform(cvec,
         |    x -> printf('%.6f', round(x, 6) + 0.0)), ',') AS centroid
         |FROM c2 ORDER BY cell""".stripMargin,
    "pq_centroids" ->
      s"""WITH v AS (SELECT vec_id, $duckVec AS vec FROM embeddings),
         |${duckPqChain()}
         |SELECT CAST(j AS BIGINT) AS subspace, cell,
         |  array_to_string(list_transform(cvec,
         |    x -> printf('%.6f', round(x, 6) + 0.0)), ',') AS centroid
         |FROM pc2 ORDER BY subspace, cell""".stripMargin,
    "pq_encode" ->
      s"""WITH v AS (SELECT vec_id, $duckVec AS vec FROM embeddings),
         |${duckPqChain()}
         |SELECT vec_id,
         |  array_to_string(list_transform(codes,
         |    c -> CAST(c AS VARCHAR)), ',') AS codes
         |FROM pcodes ORDER BY vec_id""".stripMargin,
    "pq_topk" ->
      s"""WITH v AS (SELECT vec_id, $duckVec AS vec FROM embeddings),
         |${duckPqChain()},
         |dt AS (
         |  SELECT q.vec_id AS query_id, c.j, c.cell,
         |    ${duckSqDist("q.sv", "c.cvec", 16)} AS d
         |  FROM sub q JOIN pc2 c ON q.j = c.j
         |  WHERE q.vec_id < 8),
         |sc AS (
         |  SELECT dt.query_id, p.vec_id AS cand_id,
         |    round(list_reduce(list(dt.d ORDER BY dt.j),
         |      (acc, x) -> acc + x), 6) AS adist
         |  FROM pa3 p JOIN dt ON p.j = dt.j AND p.cell = dt.cell
         |  WHERE p.vec_id != dt.query_id
         |  GROUP BY dt.query_id, p.vec_id),
         |rk AS (
         |  SELECT query_id, cand_id, adist,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist ASC, cand_id ASC) AS BIGINT) AS rank
         |  FROM sc)
         |SELECT query_id, cand_id, adist, rank FROM rk
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "ivfpq_topk" ->
      s"""WITH v AS (SELECT vec_id, $duckVec AS vec FROM embeddings),
         |icent AS (SELECT icell, icv FROM (
         |           SELECT CAST(vec_id AS BIGINT) AS icell, vec AS icv,
         |             row_number() OVER (ORDER BY vec_id) AS rn
         |           FROM v) WHERE rn <= 16),
         |${duckPqChain()},
         |iassign AS (
         |  SELECT vec_id, icell
         |  FROM (SELECT v.vec_id, icent.icell, row_number() OVER
         |          (PARTITION BY v.vec_id ORDER BY
         |           ${duckCos("v.vec", "icent.icv")} DESC,
         |           icent.icell DESC) rn
         |        FROM v, icent)
         |  WHERE rn = 1),
         |iprobes AS (
         |  SELECT query_id, icell
         |  FROM (SELECT q.vec_id AS query_id, icent.icell,
         |          row_number() OVER
         |          (PARTITION BY q.vec_id ORDER BY
         |           ${duckCos("q.vec", "icent.icv")} DESC,
         |           icent.icell DESC) rn
         |        FROM v q, icent WHERE q.vec_id < 8)
         |  WHERE rn <= 2),
         |dt AS (
         |  SELECT q.vec_id AS query_id, c.j, c.cell,
         |    ${duckSqDist("q.sv", "c.cvec", 16)} AS d
         |  FROM sub q JOIN pc2 c ON q.j = c.j
         |  WHERE q.vec_id < 8),
         |sc AS (
         |  SELECT dt.query_id, p.vec_id AS cand_id,
         |    round(list_reduce(list(dt.d ORDER BY dt.j),
         |      (acc, x) -> acc + x), 6) AS adist
         |  FROM pa3 p
         |  JOIN iassign a ON a.vec_id = p.vec_id
         |  JOIN iprobes pr ON pr.icell = a.icell
         |  JOIN dt ON p.j = dt.j AND p.cell = dt.cell
         |         AND dt.query_id = pr.query_id
         |  WHERE p.vec_id != dt.query_id
         |  GROUP BY dt.query_id, p.vec_id),
         |rk AS (
         |  SELECT query_id, cand_id, adist,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist ASC, cand_id ASC) AS BIGINT) AS rank
         |  FROM sc)
         |SELECT query_id, cand_id, adist, rank FROM rk
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "pq_rerank" ->
      s"""WITH v AS (SELECT vec_id, $duckVec AS vec FROM embeddings),
         |${duckPqChain()},
         |dt AS (
         |  SELECT q.vec_id AS query_id, c.j, c.cell,
         |    ${duckSqDist("q.sv", "c.cvec", 16)} AS d
         |  FROM sub q JOIN pc2 c ON q.j = c.j
         |  WHERE q.vec_id < 8),
         |sc AS (
         |  SELECT dt.query_id, p.vec_id AS cand_id,
         |    round(list_reduce(list(dt.d ORDER BY dt.j),
         |      (acc, x) -> acc + x), 6) AS adist
         |  FROM pa3 p JOIN dt ON p.j = dt.j AND p.cell = dt.cell
         |  WHERE p.vec_id != dt.query_id
         |  GROUP BY dt.query_id, p.vec_id),
         |sl AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY adist ASC, cand_id ASC) AS srk
         |    FROM sc)
         |  WHERE srk <= 20),
         |ex AS (
         |  SELECT s.query_id, s.cand_id,
         |    round(${duckCos("a.vec", "b.vec")}, 6) + 0.0 AS sim
         |  FROM sl s
         |  JOIN v a ON a.vec_id = s.query_id
         |  JOIN v b ON b.vec_id = s.cand_id),
         |rr AS (
         |  SELECT query_id, cand_id, sim,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, cand_id ASC) AS BIGINT) AS rank
         |  FROM ex)
         |SELECT query_id, cand_id, sim, rank FROM rr
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "ivf_topk" ->
      s"""WITH v AS (SELECT vec_id, $duckVec AS vec FROM embeddings),
         |cent AS (SELECT cell, cvec FROM (
         |           SELECT CAST(vec_id AS BIGINT) AS cell, vec AS cvec,
         |             row_number() OVER (ORDER BY vec_id) AS rn
         |           FROM v) WHERE rn <= 16),
         |${duckIvfTopkTail("cent")}""".stripMargin,
    "ivf_topk_kmeans" ->
      s"""WITH v AS (SELECT vec_id, $duckVec AS vec FROM embeddings),
         |${duckKmeansChain()},
         |${duckIvfTopkTail("c2")}""".stripMargin,
    // hamming_topk mirror: same planted v, same index-order
    // shiftleft/or sign-pack fold, xor+bit_count distance
    "hamming_topk" ->
      s"""WITH $duckPlantedV,
         |sg AS (
         |  SELECT vec_id,
         |    list_reduce(list_transform(range(0, 64),
         |      i -> CASE WHEN vec[i + 1] > 0
         |        THEN (CASE WHEN i = 63
         |          THEN CAST(-9223372036854775807 - 1 AS BIGINT)
         |          ELSE (CAST(1 AS BIGINT) << i) END)
         |        ELSE CAST(0 AS BIGINT) END),
         |      (a, b) -> a | b) AS sig
         |  FROM v),
         |d AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    CAST(bit_count(xor(c.sig, q.sig)) AS BIGINT) AS dist
         |  FROM sg c JOIN sg q
         |    ON q.vec_id < 8 AND c.vec_id != q.vec_id)
         |SELECT query_id, cand_id, dist, rank FROM (
         |  SELECT query_id, cand_id, dist, CAST(row_number() OVER
         |    (PARTITION BY query_id ORDER BY dist ASC, cand_id ASC)
         |    AS BIGINT) AS rank
         |  FROM d)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // hamming_rerank mirror: the hamming_topk chain at shortlist 20,
    // then exact round-6 cosine over just the shortlist
    "hamming_rerank" ->
      s"""WITH $duckPlantedV,
         |sg AS (
         |  SELECT vec_id,
         |    list_reduce(list_transform(range(0, 64),
         |      i -> CASE WHEN vec[i + 1] > 0
         |        THEN (CASE WHEN i = 63
         |          THEN CAST(-9223372036854775807 - 1 AS BIGINT)
         |          ELSE (CAST(1 AS BIGINT) << i) END)
         |        ELSE CAST(0 AS BIGINT) END),
         |      (a, b) -> a | b) AS sig
         |  FROM v),
         |hd AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    CAST(bit_count(xor(c.sig, q.sig)) AS BIGINT) AS dist
         |  FROM sg c JOIN sg q
         |    ON q.vec_id < 8 AND c.vec_id != q.vec_id),
         |sl AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id, row_number() OVER
         |      (PARTITION BY query_id ORDER BY dist ASC, cand_id ASC)
         |      AS hrank
         |    FROM hd)
         |  WHERE hrank <= 20),
         |rr AS (
         |  SELECT sl.query_id, sl.cand_id,
         |    round(${duckCos("qv.vec", "cv.vec")}, 6) + 0.0 AS sim
         |  FROM sl JOIN v qv ON qv.vec_id = sl.query_id
         |  JOIN v cv ON cv.vec_id = sl.cand_id)
         |SELECT query_id, cand_id, sim, rank FROM (
         |  SELECT query_id, cand_id, sim, CAST(row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC)
         |    AS BIGINT) AS rank
         |  FROM rr)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // decontam_embed mirror: planted v + re-id'd eval copies through
    // the 6-plane LSH chain; cross-side pairs by id space, best eval
    // match per corpus doc
    "decontam_embed" ->
      s"""WITH $duckPlantedV,
         |dev AS (SELECT vec_id + 10000000 AS vec_id, vec FROM v
         |  WHERE vec_id < 30),
         |dal AS (SELECT vec_id, vec FROM v
         |  UNION ALL SELECT vec_id, vec FROM dev),
         |db0 AS (
         |  SELECT vec_id, vec,
         |    CAST(${duckLshBucket("vec", 8)} AS BIGINT) AS bucket
         |  FROM dal),
         |db AS (
         |  SELECT vec_id, vec, bucket FROM (
         |    SELECT db0.*, row_number() OVER (PARTITION BY bucket
         |      ORDER BY vec_id) AS rn FROM db0)
         |  WHERE rn <= 1024),
         |dpr AS (
         |  SELECT a.vec_id AS id1, b.vec_id AS id2,
         |    round(${duckCos("a.vec", "b.vec")}, 6) AS sim
         |  FROM db a JOIN db b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE round(${duckCos("a.vec", "b.vec")}, 6) >= 0.9),
         |dcx AS (
         |  SELECT id1, id2, sim,
         |    row_number() OVER (PARTITION BY id1
         |      ORDER BY sim DESC, id2) AS rn,
         |    max(sim) OVER (PARTITION BY id1) AS best_sim
         |  FROM dpr WHERE id1 < 10000000 AND id2 >= 10000000)
         |SELECT id1 AS vec_id, id2 AS eval_id, best_sim + 0.0 AS sim
         |FROM dcx WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // hnsw_topk mirror: planted v; seeded level hash → hubs; per-node
    // top-2 hub links; per-hub reverse adjacency capped at 64; LSH
    // local edges (bucket 6-plane, cap 4096, sim >= 0, top-8 per
    // node); search = top-3 hubs per query → reverse expansion →
    // one local beam step → exact-cosine top-5; recall vs brute force
    "hnsw_topk" ->
      s"""WITH $duckPlantedV,
         |hh AS (
         |  SELECT vec_id AS hub, vec AS hv FROM v
         |  WHERE (vec_id * 2654435761 + 40503) % 1000003 % 16 = 0),
         |hasg AS (
         |  SELECT nid, hub, hsim FROM (
         |    SELECT n.vec_id AS nid, h.hub,
         |      round(${duckCos("n.vec", "h.hv")}, 6) AS hsim,
         |      row_number() OVER (PARTITION BY n.vec_id
         |        ORDER BY round(${duckCos("n.vec", "h.hv")}, 6) DESC,
         |        h.hub) AS rn
         |    FROM v n, hh h)
         |  WHERE rn <= 2),
         |hrev AS (
         |  SELECT hub, nid AS adj FROM (
         |    SELECT hasg.*, row_number() OVER (PARTITION BY hub
         |      ORDER BY hsim DESC, nid) AS rr FROM hasg)
         |  WHERE rr <= 64),
         |hb0 AS (
         |  SELECT vec_id, vec,
         |    CAST(${duckLshBucket("vec", 8)} AS BIGINT) AS bucket
         |  FROM v),
         |hb AS (
         |  SELECT vec_id, vec, bucket FROM (
         |    SELECT hb0.*, row_number() OVER (PARTITION BY bucket
         |      ORDER BY vec_id) AS rn FROM hb0)
         |  WHERE rn <= 1024),
         |hpairs AS (
         |  SELECT a.vec_id AS src, b.vec_id AS dst,
         |    round(${duckCos("a.vec", "b.vec")}, 6) AS sim
         |  FROM hb a JOIN hb b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE round(${duckCos("a.vec", "b.vec")}, 6) >= 0.0),
         |hsym AS (
         |  SELECT src, dst, sim FROM hpairs
         |  UNION ALL SELECT dst, src, sim FROM hpairs),
         |hlocal AS (
         |  SELECT src, dst FROM (
         |    SELECT hsym.*, row_number() OVER (PARTITION BY src
         |      ORDER BY sim DESC, dst) AS lr FROM hsym)
         |  WHERE lr <= 8),
         |hqh AS (
         |  SELECT query_id, hub FROM (
         |    SELECT q.vec_id AS query_id, h.hub,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY round(${duckCos("q.vec", "h.hv")}, 6) DESC,
         |        h.hub) AS qr
         |    FROM v q, hh h WHERE q.vec_id < 48)
         |  WHERE qr <= 3),
         |hcrev AS (
         |  SELECT p.query_id, r.adj AS cand
         |  FROM hqh p JOIN hrev r ON p.hub = r.hub),
         |hcand AS (
         |  SELECT DISTINCT query_id, cand FROM (
         |    SELECT query_id, cand FROM hcrev
         |    UNION ALL
         |    SELECT c.query_id, l.dst AS cand
         |    FROM hcrev c JOIN hlocal l ON c.cand = l.src)
         |  WHERE cand != query_id),
         |hscored AS (
         |  SELECT c.query_id, c.cand AS cand_id,
         |    round(${duckCos("qv.vec", "cv.vec")}, 6) AS sim
         |  FROM hcand c JOIN v cv ON cv.vec_id = c.cand
         |  JOIN v qv ON qv.vec_id = c.query_id),
         |hnsw AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id, row_number() OVER
         |      (PARTITION BY query_id ORDER BY sim DESC, cand_id)
         |      AS rank
         |    FROM hscored)
         |  WHERE rank <= 5),
         |bfs AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    round(${duckCos("q.vec", "c.vec")}, 6) + 0.0 AS sim
         |  FROM v q JOIN v c ON q.vec_id < 48 AND c.vec_id != q.vec_id),
         |bf AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id, row_number() OVER
         |      (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
         |    FROM bfs)
         |  WHERE rank <= 5),
         |hhits AS (
         |  SELECT bf.query_id, count(*) AS hits
         |  FROM bf JOIN hnsw ON bf.query_id = hnsw.query_id
         |    AND bf.cand_id = hnsw.cand_id
         |  GROUP BY bf.query_id)
         |SELECT q.vec_id AS query_id,
         |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
         |  round(coalesce(h.hits, 0) / 5.0, 6) AS recall
         |FROM v q LEFT JOIN hhits h ON q.vec_id = h.query_id
         |WHERE q.vec_id < 48 ORDER BY query_id""".stripMargin,
    "ann_recall" ->
      s"""WITH $duckPlantedV,
         |${duckKmeansChain()},
         |bfs AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    round(${duckCos("q.vec", "c.vec")}, 6) + 0.0 AS sim
         |  FROM v q JOIN v c ON q.vec_id < 8 AND c.vec_id != q.vec_id),
         |bf AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id, row_number() OVER
         |      (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
         |    FROM bfs)
         |  WHERE rank <= 5),
         |iassign AS (
         |  SELECT vec_id, cell
         |  FROM (SELECT v.vec_id, c2.cell, row_number() OVER
         |          (PARTITION BY v.vec_id ORDER BY
         |           ${duckCos("v.vec", "c2.cvec")} DESC, c2.cell DESC) rn
         |        FROM v, c2)
         |  WHERE rn = 1),
         |iprobes AS (
         |  SELECT query_id, cell
         |  FROM (SELECT q.vec_id AS query_id, c2.cell, row_number() OVER
         |          (PARTITION BY q.vec_id ORDER BY
         |           ${duckCos("q.vec", "c2.cvec")} DESC, c2.cell DESC) rn
         |        FROM v q, c2 WHERE q.vec_id < 8)
         |  WHERE rn <= 2),
         |icands AS (
         |  SELECT a.vec_id AS cand_id, a.cell, v.vec AS cvec2
         |  FROM iassign a JOIN v ON a.vec_id = v.vec_id),
         |ijoined AS (
         |  SELECT p.query_id, c.cand_id,
         |    round(${duckCos("qv.vec", "c.cvec2")}, 6) + 0.0 AS sim
         |  FROM icands c JOIN iprobes p ON c.cell = p.cell
         |  JOIN v qv ON qv.vec_id = p.query_id
         |  WHERE c.cand_id != p.query_id),
         |ivf AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id, row_number() OVER
         |      (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
         |    FROM ijoined)
         |  WHERE rank <= 5),
         |hits AS (
         |  SELECT bf.query_id, count(*) AS hits
         |  FROM bf JOIN ivf ON bf.query_id = ivf.query_id
         |    AND bf.cand_id = ivf.cand_id
         |  GROUP BY bf.query_id)
         |SELECT q.vec_id AS query_id,
         |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
         |  round(coalesce(h.hits, 0) / 5.0, 6) AS recall
         |FROM v q LEFT JOIN hits h ON q.vec_id = h.query_id
         |WHERE q.vec_id < 8 ORDER BY query_id""".stripMargin,
    "lang_centroid" ->
      s"""WITH v AS (SELECT vec_id, $duckVec AS vec FROM embeddings),
         |j AS (
         |  SELECT d.lang, v.vec FROM v
         |  JOIN documents d ON v.vec_id = d.doc_id),
         |m AS (
         |  SELECT lang, dims.i,
         |    CAST(sum(CAST(vec[dims.i] AS DECIMAL(28,10))) AS DOUBLE)
         |      / count(*) AS m
         |  FROM j, (SELECT unnest(generate_series(1, 64)) AS i) dims
         |  GROUP BY 1, 2)
         |SELECT lang,
         |  array_to_string(list_transform(list(m ORDER BY i),
         |    x -> printf('%.6f', round(x, 6) + 0.0)), ',') AS centroid
         |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    "text_stats" ->
      s"""SELECT doc_id,
         |  CAST($duckNTokens AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT)
         |    AS n_bpeish,
         |  round(CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
         |    / length(text), 6) AS punct_ratio,
         |  round(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
         |    / $duckNTokens, 6) AS avg_word_len,
         |  round(CAST(${duckHits("en")} AS DOUBLE) / $duckNTokens, 6)
         |    AS stopword_ratio,
         |  round(least(CAST($duckNTokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |    + (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
         |    + least(CAST(${duckHits("en")} AS DOUBLE) / $duckNTokens * 4.0, 1.0) * 0.3, 6)
         |    AS quality,
         |  CASE
         |    WHEN ${duckHits("en")} >= greatest(greatest(${duckHits("es")}, 0), greatest(${duckHits("fr")}, 0), greatest(${duckHits("de")}, 0)) AND ${duckHits("en")} > 0 THEN 'en'
         |    WHEN ${duckHits("es")} >= greatest(greatest(${duckHits("en")}, 0), greatest(${duckHits("fr")}, 0), greatest(${duckHits("de")}, 0)) AND ${duckHits("es")} > 0 THEN 'es'
         |    WHEN ${duckHits("fr")} >= greatest(greatest(${duckHits("en")}, 0), greatest(${duckHits("es")}, 0), greatest(${duckHits("de")}, 0)) AND ${duckHits("fr")} > 0 THEN 'fr'
         |    WHEN ${duckHits("de")} >= greatest(greatest(${duckHits("en")}, 0), greatest(${duckHits("es")}, 0), greatest(${duckHits("fr")}, 0)) AND ${duckHits("de")} > 0 THEN 'de'
         |    ELSE 'und' END AS pred_lang,
         |  ${duckPolyHash("lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))")}
         |    AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,
    "novelty_score" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '),
        |      t -> t != '') AS tk
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(tk) - 2),
        |    i -> array_to_string(list_slice(tk, i, i + 2), ' '))))
        |    AS gram
        |  FROM toks WHERE len(tk) >= 3),
        |f AS (SELECT gram, min(doc_id) AS fs FROM g GROUP BY 1)
        |SELECT g.doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN f.fs = g.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  round(CAST(sum(CASE WHEN f.fs = g.doc_id THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS novelty
        |FROM g JOIN f USING (gram)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "token_budget_cut" ->
      s"""WITH st AS (
         |  SELECT doc_id, CAST($duckNTokens AS BIGINT) AS n_tokens,
         |    round(least(CAST($duckNTokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |      + (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
         |      + least(CAST(${duckHits("en")} AS DOUBLE) / $duckNTokens * 4.0, 1.0) * 0.3, 6)
         |      AS quality
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, quality, n_tokens,
         |    sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cum_tokens
         |  FROM st)
         |SELECT doc_id, quality, n_tokens,
         |  CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM c WHERE cum_tokens <= 15000
         |ORDER BY doc_id""".stripMargin,
    "feature_hash_embed" ->
      s"""WITH th AS (
         |  SELECT doc_id, list_transform(
         |    list_filter(string_split(lower(text), ' '),
         |      t -> t != ''),
         |    t -> ${duckPolyHash("t")}) AS th
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, list_transform(range(0, 32),
         |    b -> CAST(len(list_filter(th, h -> h % 32 = b))
         |         AS DOUBLE)) AS cnt
         |  FROM th WHERE len(th) > 0),
         |n AS (
         |  SELECT doc_id, cnt,
         |    sqrt(list_reduce(list_transform(cnt, x -> x * x),
         |      (a, b) -> a + b)) AS nrm
         |  FROM c)
         |SELECT doc_id,
         |  array_to_string(list_transform(cnt,
         |    x -> printf('%.6f', round(x / nrm, 6) + 0.0)), ',')
         |    AS vec
         |FROM n ORDER BY doc_id""".stripMargin,
    // same embedding chain as feature_hash_embed, then the identical
    // index-order left-fold dot against the shared weight fixture;
    // components are 6dp-rounded on BOTH sides (the embedding's own
    // output grain) and the keep gate compares the RAW logit on both
    "quality_lr_gate" ->
      s"""WITH $duckLrChain
         |SELECT doc_id, round(z, 6) + 0.0 AS lr_score, z >= 0.0 AS keep
         |FROM lrz ORDER BY doc_id""".stripMargin,
    // α = 0.75: p^α = sqrt(sqrt(n·n·n)) — multiply and sqrt are
    // IEEE-correctly-rounded on every engine (pow is not). The hashed
    // columns are integer ppm computed in PURE INTEGER arithmetic:
    // pa is pinned to a micro-unit BIGINT via floor(pa*1e6) (one
    // correctly-rounded multiply + exact floor), then every division
    // is integer division — no round(DOUBLE), no double→decimal
    // cast, so no engine-build rounding semantics can flip a cell.
    // DuckDB's top-level sum(BIGINT) yields HUGEINT, which its pandas
    // bridge renders as float64 ("1435.0") and flips the driver's value
    // hash vs Spark's LongType "1435" — every integer sum that reaches
    // the final SELECT must be CAST(... AS BIGINT) (round-12 verdict).
    "mix_tokens" ->
      """SELECT source,
        |  CAST(sum(CAST(len(list_filter(string_split(lower(text), ' '),
        |    t -> t != '')) AS BIGINT)) AS BIGINT) AS n_tokens,
        |  count(*) AS n_docs,
        |  CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS n_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "mix_temperature" ->
      """WITH s0 AS (
        |  SELECT source,
        |    CAST(sum(CAST(len(list_filter(string_split(lower(text), ' '),
        |      t -> t != '')) AS BIGINT)) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |s AS (
        |  SELECT source, n_tokens,
        |    CAST(floor(sqrt(sqrt(CAST(n_tokens AS DOUBLE)
        |      * CAST(n_tokens AS DOUBLE)
        |      * CAST(n_tokens AS DOUBLE))) * 1000000.0) AS BIGINT)
        |      AS pa_micro
        |  FROM s0),
        |t AS (
        |  SELECT sum(n_tokens) AS tt, sum(pa_micro) AS ta FROM s),
        |r AS (
        |  SELECT source, n_tokens,
        |    CAST((CAST(n_tokens AS HUGEINT) * 1000000) // tt
        |      AS BIGINT) AS p_ppm,
        |    CAST((CAST(pa_micro AS HUGEINT) * 1000000) // ta
        |      AS BIGINT) AS q_ppm
        |  FROM s, t)
        |SELECT source, n_tokens, p_ppm, q_ppm,
        |  CAST((CAST(q_ppm AS HUGEINT) * 1000000) // p_ppm
        |    AS BIGINT) AS boost_ppm
        |FROM r ORDER BY source""".stripMargin,
    "dedup_recall" ->
      s"""WITH sub AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 200),
         |${sigCteFrom("sub")}, $bandCte, ${cappedCte()},
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM capped a JOIN capped b
         |    ON a.band = b.band AND a.band_key = b.band_key
         |   AND a.doc_id < b.doc_id),
         |sh AS (
         |  SELECT doc_id,
         |    list_distinct(${duckHashes(duckShingles)}) AS sh
         |  FROM sub),
         |truth AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / (len(a.sh) + len(b.sh)
         |       - len(list_intersect(a.sh, b.sh))), 6) >= 0.8),
         |hit AS (
         |  SELECT t.id1, t.id2 FROM truth t
         |  JOIN pairs p ON t.id1 = p.id1 AND t.id2 = p.id2),
         |m AS (
         |  SELECT (SELECT count(*) FROM truth) AS n_truth,
         |    (SELECT count(*) FROM pairs) AS n_candidates,
         |    (SELECT count(*) FROM hit) AS n_hit)
         |SELECT CAST(n_truth AS BIGINT) AS n_truth,
         |  CAST(n_candidates AS BIGINT) AS n_candidates,
         |  CAST(n_hit AS BIGINT) AS n_hit,
         |  CASE WHEN n_truth > 0 THEN
         |    round(CAST(n_hit AS DOUBLE) / n_truth, 6) END AS recall,
         |  CASE WHEN n_candidates > 0 THEN
         |    round(CAST(n_hit AS DOUBLE) / n_candidates, 6)
         |  END AS precision
         |FROM m""".stripMargin,
    "zipf_fit" ->
      """WITH c AS (
        |  SELECT t AS token, count(*) AS cnt FROM (
        |    SELECT unnest(list_filter(string_split(lower(text), ' '),
        |      t -> t != '')) AS t FROM documents)
        |  GROUP BY 1),
        |r AS (
        |  SELECT cnt, row_number() OVER
        |    (ORDER BY cnt DESC, token ASC) AS rank
        |  FROM c),
        |x AS (
        |  SELECT ln(rank) AS lx, ln(cnt) AS ly
        |  FROM r WHERE rank <= 100),
        |m AS (
        |  SELECT count(*) AS n,
        |    sum(CAST(lx AS DECIMAL(28,6))) AS sx,
        |    sum(CAST(ly AS DECIMAL(28,6))) AS sy,
        |    sum(CAST(lx * ly AS DECIMAL(28,6))) AS sxy,
        |    sum(CAST(lx * lx AS DECIMAL(28,6))) AS sxx
        |  FROM x)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
        |  round((CAST(sy AS DOUBLE)
        |    - CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE)
        |      * CAST(sx AS DOUBLE)) / n, 6) AS zipf_intercept
        |FROM m""".stripMargin,
    "paragraph_dedup" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> t != '') AS t
        |  FROM documents),
        |p2 AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(1,
        |      CAST(ceil(len(t) / 10.0) AS BIGINT))) AS i
        |  FROM tk WHERE len(t) > 0),
        |pars AS (
        |  SELECT doc_id, i - 1 AS p,
        |    array_to_string(list_slice(t, CAST((i - 1) * 10 + 1 AS INT),
        |      CAST(i * 10 AS INT)), ' ') AS par
        |  FROM p2),
        |keep AS (
        |  SELECT doc_id, p, par, row_number() OVER
        |    (PARTITION BY par ORDER BY doc_id, p) AS rn
        |  FROM pars),
        |np AS (SELECT doc_id, count(*) AS n_pars FROM pars GROUP BY 1),
        |agg AS (
        |  SELECT doc_id,
        |    string_agg(par, ' ' ORDER BY p) AS cleaned_text,
        |    count(*) AS n_kept
        |  FROM keep WHERE rn = 1 GROUP BY doc_id)
        |SELECT a.doc_id, a.cleaned_text, a.n_kept,
        |  np.n_pars - a.n_kept AS n_removed
        |FROM agg a JOIN np USING (doc_id) ORDER BY doc_id""".stripMargin,
    "dedup_lines_intra" ->
      """WITH l AS (
        |  SELECT doc_id, string_split(text, ' ') AS lines
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, lines,
        |    list_filter(lines,
        |      (x, i) -> list_position(lines, x) = i) AS kept
        |  FROM l)
        |SELECT doc_id, array_to_string(kept, ' ') AS clean_text,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(lines) - len(kept) AS BIGINT) AS n_removed
        |FROM k ORDER BY doc_id""".stripMargin,
    "weighted_sample" ->
      s"""WITH h AS (
         |  SELECT source, doc_id, n_chars,
         |    -ln((CAST(('0x' || substring(md5(lower(regexp_replace(
         |      trim(text), '\\s+', ' ', 'g'))), 1, 15)) AS BIGINT)
         |      + 1) / CAST(1152921504606846976 AS DOUBLE))
         |      / n_chars AS e
         |  FROM documents WHERE n_chars > 0),
         |r AS (
         |  SELECT source, doc_id, n_chars, e, row_number() OVER (
         |    PARTITION BY source ORDER BY e, doc_id) AS rank
         |  FROM h)
         |SELECT source, doc_id, n_chars AS weight,
         |  round(e, 6) AS es_key, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 10
         |ORDER BY source, doc_id""".stripMargin,
    "kmv_sample" ->
      s"""WITH h AS (
         |  SELECT source, doc_id,
         |    CAST(('0x' || substring(md5(lower(regexp_replace(
         |      trim(text), '\\s+', ' ', 'g'))), 1, 15)) AS BIGINT)
         |      AS h
         |  FROM documents),
         |r AS (
         |  SELECT source, doc_id, h, row_number() OVER (
         |    PARTITION BY source ORDER BY h, doc_id) AS rank
         |  FROM h)
         |SELECT source, doc_id, h, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 10
         |ORDER BY source, doc_id""".stripMargin,
    "kmv_distinct" ->
      s"""WITH d AS (
         |  SELECT DISTINCT source,
         |    CAST(('0x' || substring(md5(lower(regexp_replace(
         |      trim(text), '\\s+', ' ', 'g'))), 1, 15)) AS BIGINT)
         |      AS h
         |  FROM documents),
         |n AS (
         |  SELECT source, count(*) AS n_exact FROM d GROUP BY 1),
         |r AS (
         |  SELECT source, h, row_number() OVER (
         |    PARTITION BY source ORDER BY h) AS r
         |  FROM d),
         |k AS (
         |  SELECT source, max(CASE WHEN r = 20 THEN h END)
         |    AS kth_hash
         |  FROM r WHERE r <= 20 GROUP BY 1)
         |SELECT n.source, n.n_exact, k.kth_hash,
         |  CASE WHEN k.kth_hash IS NOT NULL
         |    THEN round(19.0 * CAST(1152921504606846976 AS DOUBLE)
         |      / k.kth_hash, 6)
         |    ELSE CAST(n.n_exact AS DOUBLE) END AS est_distinct
         |FROM n JOIN k ON n.source = k.source
         |ORDER BY n.source""".stripMargin,
    "curation_e2e" ->
      s"""WITH $duckCurationChain
         |SELECT doc_id, CAST((s - 1) // 150 AS BIGINT) AS chunk_id,
         |  substring(text, CAST(s AS INT), 200) AS chunk,
         |  CAST(length(substring(text, CAST(s AS INT), 200)) AS BIGINT)
         |    AS chunk_len
         |FROM starts ORDER BY doc_id, chunk_id""".stripMargin,
    "quality_pct_rank" ->
      s"""WITH st AS (
         |  SELECT doc_id, source,
         |    round(least(CAST($duckNTokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |      + (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
         |      + least(CAST(${duckHits("en")} AS DOUBLE) / $duckNTokens * 4.0, 1.0) * 0.3, 6)
         |      AS quality
         |  FROM documents)
         |SELECT doc_id, source, quality,
         |  round(percent_rank() OVER (PARTITION BY source
         |    ORDER BY quality, doc_id), 6) AS pct_rank
         |FROM st ORDER BY doc_id""".stripMargin,
    "vocab_coverage" ->
      """WITH c AS (
        |  SELECT unnest(list_filter(string_split(lower(text), ' '),
        |    t -> t != '')) AS token
        |  FROM documents),
        |g AS (SELECT token, count(*) AS cnt FROM c GROUP BY token),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM g),
        |r AS (
        |  SELECT token, CAST(cnt AS BIGINT) AS cnt,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, token)
        |      AS BIGINT) AS rank,
        |    round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS DOUBLE) / tot, 6) AS coverage
        |  FROM g, t)
        |SELECT token, cnt, rank, coverage FROM r
        |WHERE rank <= 100 ORDER BY rank""".stripMargin,
    "length_gate" ->
      s"""WITH nt AS (
         |  SELECT doc_id, CAST($duckNTokens AS BIGINT) AS n_tokens
         |  FROM documents),
         |b AS (
         |  SELECT quantile_cont(n_tokens, 0.05) AS lo,
         |    quantile_cont(n_tokens, 0.95) AS hi
         |  FROM nt)
         |SELECT doc_id, n_tokens, round(lo, 6) AS p_lo,
         |  round(hi, 6) AS p_hi
         |FROM nt, b WHERE n_tokens >= lo AND n_tokens <= hi
         |ORDER BY doc_id""".stripMargin,
    "bigram_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '),
        |      t -> t != '') AS t
        |  FROM documents
        |  WHERE len(list_filter(string_split(lower(text), ' '),
        |    t -> t != '')) >= 2),
        |pairs AS (
        |  SELECT doc_id,
        |    unnest(list_slice(t, 1, len(t) - 1)) AS a,
        |    unnest(list_slice(t, 2, len(t))) AS b
        |  FROM toks),
        |ua AS (
        |  SELECT a, count(*) AS ca
        |  FROM (SELECT unnest(t) AS a FROM toks) GROUP BY a),
        |vv AS (SELECT count(*) AS v FROM ua),
        |bc AS (SELECT a, b, count(*) AS cab FROM pairs GROUP BY a, b),
        |sc AS (
        |  SELECT p.doc_id,
        |    ln((bc.cab + 1.0) / (ua.ca + vv.v)) AS lp
        |  FROM pairs p
        |  JOIN bc ON p.a = bc.a AND p.b = bc.b
        |  JOIN ua ON p.a = ua.a
        |  CROSS JOIN vv)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(sum(lp) / count(*), 6) AS avg_logprob
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // train-slice n-gram tables, LEFT-joined lookups, CASE backoff;
    // arithmetic association mirrors the Spark column expressions
    // term for term so each branch's double math is bit-identical
    "trigram_lm_score" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '),
        |      t -> t != '') AS t
        |  FROM documents),
        |t3 AS (SELECT doc_id, t FROM tok WHERE len(t) >= 3),
        |tr AS (SELECT doc_id, t FROM t3 WHERE doc_id % 2 = 0),
        |cu AS (
        |  SELECT w, count(*) AS cw
        |  FROM (SELECT unnest(t) AS w FROM tr) GROUP BY w),
        |k AS (
        |  SELECT CAST(sum(cw) AS BIGINT) AS tt,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM cu),
        |cb AS (
        |  SELECT x, y, count(*) AS cxy FROM (
        |    SELECT unnest(list_slice(t, 1, len(t) - 1)) AS x,
        |           unnest(list_slice(t, 2, len(t))) AS y
        |    FROM tr) GROUP BY x, y),
        |ct AS (
        |  SELECT a, b, c, count(*) AS cabc FROM (
        |    SELECT unnest(list_slice(t, 1, len(t) - 2)) AS a,
        |           unnest(list_slice(t, 2, len(t) - 1)) AS b,
        |           unnest(list_slice(t, 3, len(t))) AS c
        |    FROM tr) GROUP BY a, b, c),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_slice(t, 1, len(t) - 2)) AS a,
        |    unnest(list_slice(t, 2, len(t) - 1)) AS b,
        |    unnest(list_slice(t, 3, len(t))) AS c
        |  FROM t3),
        |sc AS (
        |  SELECT g.doc_id,
        |    CASE WHEN ct.cabc IS NOT NULL
        |           THEN ln(CAST(ct.cabc AS DOUBLE) / ab.cxy)
        |         WHEN bc.cxy IS NOT NULL
        |           THEN ln(0.4 * bc.cxy / ub.cw)
        |         ELSE ln(0.16 * (coalesce(uc.cw, 0) + 1.0)
        |           / (k.tt + k.v)) END AS lp
        |  FROM g
        |  LEFT JOIN cb ab ON ab.x = g.a AND ab.y = g.b
        |  LEFT JOIN cb bc ON bc.x = g.b AND bc.y = g.c
        |  LEFT JOIN cu ub ON ub.w = g.b
        |  LEFT JOIN cu uc ON uc.w = g.c
        |  LEFT JOIN ct ON ct.a = g.a AND ct.b = g.b AND ct.c = g.c
        |  CROSS JOIN k)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
        |  round(sum(lp) / count(*), 6) AS avg_logprob
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "bpe_pairs" ->
      """WITH w AS (
        |  SELECT unnest(list_filter(string_split(lower(text), ' '),
        |    t -> length(t) >= 2)) AS w
        |  FROM documents),
        |p AS (
        |  SELECT unnest(list_transform(
        |    generate_series(1, length(w) - 1),
        |    i -> substring(w, i, 2))) AS pair
        |  FROM w),
        |c AS (SELECT pair, count(*) AS cnt FROM p GROUP BY pair),
        |r AS (
        |  SELECT pair, cnt, CAST(row_number() OVER
        |    (ORDER BY cnt DESC, pair) AS BIGINT) AS rank
        |  FROM c)
        |SELECT pair, CAST(cnt AS BIGINT) AS cnt, rank FROM r
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // replays the 10-round merge chain as generated CTE stages; the
    // w-stages are MATERIALIZED (each is referenced twice - pair
    // extraction and rewrite - and inlined CTEs would re-evaluate
    // the chain exponentially)
    // WordPiece mirrors: shared vocab-fit chain; the greedy
    // maximal-munch fold replays as a recursive CTE with one
    // LEFT JOIN per candidate piece length (no aggregates/windows
    // allowed in the recursive term)
    "wordpiece_vocab" ->
      s"""WITH ww AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
      |    t -> t != '') AS ws
      |  FROM documents),
      |wfl AS (SELECT unnest(ws) AS w FROM ww),
      |wpp AS (SELECT w,
      |  unnest(generate_series(1, CAST(len(w) AS BIGINT))) AS p
      |  FROM wfl),
      |wpl AS (SELECT w, p, unnest(generate_series(1, 4)) AS l
      |  FROM wpp),
      |wca AS (
      |  SELECT CASE WHEN p = 1 THEN substring(w, 1, CAST(l AS INT))
      |    ELSE '##' || substring(w, CAST(p AS INT), CAST(l AS INT))
      |    END AS piece
      |  FROM wpl WHERE p + l - 1 <= len(w)),
      |wct AS (SELECT piece, count(*) AS cnt FROM wca GROUP BY piece),
      |wrk AS (SELECT piece, cnt,
      |  row_number() OVER (ORDER BY cnt DESC, piece) AS rank
      |  FROM wct),
      |wv AS (SELECT piece FROM wrk
      |  WHERE rank <= 512 OR len(regexp_replace(piece, '^##', '')) = 1)
         |SELECT piece, CAST(cnt AS BIGINT) AS cnt,
         |  CAST(rank AS BIGINT) AS rank
         |FROM wrk
         |WHERE rank <= 512 OR len(regexp_replace(piece, '^##', '')) = 1
         |ORDER BY rank""".stripMargin,
    "wordpiece_tokenize" ->
      s"""WITH RECURSIVE ww AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
      |    t -> t != '') AS ws
      |  FROM documents),
      |wfl AS (SELECT unnest(ws) AS w FROM ww),
      |wpp AS (SELECT w,
      |  unnest(generate_series(1, CAST(len(w) AS BIGINT))) AS p
      |  FROM wfl),
      |wpl AS (SELECT w, p, unnest(generate_series(1, 4)) AS l
      |  FROM wpp),
      |wca AS (
      |  SELECT CASE WHEN p = 1 THEN substring(w, 1, CAST(l AS INT))
      |    ELSE '##' || substring(w, CAST(p AS INT), CAST(l AS INT))
      |    END AS piece
      |  FROM wpl WHERE p + l - 1 <= len(w)),
      |wct AS (SELECT piece, count(*) AS cnt FROM wca GROUP BY piece),
      |wrk AS (SELECT piece, cnt,
      |  row_number() OVER (ORDER BY cnt DESC, piece) AS rank
      |  FROM wct),
      |wv AS (SELECT piece FROM wrk
      |  WHERE rank <= 512 OR len(regexp_replace(piece, '^##', '')) = 1),
         |dwf AS (
         |  SELECT doc_id, unnest(ws) AS w,
         |    unnest(generate_series(1, CAST(len(ws) AS BIGINT))) AS wi
         |  FROM ww),
         |rec AS (
         |  SELECT doc_id, wi, w, 1 AS pos, 0 AS n, 0 AS unk,
         |    '' AS seg
         |  FROM dwf
         |  UNION ALL
         |  SELECT r.doc_id, r.wi, r.w,
         |    r.pos + (CASE WHEN v4.piece IS NOT NULL THEN 4 WHEN v3.piece IS NOT NULL THEN 3 WHEN v2.piece IS NOT NULL THEN 2 ELSE 1 END) AS pos,
         |    r.n + 1 AS n,
         |    r.unk + CASE WHEN (CASE WHEN v4.piece IS NOT NULL THEN 4 WHEN v3.piece IS NOT NULL THEN 3 WHEN v2.piece IS NOT NULL THEN 2 ELSE 1 END) = 1 AND v1.piece IS NULL
         |      THEN 1 ELSE 0 END AS unk,
         |    r.seg || CASE WHEN r.seg = '' THEN '' ELSE ' ' END
         |      || (CASE WHEN r.pos = 1 THEN substring(r.w, 1, (CASE WHEN v4.piece IS NOT NULL THEN 4 WHEN v3.piece IS NOT NULL THEN 3 WHEN v2.piece IS NOT NULL THEN 2 ELSE 1 END)) ELSE '##' || substring(r.w, CAST(r.pos AS INT), (CASE WHEN v4.piece IS NOT NULL THEN 4 WHEN v3.piece IS NOT NULL THEN 3 WHEN v2.piece IS NOT NULL THEN 2 ELSE 1 END)) END) AS seg
         |  FROM rec r
         |  LEFT JOIN wv v4 ON len(r.w) - r.pos + 1 >= 4
         |    AND v4.piece = (CASE WHEN r.pos = 1 THEN substring(r.w, 1, 4) ELSE '##' || substring(r.w, CAST(r.pos AS INT), 4) END)
         |  LEFT JOIN wv v3 ON len(r.w) - r.pos + 1 >= 3
         |    AND v3.piece = (CASE WHEN r.pos = 1 THEN substring(r.w, 1, 3) ELSE '##' || substring(r.w, CAST(r.pos AS INT), 3) END)
         |  LEFT JOIN wv v2 ON len(r.w) - r.pos + 1 >= 2
         |    AND v2.piece = (CASE WHEN r.pos = 1 THEN substring(r.w, 1, 2) ELSE '##' || substring(r.w, CAST(r.pos AS INT), 2) END)
         |  LEFT JOIN wv v1 ON v1.piece = (CASE WHEN r.pos = 1 THEN substring(r.w, 1, 1) ELSE '##' || substring(r.w, CAST(r.pos AS INT), 1) END)
         |  WHERE r.pos <= len(r.w)),
         |fin AS (
         |  SELECT doc_id, wi, max_by(n, pos) AS n,
         |    max_by(unk, pos) AS unk, max_by(seg, pos) AS seg
         |  FROM rec GROUP BY doc_id, wi),
         |wagg AS (
         |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS np,
         |    CAST(sum(unk) AS BIGINT) AS nu
         |  FROM fin GROUP BY doc_id),
         |segf AS (SELECT doc_id, seg FROM fin WHERE wi = 1),
         |wbase AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS nw
         |  FROM ww)
         |SELECT b.doc_id, b.nw AS n_words,
         |  coalesce(a.np, 0) AS n_pieces,
         |  coalesce(a.nu, 0) AS n_unk,
         |  coalesce(a.np, 0) * 1000000 // greatest(b.nw, 1)
         |    AS ppw_ppm,
         |  coalesce(s.seg, '') AS seg_first
         |FROM wbase b
         |LEFT JOIN wagg a USING (doc_id)
         |LEFT JOIN segf s USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin,
    "unigram_vocab" ->
      s"""WITH ${duckUnigramVocab()}
         |SELECT piece, CAST(cnt AS BIGINT) AS cnt,
         |  CAST(rank AS BIGINT) AS rank
         |FROM ugr
         |WHERE rank <= 64 OR len(piece) = 1
         |ORDER BY rank""".stripMargin,
    // EM replay: frequency vocab -> 2 generated EM rounds (forward/
    // backward list chains, micro-floored expectations, integer
    // sums, smoothed prune) -> final (em_score desc, piece) ranking
    "unigram_em_vocab" ->
      s"""WITH ${duckUnigramVocab()},
         |${duckUnigramEm()}
         |SELECT piece, CAST(cnt AS BIGINT) AS em_score,
         |  CAST(row_number() OVER (ORDER BY cnt DESC, piece)
         |    AS BIGINT) AS rank
         |FROM uv3
         |ORDER BY rank""".stripMargin,
    // broad-seed mirror: identical EM chain, the seed CTE widened to
    // the top-256 substring table (the prune schedule still starts
    // at 64 — only the candidate pool changes)
    "unigram_em_broad" ->
      s"""WITH ${duckUnigramVocab(256)},
         |${duckUnigramEm()}
         |SELECT piece, CAST(cnt AS BIGINT) AS em_score,
         |  CAST(row_number() OVER (ORDER BY cnt DESC, piece)
         |    AS BIGINT) AS rank
         |FROM uv3
         |ORDER BY rank""".stripMargin,
    // byte-grain EM mirror: the identical chain over byte-mapped
    // words (codepoint→UTF-8 arithmetic, chr(byte) chars — the
    // engine's ISO-8859-1 fold), hex-rendered at the output edge;
    // rank is fixed on the mapped pieces, whose char order equals
    // the byte order, so both renders agree
    "unigram_em_bytes" ->
      s"""WITH ${duckUnigramVocab(64, unigramBytesFitText,
             byteMap = true)},
         |${duckUnigramEm()}
         |SELECT ${duckHexPieces("piece")} AS piece,
         |  CAST(cnt AS BIGINT) AS em_score,
         |  CAST(row_number() OVER (ORDER BY cnt DESC, piece)
         |    AS BIGINT) AS rank
         |FROM uv3
         |ORDER BY rank""".stripMargin,
    "unigram_em_bytes_sampled" ->
      s"""WITH ${duckUnigramVocab(64, unigramBytesFitText,
             byteMap = true, fitWhere = "doc_id % 4 = 0")},
         |${duckUnigramEm()}
         |SELECT ${duckHexPieces("piece")} AS piece,
         |  CAST(cnt AS BIGINT) AS em_score,
         |  CAST(row_number() OVER (ORDER BY cnt DESC, piece)
         |    AS BIGINT) AS rank
         |FROM uv3
         |ORDER BY rank""".stripMargin,
    "unigram_tokenize" ->
      s"""WITH RECURSIVE ${duckUnigramVocab()},
         |${duckUnigramDp()}
         |SELECT f.w AS word, f.best_score, f.n_pieces, f.n_unk,
         |  f.seg, g.ng AS n_pieces_greedy, g.gsc AS greedy_score
         |FROM ufin f JOIN uggf g USING (w)
         |ORDER BY word""".stripMargin,
    // EM-vocab tokenize mirror: the EM chain's final vocabulary
    // (uv3, smoothed expectation scores) drives the SAME Viterbi DP
    // chain via the vocab parameter
    "unigram_em_tokenize" ->
      s"""WITH RECURSIVE ${duckUnigramVocab()},
         |${duckUnigramEm()},
         |${duckUnigramDp(vocab = "uv3")}
         |SELECT f.w AS word, f.best_score, f.n_pieces, f.n_unk,
         |  f.seg, g.ng AS n_pieces_greedy, g.gsc AS greedy_score
         |FROM ufin f JOIN uggf g USING (w)
         |ORDER BY word""".stripMargin,
    "unigram_apply" ->
      s"""WITH RECURSIVE ${duckUnigramVocab()},
         |${duckUnigramDp()},
         |uww AS (
         |  SELECT doc_id, list_filter(string_split(
         |    lower($unigramTokText), ' '), t -> t != '') AS ws
         |  FROM documents),
         |udw AS (SELECT doc_id, unnest(ws) AS w,
         |    unnest(generate_series(1, CAST(len(ws) AS BIGINT)))
         |      AS wi
         |  FROM uww),
         |uag AS (SELECT doc_id,
         |    CAST(sum(f.n_pieces) AS BIGINT) AS np,
         |    CAST(sum(f.n_unk) AS BIGINT) AS nu
         |  FROM udw u JOIN ufin f ON u.w = f.w GROUP BY doc_id),
         |usf AS (SELECT u.doc_id, f.seg FROM udw u
         |  JOIN ufin f ON u.w = f.w WHERE u.wi = 1),
         |ub AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS nw
         |  FROM uww)
         |SELECT b.doc_id, b.nw AS n_words,
         |  coalesce(a.np, 0) AS n_pieces,
         |  coalesce(a.nu, 0) AS n_unk,
         |  coalesce(a.np, 0) * 1000000 // greatest(b.nw, 1)
         |    AS ppw_ppm,
         |  coalesce(s.seg, '') AS seg_first
         |FROM ub b LEFT JOIN uag a USING (doc_id)
         |LEFT JOIN usf s USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin,
    "viterbi_gain" ->
      s"""WITH RECURSIVE ${duckUnigramVocab()},
         |${duckUnigramDp()},
         |occ AS (
         |  SELECT unnest(list_filter(string_split(
         |    lower($unigramTokText), ' '), t -> t != '')) AS w
         |  FROM documents),
         |j AS (SELECT o.w, f.n_pieces, f.best_score, g.ng, g.gsc
         |  FROM occ o JOIN ufin f USING (w) JOIN uggf g USING (w))
         |SELECT CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(count(DISTINCT w) AS BIGINT) AS n_distinct,
         |  CAST(sum(n_pieces) AS BIGINT) AS np_viterbi,
         |  CAST(sum(ng) AS BIGINT) AS np_greedy,
         |  CAST(count(DISTINCT CASE WHEN n_pieces < ng THEN w END)
         |    AS BIGINT) AS words_improved,
         |  CAST(count(DISTINCT CASE WHEN best_score > gsc THEN w END)
         |    AS BIGINT) AS words_score_improved,
         |  CAST(sum(best_score - gsc) AS BIGINT) AS score_gain,
         |  (CAST(sum(ng) AS BIGINT) - CAST(sum(n_pieces) AS BIGINT))
         |    * 1000000 // greatest(CAST(sum(ng) AS BIGINT), 1)
         |    AS saved_ppm
         |FROM j""".stripMargin,
    "bpe_apply" ->
      s"""WITH ${duckBpeChain()},
         |tok AS (
         |  SELECT doc_id, flatten(list(
         |      list_filter(string_split(repr, ' '), x -> x != '')
         |      ORDER BY pos)) AS toks
         |  FROM dw JOIN w10 USING (word)
         |  GROUP BY doc_id)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
         |  array_to_string(toks, ',') AS tokens
         |FROM tok ORDER BY doc_id""".stripMargin,
    // replays the batched chain (10 rounds × ≤8 dominance-disjoint
    // merges) and tokenizes via the final bw10 vocabulary — the
    // bpe_apply tok CTE at the batched grain
    "bpe_apply_batched" ->
      s"""WITH ${duckBpeBatchedChain(10, 8)},
         |tok AS (
         |  SELECT doc_id, flatten(list(
         |      list_filter(string_split(repr, ' '), x -> x != '')
         |      ORDER BY pos)) AS toks
         |  FROM bdw JOIN bw10 USING (word)
         |  GROUP BY doc_id)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
         |  array_to_string(toks, ',') AS tokens
         |FROM tok ORDER BY doc_id""".stripMargin,
    // byte-level BPE mirror: the identical batched chain seeded with
    // two-hex-digit UTF-8 byte symbols (y-prefixed CTEs)
    "bpe_bytes_apply" ->
      s"""WITH ${duckBpeBatchedChain(10, 8, "y", byteSeed = true)},
         |tok AS (
         |  SELECT doc_id, flatten(list(
         |      list_filter(string_split(repr, ' '), x -> x != '')
         |      ORDER BY pos)) AS toks
         |  FROM ydw JOIN yw10 USING (word)
         |  GROUP BY doc_id)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
         |  array_to_string(toks, ',') AS tokens
         |FROM tok ORDER BY doc_id""".stripMargin,
    // byte-vs-char fertility contrast: planted multibyte slices
    // (real UTF-8 characters in the shared SQL — both engines parse
    // them identically); both chains FIT on the ascii slice (fpl),
    // then the accumulated round-ordered merge lists fold over every
    // distinct word of the planted corpus — the engine's
    // apply-with-merges, replayed
    "fertility_bytes" -> {
      val fold =
        """(acc, m) -> replace(replace(replace(acc, ' ', '  '),
          |      ' ' || string_split(m, chr(1))[1] || '  ' ||
          |        string_split(m, chr(1))[2] || ' ',
          |      ' ' || replace(m, chr(1), '') || ' '), '  ', ' ')"""
          .stripMargin
      def mlCat(pfx: String) = (1 to 10)
        .map(r => s"(SELECT ml FROM ${pfx}m$r)").mkString(" || ")
      s"""WITH pl AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 1
         |           THEN replace(replace(text, 'a', 'ä'), 'e', 'é')
         |         WHEN doc_id % 3 = 2
         |           THEN replace(replace(text, 'o', 'о'), 'i', 'ι')
         |         ELSE text END AS text,
         |    CASE WHEN doc_id % 3 = 1 THEN 'latin_acc'
         |         WHEN doc_id % 3 = 2 THEN 'homoglyph'
         |         ELSE 'ascii' END AS slice
         |  FROM documents),
         |fpl AS (SELECT doc_id, text FROM pl WHERE doc_id % 3 = 0),
         |${duckBpeBatchedChain(10, 8, src = "fpl")},
         |${duckBpeBatchedChain(10, 8, "y", byteSeed = true, src = "fpl")},
         |bml AS (SELECT ${mlCat("b")} AS ml),
         |yml AS (SELECT ${mlCat("y")} AS ml),
         |wds AS (
         |  SELECT DISTINCT unnest(list_filter(
         |      string_split(lower(text), ' '), t -> t != '')) AS word
         |  FROM pl),
         |awc AS (
         |  SELECT word, list_reduce(list_prepend(
         |    ' ' || regexp_replace(word, '([^ ])', '\\1 ', 'g'), ml),
         |    $fold) AS repr
         |  FROM wds, bml),
         |awb AS (
         |  SELECT word, list_reduce(list_prepend(
         |    ' ' || regexp_replace(lower(hex(encode(word))),
         |      '(..)', '\\1 ', 'g'), ml),
         |    $fold) AS repr
         |  FROM wds, yml),
         |pdw AS (
         |  SELECT doc_id, unnest(list_filter(
         |      string_split(lower(text), ' '), t -> t != '')) AS word
         |  FROM pl),
         |fbc AS (
         |  SELECT doc_id, CAST(sum(len(list_filter(
         |      string_split(repr, ' '), x -> x != ''))) AS BIGINT)
         |    AS nc
         |  FROM pdw JOIN awc USING (word)
         |  GROUP BY doc_id),
         |fbb AS (
         |  SELECT doc_id, CAST(sum(len(list_filter(
         |      string_split(repr, ' '), x -> x != ''))) AS BIGINT)
         |    AS nb
         |  FROM pdw JOIN awb USING (word)
         |  GROUP BY doc_id),
         |fbm AS (
         |  SELECT pl.slice,
         |    CAST(len(list_filter(string_split(lower(pl.text), ' '),
         |      t -> t != '')) AS BIGINT) AS w,
         |    fbc.nc, fbb.nb
         |  FROM pl JOIN fbc USING (doc_id) JOIN fbb USING (doc_id)),
         |fbg AS (
         |  SELECT slice, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(w) AS BIGINT) AS n_words,
         |    CAST(sum(nc) AS BIGINT) AS n_bpe_char,
         |    CAST(sum(nb) AS BIGINT) AS n_bpe_bytes
         |  FROM fbm GROUP BY slice)
         |SELECT slice, n_docs, n_words, n_bpe_char, n_bpe_bytes,
         |  CAST((n_bpe_char * 1000000) // n_words AS BIGINT)
         |    AS fertility_char_ppm,
         |  CAST((n_bpe_bytes * 1000000) // n_words AS BIGINT)
         |    AS fertility_bytes_ppm,
         |  CAST((n_bpe_bytes * 1000000) // n_bpe_char AS BIGINT)
         |    AS bytes_vs_char_ppm
         |FROM fbg ORDER BY slice""".stripMargin
    },
    // BPE-grain budget cut: the token_budget_cut recipe with the
    // accounting swapped from whitespace tokens to bpe_apply's
    // tokenizer-grain counts (integral, so the prefix sum and the
    // budget threshold stay engine-exact)
    "token_budget_cut_bpe" ->
      s"""WITH ${duckBpeChain()},
         |bt AS (
         |  SELECT doc_id, CAST(sum(len(list_filter(
         |      string_split(repr, ' '), x -> x != ''))) AS BIGINT)
         |    AS n_bpe_tokens
         |  FROM dw JOIN w10 USING (word)
         |  GROUP BY doc_id),
         |st AS (
         |  SELECT doc_id,
         |    round(least(CAST($duckNTokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |      + (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
         |      + least(CAST(${duckHits("en")} AS DOUBLE) / $duckNTokens * 4.0, 1.0) * 0.3, 6)
         |      AS quality
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, quality, n_bpe_tokens,
         |    sum(n_bpe_tokens) OVER (ORDER BY quality DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cum_tokens
         |  FROM st JOIN bt USING (doc_id))
         |SELECT doc_id, quality, n_bpe_tokens,
         |  CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM c WHERE cum_tokens <= 75000
         |ORDER BY doc_id""".stripMargin,
    // the same budget cut billed via the batched merge-chain replay
    "token_budget_cut_bpe_batched" ->
      s"""WITH ${duckBpeBatchedChain(10, 8)},
         |bt AS (
         |  SELECT doc_id, CAST(sum(len(list_filter(
         |      string_split(repr, ' '), x -> x != ''))) AS BIGINT)
         |    AS n_bpe_tokens
         |  FROM bdw JOIN bw10 USING (word)
         |  GROUP BY doc_id),
         |st AS (
         |  SELECT doc_id,
         |    round(least(CAST($duckNTokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |      + (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
         |      + least(CAST(${duckHits("en")} AS DOUBLE) / $duckNTokens * 4.0, 1.0) * 0.3, 6)
         |      AS quality
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, quality, n_bpe_tokens,
         |    sum(n_bpe_tokens) OVER (ORDER BY quality DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cum_tokens
         |  FROM st JOIN bt USING (doc_id))
         |SELECT doc_id, quality, n_bpe_tokens,
         |  CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM c WHERE cum_tokens <= 40000
         |ORDER BY doc_id""".stripMargin,
    "mix_weights" ->
      s"""WITH tgt(source, target_share) AS (
         |  VALUES ('src0', CAST(0.5 AS DOUBLE)),
         |         ('src1', CAST(0.3 AS DOUBLE)),
         |         ('src2', CAST(0.2 AS DOUBLE))),
         |pd AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum($duckNTokens) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |j AS (
         |  SELECT pd.source, n_docs, n_tokens, target_share
         |  FROM pd JOIN tgt USING (source)),
         |g AS (
         |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
         |    min(CAST(n_tokens AS DOUBLE) / target_share) AS t_out
         |  FROM j)
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
         |  round(CAST(n_tokens AS DOUBLE) / tot, 6) AS natural_share,
         |  target_share,
         |  round(target_share * t_out / n_tokens, 6) AS sample_prob,
         |  round(target_share * t_out, 6) AS expected_tokens
         |FROM j, g ORDER BY source""".stripMargin,
    // mix_weights billed at the batched-tokenizer grain: the batched
    // merge-chain replay (bdw/bw10) feeding the mix_weights tail
    "mix_weights_bpe_batched" ->
      s"""WITH ${duckBpeBatchedChain(10, 8)},
         |bt AS (
         |  SELECT doc_id, CAST(sum(len(list_filter(
         |      string_split(repr, ' '), x -> x != ''))) AS BIGINT)
         |    AS n_bpe
         |  FROM bdw JOIN bw10 USING (word)
         |  GROUP BY doc_id),
         |tgt(source, target_share) AS (
         |  VALUES ('src0', CAST(0.5 AS DOUBLE)),
         |         ('src1', CAST(0.3 AS DOUBLE)),
         |         ('src2', CAST(0.2 AS DOUBLE))),
         |pd AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(n_bpe) AS BIGINT) AS n_tokens
         |  FROM documents JOIN bt USING (doc_id) GROUP BY source),
         |j AS (
         |  SELECT pd.source, n_docs, n_tokens, target_share
         |  FROM pd JOIN tgt USING (source)),
         |g AS (
         |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
         |    min(CAST(n_tokens AS DOUBLE) / target_share) AS t_out
         |  FROM j)
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
         |  round(CAST(n_tokens AS DOUBLE) / tot, 6) AS natural_share,
         |  target_share,
         |  round(target_share * t_out / n_tokens, 6) AS sample_prob,
         |  round(target_share * t_out, 6) AS expected_tokens
         |FROM j, g ORDER BY source""".stripMargin,
    // mix_weights with per-source token mass from the replayed BPE
    // merge chain instead of whitespace counts
    "mix_weights_bpe" ->
      s"""WITH ${duckBpeChain()},
         |bt AS (
         |  SELECT doc_id, CAST(sum(len(list_filter(
         |      string_split(repr, ' '), x -> x != ''))) AS BIGINT)
         |    AS n_bpe
         |  FROM dw JOIN w10 USING (word)
         |  GROUP BY doc_id),
         |tgt(source, target_share) AS (
         |  VALUES ('src0', CAST(0.5 AS DOUBLE)),
         |         ('src1', CAST(0.3 AS DOUBLE)),
         |         ('src2', CAST(0.2 AS DOUBLE))),
         |pd AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(n_bpe) AS BIGINT) AS n_tokens
         |  FROM documents JOIN bt USING (doc_id) GROUP BY source),
         |j AS (
         |  SELECT pd.source, n_docs, n_tokens, target_share
         |  FROM pd JOIN tgt USING (source)),
         |g AS (
         |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
         |    min(CAST(n_tokens AS DOUBLE) / target_share) AS t_out
         |  FROM j)
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
         |  round(CAST(n_tokens AS DOUBLE) / tot, 6) AS natural_share,
         |  target_share,
         |  round(target_share * t_out / n_tokens, 6) AS sample_prob,
         |  round(target_share * t_out, 6) AS expected_tokens
         |FROM j, g ORDER BY source""".stripMargin,
    "curation_funnel" ->
      s"""WITH $duckCurationChain,
         |fq AS (
         |  SELECT doc_id, text FROM st WHERE quality >= 0.5),
         |raw AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0)
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS stage_ord, 'raw' AS stage,
         |    count(*) AS n_docs,
         |    CAST(coalesce(sum($duckNTokens), 0) AS BIGINT) AS n_tokens
         |  FROM raw
         |  UNION ALL
         |  SELECT 2, 'exact_dedup', count(*),
         |    CAST(coalesce(sum($duckNTokens), 0) AS BIGINT) FROM reps
         |  UNION ALL
         |  SELECT 3, 'quality_gate', count(*),
         |    CAST(coalesce(sum($duckNTokens), 0) AS BIGINT) FROM fq
         |  UNION ALL
         |  SELECT 4, 'lang_gate', count(*),
         |    CAST(coalesce(sum($duckNTokens), 0) AS BIGINT) FROM kept
         |  UNION ALL
         |  SELECT 5, 'decontaminated', count(*),
         |    CAST(coalesce(sum($duckNTokens), 0) AS BIGINT) FROM clean
         |) ORDER BY stage_ord""".stripMargin,
    "prep_e2e" ->
      s"""WITH $duckCurationChain,
         |chunks AS (
         |  SELECT doc_id, CAST((s - 1) // 150 AS BIGINT) AS chunk_id,
         |    substring(text, CAST(s AS INT), 200) AS chunk
         |  FROM starts),
         |sp AS (
         |  SELECT doc_id, chunk_id, chunk,
         |    ((doc_id % 1073741824) * 2654435761 + 7) % $P % 1000
         |      AS bucket
         |  FROM chunks),
         |tr AS (
         |  SELECT doc_id, chunk_id, chunk,
         |    doc_id * 1000000 + chunk_id AS cid
         |  FROM sp WHERE bucket < 960),
         |st2 AS (
         |  SELECT doc_id, chunk_id, cid,
         |    CAST(len(string_split_regex(trim(chunk), '\\s+'))
         |      AS BIGINT) AS n_tokens,
         |    CAST(((cid % 1073741824) * 2654435761 + 0) % $P % 1000 % 4
         |      AS BIGINT) AS shard
         |  FROM tr),
         |o AS (
         |  SELECT doc_id, chunk_id, n_tokens, shard,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY shard
         |      ORDER BY cid
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS tok_offset
         |  FROM st2)
         |SELECT doc_id, chunk_id, n_tokens, shard,
         |  CAST(tok_offset AS BIGINT) AS tok_offset,
         |  CAST(tok_offset // 256 AS BIGINT) AS pack_first,
         |  CAST((tok_offset + greatest(n_tokens, 1) - 1) // 256
         |    AS BIGINT) AS pack_last
         |FROM o ORDER BY doc_id, chunk_id""".stripMargin,
    "rep_ratio" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN len(t) < 2 THEN 0.0 ELSE
        |    round(1.0 - CAST(len(list_distinct(
        |        list_transform(generate_series(1, len(t) - 1),
        |          i -> t[i] || ' ' || t[i + 1]))) AS DOUBLE)
        |      / (len(t) - 1), 6) END AS rep_ratio
        |FROM toks ORDER BY doc_id""".stripMargin,
    "tfidf_topterms" ->
      """WITH tokens AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(lower(text), ' '),
        |      t -> length(t) > 2)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        |       FROM tokens GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    round(tf.tf * (ln((nd.n + 1.0) / (dfreq.df + 1.0)) + 1.0), 6)
        |      AS tfidf
        |  FROM tf, dfreq, nd WHERE tf.term = dfreq.term),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
        |  CAST(df AS BIGINT) AS df, tfidf, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "decontaminate" ->
      s"""WITH th AS (
         |  SELECT doc_id,
         |    list_transform(
         |      list_filter(string_split(lower(text), ' '),
         |        t -> t != ''),
         |      t -> ${duckPolyHash("t")}) AS th
         |  FROM documents
         |  WHERE len(list_filter(string_split(lower(text), ' '),
         |        t -> t != '')) > 0),
         |grams AS (
         |  SELECT doc_id,
         |    unnest(list_transform(
         |      generate_series(1, greatest(len(th) - 7, 1)),
         |      i -> list_reduce(
         |             list_slice(th, i, i + least(8, len(th)) - 1),
         |             (acc, h) -> (acc * 31 + h) % $P))) AS gram
         |  FROM th),
         |bad AS (
         |  SELECT DISTINCT tr.doc_id
         |  FROM grams tr JOIN grams ev ON tr.gram = ev.gram
         |  WHERE tr.doc_id % 2 = 0 AND ev.doc_id % 2 = 1)
         |SELECT doc_id FROM documents
         |WHERE doc_id % 2 = 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
         |ORDER BY doc_id""".stripMargin,
    "span_dup_windows" ->
      s"""WITH $duckSpanChain
         |SELECT doc_id, win_start, gram FROM sgrams
         |WHERE gram IN (SELECT gram FROM sdup)
         |ORDER BY doc_id, win_start""".stripMargin,
    "span_runs" ->
      s"""WITH $duckSpanChain,
         |dw AS (
         |  SELECT doc_id, win_start FROM sgrams
         |  WHERE gram IN (SELECT gram FROM sdup)),
         |m AS (
         |  SELECT doc_id, win_start,
         |    max(win_start + 20) OVER (PARTITION BY doc_id
         |      ORDER BY win_start
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         |  FROM dw),
         |r AS (
         |  SELECT doc_id, win_start,
         |    sum(CASE WHEN pmax IS NULL OR win_start > pmax
         |        THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY win_start) AS run_id
         |  FROM m)
         |SELECT doc_id,
         |  min(win_start) AS run_start,
         |  max(win_start) + 19 AS run_end,
         |  max(win_start) + 20 - min(win_start) AS run_tokens,
         |  CAST(count(*) AS BIGINT) AS n_windows
         |FROM r GROUP BY doc_id, run_id
         |ORDER BY doc_id, run_start""".stripMargin,
    "span_scrub" ->
      s"""WITH $duckSpanChain,
         |dupw AS (
         |  SELECT doc_id, win_start, gram FROM sgrams
         |  WHERE gram IN (SELECT gram FROM sdup)),
         |nc AS (
         |  SELECT doc_id, win_start FROM (
         |    SELECT doc_id, win_start, row_number() OVER
         |      (PARTITION BY gram ORDER BY doc_id, win_start) AS rn
         |    FROM dupw)
         |  WHERE rn > 1),
         |cov AS (
         |  SELECT DISTINCT doc_id, pos FROM (
         |    SELECT doc_id,
         |      unnest(generate_series(win_start, win_start + 19))
         |        AS pos
         |    FROM nc)),
         |tk AS (
         |  SELECT doc_id,
         |    list_filter(string_split(lower(text), ' '),
         |      t -> t != '') AS t
         |  FROM documents),
         |tp AS (
         |  SELECT doc_id, unnest(t) AS tok,
         |    unnest(generate_series(1, len(t))) AS pos
         |  FROM tk),
         |kept AS (
         |  SELECT tp.doc_id, tp.pos, tp.tok
         |  FROM tp LEFT JOIN cov
         |    ON tp.doc_id = cov.doc_id AND tp.pos = cov.pos
         |  WHERE cov.pos IS NULL),
         |nt AS (
         |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM tk)
         |SELECT k.doc_id,
         |  string_agg(tok, ' ' ORDER BY k.pos) AS scrubbed_text,
         |  CAST(count(*) AS BIGINT) AS n_kept,
         |  CAST(min(nt.n) - count(*) AS BIGINT) AS n_removed
         |FROM kept k JOIN nt ON k.doc_id = nt.doc_id
         |GROUP BY k.doc_id ORDER BY k.doc_id""".stripMargin,
    "span_dedup_stats" ->
      s"""WITH $duckSpanChain,
         |dupw AS (
         |  SELECT doc_id, win_start FROM sgrams
         |  WHERE gram IN (SELECT gram FROM sdup)),
         |u2 AS (
         |  SELECT doc_id, win_start, win_start + 20 AS win_end,
         |    max(win_start + 20) OVER (PARTITION BY doc_id
         |      ORDER BY win_start
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS pmax
         |  FROM dupw),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_dup_windows,
         |    sum(greatest(0, win_end -
         |      greatest(coalesce(pmax, win_start), win_start)))
         |      AS dup_tokens
         |  FROM u2 GROUP BY doc_id),
         |nt AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(string_split(lower(text), ' '),
         |      t -> t != '')) AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT a.doc_id, CAST(n_dup_windows AS BIGINT)
         |    AS n_dup_windows,
         |  CAST(dup_tokens AS BIGINT) AS dup_tokens, n_tokens,
         |  round(CAST(dup_tokens AS DOUBLE) / n_tokens, 6)
         |    AS dup_ratio
         |FROM agg a JOIN nt USING (doc_id) ORDER BY a.doc_id""".stripMargin,
    "contamination_report" ->
      s"""WITH th AS (
         |  SELECT doc_id,
         |    list_transform(
         |      list_filter(string_split(lower(text), ' '),
         |        t -> t != ''),
         |      t -> ${duckPolyHash("t")}) AS th
         |  FROM documents
         |  WHERE len(list_filter(string_split(lower(text), ' '),
         |        t -> t != '')) > 0),
         |grams AS (
         |  SELECT DISTINCT doc_id, gram FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(
         |        generate_series(1, greatest(len(th) - 7, 1)),
         |        i -> list_reduce(
         |               list_slice(th, i, i + least(8, len(th)) - 1),
         |               (acc, h) -> (acc * 31 + h) % $P))) AS gram
         |    FROM th)),
         |eg AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 2 = 1),
         |tr AS (SELECT doc_id, gram FROM grams WHERE doc_id % 2 = 0)
         |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(count(e.gram) AS BIGINT) AS n_hits,
         |  round(CAST(count(e.gram) AS DOUBLE) / count(*), 6)
         |    AS overlap_ratio
         |FROM tr t LEFT JOIN eg e ON t.gram = e.gram
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    // source-overlap mirror: same token/gram hash chain keyed by
    // source; the oracle takes the straightforward gram self-join
    // (the engine's source-set combination explode is plan shape,
    // not semantics)
    "source_overlap" ->
      s"""WITH th AS (
         |  SELECT source,
         |    list_transform(
         |      list_filter(string_split(lower(text), ' '),
         |        t -> t != ''),
         |      t -> ${duckPolyHash("t")}) AS th
         |  FROM documents
         |  WHERE len(list_filter(string_split(lower(text), ' '),
         |        t -> t != '')) > 0),
         |grams AS (
         |  SELECT DISTINCT source AS src, gram FROM (
         |    SELECT source,
         |      unnest(list_transform(
         |        generate_series(1, greatest(len(th) - 7, 1)),
         |        i -> list_reduce(
         |               list_slice(th, i, i + least(8, len(th)) - 1),
         |               (acc, h) -> (acc * 31 + h) % $P))) AS gram
         |    FROM th)),
         |sizes AS (
         |  SELECT src, CAST(count(*) AS BIGINT) AS n FROM grams
         |  GROUP BY src),
         |common AS (
         |  SELECT a.src AS src_a, b.src AS src_b,
         |    CAST(count(*) AS BIGINT) AS n_common
         |  FROM grams a JOIN grams b
         |    ON a.gram = b.gram AND a.src < b.src
         |  GROUP BY 1, 2),
         |scaffold AS (
         |  SELECT a.src AS src_a, b.src AS src_b,
         |    a.n AS grams_a, b.n AS grams_b
         |  FROM sizes a JOIN sizes b ON a.src < b.src)
         |SELECT s.src_a, s.src_b, s.grams_a, s.grams_b,
         |  CAST(coalesce(c.n_common, 0) AS BIGINT) AS n_common,
         |  CAST((coalesce(c.n_common, 0) * 1000000)
         |    // (s.grams_a + s.grams_b - coalesce(c.n_common, 0))
         |    AS BIGINT) AS jaccard_ppm
         |FROM scaffold s LEFT JOIN common c
         |  ON c.src_a = s.src_a AND c.src_b = s.src_b
         |ORDER BY s.src_a, s.src_b""".stripMargin,
    "corpus_diff" ->
      s"""WITH f1 AS (
         |  SELECT DISTINCT ${duckPolyHash("lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))")}
         |    AS fp
         |  FROM documents WHERE doc_id < 400),
         |f2 AS (
         |  SELECT DISTINCT ${duckPolyHash("lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))")}
         |    AS fp
         |  FROM documents WHERE doc_id >= 100)
         |SELECT * FROM (
         |  SELECT 'added' AS change, CAST(count(*) AS BIGINT)
         |      AS n_contents
         |  FROM f2 WHERE fp NOT IN (SELECT fp FROM f1)
         |  UNION ALL
         |  SELECT 'removed', CAST(count(*) AS BIGINT)
         |  FROM f1 WHERE fp NOT IN (SELECT fp FROM f2)
         |  UNION ALL
         |  SELECT 'unchanged', CAST(count(*) AS BIGINT)
         |  FROM f2 WHERE fp IN (SELECT fp FROM f1)
         |) ORDER BY change""".stripMargin,
    "sample_stratified" ->
      s"""WITH b AS (
         |  SELECT doc_id, lang,
         |    ((doc_id % 1073741824) * 2654435761 + 42) % $P % 1000
         |      AS bucket
         |  FROM documents)
         |SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket
         |FROM b
         |WHERE CASE WHEN lang = 'en' THEN bucket < 200
         |      ELSE bucket < 500 END
         |ORDER BY doc_id""".stripMargin,
    "hash_split" ->
      s"""WITH b AS (
         |  SELECT doc_id,
         |    ((doc_id % 1073741824) * 2654435761 + 7) % $P % 1000
         |      AS bucket
         |  FROM documents)
         |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
         |  CASE WHEN bucket < 960 THEN 'train'
         |       WHEN bucket < 980 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,
    "pack_sequences" ->
      s"""WITH st AS (
         |  SELECT doc_id,
         |    CAST($duckNTokens AS BIGINT) AS n_tokens,
         |    CAST(((doc_id % 1073741824) * 2654435761 + 0) % $P % 1000 % 8
         |      AS BIGINT) AS shard
         |  FROM documents),
         |o AS (
         |  SELECT doc_id, n_tokens, shard,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY shard
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS tok_offset
         |  FROM st)
         |SELECT doc_id, n_tokens, shard,
         |  CAST(tok_offset AS BIGINT) AS tok_offset,
         |  CAST(tok_offset // 256 AS BIGINT) AS pack_first,
         |  CAST((tok_offset + greatest(n_tokens, 1) - 1) // 256
         |    AS BIGINT) AS pack_last
         |FROM o ORDER BY doc_id""".stripMargin,
    "incremental_dedup" ->
      s"""WITH fp AS (
         |  SELECT doc_id,
         |    ${duckPolyHash("lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))")}
         |      AS fp
         |  FROM documents)
         |SELECT a.doc_id FROM fp a
         |WHERE a.doc_id % 2 = 1
         |  AND a.fp NOT IN (SELECT fp FROM fp WHERE doc_id % 2 = 0)
         |ORDER BY a.doc_id""".stripMargin,
    "unigram_score" ->
      s"""WITH th AS (
         |  SELECT doc_id,
         |    list_transform(
         |      list_filter(string_split(lower(text), ' '),
         |        t -> t != ''),
         |      t -> ${duckPolyHash("t")}) AS th
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(th) AS tok FROM th),
         |counts AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
         |vocab AS (SELECT tok, cnt FROM counts
         |          ORDER BY cnt DESC, tok ASC LIMIT 1000),
         |tot AS (SELECT sum(cnt) AS total FROM counts),
         |per AS (
         |  SELECT t.doc_id, count(*) AS n_tokens,
         |    sum(coalesce(v.cnt, 0)) AS vocab_count
         |  FROM tok t LEFT JOIN vocab v USING (tok)
         |  GROUP BY t.doc_id)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(vocab_count AS BIGINT) AS vocab_count,
         |  round(CAST(vocab_count AS DOUBLE) / n_tokens
         |    / (SELECT total FROM tot) * 1000000, 6) AS freq_ppm
         |FROM per ORDER BY doc_id""".stripMargin,
    "cluster_keep_best" ->
      s"""WITH RECURSIVE $repsCte, ${sigCteFrom("reps")}, $bandCte, ${cappedCte()},
         |$verifiedCtes,
         |sym AS (SELECT id1 AS a, id2 AS b FROM verified
         |        UNION ALL SELECT id2, id1 FROM verified),
         |walk AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT w.a, s.b FROM walk w JOIN sym s ON w.b = s.a),
         |labels AS (
         |  SELECT a AS doc_id, least(a, min(b)) AS cluster
         |  FROM walk GROUP BY a),
         |clustered AS (
         |  SELECT r.doc_id, coalesce(l.cluster, r.doc_id) AS cluster
         |  FROM reps r LEFT JOIN labels l USING (doc_id)),
         |q AS (
         |  SELECT doc_id,
         |    round(least(CAST($duckNTokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |      + (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
         |      + least(CAST(${duckHits("en")} AS DOUBLE) / $duckNTokens * 4.0, 1.0) * 0.3, 6)
         |      AS quality
         |  FROM documents),
         |ranked AS (
         |  SELECT c.cluster, c.doc_id, q.quality,
         |    row_number() OVER (PARTITION BY c.cluster
         |      ORDER BY q.quality DESC, c.doc_id ASC) AS rn,
         |    count(*) OVER (PARTITION BY c.cluster) AS n_members
         |  FROM clustered c JOIN q USING (doc_id))
         |SELECT cluster, doc_id, quality,
         |  CAST(n_members AS BIGINT) AS n_members
         |FROM ranked WHERE rn = 1 ORDER BY cluster""".stripMargin,
    "embed_truncate" ->
      s"""WITH v AS (SELECT vec_id, $duckVec AS vec FROM embeddings),
         |t AS (SELECT vec_id, list_slice(vec, 1, 16) AS tv FROM v),
         |n AS (
         |  SELECT vec_id, tv,
         |    sqrt(list_reduce(list_transform(tv, x -> x * x),
         |      (a, b) -> a + b)) AS nrm
         |  FROM t)
         |SELECT vec_id, round(nrm, 6) AS tnorm,
         |  array_to_string(list_transform(tv, x ->
         |    printf('%.6f', CASE WHEN nrm > 0
         |      THEN round(x / nrm, 6) ELSE 0.0 END + 0.0)), ',')
         |    AS tvec
         |FROM n ORDER BY vec_id""".stripMargin,
    "embed_quantize" ->
      s"""WITH v AS (SELECT vec_id, $duckVec AS vec FROM embeddings),
         |sc AS (
         |  SELECT vec_id, vec,
         |    list_max(list_transform(vec, x -> abs(x))) / 127.0 AS scale
         |  FROM v)
         |SELECT vec_id, round(scale, 6) AS scale,
         |  array_to_string(list_transform(vec, x ->
         |    CASE WHEN scale > 0
         |    THEN CAST(CAST(round_even(CAST(x / scale AS DECIMAL(28,12)), 0)
         |         AS INT) AS VARCHAR)
         |    ELSE '0' END), ',') AS qvec
         |FROM sc ORDER BY vec_id""".stripMargin,
    "chunk_windows" ->
      """WITH starts AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(1, length(text), 150)) AS s
        |  FROM documents WHERE length(text) >= 1)
        |SELECT doc_id, CAST((s - 1) // 150 AS BIGINT) AS chunk_id,
        |  substring(text, CAST(s AS INT), 200) AS chunk,
        |  CAST(length(substring(text, CAST(s AS INT), 200)) AS BIGINT)
        |    AS chunk_len
        |FROM starts ORDER BY doc_id, chunk_id""".stripMargin,
    // same cut rule replayed: boundary set from the shingle hashes,
    // 0-based chunk ids from the boundary index
    "cdc_chunks" ->
      s"""WITH ${cdcCte()}
         |SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id,
         |  ch AS chunk, chlen AS chunk_len
         |FROM cc ORDER BY doc_id, chunk_id""".stripMargin,
    // first occurrence (doc, chunk_id order) owns each chunk text;
    // later occurrences are duplicates
    "cdc_dedup_stats" ->
      s"""WITH ${cdcCte()},
         |r AS (
         |  SELECT doc_id, cid, chlen, row_number() OVER
         |    (PARTITION BY ch ORDER BY doc_id, cid) AS rn
         |  FROM cc)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS dup_chunks,
         |  CAST(sum(CASE WHEN rn > 1 THEN chlen ELSE 0 END) AS BIGINT)
         |    AS dup_chars,
         |  CAST(sum(chlen) AS BIGINT) AS n_chars,
         |  round(CAST(sum(CASE WHEN rn > 1 THEN chlen ELSE 0 END)
         |    AS DOUBLE) / sum(chlen), 6) AS dup_frac
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "cdc_scrub" ->
      s"""WITH ${cdcCte()},
         |r AS (
         |  SELECT doc_id, cid, ch, row_number() OVER
         |    (PARTITION BY ch ORDER BY doc_id, cid) AS rn
         |  FROM cc)
         |SELECT doc_id, string_agg(ch, '' ORDER BY cid) AS scrubbed,
         |  CAST(length(string_agg(ch, '' ORDER BY cid)) AS BIGINT)
         |    AS scrubbed_len
         |FROM r WHERE rn = 1
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "curation_pipeline" ->
      s"""WITH st AS (
         |  SELECT doc_id,
         |    CAST($duckNTokens AS BIGINT) AS n_tokens,
         |    round(least(CAST($duckNTokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |      + (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
         |      + least(CAST(${duckHits("en")} AS DOUBLE) / $duckNTokens * 4.0, 1.0) * 0.3, 6)
         |      AS quality,
         |    CASE
         |      WHEN ${duckHits("en")} >= greatest(greatest(${duckHits("es")}, 0), greatest(${duckHits("fr")}, 0), greatest(${duckHits("de")}, 0)) AND ${duckHits("en")} > 0 THEN 'en'
         |      WHEN ${duckHits("es")} >= greatest(greatest(${duckHits("en")}, 0), greatest(${duckHits("fr")}, 0), greatest(${duckHits("de")}, 0)) AND ${duckHits("es")} > 0 THEN 'es'
         |      WHEN ${duckHits("fr")} >= greatest(greatest(${duckHits("en")}, 0), greatest(${duckHits("es")}, 0), greatest(${duckHits("de")}, 0)) AND ${duckHits("fr")} > 0 THEN 'fr'
         |      WHEN ${duckHits("de")} >= greatest(greatest(${duckHits("en")}, 0), greatest(${duckHits("es")}, 0), greatest(${duckHits("fr")}, 0)) AND ${duckHits("de")} > 0 THEN 'de'
         |      ELSE 'und' END AS pred_lang,
         |    ${duckPolyHash("lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))")}
         |      AS fingerprint
         |  FROM documents),
         |kept AS (
         |  SELECT * FROM st WHERE quality >= 0.5 AND pred_lang = 'en')
         |SELECT min(doc_id) AS doc_id,
         |  arg_min(n_tokens, doc_id) AS n_tokens,
         |  arg_min(quality, doc_id) AS quality
         |FROM kept GROUP BY fingerprint ORDER BY doc_id""".stripMargin,
    // curation_v3 mirror: gate CTEs (gopher + repetition ppm), exact
    // dedup, the decontaminate gram chain, the DSIR chain, rank cut
    "curation_v3" ->
      s"""WITH gt AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      $duckNTokens AS nt,
         |      CAST(length(regexp_replace(text, '\\s', '', 'g'))
         |        AS DOUBLE) / $duckNTokens AS awl,
         |      CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '',
         |        'g')) AS DOUBLE) / length(text) AS sym,
         |      CAST(${duckHits("en")} AS DOUBLE) / $duckNTokens AS swr
         |    FROM documents WHERE doc_id % 2 = 0)
         |  WHERE nt >= 40 AND nt <= 1000 AND awl >= 2.0
         |    AND awl <= 12.0 AND sym <= 0.1 AND swr >= 0.0),
         |rtk AS (
         |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
         |    t -> t != '') AS tk
         |  FROM documents WHERE doc_id % 2 = 0),
         |rw AS (
         |  SELECT doc_id, list_sum(list_transform(tk, t -> length(t)))
         |    AS wchars FROM rtk),
         |rg2 AS (
         |  SELECT doc_id, gram, count(*) AS c FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      generate_series(1, len(tk) - 1),
         |      i -> tk[i] || ' ' || tk[i + 1])) AS gram
         |    FROM rtk WHERE len(tk) >= 2) GROUP BY 1, 2),
         |rga AS (
         |  SELECT doc_id, max(c * (length(gram) - 1)) AS top2
         |  FROM rg2 GROUP BY 1),
         |rep AS (
         |  SELECT r.doc_id FROM rtk r
         |  LEFT JOIN rw USING (doc_id) LEFT JOIN rga USING (doc_id)
         |  WHERE (CASE WHEN rw.wchars > 0 AND rga.top2 IS NOT NULL
         |    THEN rga.top2 * 1000000 // rw.wchars ELSE 0 END)
         |    <= 150000),
         |gated AS (
         |  SELECT gt.doc_id, gt.text FROM gt JOIN rep USING (doc_id)),
         |drep AS (
         |  SELECT min(doc_id) AS doc_id FROM gated GROUP BY text),
         |surv AS (
         |  SELECT g.doc_id, g.text FROM gated g JOIN drep USING (doc_id)),
         |dth AS (
         |  SELECT doc_id, list_transform(
         |    list_filter(string_split(lower(text), ' '), t -> t != ''),
         |    t -> ${duckPolyHash("t")}) AS th
         |  FROM (SELECT doc_id, text FROM surv
         |        UNION ALL
         |        SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1)
         |  WHERE len(list_filter(string_split(lower(text), ' '),
         |        t -> t != '')) > 0),
         |dgr AS (
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, greatest(len(th) - 7, 1)),
         |    i -> list_reduce(
         |           list_slice(th, i, i + least(8, len(th)) - 1),
         |           (acc, h) -> (acc * 31 + h) % $P))) AS gram
         |  FROM dth),
         |bad AS (
         |  SELECT DISTINCT tr.doc_id
         |  FROM dgr tr JOIN dgr ev ON tr.gram = ev.gram
         |  WHERE tr.doc_id % 2 = 0 AND ev.doc_id % 2 = 1),
         |kept AS (
         |  SELECT doc_id FROM surv
         |  WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
         |sth AS (
         |  SELECT doc_id, source = 'src0' AS is_target,
         |    list_transform(
         |      list_filter(string_split(lower(text), ' '),
         |        t -> t != ''),
         |      t -> ${duckPolyHash("t")}) AS th
         |  FROM documents),
         |sc0 AS (
         |  SELECT doc_id, is_target, list_transform(range(0, 32),
         |    b -> CAST(len(list_filter(th, h -> h % 32 = b))
         |         AS BIGINT)) AS cnt
         |  FROM sth WHERE len(th) > 0),
         |se AS (
         |  SELECT is_target, b, sum(v) AS v FROM (
         |    SELECT is_target, unnest(range(0, 32)) AS b,
         |      unnest(cnt) AS v FROM sc0) GROUP BY 1, 2),
         |sf2 AS (
         |  SELECT is_target, list(CAST(v AS BIGINT) ORDER BY b) AS vs,
         |    CAST(sum(v) AS BIGINT) AS tot
         |  FROM se GROUP BY 1),
         |sk AS (
         |  SELECT max(CASE WHEN is_target THEN vs END) AS tv,
         |    max(CASE WHEN is_target THEN tot END) AS tt,
         |    max(CASE WHEN NOT is_target THEN vs END) AS rv,
         |    max(CASE WHEN NOT is_target THEN tot END) AS rt
         |  FROM sf2),
         |sc AS (
         |  SELECT doc_id,
         |    round(list_reduce(list_transform(generate_series(1, 32),
         |      b -> cnt[b] * (ln((tv[b] + 1) / (tt + 32))
         |                     - ln((rv[b] + 1) / (rt + 32)))),
         |      (a, x) -> a + x), 6) AS dsir_score
         |  FROM sc0, sk),
         |topk AS (
         |  SELECT k.doc_id, s.dsir_score, row_number() OVER
         |    (ORDER BY s.dsir_score DESC, k.doc_id) AS rk
         |  FROM kept k JOIN sc s ON k.doc_id = s.doc_id)
         |SELECT doc_id, dsir_score FROM topk WHERE rk <= 50
         |ORDER BY doc_id""".stripMargin,
    // composition pin: heuristic gates + exact-dedup reps (the
    // curation_pipeline chain) ∩ LR-gate keeps, then the CDC scrub
    // replayed over the survivor set
    "curation_v2" ->
      s"""WITH st AS (
         |  SELECT doc_id,
         |    round(least(CAST($duckNTokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |      + (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
         |      + least(CAST(${duckHits("en")} AS DOUBLE) / $duckNTokens * 4.0, 1.0) * 0.3, 6)
         |      AS quality,
         |    CASE
         |      WHEN ${duckHits("en")} >= greatest(greatest(${duckHits("es")}, 0), greatest(${duckHits("fr")}, 0), greatest(${duckHits("de")}, 0)) AND ${duckHits("en")} > 0 THEN 'en'
         |      WHEN ${duckHits("es")} >= greatest(greatest(${duckHits("en")}, 0), greatest(${duckHits("fr")}, 0), greatest(${duckHits("de")}, 0)) AND ${duckHits("es")} > 0 THEN 'es'
         |      WHEN ${duckHits("fr")} >= greatest(greatest(${duckHits("en")}, 0), greatest(${duckHits("es")}, 0), greatest(${duckHits("de")}, 0)) AND ${duckHits("fr")} > 0 THEN 'fr'
         |      WHEN ${duckHits("de")} >= greatest(greatest(${duckHits("en")}, 0), greatest(${duckHits("es")}, 0), greatest(${duckHits("fr")}, 0)) AND ${duckHits("de")} > 0 THEN 'de'
         |      ELSE 'und' END AS pred_lang,
         |    ${duckPolyHash("lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))")}
         |      AS fingerprint
         |  FROM documents),
         |ckept AS (
         |  SELECT * FROM st WHERE quality >= 0.5 AND pred_lang = 'en'),
         |creps AS (
         |  SELECT min(doc_id) AS doc_id,
         |    arg_min(quality, doc_id) AS quality
         |  FROM ckept GROUP BY fingerprint),
         |$duckLrChain,
         |lrk AS (
         |  SELECT doc_id, round(z, 6) + 0.0 AS lr_score
         |  FROM lrz WHERE z >= 0.0),
         |sv AS (
         |  SELECT r.doc_id, d.text, r.quality, l.lr_score
         |  FROM creps r JOIN lrk l USING (doc_id)
         |  JOIN documents d USING (doc_id)),
         |${cdcCte("sv")},
         |occ AS (
         |  SELECT doc_id, cid, ch, row_number() OVER
         |    (PARTITION BY ch ORDER BY doc_id, cid) AS rn
         |  FROM cc),
         |scr AS (
         |  SELECT doc_id, string_agg(ch, '' ORDER BY cid) AS scrubbed
         |  FROM occ WHERE rn = 1 GROUP BY doc_id)
         |SELECT s.doc_id, v.quality, v.lr_score, s.scrubbed,
         |  CAST(length(s.scrubbed) AS BIGINT) AS scrubbed_len
         |FROM scr s JOIN sv v ON v.doc_id = s.doc_id
         |ORDER BY s.doc_id""".stripMargin,
    "multimodal_meta" ->
      """SELECT doc_id, 'text/plain; charset=utf-8' AS mime,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  md5(text) AS checksum,
        |  array_to_string(list_transform(range(0, 4), i ->
        |    CASE WHEN i * 16 + 1 <= length(text)
        |         THEN ascii(substring(text, CAST(i * 16 + 1 AS INT), 1))
        |         ELSE 0 END), ',') AS sample
        |FROM documents ORDER BY doc_id""".stripMargin,
    // media_dispatch mirror: expected features recomputed from the
    // codepoints per payload class (the multimodal_decode and
    // multimodal_audio mirrors, CASE-selected by doc_id % 3)
    "media_dispatch" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    list_transform(range(0, 192), j ->
        |      CASE WHEN j + 1 <= length(text)
        |      THEN ascii(substring(text, CAST(j + 1 AS INT), 1)) % 256
        |      ELSE 0 END) AS v,
        |    list_transform(range(0, 64), j ->
        |      CAST(((CASE WHEN j + 1 <= length(text)
        |        THEN ascii(substring(text, CAST(j + 1 AS INT), 1)) % 256
        |        ELSE 0 END) - 128) * 256 AS BIGINT)) AS s
        |  FROM documents)
        |SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT)
        |    WHEN 0 THEN CAST(246 AS BIGINT)
        |    WHEN 1 THEN CAST(172 AS BIGINT)
        |    ELSE CAST(least(length(text), 192) AS BIGINT)
        |  END AS n_bytes,
        |  CASE CAST(doc_id % 3 AS INT)
        |    WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav_pcm'
        |    ELSE 'unknown' END AS kind,
        |  CASE CAST(doc_id % 3 AS INT)
        |    WHEN 0 THEN array_to_string(list_transform([
        |      8.0,
        |      8.0,
        |      list_sum(list_transform(range(0, 64),
        |        i -> CAST(v[3*i + 1] AS DOUBLE))) / 64,
        |      list_sum(list_transform(range(0, 64),
        |        i -> CAST(v[3*i + 2] AS DOUBLE))) / 64,
        |      list_sum(list_transform(range(0, 64),
        |        i -> CAST(v[3*i + 3] AS DOUBLE))) / 64],
        |      x -> printf('%.6f', x + 0.0)), ',')
        |    WHEN 1 THEN array_to_string(list_transform([
        |      8000.0,
        |      64.0,
        |      sqrt(list_sum(list_transform(s,
        |        x -> CAST(x * x AS DOUBLE))) / 64),
        |      CAST(list_max(list_transform(s, x -> abs(x)))
        |        AS DOUBLE),
        |      CAST(list_sum(list_transform(range(1, 64), j ->
        |        CASE WHEN s[j] * s[j + 1] < 0 THEN 1 ELSE 0 END))
        |        AS DOUBLE)],
        |      x -> printf('%.6f', x + 0.0)), ',')
        |    ELSE '' END AS feat
        |FROM b ORDER BY doc_id""".stripMargin,
    "multimodal_decode" ->
      """WITH b AS (
        |  SELECT doc_id, list_transform(range(0, 192), j ->
        |    CASE WHEN j + 1 <= length(text)
        |    THEN ascii(substring(text, CAST(j + 1 AS INT), 1)) % 256
        |    ELSE 0 END) AS v
        |  FROM documents)
        |SELECT doc_id, CAST(246 AS BIGINT) AS n_bytes,
        |  list_sum(list_transform(range(0, 64),
        |    i -> CAST(v[3*i + 1] AS DOUBLE))) / 64 AS mean_r,
        |  list_sum(list_transform(range(0, 64),
        |    i -> CAST(v[3*i + 2] AS DOUBLE))) / 64 AS mean_g,
        |  list_sum(list_transform(range(0, 64),
        |    i -> CAST(v[3*i + 3] AS DOUBLE))) / 64 AS mean_b,
        |  list_sum(list_transform(range(0, 16),
        |    i -> CAST(v[3*(16*(i // 4) + 2*(i % 4)) + 1] AS DOUBLE)))
        |    / 16 AS rs_mean_r,
        |  TRUE AS roundtrip_ok
        |FROM b ORDER BY doc_id""".stripMargin,
    "multimodal_codec" ->
      """WITH b AS (
        |  SELECT doc_id, list_transform(range(0, 192), j ->
        |    CASE WHEN j + 1 <= length(text)
        |    THEN ascii(substring(text, CAST(j + 1 AS INT), 1)) % 256
        |    ELSE 0 END) AS v
        |  FROM documents)
        |SELECT doc_id,
        |  list_sum(list_transform(range(0, 64),
        |    i -> CAST(v[3*i + 1] AS DOUBLE))) / 64 AS mean_r,
        |  list_sum(list_transform(range(0, 64),
        |    i -> CAST(v[3*i + 2] AS DOUBLE))) / 64 AS mean_g,
        |  list_sum(list_transform(range(0, 64),
        |    i -> CAST(v[3*i + 3] AS DOUBLE))) / 64 AS mean_b,
        |  list_sum(list_transform(range(0, 16),
        |    i -> CAST(v[3*(16*(i // 4) + 2*(i % 4)) + 1] AS DOUBLE)))
        |    / 16 AS rs_mean_r,
        |  TRUE AS roundtrip_ok
        |FROM b ORDER BY doc_id""".stripMargin,
    // patchify mirror: patch p covers rows (p//2)*4.., cols
    // (p%2)*4..; within-patch pixel q walks row-major; the fp fold's
    // init-less list_reduce equals the engine's 0-seeded fold (first
    // element < P)
    "multimodal_patchify" ->
      s"""WITH b AS (
         |  SELECT doc_id, list_transform(range(0, 192), j ->
         |    CASE WHEN j + 1 <= length(text)
         |    THEN ascii(substring(text, CAST(j + 1 AS INT), 1)) % 256
         |    ELSE 0 END) AS v
         |  FROM documents),
         |pp AS (
         |  SELECT doc_id, v, unnest(range(0, 4)) AS p FROM b)
         |SELECT doc_id, CAST(p AS BIGINT) AS patch_id,
         |  CAST(list_sum(list_transform(range(0, 16), q ->
         |    v[3*(((p // 2)*4 + q // 4)*8 + ((p % 2)*4 + q % 4)) + 1]))
         |    AS BIGINT) AS sum_r,
         |  CAST(list_sum(list_transform(range(0, 16), q ->
         |    v[3*(((p // 2)*4 + q // 4)*8 + ((p % 2)*4 + q % 4)) + 2]))
         |    AS BIGINT) AS sum_g,
         |  CAST(list_sum(list_transform(range(0, 16), q ->
         |    v[3*(((p // 2)*4 + q // 4)*8 + ((p % 2)*4 + q % 4)) + 3]))
         |    AS BIGINT) AS sum_b,
         |  CAST(list_reduce(list_transform(range(0, 48), k ->
         |    CAST(v[3*(((p // 2)*4 + (k // 3) // 4)*8
         |      + ((p % 2)*4 + (k // 3) % 4)) + (k % 3) + 1]
         |      AS BIGINT)),
         |    (acc, x) -> (acc * 31 + x) % $P) AS BIGINT) AS patch_fp,
         |  TRUE AS roundtrip_ok
         |FROM pp ORDER BY doc_id, patch_id""".stripMargin,
    // patch_dedup mirror: same fp chain from codepoints, same
    // per-fp cap window, same pair counting
    "patch_dedup" ->
      s"""WITH b AS (
         |  SELECT doc_id, list_transform(range(0, 192), j ->
         |    CASE WHEN j + 1 <= length(text)
         |    THEN ascii(substring(text, CAST(j + 1 AS INT), 1)) % 256
         |    ELSE 0 END) AS v
         |  FROM documents),
         |pp AS (
         |  SELECT doc_id, v, unnest(range(0, 4)) AS p FROM b),
         |fps AS (
         |  SELECT DISTINCT doc_id,
         |    list_reduce(list_transform(range(0, 48), k ->
         |      CAST(v[3*(((p // 2)*4 + (k // 3) // 4)*8
         |        + ((p % 2)*4 + (k // 3) % 4)) + (k % 3) + 1]
         |        AS BIGINT)),
         |      (acc, x) -> (acc * 31 + x) % $P) AS patch_fp
         |  FROM pp),
         |capped AS (
         |  SELECT doc_id, patch_fp FROM (
         |    SELECT doc_id, patch_fp, row_number() OVER
         |      (PARTITION BY patch_fp ORDER BY doc_id) AS rk
         |    FROM fps)
         |  WHERE rk <= 64)
         |SELECT a.doc_id AS id1, b.doc_id AS id2,
         |  CAST(count(*) AS BIGINT) AS n_shared
         |FROM capped a JOIN capped b
         |  ON a.patch_fp = b.patch_fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY id1, id2""".stripMargin,
    // lossy JPEG: exact columns are dimensions + TRUE means recomputed
    // from codepoints; the decode quality gate is a Spark-side
    // tolerance-band boolean the oracle pins TRUE
    "multimodal_jpeg" ->
      """WITH b AS (
        |  SELECT doc_id, list_transform(range(0, 192), j ->
        |    CASE WHEN j + 1 <= length(text)
        |    THEN ascii(substring(text, CAST(j + 1 AS INT), 1)) % 256
        |    ELSE 0 END) AS v
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        |  list_sum(list_transform(range(0, 64),
        |    i -> CAST(v[3*i + 1] AS DOUBLE))) / 64 AS mean_r,
        |  list_sum(list_transform(range(0, 64),
        |    i -> CAST(v[3*i + 2] AS DOUBLE))) / 64 AS mean_g,
        |  list_sum(list_transform(range(0, 64),
        |    i -> CAST(v[3*i + 3] AS DOUBLE))) / 64 AS mean_b,
        |  TRUE AS lossy_ok
        |FROM b ORDER BY doc_id""".stripMargin,
    // frame f pixel i reads codepoints 192f+3i..192f+3i+2 (mod 256,
    // zero-padded) — frames 0 and 2 are the stride-2 sample
    "multimodal_video" ->
      """WITH b AS (
        |  SELECT doc_id, list_transform(range(0, 768), j ->
        |    CASE WHEN j + 1 <= length(text)
        |    THEN ascii(substring(text, CAST(j + 1 AS INT), 1)) % 256
        |    ELSE 0 END) AS v
        |  FROM documents)
        |SELECT doc_id,
        |  list_sum(list_transform(range(0, 64),
        |    i -> CAST(v[3*i + 1] AS DOUBLE))) / 64 AS f0_mean_r,
        |  list_sum(list_transform(range(0, 64),
        |    i -> CAST(v[3*i + 2] AS DOUBLE))) / 64 AS f0_mean_g,
        |  list_sum(list_transform(range(0, 64),
        |    i -> CAST(v[3*i + 3] AS DOUBLE))) / 64 AS f0_mean_b,
        |  list_sum(list_transform(range(0, 64),
        |    i -> CAST(v[384 + 3*i + 1] AS DOUBLE))) / 64 AS f2_mean_r,
        |  TRUE AS roundtrip_ok
        |FROM b ORDER BY doc_id""".stripMargin,
    // MJPEG mirror: frame f pixel i reads codepoints 192f+3i.. like
    // the GIF video; the container/codec invariants are engine-side
    // booleans the mirror asserts as literals
    "multimodal_mjpeg" ->
      """WITH b AS (
        |  SELECT doc_id, list_transform(range(0, 576), j ->
        |    CASE WHEN j + 1 <= length(text)
        |    THEN ascii(substring(text, CAST(j + 1 AS INT), 1)) % 256
        |    ELSE 0 END) AS v
        |  FROM documents)
        |SELECT doc_id, CAST(3 AS BIGINT) AS n_frames,
        |  CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        |  list_sum(list_transform(range(0, 64),
        |    i -> CAST(v[3*i + 1] AS DOUBLE))) / 64 AS f0_mean_r,
        |  list_sum(list_transform(range(0, 64),
        |    i -> CAST(v[3*i + 2] AS DOUBLE))) / 64 AS f0_mean_g,
        |  list_sum(list_transform(range(0, 64),
        |    i -> CAST(v[3*i + 3] AS DOUBLE))) / 64 AS f0_mean_b,
        |  list_sum(list_transform(range(0, 64),
        |    i -> CAST(v[384 + 3*i + 1] AS DOUBLE))) / 64 AS f2_mean_r,
        |  TRUE AS container_ok, TRUE AS lossy_ok
        |FROM b ORDER BY doc_id""".stripMargin,
    // s[j] = (codepoint_j mod 256 - 128) * 256: integer samples, so
    // the squared sum is exact in double, /64 is dyadic, sqrt is
    // IEEE-correctly-rounded — features compare unrounded
    "multimodal_audio" ->
      """WITH b AS (
        |  SELECT doc_id, list_transform(range(0, 64), j ->
        |    CAST(((CASE WHEN j + 1 <= length(text)
        |      THEN ascii(substring(text, CAST(j + 1 AS INT), 1)) % 256
        |      ELSE 0 END) - 128) * 256 AS BIGINT)) AS s
        |  FROM documents)
        |SELECT doc_id, CAST(172 AS BIGINT) AS n_bytes,
        |  sqrt(list_sum(list_transform(s, x -> CAST(x * x AS DOUBLE)))
        |    / 64) AS rms,
        |  CAST(list_max(list_transform(s, x -> abs(x))) AS BIGINT)
        |    AS peak,
        |  CAST(list_sum(list_transform(range(1, 64), j ->
        |    CASE WHEN s[j] * s[j + 1] < 0 THEN 1 ELSE 0 END))
        |    AS BIGINT) AS zero_crossings,
        |  CAST(8.0 AS DOUBLE) AS duration_ms,
        |  TRUE AS roundtrip_ok
        |FROM b ORDER BY doc_id""".stripMargin,
    // ADPCM mirror: the adaptive quantizer replayed EXACTLY — a
    // recursive CTE steps the integer (pred, idx) state machine
    // through the 89-entry step table, one nested-subquery cascade
    // per bit decision; every hashed column BIGINT
    "multimodal_adpcm" ->
      s"""WITH RECURSIVE b AS (
         |  SELECT doc_id, j,
         |    CAST(((CASE WHEN j + 1 <= length(text)
         |      THEN ascii(substring(text, CAST(j + 1 AS INT), 1)) % 256
         |      ELSE 0 END) - 128) * 256 AS BIGINT) AS x
         |  FROM documents, range(0, 64) r(j)),
         |st(i, step) AS (
         |  SELECT unnest(range(0, 89)),
         |    unnest([${graft.llm.Multimodal.imaSteps.mkString(", ")}])),
         |rec AS (
         |  SELECT doc_id, CAST(-1 AS BIGINT) AS j,
         |    CAST(0 AS BIGINT) AS pred, CAST(0 AS BIGINT) AS idx,
         |    CAST(0 AS BIGINT) AS x, CAST(0 AS BIGINT) AS rv
         |  FROM (SELECT DISTINCT doc_id FROM b)
         |  UNION ALL
         |  SELECT t4.doc_id, t4.j,
         |    greatest(-32768, least(32767,
         |      t4.pred + t4.sgn * t4.diffq)) AS pred,
         |    greatest(0, least(88, t4.idx
         |      + CASE WHEN t4.delta < 4 THEN -1
         |             ELSE (t4.delta - 3) * 2 END)) AS idx,
         |    t4.x,
         |    greatest(-32768, least(32767,
         |      t4.pred + t4.sgn * t4.diffq)) AS rv
         |  FROM (
         |    SELECT t3.*, 4 * t3.d2 + 2 * t3.d1 + t3.d0 AS delta,
         |      (t3.step // 8) + t3.d2 * t3.step
         |        + t3.d1 * (t3.step // 2)
         |        + t3.d0 * (t3.step // 4) AS diffq
         |    FROM (
         |      SELECT t2.*,
         |        CASE WHEN t2.ad2 >= t2.step // 4 THEN 1 ELSE 0 END
         |          AS d0
         |      FROM (
         |        SELECT t1.*,
         |          CASE WHEN t1.ad1 >= t1.step // 2 THEN 1 ELSE 0 END
         |            AS d1,
         |          t1.ad1 - (CASE WHEN t1.ad1 >= t1.step // 2
         |            THEN t1.step // 2 ELSE 0 END) AS ad2
         |        FROM (
         |          SELECT r.doc_id, b.j, b.x, r.pred, r.idx, s.step,
         |            CASE WHEN b.x - r.pred < 0 THEN -1 ELSE 1 END
         |              AS sgn,
         |            CASE WHEN abs(b.x - r.pred) >= s.step
         |              THEN 1 ELSE 0 END AS d2,
         |            abs(b.x - r.pred)
         |              - (CASE WHEN abs(b.x - r.pred) >= s.step
         |                 THEN s.step ELSE 0 END) AS ad1
         |          FROM rec r
         |          JOIN b ON b.doc_id = r.doc_id AND b.j = r.j + 1
         |          JOIN st s ON s.i = r.idx
         |          WHERE r.j < 63) t1) t2) t3) t4),
         |f AS (
         |  SELECT doc_id, j, x, rv,
         |    lag(rv) OVER (PARTITION BY doc_id ORDER BY j) AS prev
         |  FROM rec WHERE j >= 0)
         |SELECT doc_id, CAST(96 AS BIGINT) AS n_bytes,
         |  CAST(sum(rv * rv) AS BIGINT) AS sumsq_recon,
         |  CAST(max(abs(rv)) AS BIGINT) AS peak_recon,
         |  CAST(sum(CASE WHEN prev IS NOT NULL AND rv * prev < 0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
         |  CAST(max(abs(rv - x)) AS BIGINT) AS max_abs_err,
         |  CAST(sum(abs(rv - x)) AS BIGINT) AS sum_abs_err,
         |  TRUE AS roundtrip_ok
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // MDCT transform codec replay: the Q15 window/basis tables are
    // INJECTED as integer literals (generated once in the JVM — the
    // imaSteps discipline), so both engines run the identical
    // integer MAC; every normalize/quantize is a floor-division with
    // a half-step offset (DuckDB `//` floors like Math.floorDiv).
    // Every output column is CAST AS BIGINT (sum(BIGINT) is HUGEINT
    // — the round-12 hash-bomb lesson).
    "multimodal_mdct" ->
      s"""WITH b AS (
         |  SELECT doc_id, j,
         |    CAST(((CASE WHEN j + 1 <= length(text)
         |      THEN ascii(substring(text, CAST(j + 1 AS INT), 1)) % 256
         |      ELSE 0 END) - 128) * 256 AS BIGINT) AS x
         |  FROM documents, range(0, 64) r(j)),
         |wt(n, wv) AS (
         |  SELECT unnest(range(0, 32)),
         |    unnest([${graft.llm.Multimodal.mdctWin.mkString(", ")}])),
         |ct0(i, cv) AS (
         |  SELECT unnest(range(0, 512)),
         |    unnest([${graft.llm.Multimodal.mdctCos.mkString(", ")}])),
         |ct AS (SELECT i // 32 AS k, i % 32 AS n, cv FROM ct0),
         |coef AS (
         |  SELECT b.doc_id, rf.f, ct.k,
         |    ((CAST(sum(b.x * wt.wv * ct.cv) AS BIGINT) + 536870912)
         |      // 1073741824 + 32) // 64 AS q
         |  FROM range(0, 5) rf(f), wt, ct, b
         |  WHERE ct.n = wt.n AND ct.k < 8
         |    AND b.j = rf.f * 16 + wt.n - 16
         |  GROUP BY b.doc_id, rf.f, ct.k),
         |recon AS (
         |  SELECT b2.doc_id, b2.j, b2.x,
         |    greatest(-32768, least(32767,
         |      (CAST(sum(q.q * 64 * ct.cv * wt.wv) AS BIGINT)
         |        + 4294967296) // 8589934592)) AS rv
         |  FROM coef q, wt, ct, b b2
         |  WHERE ct.n = wt.n AND ct.k = q.k
         |    AND b2.doc_id = q.doc_id
         |    AND b2.j = q.f * 16 + wt.n - 16
         |  GROUP BY b2.doc_id, b2.j, b2.x),
         |h AS (
         |  SELECT doc_id, j, x, rv,
         |    lag(rv) OVER (PARTITION BY doc_id ORDER BY j) AS prev
         |  FROM recon),
         |ck AS (
         |  SELECT doc_id,
         |    CAST(sum(q * (f * 16 + k + 1)) AS BIGINT) AS coef_checksum
         |  FROM coef GROUP BY doc_id)
         |SELECT h.doc_id, CAST(92 AS BIGINT) AS n_bytes,
         |  CAST(sum(rv * rv) AS BIGINT) AS sumsq_recon,
         |  CAST(max(abs(rv)) AS BIGINT) AS peak_recon,
         |  CAST(sum(CASE WHEN prev IS NOT NULL AND rv * prev < 0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
         |  CAST(max(abs(rv - x)) AS BIGINT) AS max_abs_err,
         |  CAST(sum(abs(rv - x)) AS BIGINT) AS sum_abs_err,
         |  ck.coef_checksum AS coef_checksum,
         |  TRUE AS roundtrip_ok
         |FROM h JOIN ck ON ck.doc_id = h.doc_id
         |GROUP BY h.doc_id, ck.coef_checksum
         |ORDER BY h.doc_id""".stripMargin,
    // Motion-compensated video replay: frame 0 is the intra copy,
    // frames 1-3 are three UNROLLED encode steps (search → argmin →
    // quantize → reconstruct — `mcvStepSql`); every division's
    // dividend is non-negative so truncating `//` == floor == the
    // Scala side, and every hashed column is CAST AS BIGINT
    "multimodal_mcvideo" ->
      s"""WITH px AS (
         |  SELECT doc_id, f, p,
         |    CAST((CASE WHEN 64 * f + p + 1 <= length(text)
         |      THEN ascii(substring(text,
         |        CAST(64 * f + p + 1 AS INT), 1)) % 256
         |      ELSE 0 END) AS BIGINT) AS x
         |  FROM documents, range(0, 4) rf(f), range(0, 64) rp(p)),
         |rec0 AS (SELECT doc_id, p, x AS rv FROM px WHERE f = 0),
         |${mcvStepSql(1)},
         |${mcvStepSql(2)},
         |${mcvStepSql(3)},
         |allrec AS (
         |  SELECT doc_id, rv FROM rec0
         |  UNION ALL SELECT doc_id, rv FROM rec1
         |  UNION ALL SELECT doc_id, rv FROM rec2
         |  UNION ALL SELECT doc_id, rv FROM rec3),
         |allres AS (
         |  SELECT 1 AS f, * FROM res1
         |  UNION ALL SELECT 2 AS f, * FROM res2
         |  UNION ALL SELECT 3 AS f, * FROM res3),
         |allbest AS (
         |  SELECT 1 AS f, * FROM best1
         |  UNION ALL SELECT 2 AS f, * FROM best2
         |  UNION ALL SELECT 3 AS f, * FROM best3),
         |agg_rec AS (
         |  SELECT doc_id, sum(rv * rv) AS ss
         |  FROM allrec GROUP BY doc_id),
         |agg_err AS (
         |  SELECT doc_id, max(e) AS mx, sum(e) AS sm
         |  FROM (SELECT doc_id,
         |          abs(greatest(0, least(255, pv + 8 * q)) - x) AS e
         |        FROM allres)
         |  GROUP BY doc_id),
         |agg_mv AS (
         |  SELECT doc_id, sum(c * (f * 4 + b + 1)) AS ck
         |  FROM allbest GROUP BY doc_id),
         |agg_q AS (
         |  SELECT doc_id, sum(q * (f * 64 + b * 16 + u + 1)) AS ck
         |  FROM allres GROUP BY doc_id)
         |SELECT r.doc_id, CAST(276 AS BIGINT) AS n_bytes,
         |  CAST(r.ss AS BIGINT) AS sumsq_recon,
         |  CAST(e.mx AS BIGINT) AS max_abs_err,
         |  CAST(e.sm AS BIGINT) AS sum_abs_err,
         |  CAST(m.ck AS BIGINT) AS mv_checksum,
         |  CAST(q.ck AS BIGINT) AS q_checksum,
         |  TRUE AS roundtrip_ok
         |FROM agg_rec r
         |JOIN agg_err e ON e.doc_id = r.doc_id
         |JOIN agg_mv m ON m.doc_id = r.doc_id
         |JOIN agg_q q ON q.doc_id = r.doc_id
         |ORDER BY r.doc_id""".stripMargin,
    // A-law mirror: 13-bit magnitude (negatives via -x-1), segment
    // ladder on m13, reconstruction ((16·mant+264)·2^(seg−1)) with
    // the seg-0 special case — all BIGINT, no float anywhere
    "multimodal_alaw" ->
      """WITH b AS (
        |  SELECT doc_id, j,
        |    CAST(((CASE WHEN j + 1 <= length(text)
        |      THEN ascii(substring(text, CAST(j + 1 AS INT), 1)) % 256
        |      ELSE 0 END) - 128) * 256 AS BIGINT) AS x
        |  FROM documents, range(0, 64) r(j)),
        |f AS (
        |  SELECT doc_id, j, x, m,
        |    CASE WHEN m >= 2048 THEN 7 WHEN m >= 1024 THEN 6
        |         WHEN m >= 512 THEN 5 WHEN m >= 256 THEN 4
        |         WHEN m >= 128 THEN 3 WHEN m >= 64 THEN 2
        |         WHEN m >= 32 THEN 1 ELSE 0 END AS seg
        |  FROM (SELECT doc_id, j, x,
        |          (CASE WHEN x >= 0 THEN x ELSE -x - 1 END) // 8 AS m
        |        FROM b)),
        |g AS (
        |  SELECT doc_id, j, x,
        |    (CASE WHEN x >= 0 THEN 1 ELSE -1 END)
        |      * (CASE WHEN seg = 0 THEN ((m >> 1) & 15) * 16 + 8
        |         ELSE (((m >> seg) & 15) * 16 + 264)
        |              * (1 << (seg - 1)) END) AS rec
        |  FROM f),
        |h AS (
        |  SELECT doc_id, j, x, rec,
        |    lag(rec) OVER (PARTITION BY doc_id ORDER BY j) AS prev
        |  FROM g)
        |SELECT doc_id, CAST(122 AS BIGINT) AS n_bytes,
        |  CAST(sum(rec * rec) AS BIGINT) AS sumsq_recon,
        |  CAST(max(abs(rec)) AS BIGINT) AS peak_recon,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND rec * prev < 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
        |  CAST(max(abs(rec - x)) AS BIGINT) AS max_abs_err,
        |  CAST(sum(abs(rec - x)) AS BIGINT) AS sum_abs_err,
        |  TRUE AS roundtrip_ok
        |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // G.711 μ-law is deterministic INTEGER quantization, so the
    // oracle replays the exact compress/expand chain: m = clamped
    // magnitude + 132 bias, segment = top-set-bit CASE ladder,
    // reconstruction ((8·mant+132)·2^seg)−132 — all BIGINT, no float
    // anywhere in a hashed column (the mix_temperature lesson).
    "multimodal_ulaw" ->
      """WITH b AS (
        |  SELECT doc_id, j,
        |    CAST(((CASE WHEN j + 1 <= length(text)
        |      THEN ascii(substring(text, CAST(j + 1 AS INT), 1)) % 256
        |      ELSE 0 END) - 128) * 256 AS BIGINT) AS x
        |  FROM documents, range(0, 64) r(j)),
        |f AS (
        |  SELECT doc_id, j, x, m,
        |    CASE WHEN m >= 16384 THEN 7 WHEN m >= 8192 THEN 6
        |         WHEN m >= 4096 THEN 5 WHEN m >= 2048 THEN 4
        |         WHEN m >= 1024 THEN 3 WHEN m >= 512 THEN 2
        |         WHEN m >= 256 THEN 1 ELSE 0 END AS seg
        |  FROM (SELECT doc_id, j, x,
        |          least(abs(x), 32635) + 132 AS m FROM b)),
        |g AS (
        |  SELECT doc_id, j, x,
        |    (CASE WHEN x < 0 THEN -1 ELSE 1 END)
        |      * ((((m >> (seg + 3)) & 15) * 8 + 132) * (1 << seg)
        |         - 132) AS rec
        |  FROM f),
        |h AS (
        |  SELECT doc_id, j, x, rec,
        |    lag(rec) OVER (PARTITION BY doc_id ORDER BY j) AS prev
        |  FROM g)
        |SELECT doc_id, CAST(122 AS BIGINT) AS n_bytes,
        |  CAST(sum(rec * rec) AS BIGINT) AS sumsq_recon,
        |  CAST(max(abs(rec)) AS BIGINT) AS peak_recon,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND rec * prev < 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
        |  CAST(max(abs(rec - x)) AS BIGINT) AS max_abs_err,
        |  CAST(sum(abs(rec - x)) AS BIGINT) AS sum_abs_err,
        |  TRUE AS roundtrip_ok
        |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "pii_redact" ->
      s"""WITH aug AS (
         |  SELECT doc_id, $piiAugmentSql AS aug FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(aug,
         |    '${TextAnalysis.emailRe}', '[EMAIL]', 'g'),
         |    '${TextAnalysis.ipRe}', '[IP]', 'g'),
         |    '${TextAnalysis.phoneRe}', '[PHONE]', 'g') AS redacted,
         |  CAST(len(regexp_extract_all(aug, '${TextAnalysis.emailRe}'))
         |    AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(aug, '${TextAnalysis.ipRe}'))
         |    AS BIGINT) AS n_ip,
         |  CAST(len(regexp_extract_all(aug, '${TextAnalysis.phoneRe}'))
         |    AS BIGINT) AS n_phone
         |FROM aug ORDER BY doc_id""".stripMargin,
    // tag extraction + (href, anchor) split + registered-domain fold
    // + top-5 rank per target domain
    "anchor_text" ->
      s"""WITH axd AS (
         |  SELECT doc_id,
         |    concat('<a href="https://w', CAST(doc_id % 3 AS VARCHAR),
         |      '.dom', CAST(doc_id % 23 AS VARCHAR), '.com/a/',
         |      CAST(doc_id AS VARCHAR), '">',
         |      CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'home page'
         |        WHEN 1 THEN concat('review of product ',
         |          CAST(doc_id % 5 AS VARCHAR))
         |        WHEN 2 THEN 'click here' ELSE 'best deals' END,
         |      '</a> filler <a href="http://m.dom',
         |      CAST(doc_id % 7 AS VARCHAR), '.co.uk/b">',
         |      CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'news'
         |        ELSE 'sports section' END, '</a>') AS ltext
         |  FROM documents),
         |axt AS (
         |  SELECT unnest(regexp_extract_all(ltext,
         |    '<a href="[^"]*">[^<]*</a>', 0)) AS tag
         |  FROM axd),
         |axp AS (
         |  SELECT regexp_extract(tag, '<a href="([^"]*)">', 1) AS h,
         |    lower(regexp_extract(tag, '>([^<]*)</a>', 1)) AS anchor
         |  FROM axt),
         |${duckParse("axp", "h", "anchor", "axr")},
         |axg AS (
         |  SELECT registered_domain AS dst_dom, anchor,
         |    CAST(count(*) AS BIGINT) AS n_links
         |  FROM axrr GROUP BY 1, 2),
         |axk AS (
         |  SELECT dst_dom, anchor, n_links,
         |    CAST(row_number() OVER (PARTITION BY dst_dom
         |      ORDER BY n_links DESC, anchor ASC) AS BIGINT) AS rank
         |  FROM axg)
         |SELECT dst_dom, anchor, n_links, rank FROM axk
         |WHERE rank <= 5 ORDER BY dst_dom, rank""".stripMargin,
    // per-host fetch slots from the shared url-parse chain; slot =
    // (host rank - 1) // 2, makespan = max slot per host
    "crawl_schedule" ->
      s"""WITH $duckUrlChain,
         |css AS (
         |  SELECT doc_id, host,
         |    CAST((row_number() OVER (PARTITION BY host
         |      ORDER BY doc_id) - 1) // 2 AS BIGINT) AS slot
         |  FROM pr)
         |SELECT doc_id, host, slot,
         |  CAST(max(slot) OVER (PARTITION BY host) AS BIGINT)
         |    AS host_makespan
         |FROM css ORDER BY doc_id""".stripMargin,
    // domain-grain template detector over the planted header fixture
    // (url chain gives the registered domain; gram arithmetic is the
    // boilerplate_ngrams mirror at (dom, gram) grain; doc-share ppm
    // against the domain's FULL page count)
    // robots_gate mirror: duckUrlChain parse + the same per-host
    // policy fixture, longest-prefix rank (Allow wins ties), no
    // match = allowed
    "robots_gate" ->
      s"""WITH $duckUrlChain,
         |rbp AS (SELECT doc_id, host, path FROM ph),
         |rbh AS (SELECT DISTINCT host FROM rbp),
         |rbr AS (
         |  SELECT host, FALSE AS allow, '/p/' AS prefix FROM rbh
         |    WHERE (len(host) + ascii(substring(host, 1, 1))) % 3 = 0
         |  UNION ALL SELECT host, FALSE, '/x/' FROM rbh
         |    WHERE (len(host) + ascii(substring(host, 1, 1))) % 3 = 1
         |  UNION ALL SELECT host, TRUE, '/x/1' FROM rbh
         |    WHERE (len(host) + ascii(substring(host, 1, 1))) % 3 = 1
         |  UNION ALL SELECT host, FALSE, '/' FROM rbh
         |    WHERE (len(host) + ascii(substring(host, 1, 1))) % 3 = 2
         |  UNION ALL SELECT host, TRUE, '/d/' FROM rbh
         |    WHERE (len(host) + ascii(substring(host, 1, 1))) % 3 = 2),
         |rbm AS (
         |  SELECT p.doc_id, r.allow, r.prefix,
         |    row_number() OVER (PARTITION BY p.doc_id
         |      ORDER BY len(r.prefix) DESC, r.allow DESC,
         |        r.prefix DESC) AS rn
         |  FROM rbp p JOIN rbr r ON p.host = r.host
         |  WHERE substring(p.path, 1, len(r.prefix)) = r.prefix),
         |rbd AS (SELECT doc_id, allow, prefix FROM rbm WHERE rn = 1)
         |SELECT p.doc_id, p.host, p.path,
         |  coalesce(d.allow, TRUE) AS allowed,
         |  coalesce(d.prefix, '') AS matched_rule,
         |  CAST(len(coalesce(d.prefix, '')) AS BIGINT) AS matched_len
         |FROM rbp p LEFT JOIN rbd d USING (doc_id)
         |ORDER BY p.doc_id""".stripMargin,
    // main_content mirror: same page fixture, same block split /
    // tag strip / anchor-char extraction, integer ppm
    "main_content" ->
      """WITH pg AS (
        |  SELECT doc_id, concat(
        |    '<a href="https://', source, '.com/">home</a> ',
        |    '<a href="https://', source, '.com/about">about us</a> ',
        |    '<a href="https://', source, '.com/contact">contact</a>',
        |    chr(10),
        |    'welcome to ', source,
        |    ' portal navigation menu home about contact search login',
        |    chr(10), text, chr(10),
        |    CASE WHEN doc_id % 4 = 0 THEN concat(
        |      'see also <a href="http://m.', source,
        |      '.co.uk/b">sports section</a> for the full background ',
        |      'and analysis of this story')
        |    ELSE 'ok' END) AS page
        |  FROM documents),
        |mcb AS (
        |  SELECT doc_id, list_transform(
        |    list_filter(string_split(page, chr(10)),
        |      b -> len(trim(b)) > 0),
        |    b -> struct_pack(
        |      txt := trim(regexp_replace(b, '<[^>]*>', '', 'g')),
        |      lnk := coalesce(list_sum(list_transform(
        |        regexp_extract_all(b, '<a[^>]*>([^<]*)</a>', 1),
        |        x -> len(x))), 0))) AS bsl
        |  FROM pg),
        |mck AS (
        |  SELECT doc_id, bsl,
        |    list_filter(bsl, s -> len(s.txt) >= 20
        |      AND s.lnk * 1000000 <= 300000 * len(s.txt)) AS kept
        |  FROM mcb),
        |mcs AS (
        |  SELECT doc_id,
        |    CAST(len(bsl) AS BIGINT) AS n_blocks,
        |    CAST(len(kept) AS BIGINT) AS n_kept,
        |    CAST(coalesce(list_sum(list_transform(bsl,
        |      s -> len(s.txt))), 0) AS BIGINT) AS total_chars,
        |    CAST(coalesce(list_sum(list_transform(kept,
        |      s -> len(s.txt))), 0) AS BIGINT) AS kept_chars,
        |    CAST(coalesce(list_sum(list_transform(bsl,
        |      s -> s.lnk)), 0) AS BIGINT) AS link_chars,
        |    array_to_string(list_transform(kept, s -> s.txt),
        |      chr(10)) AS main_text
        |  FROM mck)
        |SELECT doc_id, n_blocks, n_kept, total_chars, kept_chars,
        |  link_chars,
        |  kept_chars * 1000000 // greatest(total_chars, 1) AS kept_ppm,
        |  main_text
        |FROM mcs ORDER BY doc_id""".stripMargin,
    // identical rule chain over the identical raw fixture text:
    // nfc_normalize is DuckDB's UAX#15 NFC (utf8proc) mirroring the
    // JDK Normalizer; the fixture literals carry raw control chars
    // (no dialect-specific escapes), and the regex classes arrive as
    // single-backslash escapes both engines' regex layers interpret
    "text_normalize" ->
      s"""WITH tn AS (
         |  SELECT doc_id, $messyUnicodeText AS raw
         |  FROM documents),
         |tnn AS (
         |  SELECT doc_id, raw,
         |    trim(regexp_replace(regexp_replace(regexp_replace(
         |      lower(nfc_normalize(raw)),
         |      '[\\t\\n\\x0B\\f\\r]', ' ', 'g'),
         |      '[\\x00-\\x08\\x0E-\\x1F\\x7F]', '', 'g'),
         |      ' {2,}', ' ', 'g')) AS norm_text
         |  FROM tn)
         |SELECT doc_id, norm_text,
         |  CAST(length(raw) AS BIGINT) AS n_chars_raw,
         |  CAST(length(norm_text) AS BIGINT) AS n_chars_norm,
         |  norm_text <> raw AS norm_changed
         |FROM tnn ORDER BY doc_id""".stripMargin,
    "site_boilerplate" ->
      s"""WITH $duckUrlChain,
         |sbd AS (
         |  SELECT p.doc_id, p.registered_domain AS dom,
         |    CASE WHEN d.doc_id % 3 = 0 THEN d.text
         |      ELSE concat('welcome to ', d.source,
         |        ' $siteHeaderTail ', d.text) END AS ltext
         |  FROM pr p JOIN documents d USING (doc_id)),
         |sbt AS (
         |  SELECT doc_id, dom,
         |    list_filter(string_split(lower(ltext), ' '),
         |      t -> t != '') AS tk
         |  FROM sbd),
         |sbg AS (
         |  SELECT dom, unnest(list_distinct(list_transform(
         |    generate_series(1, len(tk) - 7),
         |    i -> array_to_string(list_slice(tk, i, i + 7), ' '))))
         |    AS gram
         |  FROM sbt WHERE len(tk) >= 8),
         |sbn AS (SELECT dom, CAST(count(*) AS BIGINT)
         |          AS n_docs_domain
         |        FROM sbd GROUP BY dom),
         |sbf AS (
         |  SELECT dom, gram, CAST(count(*) AS BIGINT) AS df_dom
         |  FROM sbg GROUP BY dom, gram HAVING count(*) >= 2)
         |SELECT f.dom AS registered_domain, f.gram, f.df_dom,
         |  n.n_docs_domain,
         |  df_dom * 1000000 // n_docs_domain AS share_ppm
         |FROM sbf f JOIN sbn n USING (dom)
         |WHERE df_dom * 1000000 // n_docs_domain >= 500000
         |ORDER BY registered_domain, gram""".stripMargin,
    // union with shouting "!!" variants; md5-class counts raw vs
    // normalized (lower, punct→space 'g', collapse 'g', trim)
    "norm_dedup_gain" ->
      """WITH ndg AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000000, upper(text) || '!!'
        |  FROM documents WHERE doc_id % 7 = 2),
        |ndh AS (
        |  SELECT md5(text) AS r,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS nm
        |  FROM ndg)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT r) AS BIGINT) AS raw_classes,
        |  CAST(count(DISTINCT nm) AS BIGINT) AS norm_classes,
        |  CAST(count(DISTINCT r) - count(DISTINCT nm) AS BIGINT)
        |    AS classes_merged,
        |  CAST(count(*) - count(DISTINCT nm) AS BIGINT)
        |    AS dup_rows_norm
        |FROM ndh""".stripMargin,
    // composed base suffix vs decomposed+case+whitespace twin suffix:
    // raw md5 classes never merge, NFC-normalized classes do
    "unicode_dedup_gain" ->
      s"""WITH u AS (
         |  SELECT doc_id, text || ' café' AS rawt FROM documents
         |  UNION ALL
         |  SELECT doc_id + 30000000, upper(text) || '   café\t'
         |  FROM documents WHERE doc_id % 5 = 0),
         |un AS (
         |  SELECT rawt,
         |    trim(regexp_replace(regexp_replace(regexp_replace(
         |      lower(nfc_normalize(rawt)),
         |      '[\\t\\n\\x0B\\f\\r]', ' ', 'g'),
         |      '[\\x00-\\x08\\x0E-\\x1F\\x7F]', '', 'g'),
         |      ' {2,}', ' ', 'g')) AS nt
         |  FROM u)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT md5(rawt)) AS BIGINT) AS raw_classes,
         |  CAST(count(DISTINCT md5(nt)) AS BIGINT) AS norm_classes,
         |  CAST(count(DISTINCT md5(rawt)) - count(DISTINCT md5(nt))
         |    AS BIGINT) AS classes_merged,
         |  CAST(count(*) - count(DISTINCT md5(nt)) AS BIGINT)
         |    AS dup_rows_norm
         |FROM un""".stripMargin,
    "curation_v7" ->
      s"""WITH cu AS (
         |  SELECT doc_id, source, text || ' &amp; café' AS enc
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + 40000000, source,
         |    upper(text) || '  &#38; café\t' AS enc
         |  FROM documents WHERE doc_id % 7 = 3
         |  UNION ALL
         |  SELECT doc_id + 80000000, source,
         |    'spamword adword spamword ' || text || ' &amp; café'
         |      AS enc
         |  FROM documents WHERE doc_id % 9 = 5),
         |cd AS (SELECT doc_id, source,
         |    ${duckEntityChain("enc")} AS dec
         |  FROM cu),
         |cn AS (SELECT doc_id, source,
         |    trim(regexp_replace(regexp_replace(regexp_replace(
         |      lower(nfc_normalize(dec)),
         |      '[\\t\\n\\x0B\\f\\r]', ' ', 'g'),
         |      '[\\x00-\\x08\\x0E-\\x1F\\x7F]', '', 'g'),
         |      ' {2,}', ' ', 'g')) AS nt
         |  FROM cd),
         |ct AS (SELECT doc_id, source, nt,
         |    list_filter(string_split(nt, ' '), t -> t != '') AS tk
         |  FROM cn),
         |cg AS (SELECT doc_id, source, nt,
         |    CAST(len(tk) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(tk, t -> list_contains(
         |      ['adword', 'spamword'], t))) AS BIGINT) AS bh,
         |    CAST(len(list_intersect(list_distinct(tk),
         |      ['adword', 'spamword'])) AS BIGINT) AS btp
         |  FROM ct),
         |cv AS (SELECT *, (bh * 1000000 // greatest(n_tokens, 1))
         |    > 20000 OR btp >= 2 AS gate
         |  FROM cg),
         |dd AS (SELECT *, min(doc_id) OVER (PARTITION BY md5(nt))
         |    AS keep
         |  FROM cv WHERE NOT gate),
         |gi AS (SELECT source, count(*) AS n_in FROM cv GROUP BY 1),
         |gg AS (SELECT source, count(*) AS n_gated FROM cv
         |  WHERE gate GROUP BY 1),
         |gd AS (SELECT source, count(*) AS n_dup FROM dd
         |  WHERE doc_id != keep GROUP BY 1),
         |gk AS (SELECT source, count(*) AS n_out,
         |    CAST(sum(n_tokens) AS BIGINT) AS tokens_out
         |  FROM dd WHERE doc_id = keep GROUP BY 1)
         |SELECT gi.source, CAST(gi.n_in AS BIGINT) AS n_in,
         |  CAST(coalesce(gg.n_gated, 0) AS BIGINT) AS n_gated,
         |  CAST(coalesce(gd.n_dup, 0) AS BIGINT) AS n_dup_dropped,
         |  CAST(coalesce(gk.n_out, 0) AS BIGINT) AS n_out,
         |  CAST(coalesce(gk.tokens_out, 0) AS BIGINT) AS tokens_out
         |FROM gi LEFT JOIN gg USING (source)
         |LEFT JOIN gd USING (source)
         |LEFT JOIN gk USING (source)
         |ORDER BY source""".stripMargin,
    // v8 = v7 with a repair stage up front: corrupted suffixes in the
    // feed, the shared mojChain replace phases (generated from the
    // same map constant as the engine), per-source fix accounting
    "curation_v8" ->
      s"""WITH cu AS (
         |  SELECT doc_id, source, text || ' &amp; cafÃ©' AS enc
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + 40000000, source,
         |    upper(text) || '  &#38; cafÃ©\t' AS enc
         |  FROM documents WHERE doc_id % 7 = 3
         |  UNION ALL
         |  SELECT doc_id + 80000000, source,
         |    'spamword adword spamword ' || text || ' &amp; cafÃ©â€¦'
         |      AS enc
         |  FROM documents WHERE doc_id % 9 = 5),
         |cm3 AS (SELECT doc_id, source, enc,
         |    ${mojChain("enc", true)} AS t3
         |  FROM cu),
         |cm2 AS (SELECT doc_id, source, enc, t3,
         |    ${mojChain("t3", false)} AS t2
         |  FROM cm3),
         |cmf AS (SELECT doc_id, source, t2,
         |    CAST((length(enc) - length(t3)) // 2
         |      + (length(t3) - length(t2)) AS BIGINT) AS nfx
         |  FROM cm2),
         |cd AS (SELECT doc_id, source, nfx,
         |    ${duckEntityChain("t2")} AS dec
         |  FROM cmf),
         |cn AS (SELECT doc_id, source, nfx,
         |    trim(regexp_replace(regexp_replace(regexp_replace(
         |      lower(nfc_normalize(dec)),
         |      '[\\t\\n\\x0B\\f\\r]', ' ', 'g'),
         |      '[\\x00-\\x08\\x0E-\\x1F\\x7F]', '', 'g'),
         |      ' {2,}', ' ', 'g')) AS nt
         |  FROM cd),
         |ct AS (SELECT doc_id, source, nfx, nt,
         |    list_filter(string_split(nt, ' '), t -> t != '') AS tk
         |  FROM cn),
         |cg AS (SELECT doc_id, source, nfx, nt,
         |    CAST(len(tk) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(tk, t -> list_contains(
         |      ['adword', 'spamword'], t))) AS BIGINT) AS bh,
         |    CAST(len(list_intersect(list_distinct(tk),
         |      ['adword', 'spamword'])) AS BIGINT) AS btp
         |  FROM ct),
         |cv AS (SELECT *, (bh * 1000000 // greatest(n_tokens, 1))
         |    > 20000 OR btp >= 2 AS gate
         |  FROM cg),
         |dd AS (SELECT *, min(doc_id) OVER (PARTITION BY md5(nt))
         |    AS keep
         |  FROM cv WHERE NOT gate),
         |gi AS (SELECT source, count(*) AS n_in,
         |    CAST(sum(nfx) AS BIGINT) AS n_fixes
         |  FROM cv GROUP BY 1),
         |gg AS (SELECT source, count(*) AS n_gated FROM cv
         |  WHERE gate GROUP BY 1),
         |gd AS (SELECT source, count(*) AS n_dup FROM dd
         |  WHERE doc_id != keep GROUP BY 1),
         |gk AS (SELECT source, count(*) AS n_out,
         |    CAST(sum(n_tokens) AS BIGINT) AS tokens_out
         |  FROM dd WHERE doc_id = keep GROUP BY 1)
         |SELECT gi.source, CAST(gi.n_in AS BIGINT) AS n_in,
         |  gi.n_fixes,
         |  CAST(coalesce(gg.n_gated, 0) AS BIGINT) AS n_gated,
         |  CAST(coalesce(gd.n_dup, 0) AS BIGINT) AS n_dup_dropped,
         |  CAST(coalesce(gk.n_out, 0) AS BIGINT) AS n_out,
         |  CAST(coalesce(gk.tokens_out, 0) AS BIGINT) AS tokens_out
         |FROM gi LEFT JOIN gg USING (source)
         |LEFT JOIN gd USING (source)
         |LEFT JOIN gk USING (source)
         |ORDER BY source""".stripMargin,
    "decode_entities" ->
      s"""WITH de AS (
         |  SELECT doc_id, $entityFixture AS enc FROM documents)
         |SELECT doc_id, ${duckEntityChain("enc")} AS dec_text,
         |  CAST(len(regexp_extract_all(enc,
         |    '${TextAnalysis.entityRegex}', 0)) AS BIGINT)
         |    AS n_entities
         |FROM de ORDER BY doc_id""".stripMargin,
    // license-scan mirror: same planted slices, the position-
    // substring join standing in for the AC pass (identical
    // all-positions overlap semantics), per-tag sums, and the same
    // ascending (-hits, tag) struct sort for the verdict
    "license_scan" -> {
      val tmValues = licenseMarkers
        .map { case (tag, p) => s"('$tag', '$p')" }.mkString(", ")
      s"""WITH pl AS (
         |  SELECT doc_id, $licensePlantSql AS text FROM documents),
         |tm(tag, term) AS (VALUES $tmValues),
         |lt AS (SELECT doc_id, lower(text) AS t FROM pl),
         |ps AS (SELECT doc_id, t,
         |    unnest(generate_series(1, CAST(len(t) AS BIGINT))) AS p
         |  FROM lt),
         |mm AS (SELECT doc_id, tm.tag, tm.term, count(*) AS c
         |  FROM ps JOIN tm
         |    ON substring(ps.t, CAST(ps.p AS INT), len(tm.term))
         |      = tm.term
         |  GROUP BY 1, 2, 3),
         |tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS th,
         |    CAST(count(*) AS BIGINT) AS dm
         |  FROM mm GROUP BY 1),
         |tagg AS (SELECT doc_id, tag, CAST(sum(c) AS BIGINT) AS h
         |  FROM mm GROUP BY 1, 2),
         |win AS (SELECT doc_id,
         |    list_sort(list(struct_pack(h := -h, t := tag))) AS sl
         |  FROM tagg GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(list_filter(w.sl, s -> s.h < 0)[1].t, 'unknown')
         |    AS license,
         |  CAST(coalesce(-(list_filter(w.sl, s -> s.h < 0)[1].h), 0)
         |    AS BIGINT) AS license_hits,
         |  CAST(coalesce(t.th, 0) AS BIGINT) AS total_hits,
         |  CAST(coalesce(t.dm, 0) AS BIGINT) AS distinct_markers,
         |  coalesce(list_filter(w.sl, s -> s.h < 0)[1].t, 'unknown')
         |    IN ('agpl', 'gpl') AS copyleft_gate
         |FROM (SELECT doc_id FROM pl) d
         |LEFT JOIN win w USING (doc_id)
         |LEFT JOIN tot t USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
    // k-anonymity mirror: the SEQUENTIAL ladder — each level's count
    // runs over the rows still unpublished (r$j), so every published
    // class is >= k by construction, exactly the engine semantics
    "k_anonymity" ->
      s"""WITH b AS (
         |  SELECT c_custkey AS id,
         |    coalesce(CAST(c_mktsegment AS VARCHAR), '<null>') AS q0,
         |    coalesce(CAST(c_nationkey AS VARCHAR), '<null>') AS q1,
         |    coalesce(CAST(CAST(floor(c_acctbal / 2000.0)
         |      AS BIGINT) AS VARCHAR), '<null>') AS q2
         |  FROM customer),
         |c0 AS (SELECT q0, q1, q2, CAST(count(*) AS BIGINT) AS n
         |  FROM b GROUP BY 1, 2, 3),
         |t0 AS (SELECT b.id, b.q0, b.q1, b.q2, c0.n
         |  FROM b JOIN c0 USING (q0, q1, q2)),
         |p0 AS (SELECT id, q0 AS g0, q1 AS g1, q2 AS g2,
         |    0 AS lev, n FROM t0 WHERE n >= 10),
         |r0 AS (SELECT id, q0, q1, q2 FROM t0 WHERE n < 10),
         |c1 AS (SELECT q0, q1, CAST(count(*) AS BIGINT) AS n
         |  FROM r0 GROUP BY 1, 2),
         |t1 AS (SELECT r0.id, r0.q0, r0.q1, c1.n
         |  FROM r0 JOIN c1 USING (q0, q1)),
         |p1 AS (SELECT id, q0 AS g0, q1 AS g1, '*' AS g2,
         |    1 AS lev, n FROM t1 WHERE n >= 10),
         |r1 AS (SELECT id, q0, q1 FROM t1 WHERE n < 10),
         |c2 AS (SELECT q0, CAST(count(*) AS BIGINT) AS n
         |  FROM r1 GROUP BY 1),
         |t2 AS (SELECT r1.id, r1.q0, c2.n
         |  FROM r1 JOIN c2 USING (q0)),
         |p2 AS (SELECT id, q0 AS g0, '*' AS g1, '*' AS g2,
         |    2 AS lev, n FROM t2 WHERE n >= 10),
         |r2 AS (SELECT id FROM t2 WHERE n < 10),
         |c3 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r2),
         |p3 AS (SELECT id, '*' AS g0, '*' AS g1, '*' AS g2,
         |    3 AS lev, c3.n FROM r2, c3),
         |pub AS (SELECT * FROM p0 UNION ALL SELECT * FROM p1
         |  UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3)
         |SELECT id AS c_custkey, g0 AS c_mktsegment,
         |  g1 AS c_nationkey, g2 AS acct_band,
         |  CAST(lev AS BIGINT) AS anon_level,
         |  CAST(n AS BIGINT) AS group_n,
         |  n >= 10 AS is_anonymous
         |FROM pub ORDER BY c_custkey""".stripMargin,
    // l-diversity mirror: the two-column sequential ladder on
    // (segment, acctbal band), then per published class the exact
    // distinct count of the sensitive nation key
    "l_diversity" ->
      s"""WITH b AS (
         |  SELECT c_custkey AS id,
         |    coalesce(CAST(c_mktsegment AS VARCHAR), '<null>') AS q0,
         |    coalesce(CAST(CAST(floor(c_acctbal / 2000.0)
         |      AS BIGINT) AS VARCHAR), '<null>') AS q1,
         |    coalesce(CAST(c_nationkey AS VARCHAR), '<null>') AS sv
         |  FROM customer),
         |c0 AS (SELECT q0, q1, CAST(count(*) AS BIGINT) AS n
         |  FROM b GROUP BY 1, 2),
         |t0 AS (SELECT b.id, b.q0, b.q1, b.sv, c0.n
         |  FROM b JOIN c0 USING (q0, q1)),
         |p0 AS (SELECT id, q0 AS g0, q1 AS g1, sv FROM t0
         |  WHERE n >= 10),
         |r0 AS (SELECT id, q0, q1, sv FROM t0 WHERE n < 10),
         |c1 AS (SELECT q0, CAST(count(*) AS BIGINT) AS n
         |  FROM r0 GROUP BY 1),
         |t1 AS (SELECT r0.id, r0.q0, r0.sv, c1.n
         |  FROM r0 JOIN c1 USING (q0)),
         |p1 AS (SELECT id, q0 AS g0, '*' AS g1, sv FROM t1
         |  WHERE n >= 10),
         |r1 AS (SELECT id, sv FROM t1 WHERE n < 10),
         |p2 AS (SELECT id, '*' AS g0, '*' AS g1, sv FROM r1),
         |pub AS (SELECT * FROM p0 UNION ALL SELECT * FROM p1
         |  UNION ALL SELECT * FROM p2)
         |SELECT g0 AS c_mktsegment, g1 AS acct_band,
         |  CAST(count(*) AS BIGINT) AS group_n,
         |  CAST(count(DISTINCT sv) AS BIGINT) AS n_sensitive,
         |  (count(DISTINCT sv) >= 3 AND count(*) >= 10)
         |    AS is_diverse
         |FROM pub GROUP BY g0, g1
         |ORDER BY c_mktsegment, acct_band""".stripMargin,
    // t-closeness mirror: the same two-column sequential ladder, then
    // per published class the ordered-EMD in truncating ppm — class
    // and global cumulative counts over the full nation domain
    // (window cums; the engine uses a bounded broadcast fold), gap
    // sum / (m-1). All cum ppm operands are non-negative, so
    // DuckDB's floor // equals Spark's truncating DIV
    "t_closeness" ->
      s"""WITH b AS (
         |  SELECT c_custkey AS id,
         |    coalesce(CAST(c_mktsegment AS VARCHAR), '<null>') AS q0,
         |    coalesce(CAST(CAST(floor(c_acctbal / 2000.0)
         |      AS BIGINT) AS VARCHAR), '<null>') AS q1,
         |    CAST(c_nationkey AS BIGINT) AS sv
         |  FROM customer),
         |c0 AS (SELECT q0, q1, CAST(count(*) AS BIGINT) AS n
         |  FROM b GROUP BY 1, 2),
         |t0 AS (SELECT b.id, b.q0, b.q1, b.sv, c0.n
         |  FROM b JOIN c0 USING (q0, q1)),
         |p0 AS (SELECT id, q0 AS g0, q1 AS g1, sv FROM t0
         |  WHERE n >= 10),
         |r0 AS (SELECT id, q0, q1, sv FROM t0 WHERE n < 10),
         |c1 AS (SELECT q0, CAST(count(*) AS BIGINT) AS n
         |  FROM r0 GROUP BY 1),
         |t1 AS (SELECT r0.id, r0.q0, r0.sv, c1.n
         |  FROM r0 JOIN c1 USING (q0)),
         |p1 AS (SELECT id, q0 AS g0, '*' AS g1, sv FROM t1
         |  WHERE n >= 10),
         |r1 AS (SELECT id, sv FROM t1 WHERE n < 10),
         |p2 AS (SELECT id, '*' AS g0, '*' AS g1, sv FROM r1),
         |pub AS (SELECT * FROM p0 UNION ALL SELECT * FROM p1
         |  UNION ALL SELECT * FROM p2),
         |cls AS (SELECT g0, g1, sv, CAST(count(*) AS BIGINT) AS c
         |  FROM pub GROUP BY 1, 2, 3),
         |cn AS (SELECT g0, g1, CAST(sum(c) AS BIGINT) AS n
         |  FROM cls GROUP BY 1, 2),
         |gl AS (SELECT sv, CAST(sum(c) AS BIGINT) AS g
         |  FROM cls GROUP BY 1),
         |ntm AS (SELECT CAST(sum(g) AS BIGINT) AS tot,
         |    CAST(count(*) AS BIGINT) AS m
         |  FROM gl),
         |grid AS (
         |  SELECT cn.g0, cn.g1, cn.n, gl.sv, gl.g,
         |    coalesce(cls.c, 0) AS c
         |  FROM cn CROSS JOIN gl
         |  LEFT JOIN cls ON cls.g0 = cn.g0 AND cls.g1 = cn.g1
         |    AND cls.sv = gl.sv),
         |cum AS (
         |  SELECT g0, g1, n,
         |    CAST(sum(c) OVER (PARTITION BY g0, g1 ORDER BY sv)
         |      AS BIGINT) AS cc,
         |    CAST(sum(g) OVER (PARTITION BY g0, g1 ORDER BY sv)
         |      AS BIGINT) AS cg
         |  FROM grid),
         |emd AS (
         |  SELECT c2.g0, c2.g1, max(c2.n) AS n, max(ntm.m) AS m,
         |    CAST(sum(abs(c2.cc * 1000000 // c2.n
         |      - c2.cg * 1000000 // ntm.tot)) AS BIGINT) AS acc
         |  FROM cum c2 CROSS JOIN ntm GROUP BY 1, 2)
         |SELECT g0 AS c_mktsegment, g1 AS acct_band,
         |  CAST(n AS BIGINT) AS group_n,
         |  CAST(CASE WHEN m <= 1 THEN 0 ELSE acc // (m - 1) END
         |    AS BIGINT) AS emd_ppm,
         |  (CASE WHEN m <= 1 THEN 0 ELSE acc // (m - 1) END)
         |    <= 150000 AS is_close
         |FROM emd ORDER BY c_mktsegment, acct_band""".stripMargin,
    // k-anonymity utility mirror: the SAME sequential ladder chain
    // as k_anonymity, then class collapse (bool_and = the engine's
    // min-boolean) and per-level aggregates incl. the exact
    // discernibility sum
    "k_anon_utility" ->
      s"""WITH b AS (
         |  SELECT c_custkey AS id,
         |    coalesce(CAST(c_mktsegment AS VARCHAR), '<null>') AS q0,
         |    coalesce(CAST(c_nationkey AS VARCHAR), '<null>') AS q1,
         |    coalesce(CAST(CAST(floor(c_acctbal / 2000.0)
         |      AS BIGINT) AS VARCHAR), '<null>') AS q2
         |  FROM customer),
         |c0 AS (SELECT q0, q1, q2, CAST(count(*) AS BIGINT) AS n
         |  FROM b GROUP BY 1, 2, 3),
         |t0 AS (SELECT b.id, b.q0, b.q1, b.q2, c0.n
         |  FROM b JOIN c0 USING (q0, q1, q2)),
         |p0 AS (SELECT id, q0 AS g0, q1 AS g1, q2 AS g2,
         |    0 AS lev, n FROM t0 WHERE n >= 10),
         |r0 AS (SELECT id, q0, q1, q2 FROM t0 WHERE n < 10),
         |c1 AS (SELECT q0, q1, CAST(count(*) AS BIGINT) AS n
         |  FROM r0 GROUP BY 1, 2),
         |t1 AS (SELECT r0.id, r0.q0, r0.q1, c1.n
         |  FROM r0 JOIN c1 USING (q0, q1)),
         |p1 AS (SELECT id, q0 AS g0, q1 AS g1, '*' AS g2,
         |    1 AS lev, n FROM t1 WHERE n >= 10),
         |r1 AS (SELECT id, q0, q1 FROM t1 WHERE n < 10),
         |c2 AS (SELECT q0, CAST(count(*) AS BIGINT) AS n
         |  FROM r1 GROUP BY 1),
         |t2 AS (SELECT r1.id, r1.q0, c2.n
         |  FROM r1 JOIN c2 USING (q0)),
         |p2 AS (SELECT id, q0 AS g0, '*' AS g1, '*' AS g2,
         |    2 AS lev, n FROM t2 WHERE n >= 10),
         |r2 AS (SELECT id FROM t2 WHERE n < 10),
         |c3 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r2),
         |p3 AS (SELECT id, '*' AS g0, '*' AS g1, '*' AS g2,
         |    3 AS lev, c3.n FROM r2, c3),
         |pub AS (SELECT * FROM p0 UNION ALL SELECT * FROM p1
         |  UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3),
         |cls AS (SELECT lev, g0, g1, g2,
         |    CAST(count(*) AS BIGINT) AS cn,
         |    bool_and(n >= 10) AS an
         |  FROM pub GROUP BY 1, 2, 3, 4)
         |SELECT CAST(lev AS BIGINT) AS anon_level,
         |  CAST(count(*) AS BIGINT) AS n_classes,
         |  CAST(sum(cn) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN an THEN cn ELSE 0 END) AS BIGINT)
         |    AS n_anon_rows,
         |  CAST(sum(CASE WHEN an THEN 0 ELSE cn END) AS BIGINT)
         |    AS n_supp_rows,
         |  CAST(min(cn) AS BIGINT) AS min_class_n,
         |  CAST(max(cn) AS BIGINT) AS max_class_n,
         |  CAST(sum(CASE WHEN an THEN cn * cn ELSE 0 END) AS BIGINT)
         |    AS disc_sum
         |FROM cls GROUP BY lev ORDER BY anon_level""".stripMargin,
    // composed release-gate mirror: the shared rgv verdict chain,
    // projected per doc with the released conjunction
    "release_gate" ->
      s"""WITH $duckReleaseChain
         |SELECT doc_id, license, copyleft_gate,
         |  n_email, n_ip, n_phone, pii_gate, contaminated,
         |  is_anonymous,
         |  (NOT copyleft_gate AND NOT pii_gate AND NOT contaminated
         |    AND is_anonymous) AS released
         |FROM rgv ORDER BY doc_id""".stripMargin,
    // funnel mirror: the same rgv chain aggregated per sequential
    // gate — stage 5's predicate equals the released conjunction
    "release_funnel" ->
      s"""WITH $duckReleaseChain
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS stage_ord, 'raw' AS stage,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(coalesce(sum(nt), 0) AS BIGINT) AS n_tokens
         |  FROM rgv
         |  UNION ALL
         |  SELECT 2, 'license_ok', count(*),
         |    CAST(coalesce(sum(nt), 0) AS BIGINT)
         |  FROM rgv WHERE NOT copyleft_gate
         |  UNION ALL
         |  SELECT 3, 'pii_clean', count(*),
         |    CAST(coalesce(sum(nt), 0) AS BIGINT)
         |  FROM rgv WHERE NOT copyleft_gate AND NOT pii_gate
         |  UNION ALL
         |  SELECT 4, 'decontaminated', count(*),
         |    CAST(coalesce(sum(nt), 0) AS BIGINT)
         |  FROM rgv WHERE NOT copyleft_gate AND NOT pii_gate
         |    AND NOT contaminated
         |  UNION ALL
         |  SELECT 5, 'anonymous', count(*),
         |    CAST(coalesce(sum(nt), 0) AS BIGINT)
         |  FROM rgv WHERE NOT copyleft_gate AND NOT pii_gate
         |    AND NOT contaminated AND is_anonymous
         |) ORDER BY stage_ord""".stripMargin,
    "multimatch_counts" ->
      s"""WITH tm(i, term) AS (VALUES $acTermsValues),
         |ps AS (SELECT doc_id, text AS t,
         |    unnest(generate_series(1, CAST(len(text) AS BIGINT)))
         |      AS p
         |  FROM documents),
         |mm AS (SELECT doc_id, tm.i, count(*) AS c
         |  FROM ps JOIN tm
         |    ON substring(ps.t, CAST(ps.p AS INT), len(tm.term))
         |      = tm.term
         |  GROUP BY 1, 2),
         |sc AS (SELECT d.doc_id, tm.i, coalesce(mm.c, 0) AS c
         |  FROM (SELECT doc_id FROM documents) d
         |  CROSS JOIN tm
         |  LEFT JOIN mm ON mm.doc_id = d.doc_id AND mm.i = tm.i)
         |SELECT doc_id,
         |  CAST(sum(c) AS BIGINT) AS total_hits,
         |  CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS distinct_terms,
         |  array_to_string(list(CAST(c AS BIGINT) ORDER BY i), ',')
         |    AS counts_csv
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "blocklist_gate" ->
      """WITH bt AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |    t -> t != '') AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(tk, t -> list_contains(
        |      ['filter', 'slow', 'vector'], t))) AS BIGINT)
        |      AS blocked_hits,
        |    CAST(len(list_intersect(list_distinct(tk),
        |      ['filter', 'slow', 'vector'])) AS BIGINT)
        |      AS blocked_types
        |  FROM bt)
        |SELECT doc_id, n_tokens, blocked_hits, blocked_types,
        |  blocked_hits * 1000000 // greatest(n_tokens, 1)
        |    AS blocked_ppm,
        |  (blocked_hits * 1000000 // greatest(n_tokens, 1)) > 20000
        |    OR blocked_types >= 2 AS blocked_gate
        |FROM bg ORDER BY doc_id""".stripMargin,
    "boilerplate_ngrams" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '),
        |      t -> t != '') AS tk
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(tk) - 7),
        |    i -> array_to_string(list_slice(tk, i, i + 7), ' '))))
        |    AS gram
        |  FROM toks WHERE len(tk) >= 8)
        |SELECT gram, CAST(count(*) AS BIGINT) AS df
        |FROM g GROUP BY gram HAVING count(*) >= 3
        |ORDER BY df DESC, gram""".stripMargin,
    "url_parse" ->
      s"""WITH $duckUrlChain
         |SELECT doc_id, url, scheme, host, port, path, is_ip,
         |  registered_domain
         |FROM pr ORDER BY doc_id""".stripMargin,
    "domain_quality" ->
      s"""WITH $duckUrlChain,
         |q AS (
         |  SELECT pr.registered_domain,
         |    round(least(CAST($duckNTokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |      + (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
         |      + least(CAST(${duckHits("en")} AS DOUBLE) / $duckNTokens * 4.0, 1.0) * 0.3, 6)
         |      AS quality
         |  FROM pr JOIN documents USING (doc_id)),
         |g AS (
         |  SELECT registered_domain,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    round(CAST(sum(CAST(quality AS DECIMAL(28,10)))
         |      AS DOUBLE) / count(*), 6) AS mean_quality
         |  FROM q GROUP BY registered_domain)
         |SELECT registered_domain, n_docs, mean_quality,
         |  mean_quality < 0.3 AS blocklisted
         |FROM g ORDER BY registered_domain""".stripMargin,
    "host_stats" ->
      s"""WITH $duckUrlChain
         |SELECT registered_domain,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
         |  CAST((count(*) * 1000000) // (SELECT count(*) FROM pr)
         |    AS BIGINT) AS share_ppm
         |FROM pr GROUP BY registered_domain
         |ORDER BY registered_domain""".stripMargin,
    "host_cap" ->
      s"""WITH $duckUrlChain,
         |q AS (
         |  SELECT pr.doc_id, pr.registered_domain,
         |    round(least(CAST($duckNTokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |      + (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
         |      + least(CAST(${duckHits("en")} AS DOUBLE) / $duckNTokens * 4.0, 1.0) * 0.3, 6)
         |      AS quality
         |  FROM pr JOIN documents USING (doc_id)),
         |r AS (
         |  SELECT doc_id, registered_domain, quality,
         |    row_number() OVER (PARTITION BY registered_domain
         |      ORDER BY quality DESC, doc_id) AS rk
         |  FROM q)
         |SELECT doc_id, registered_domain, quality FROM r
         |WHERE rk <= 10 ORDER BY doc_id""".stripMargin,
    "lang_id" -> duckLangIdSql,
    "context_fit" ->
      s"""WITH sized AS (
         |  SELECT CAST(len(list_filter(string_split(lower(text), ' '),
         |    t -> t != '')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |x AS (
         |  SELECT n_tokens, unnest([CAST(64 AS BIGINT),
         |    CAST(128 AS BIGINT), CAST(256 AS BIGINT)]) AS win
         |  FROM sized)
         |SELECT win,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN n_tokens <= win THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_fit,
         |  CAST(sum(CASE WHEN n_tokens > win THEN n_tokens - win
         |    ELSE 0 END) AS BIGINT) AS lost_tokens,
         |  CAST((sum(CASE WHEN n_tokens > win THEN n_tokens - win
         |    ELSE 0 END) * 1000000) // sum(n_tokens) AS BIGINT)
         |    AS lost_ppm
         |FROM x GROUP BY win ORDER BY win""".stripMargin,
    "lang_stats" ->
      s"""WITH $duckLangIdChain,
         |j AS (
         |  SELECT lp.pred_lang, d.text
         |  FROM lp JOIN documents d USING (doc_id))
         |SELECT pred_lang,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CAST(len(list_filter(string_split(lower(text),
         |    ' '), t -> t != '')) AS BIGINT)) AS BIGINT) AS n_tokens,
         |  CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT)
         |    AS n_chars,
         |  CAST((count(*) * 1000000) //
         |    (SELECT count(*) FROM j) AS BIGINT) AS doc_share_ppm
         |FROM j GROUP BY pred_lang ORDER BY pred_lang""".stripMargin,
    // hllDistinct mirror: same md5-prefix hash, bin()-length rho,
    // bucket-sorted register fold with exact 1/2^M divisions;
    // literals ::DOUBLE-cast (bare 0.7213 parses as DECIMAL)
    "rank_quantiles" ->
      s"""WITH b AS (
         |  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE)
         |      AS v,
         |    concat(CAST(l_orderkey AS VARCHAR), '-',
         |      CAST(l_linenumber AS VARCHAR)) AS id
         |  FROM lineitem),
         |c AS (SELECT g, count(*) AS n_rows FROM b GROUP BY 1),
         |hh AS (
         |  SELECT b.g, b.v, b.id, c.n_rows,
         |    CAST(('0x' || substring(md5(lower(regexp_replace(
         |      trim(b.id), '\\s+', ' ', 'g'))), 1, 15)) AS BIGINT)
         |      AS h
         |  FROM b JOIN c USING (g)),
         |f AS (SELECT * FROM hh WHERE n_rows <= 2048
         |  OR h < (1152921504606846976 // n_rows) * 2048),
         |r AS (SELECT g, v, h, row_number() OVER (
         |    PARTITION BY g ORDER BY h, id) AS rn
         |  FROM f),
         |s AS (SELECT g, count(*) AS n_sample,
         |    list_sort(list(struct_pack(v := v, h := h))) AS sl
         |  FROM r WHERE rn <= 512 GROUP BY g),
         |e AS (SELECT s.g, c.n_rows, s.n_sample, q.q,
         |    struct_extract(sl[CAST(greatest(
         |      (q.q * s.n_sample + 99) // 100, 1) AS INT)], 'v')
         |      AS est
         |  FROM s JOIN c USING (g), (VALUES (50), (90), (99)) q(q)),
         |rk AS (SELECT e.g, e.q, e.n_rows, e.n_sample, e.est,
         |    CAST(sum(CASE WHEN b.v <= e.est THEN 1 ELSE 0 END)
         |      AS BIGINT) AS rank_le
         |  FROM e JOIN b USING (g) GROUP BY 1, 2, 3, 4, 5)
         |SELECT g AS l_returnflag, CAST(q AS BIGINT) AS q, n_rows,
         |  n_sample, est, rank_le,
         |  abs(rank_le * 1000000 - n_rows * q * 10000) // n_rows
         |    AS rank_err_ppm
         |FROM rk ORDER BY l_returnflag, q""".stripMargin,
    "hll_distinct" ->
      s"""WITH h AS (
         |  SELECT source,
         |    CAST(('0x' || substring(md5(lower(regexp_replace(
         |      trim(text), '\\s+', ' ', 'g'))), 1, 15)) AS BIGINT)
         |      AS h,
         |    text
         |  FROM documents),
         |bx AS (
         |  SELECT source, h % 256 AS bkt, h // 256 AS w FROM h),
         |r AS (
         |  SELECT source, bkt,
         |    max(CASE WHEN w = 0 THEN 53
         |      ELSE 53 - length(bin(w)) END) AS M
         |  FROM bx GROUP BY 1, 2),
         |f AS (
         |  SELECT source, count(*) AS present,
         |    list_reduce(list_transform(list(M ORDER BY bkt),
         |      mm -> 1.0::DOUBLE / (CAST(1 AS BIGINT) << mm)),
         |      (a, b) -> a + b) AS zp
         |  FROM r GROUP BY source),
         |e AS (
         |  SELECT source, CAST(count(DISTINCT text) AS BIGINT)
         |    AS n_exact
         |  FROM h GROUP BY source),
         |s AS (
         |  SELECT f.source, e.n_exact,
         |    (0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE
         |      / 256.0::DOUBLE)) * 256.0::DOUBLE * 256.0::DOUBLE
         |      / (zp + (256 - present)) AS raw,
         |    256 - present AS zeros
         |  FROM f JOIN e USING (source))
         |SELECT source, n_exact,
         |  round(CASE WHEN raw <= 640.0::DOUBLE AND zeros > 0
         |    THEN 256.0::DOUBLE * ln(256.0::DOUBLE / zeros)
         |    ELSE raw END, 6) AS n_est
         |FROM s ORDER BY source""".stripMargin,
    // cmsTopK mirror: same md5-prefix fingerprint, same affine
    // (a*x+b) mod P mod w row hashes, sketch as 4 unioned cell
    // aggregates, estimate = least over the 4 matched counters
    "cms_topk" ->
      """WITH tkc AS (
        |  SELECT unnest(list_filter(string_split(lower(text), ' '),
        |    t -> t != '')) AS tok
        |  FROM documents),
        |fpc AS MATERIALIZED (
        |  SELECT tok,
        |    CAST(('0x' || substring(md5(lower(regexp_replace(trim(tok),
        |      '\s+', ' ', 'g'))), 1, 15)) AS BIGINT) AS fp
        |  FROM tkc),
        |skc AS MATERIALIZED (
        |  SELECT 0 AS depth, (2654435761 * (fp % 1073741824) + 7)
        |      % 1000000007 % 2048 AS cell, CAST(count(*) AS BIGINT) AS cnt
        |    FROM fpc GROUP BY 2
        |  UNION ALL
        |  SELECT 1, (2246822519 * (fp % 1073741824) + 1013904223)
        |      % 1000000007 % 2048, CAST(count(*) AS BIGINT)
        |    FROM fpc GROUP BY 2
        |  UNION ALL
        |  SELECT 2, (3266489917 * (fp % 1073741824) + 1664525)
        |      % 1000000007 % 2048, CAST(count(*) AS BIGINT)
        |    FROM fpc GROUP BY 2
        |  UNION ALL
        |  SELECT 3, (668265263 * (fp % 1073741824) + 22695477)
        |      % 1000000007 % 2048, CAST(count(*) AS BIGINT)
        |    FROM fpc GROUP BY 2),
        |exc AS MATERIALIZED (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS n_exact, min(fp) AS fp
        |  FROM fpc GROUP BY tok
        |  ORDER BY n_exact DESC, tok LIMIT 20)
        |SELECT exc.tok, exc.n_exact,
        |  least(s0.cnt, s1.cnt, s2.cnt, s3.cnt) AS n_est,
        |  CAST(((least(s0.cnt, s1.cnt, s2.cnt, s3.cnt) - exc.n_exact)
        |    * 1000000) // exc.n_exact AS BIGINT) AS err_ppm
        |FROM exc
        |JOIN skc s0 ON s0.depth = 0 AND s0.cell =
        |  (2654435761 * (exc.fp % 1073741824) + 7) % 1000000007 % 2048
        |JOIN skc s1 ON s1.depth = 1 AND s1.cell =
        |  (2246822519 * (exc.fp % 1073741824) + 1013904223)
        |    % 1000000007 % 2048
        |JOIN skc s2 ON s2.depth = 2 AND s2.cell =
        |  (3266489917 * (exc.fp % 1073741824) + 1664525)
        |    % 1000000007 % 2048
        |JOIN skc s3 ON s3.depth = 3 AND s3.cell =
        |  (668265263 * (exc.fp % 1073741824) + 22695477)
        |    % 1000000007 % 2048
        |ORDER BY n_exact DESC, tok""".stripMargin,
    // ngramDiversity mirror: unnested 1/2/3-gram frames, two-phase
    // COUNT(DISTINCT), integer ppm ratios; short docs guarded by
    // the len(t) >= n WHERE (no grams contributed either way)
    "ngram_diversity" ->
      """WITH ndt AS MATERIALIZED (
        |  SELECT source AS grp, list_filter(string_split(lower(text),
        |    ' '), t -> t != '') AS t
        |  FROM documents),
        |ndu AS (
        |  SELECT grp, count(*) AS n_uni, count(DISTINCT g) AS d_uni
        |  FROM (SELECT grp, unnest(t) AS g FROM ndt) GROUP BY grp),
        |ndb AS (
        |  SELECT grp, count(*) AS n_bi, count(DISTINCT g) AS d_bi
        |  FROM (
        |    SELECT grp, unnest(list_transform(
        |      generate_series(1, len(t) - 1),
        |      i -> concat(t[i], ' ', t[i + 1]))) AS g
        |    FROM ndt WHERE len(t) >= 2) GROUP BY grp),
        |ndr AS (
        |  SELECT grp, count(*) AS n_tri, count(DISTINCT g) AS d_tri
        |  FROM (
        |    SELECT grp, unnest(list_transform(
        |      generate_series(1, len(t) - 2),
        |      i -> concat(t[i], ' ', t[i + 1], ' ', t[i + 2]))) AS g
        |    FROM ndt WHERE len(t) >= 3) GROUP BY grp)
        |SELECT ndu.grp AS source, CAST(n_uni AS BIGINT) AS n_tokens,
        |  CAST((d_uni * 1000000) // n_uni AS BIGINT) AS ttr_ppm,
        |  CAST((d_bi * 1000000) // n_bi AS BIGINT) AS distinct2_ppm,
        |  CAST((d_tri * 1000000) // n_tri AS BIGINT) AS distinct3_ppm
        |FROM ndu LEFT JOIN ndb USING (grp) LEFT JOIN ndr USING (grp)
        |ORDER BY source""".stripMargin,
    "url_canon" ->
      s"""WITH $duckCanonChain
         |SELECT doc_id, url, canon_url, n_params_dropped,
         |  CAST(count(*) OVER (PARTITION BY canon_url) AS BIGINT)
         |    AS n_same_canon,
         |  doc_id = min(doc_id) OVER (PARTITION BY canon_url)
         |    AS is_keeper
         |FROM cu ORDER BY doc_id""".stripMargin,
    "tokenizer_fertility" ->
      s"""WITH ${duckBpeBatchedChain(10, 8)},
         |$duckLangIdChain,
         |tfb AS (
         |  SELECT doc_id, CAST(sum(len(list_filter(
         |      string_split(repr, ' '), x -> x != ''))) AS BIGINT)
         |    AS n_bpe
         |  FROM bdw JOIN bw10 USING (word)
         |  GROUP BY doc_id),
         |tfm AS (
         |  SELECT lp.pred_lang,
         |    CAST(len(list_filter(string_split(lower(d.text), ' '),
         |      t -> t != '')) AS BIGINT) AS w,
         |    CAST(length(d.text) AS BIGINT) AS c,
         |    tfb.n_bpe
         |  FROM lp JOIN documents d USING (doc_id)
         |  JOIN tfb USING (doc_id)),
         |tfg AS (
         |  SELECT pred_lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(w) AS BIGINT) AS n_words,
         |    CAST(sum(n_bpe) AS BIGINT) AS n_bpe,
         |    CAST(sum(c) AS BIGINT) AS n_chars
         |  FROM tfm GROUP BY pred_lang)
         |SELECT pred_lang, n_docs, n_words, n_bpe, n_chars,
         |  CAST((n_bpe * 1000000) // n_words AS BIGINT)
         |    AS fertility_ppm,
         |  CAST((n_chars * 1000000) // n_bpe AS BIGINT)
         |    AS chars_per_tok_ppm
         |FROM tfg ORDER BY pred_lang""".stripMargin,
    // trigram-LM chain copied p-prefixed (verbatim arithmetic from
    // the green trigram_lm_score mirror), then ntile(3) per
    // predicted language on the ROUNDED score — count-based
    // tertiles, no cross-engine percentile interpolation
    "ppl_buckets" ->
      s"""WITH $duckLangIdChain,
         |ptok AS (
         |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
         |    t -> t != '') AS t
         |  FROM documents),
         |pt3 AS (SELECT doc_id, t FROM ptok WHERE len(t) >= 3),
         |ptr AS (SELECT doc_id, t FROM pt3 WHERE doc_id % 2 = 0),
         |pcu AS MATERIALIZED (
         |  SELECT w, count(*) AS cw
         |  FROM (SELECT unnest(t) AS w FROM ptr) GROUP BY w),
         |pk AS (
         |  SELECT CAST(sum(cw) AS BIGINT) AS tt,
         |    CAST(count(*) AS BIGINT) AS v
         |  FROM pcu),
         |pcb AS MATERIALIZED (
         |  SELECT x, y, count(*) AS cxy FROM (
         |    SELECT unnest(list_slice(t, 1, len(t) - 1)) AS x,
         |           unnest(list_slice(t, 2, len(t))) AS y
         |    FROM ptr) GROUP BY x, y),
         |pct AS MATERIALIZED (
         |  SELECT a, b, c, count(*) AS cabc FROM (
         |    SELECT unnest(list_slice(t, 1, len(t) - 2)) AS a,
         |           unnest(list_slice(t, 2, len(t) - 1)) AS b,
         |           unnest(list_slice(t, 3, len(t))) AS c
         |    FROM ptr) GROUP BY a, b, c),
         |pg AS (
         |  SELECT doc_id,
         |    unnest(list_slice(t, 1, len(t) - 2)) AS a,
         |    unnest(list_slice(t, 2, len(t) - 1)) AS b,
         |    unnest(list_slice(t, 3, len(t))) AS c
         |  FROM pt3),
         |psc AS (
         |  SELECT pg.doc_id,
         |    CASE WHEN pct.cabc IS NOT NULL
         |           THEN ln(CAST(pct.cabc AS DOUBLE) / ab.cxy)
         |         WHEN bc.cxy IS NOT NULL
         |           THEN ln(0.4 * bc.cxy / ub.cw)
         |         ELSE ln(0.16 * (coalesce(uc.cw, 0) + 1.0)
         |           / (pk.tt + pk.v)) END AS lp
         |  FROM pg
         |  LEFT JOIN pcb ab ON ab.x = pg.a AND ab.y = pg.b
         |  LEFT JOIN pcb bc ON bc.x = pg.b AND bc.y = pg.c
         |  LEFT JOIN pcu ub ON ub.w = pg.b
         |  LEFT JOIN pcu uc ON uc.w = pg.c
         |  LEFT JOIN pct ON pct.a = pg.a AND pct.b = pg.b
         |    AND pct.c = pg.c
         |  CROSS JOIN pk),
         |pdc AS (
         |  SELECT doc_id, round(sum(lp) / count(*), 6) AS avg_logprob
         |  FROM psc GROUP BY doc_id),
         |pnt AS (
         |  SELECT lp.pred_lang, pdc.doc_id, pdc.avg_logprob,
         |    ntile(3) OVER (PARTITION BY lp.pred_lang
         |      ORDER BY pdc.avg_logprob DESC, pdc.doc_id ASC) AS nt
         |  FROM pdc JOIN lp USING (doc_id))
         |SELECT pred_lang,
         |  CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
         |    ELSE 'tail' END AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  round(CAST(sum(CAST(avg_logprob AS DECIMAL(28,10)))
         |    AS DOUBLE) / count(*), 6) AS mean_logprob,
         |  min(avg_logprob) AS min_logprob,
         |  max(avg_logprob) AS max_logprob
         |FROM pnt GROUP BY 1, 2
         |ORDER BY pred_lang, bucket""".stripMargin,
    // heuristic stopword-argmax CASE mirrored in priority order
    // (en > es > fr > de on ties, und floor), joined to the model
    // chain; share window over the tiny aggregated frame
    "lang_confusion" ->
      s"""WITH $duckLangIdChain,
         |lch AS (
         |  SELECT doc_id,
         |    CAST(${duckHits("en")} AS BIGINT) AS h_en,
         |    CAST(${duckHits("es")} AS BIGINT) AS h_es,
         |    CAST(${duckHits("fr")} AS BIGINT) AS h_fr,
         |    CAST(${duckHits("de")} AS BIGINT) AS h_de
         |  FROM documents),
         |lcx AS (
         |  SELECT doc_id, CASE
         |    WHEN h_en >= greatest(h_es, h_fr, h_de) AND h_en > 0
         |      THEN 'en'
         |    WHEN h_es >= greatest(h_en, h_fr, h_de) AND h_es > 0
         |      THEN 'es'
         |    WHEN h_fr >= greatest(h_en, h_es, h_de) AND h_fr > 0
         |      THEN 'fr'
         |    WHEN h_de >= greatest(h_en, h_es, h_fr) AND h_de > 0
         |      THEN 'de'
         |    ELSE 'und' END AS heur_lang
         |  FROM lch),
         |lcg AS (
         |  SELECT heur_lang, pred_lang,
         |    CAST(count(*) AS BIGINT) AS n_docs
         |  FROM lcx JOIN lp USING (doc_id) GROUP BY 1, 2)
         |SELECT heur_lang, pred_lang, n_docs,
         |  CAST(n_docs * 1000000 // CAST(sum(n_docs) OVER
         |    (PARTITION BY heur_lang) AS BIGINT) AS BIGINT)
         |    AS share_ppm
         |FROM lcg ORDER BY heur_lang, pred_lang""".stripMargin,
    // value-grain equidepth band map (cum-before × nBands DIV total
    // + 1), joined back on the 6dp quality value; no corpus window
    "curriculum_order" ->
      s"""WITH cqv AS (
         |  SELECT doc_id,
         |    round(least(CAST($duckNTokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |      + (1.0 - CAST(length(regexp_replace(text,
         |          '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
         |        / length(text)) * 0.3
         |      + least(CAST(${duckHits("en")} AS DOUBLE)
         |        / $duckNTokens * 4.0, 1.0) * 0.3, 6) AS quality,
         |    CAST(('0x' || substring(md5(lower(regexp_replace(
         |      trim(text), '\\s+', ' ', 'g'))), 1, 15)) AS BIGINT)
         |      AS shuffle_key
         |  FROM documents),
         |cqh AS (SELECT quality, count(*) AS n FROM cqv
         |        GROUP BY quality),
         |cqt AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM cqh),
         |cqb AS (
         |  SELECT quality,
         |    CAST(COALESCE(SUM(n) OVER (ORDER BY quality DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) * 5 // tot + 1 AS band
         |  FROM cqh, cqt)
         |SELECT v.doc_id, v.quality, CAST(b.band AS BIGINT) AS band,
         |  v.shuffle_key
         |FROM cqv v JOIN cqb b USING (quality)
         |ORDER BY band, shuffle_key, doc_id""".stripMargin,
    // row-local log2-class + hash shard assignment; per-shard report
    // with the abs-routed signed ppm deviation (// == DIV on the
    // non-negative operands both branches feed it)
    "shard_plan" ->
      s"""WITH shd AS (
         |  SELECT doc_id, CAST(length(text) AS BIGINT) AS sz,
         |    CAST(('0x' || substring(md5(lower(regexp_replace(
         |      trim(text), '\\s+', ' ', 'g'))), 1, 15)) AS BIGINT) AS h
         |  FROM documents),
         |shc AS (
         |  SELECT *, CASE WHEN sz <= 0 THEN 0
         |    ELSE length(format('{:b}', sz)) END AS cls
         |  FROM shd),
         |shg AS (
         |  SELECT (h + cls) % 8 AS shard,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(sz) AS BIGINT) AS total_chars,
         |    CAST(max(sz) AS BIGINT) AS max_doc_chars
         |  FROM shc GROUP BY 1),
         |shm AS (SELECT greatest(CAST(sum(total_chars) AS BIGINT)
         |  // 8, 1) AS mean FROM shg)
         |SELECT shard, n_docs, total_chars, max_doc_chars,
         |  CAST(CASE WHEN total_chars >= mean
         |    THEN (total_chars - mean) * 1000000 // mean
         |    ELSE -((mean - total_chars) * 1000000 // mean) END
         |    AS BIGINT) AS dev_ppm
         |FROM shg, shm ORDER BY shard""".stripMargin,
    // href extraction + the parameterized registered-domain chain on
    // BOTH ends; one integer PageRank push per in-edge
    "link_graph" ->
      s"""WITH lgd AS (
         |  SELECT doc_id, source, $duckSyntheticUrl AS u,
         |    concat(
         |      CASE WHEN doc_id % 5 = 1 THEN 'no links here'
         |        ELSE concat('see <a href="https://w',
         |          CAST(doc_id % 3 AS VARCHAR), '.dom',
         |          CAST(doc_id % 23 AS VARCHAR), '.com/a/',
         |          CAST(doc_id AS VARCHAR), '">t</a>') END,
         |      ' mid ',
         |      CASE WHEN doc_id % 4 = 0 THEN concat('<a href="',
         |          $duckSyntheticUrl, '">self</a>')
         |        ELSE concat('<a href="http://m.dom',
         |          CAST(doc_id % 7 AS VARCHAR), '.co.uk/b?x=',
         |          CAST(doc_id % 11 AS VARCHAR), '">u</a>') END)
         |      AS ltext
         |  FROM documents),
         |${duckParse("lgd", "u", "doc_id", "lgs")},
         |lgh AS (
         |  SELECT doc_id, unnest(regexp_extract_all(ltext,
         |    'href="([^"]+)"', 1)) AS h
         |  FROM lgd),
         |${duckParse("lgh", "h", "doc_id, h", "lgt")},
         |lge AS (
         |  SELECT s.registered_domain AS src_dom,
         |    t.registered_domain AS dst_dom
         |  FROM lgsr s JOIN lgtr t USING (doc_id)
         |  WHERE t.registered_domain != s.registered_domain),
         |lgo AS (SELECT src_dom, CAST(count(*) AS BIGINT) AS outdeg
         |        FROM lge GROUP BY src_dom)
         |SELECT dst_dom, CAST(count(*) AS BIGINT) AS in_links,
         |  CAST(count(DISTINCT e.src_dom) AS BIGINT) AS n_src_domains,
         |  CAST(sum(1000000 // o.outdeg) AS BIGINT) AS authority_ppm
         |FROM lge e JOIN lgo o ON e.src_dom = o.src_dom
         |GROUP BY dst_dom ORDER BY dst_dom""".stripMargin,
    // union corpus (+ half-length excerpts), exact-reps collapse,
    // the shared sig/band/cap chain, then integer-ppm containment
    "containment_pairs" ->
      s"""WITH ccorp AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000000,
         |    substring(text, 1, CAST(length(text) // 2 AS INT))
         |  FROM documents
         |  WHERE doc_id % 10 = 3 AND length(text) >= 40),
         |reps AS (SELECT min(doc_id) AS doc_id, text FROM ccorp
         |         GROUP BY text),
         |${sigCteFrom("reps")},
         |$bandCte,
         |${cappedCte()},
         |cpp AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM capped a JOIN capped b
         |    ON a.band = b.band AND a.band_key = b.band_key
         |   AND a.doc_id < b.doc_id),
         |csh AS (SELECT doc_id,
         |          list_distinct(${duckHashes(duckShingles)}) AS sh
         |        FROM reps),
         |cint AS (
         |  SELECT p.id1, p.id2,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS i,
         |    CAST(len(a.sh) AS BIGINT) AS s1,
         |    CAST(len(b.sh) AS BIGINT) AS s2
         |  FROM cpp p
         |  JOIN csh a ON a.doc_id = p.id1
         |  JOIN csh b ON b.doc_id = p.id2)
         |SELECT id1, id2,
         |  i * 1000000 // s1 AS c12_ppm,
         |  i * 1000000 // s2 AS c21_ppm,
         |  i * 1000000 // (s1 + s2 - i) AS jaccard_ppm,
         |  (i * 1000000 // (s1 + s2 - i)) < 800000 AS near_subset
         |FROM cint
         |WHERE greatest(i * 1000000 // s1, i * 1000000 // s2)
         |  >= 800000
         |ORDER BY id1, id2""".stripMargin,
    // v6: canon chain -> min-id merge on canon_url -> langId gate ->
    // registered_domain re-derived by parsing the canon key itself
    // (same folded host, proven identical) -> equidepth band map ->
    // (hash + log2 class) % 8 shard
    "curation_v6" ->
      s"""WITH $duckCanonChain,
         |$duckLangIdChain,
         |v6k AS (SELECT canon_url, min(doc_id) AS doc_id FROM cu
         |        GROUP BY canon_url),
         |v6l AS (
         |  SELECT k.doc_id, k.canon_url, lp.pred_lang
         |  FROM v6k k JOIN lp USING (doc_id)
         |  WHERE lp.pred_lang != 'und'),
         |${duckParse("v6l", "canon_url", "doc_id, pred_lang", "v6d")},
         |v6q AS (
         |  SELECT r.doc_id, r.pred_lang, r.registered_domain,
         |    round(least(CAST($duckNTokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |      + (1.0 - CAST(length(regexp_replace(text,
         |          '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
         |        / length(text)) * 0.3
         |      + least(CAST(${duckHits("en")} AS DOUBLE)
         |        / $duckNTokens * 4.0, 1.0) * 0.3, 6) AS quality,
         |    CAST(('0x' || substring(md5(lower(regexp_replace(
         |      trim(text), '\\s+', ' ', 'g'))), 1, 15)) AS BIGINT) AS h,
         |    CAST(length(text) AS BIGINT) AS sz
         |  FROM v6dr r JOIN documents d USING (doc_id)),
         |v6h AS (SELECT quality, count(*) AS n FROM v6q
         |        GROUP BY quality),
         |v6t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM v6h),
         |v6b AS (
         |  SELECT quality,
         |    CAST(COALESCE(SUM(n) OVER (ORDER BY quality DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) * 4 // tot + 1 AS band
         |  FROM v6h, v6t)
         |SELECT q.doc_id, q.registered_domain, q.pred_lang,
         |  q.quality, CAST(b.band AS BIGINT) AS band,
         |  (q.h + CASE WHEN q.sz <= 0 THEN 0
         |    ELSE length(format('{:b}', q.sz)) END) % 8 AS shard
         |FROM v6q q JOIN v6b b USING (quality)
         |ORDER BY doc_id""".stripMargin,
    "curation_v5" ->
      s"""WITH $duckUrlChain,
         |$duckLangIdChain,
         |lng AS (
         |  SELECT doc_id, pred_lang FROM lp WHERE pred_lang != 'und'),
         |base AS (
         |  SELECT pr.doc_id, pr.registered_domain, lng.pred_lang,
         |    d.text
         |  FROM pr JOIN lng USING (doc_id)
         |  JOIN documents d USING (doc_id)),
         |reps AS (
         |  SELECT min(doc_id) AS doc_id FROM base GROUP BY md5(text)),
         |q AS (
         |  SELECT base.doc_id, registered_domain, pred_lang,
         |    round(least(CAST($duckNTokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |      + (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
         |      + least(CAST(${duckHits("en")} AS DOUBLE) / $duckNTokens * 4.0, 1.0) * 0.3, 6)
         |      AS quality
         |  FROM base JOIN reps USING (doc_id)),
         |r AS (
         |  SELECT doc_id, registered_domain, pred_lang, quality,
         |    row_number() OVER (PARTITION BY registered_domain
         |      ORDER BY quality DESC, doc_id) AS rk
         |  FROM q)
         |SELECT doc_id, registered_domain, pred_lang, quality FROM r
         |WHERE rk <= 10 ORDER BY doc_id""".stripMargin,
    "domain_cap" ->
      s"""WITH q AS (
         |  SELECT doc_id, source,
         |    round(least(CAST($duckNTokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |      + (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
         |      + least(CAST(${duckHits("en")} AS DOUBLE) / $duckNTokens * 4.0, 1.0) * 0.3, 6)
         |      AS quality
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, source, quality,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY quality DESC, doc_id) AS rk
         |  FROM q)
         |SELECT doc_id, source, quality FROM r WHERE rk <= 10
         |ORDER BY doc_id""".stripMargin,
    // DSIR mirror: identical hash→bucket-count chain, per-side
    // integer totals via zipped unnests, init-less list_reduce ==
    // Spark's 0-seeded fold, round(…,6) as the ln() grain
    "dsir_weights" ->
      s"""WITH th AS (
         |  SELECT doc_id, source = 'src0' AS is_target,
         |    list_transform(
         |      list_filter(string_split(lower(text), ' '),
         |        t -> t != ''),
         |      t -> ${duckPolyHash("t")}) AS th
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, is_target, list_transform(range(0, 32),
         |    b -> CAST(len(list_filter(th, h -> h % 32 = b))
         |         AS BIGINT)) AS cnt
         |  FROM th WHERE len(th) > 0),
         |e AS (
         |  SELECT is_target, b, sum(v) AS v FROM (
         |    SELECT is_target, unnest(range(0, 32)) AS b,
         |      unnest(cnt) AS v FROM c) GROUP BY 1, 2),
         |f AS (
         |  SELECT is_target, list(CAST(v AS BIGINT) ORDER BY b) AS vs,
         |    CAST(sum(v) AS BIGINT) AS tot
         |  FROM e GROUP BY 1),
         |k AS (
         |  SELECT max(CASE WHEN is_target THEN vs END) AS tv,
         |    max(CASE WHEN is_target THEN tot END) AS tt,
         |    max(CASE WHEN NOT is_target THEN vs END) AS rv,
         |    max(CASE WHEN NOT is_target THEN tot END) AS rt
         |  FROM f)
         |SELECT doc_id, is_target,
         |  round(list_reduce(list_transform(generate_series(1, 32),
         |    b -> cnt[b] * (ln((tv[b] + 1) / (tt + 32))
         |                   - ln((rv[b] + 1) / (rt + 32)))),
         |    (a, x) -> a + x), 6) AS dsir_score
         |FROM c, k ORDER BY doc_id""".stripMargin,
    // entropy mirror: identical bigram counts, identical SORTED-fold
    // order (binary UTF-8 both engines), init-less list_reduce ==
    // Spark's 0-seeded fold, round(…,6) as the ln() grain
    "char_entropy" ->
      """WITH cs AS (
        |  SELECT doc_id, string_split(text, '') AS cs
        |  FROM documents WHERE length(text) >= 2),
        |bgc AS (
        |  SELECT doc_id, bg, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      generate_series(1, len(cs) - 1),
        |      i -> cs[i] || cs[i + 1])) AS bg
        |    FROM cs) GROUP BY 1, 2),
        |a AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |    list(CAST(c AS BIGINT) ORDER BY bg) AS cl
        |  FROM bgc GROUP BY 1),
        |e AS (
        |  SELECT doc_id, n,
        |    round(ln(CAST(n AS DOUBLE)) -
        |      list_reduce(list_transform(cl,
        |        x -> x * ln(CAST(x AS DOUBLE))),
        |        (p, q) -> p + q) / n, 6) AS entropy
        |  FROM a)
        |SELECT d.doc_id,
        |  CAST(coalesce(e.n, 0) AS BIGINT) AS n_bigrams,
        |  coalesce(e.entropy, CAST(0 AS DOUBLE)) AS entropy
        |FROM documents d LEFT JOIN e USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // integer ppm mirror of docRepetition: every fraction is a
    // BIGINT floor-division — no float in any hashed column
    "doc_repetition" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |l AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split(text, chr(10)), x -> x != '')) AS line
        |  FROM d),
        |lc AS (SELECT doc_id, line, count(*) AS c FROM l GROUP BY 1, 2),
        |la AS (
        |  SELECT doc_id, sum(c) AS n_lines, sum(c - 1) AS n_dup,
        |    sum((c - 1) * length(line)) AS dup_chars,
        |    sum(c * length(line)) AS tot_chars
        |  FROM lc GROUP BY 1),
        |tk AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |    t -> t != '') AS tk FROM d),
        |w AS (
        |  SELECT doc_id, list_sum(list_transform(tk, t -> length(t)))
        |    AS wchars FROM tk),
        |g2c AS (
        |  SELECT doc_id, gram, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      generate_series(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1])) AS gram
        |    FROM tk WHERE len(tk) >= 2) GROUP BY 1, 2),
        |g2a AS (SELECT doc_id, max(c * (length(gram) - 1)) AS top2
        |  FROM g2c GROUP BY 1),
        |g3c AS (
        |  SELECT doc_id, gram, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      generate_series(1, len(tk) - 2),
        |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))
        |      AS gram
        |    FROM tk WHERE len(tk) >= 3) GROUP BY 1, 2),
        |g3a AS (SELECT doc_id, max(c * (length(gram) - 2)) AS top3
        |  FROM g3c GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(n_lines, 0) AS BIGINT) AS n_lines,
        |  CAST(CASE WHEN n_lines > 0
        |    THEN n_dup * 1000000 // n_lines ELSE 0 END AS BIGINT)
        |    AS dup_line_ppm,
        |  CAST(CASE WHEN tot_chars > 0
        |    THEN dup_chars * 1000000 // tot_chars ELSE 0 END AS BIGINT)
        |    AS dup_char_ppm,
        |  CAST(CASE WHEN wchars > 0 AND top2 IS NOT NULL
        |    THEN top2 * 1000000 // wchars ELSE 0 END AS BIGINT)
        |    AS top2_ppm,
        |  CAST(CASE WHEN wchars > 0 AND top3 IS NOT NULL
        |    THEN top3 * 1000000 // wchars ELSE 0 END AS BIGINT)
        |    AS top3_ppm
        |FROM d LEFT JOIN la USING (doc_id) LEFT JOIN w USING (doc_id)
        |  LEFT JOIN g2a USING (doc_id) LEFT JOIN g3a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "gopher_rules" ->
      s"""WITH st AS (
         |  SELECT doc_id,
         |    $duckNTokens AS nt,
         |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
         |      / $duckNTokens AS awl,
         |    CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
         |      / length(text) AS sym,
         |    CAST(${duckHits("en")} AS DOUBLE) / $duckNTokens AS swr
         |  FROM documents)
         |SELECT doc_id,
         |  (nt >= 40 AND nt <= 1000) AS rule_tokens,
         |  (awl >= 2.0 AND awl <= 12.0) AS rule_word_len,
         |  (sym <= 0.1) AS rule_symbols,
         |  (swr >= 0.0) AS rule_stopwords,
         |  ((nt >= 40 AND nt <= 1000) AND (awl >= 2.0 AND awl <= 12.0)
         |    AND sym <= 0.1 AND swr >= 0.0) AS keep
         |FROM st ORDER BY doc_id""".stripMargin,
    "graft_sql" ->
      s"""WITH h AS (
         |  SELECT doc_id, text,
         |    ${duckHashes(duckShingles)} AS hashes
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, text, hashes, ${duckSig("hashes")} AS sig
         |  FROM h)
         |SELECT doc_id,
         |  ${duckPolyHash("text")} AS fp,
         |  CAST(len(hashes) AS BIGINT) AS n_shingles,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |  sig[1] AS mh_first,
         |  sig[len(sig)] AS mh_last,
         |  $duckSimhash AS sh,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST($duckNTokens AS BIGINT) AS n_tokens,
         |  CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
         |    AS BIGINT) AS n_punct,
         |  CAST(len(list_filter(
         |    list_transform(string_split(text, ' '),
         |      t -> ${duckPolyHash("t")}),
         |    h -> h % 8 = 0)) AS DOUBLE) AS fh0,
         |  CAST(len(list_filter(string_split(lower(text), ' '),
         |    t -> t != '')) AS BIGINT) AS n_ctok,
         |  CAST(len(list_distinct(list_transform(
         |    generate_series(1, greatest(len(hashes) - 4, 1)),
         |    i -> list_min(list_slice(hashes, i,
         |      i + least(5, len(hashes)) - 1))))) AS BIGINT) AS n_fps,
         |  list_min(hashes) AS wm_first,
         |  list_reduce(list_prepend(0, list_slice(
         |    list_transform(list_filter(string_split(lower(text), ' '),
         |      t -> t != ''), t -> ${duckPolyHash("t")}),
         |    1, least(8, len(list_filter(string_split(lower(text), ' '),
         |      t -> t != ''))))),
         |    (acc, h) -> (acc * 31 + h) % $P) AS g8_first
         |FROM s ORDER BY doc_id""".stripMargin)
}
