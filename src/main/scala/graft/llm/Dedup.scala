package graft.llm

import graft.engine.Guard
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared integer-hash constants. Everything here is plain 64-bit
  * integer arithmetic so results are exactly reproducible in any
  * engine (the DuckDB oracles use the same constants); intermediate
  * products stay < 2^62 (values < P ≈ 2^30, multipliers < 2^31).
  */
object HashConstants {
  val P: Long = 1000000007L
  /** K=16 minhash permutations h_k(x) = (a_k * x + b_k) mod P. */
  val minhashA: Seq[Long] = Seq(1049297L, 2097169L, 4194319L, 8388617L,
    16777259L, 33554467L, 67108879L, 134217757L, 268435459L,
    536870923L, 73856093L, 19349663L, 83492791L, 15485863L, 32452843L,
    49979687L)
  val minhashB: Seq[Long] = Seq(7L, 101L, 1009L, 10007L, 100003L,
    1000003L, 10000019L, 100000007L, 13L, 211L, 3023L, 40009L,
    500009L, 6000011L, 70000027L, 800000011L)
  /** banded LSH layout over the K=16 signature: 4 bands × 4 rows.
    * Candidate probability per band is s⁴ — tuned for near-dup
    * thresholds (τ ≈ 0.8: ~94% recall, few false candidates); a 2-row
    * layout at the same K floods the verify stage with low-similarity
    * pairs (measured 355k candidates → 256 true at sf0.1).
    */
  val lshBands = 4
  val lshRows = 4
  val simhashBits = 20
  val shingleSize = 5
}

/** Deduplication operators for large text corpora (the builder brief's
  * LLM-data-pipeline category; no reference-repo counterpart).
  *
  * Scale design: exact dedup is a hash-keyed groupBy (one shuffle on
  * the content hash — never a sort of raw text). Near-dup detection is
  * shingle → minhash signature (narrow, per-row, codegen'd
  * expressions) → banded LSH bucket groupBy (shuffle keyed on
  * (band, band_key), which is uniformly distributed by construction) →
  * within-bucket candidate pairs → exact n-gram Jaccard verification
  * on candidates only. There is NO all-pairs / cross join anywhere:
  * at 100 TB the candidate-pair count is governed by the LSH collision
  * rate, not n².
  */
object Dedup {
  import HashConstants._

  /** Exact dedup, deterministic keeper = min doc id per text group. */
  def exactDedup(df: DataFrame, text: String, id: String): DataFrame =
    df.groupBy(col(text))
      .agg(min(col(id)).as("keeper"), count(lit(1)).as("dup_count"))

  /** Exact dedup keyed on md5(text) — at scale the shuffle carries the
    * 16-byte hash, not the document body.
    */
  def exactDedupByHash(df: DataFrame, text: String, id: String): DataFrame =
    df.groupBy(md5(col(text).cast("binary")).as("text_md5"))
      .agg(min(col(id)).as("keeper"), count(lit(1)).as("dup_count"))

  /** Character n-gram shingles of a text column (positions are
    * 1-based; guarded for texts shorter than the shingle).
    */
  def shinglesExpr(text: String, n: Int = shingleSize): Column =
    expr(s"""CASE WHEN length($text) >= $n
             THEN transform(sequence(1, length($text) - ${n - 1}),
                            i -> substring($text, i, $n))
             ELSE array($text) END""")

  /** Polynomial rolling hash of every shingle:
    * h(s) = fold(acc*31 + codepoint) mod P. Left fold from 0 —
    * identical to a first-element-seeded fold, which is what the
    * DuckDB oracle's list_reduce computes.
    */
  def shingleHashesExpr(shinglesCol: String): Column =
    expr(s"""transform($shinglesCol,
             s -> aggregate(sequence(1, length(s)), 0L,
                  (acc, i) -> (acc * 31 + ascii(substring(s, i, 1))) % $P))""")

  /** Codepoint array of a text column — staged once so shingle hashing
    * folds over slices instead of re-running substring/ascii per
    * shingle character (interpreted lambdas: ~25% fewer node evals).
    */
  def charCodesExpr(text: String): Column =
    expr(s"""transform(sequence(1, length($text)),
             i -> CAST(ascii(substring($text, i, 1)) AS BIGINT))""")

  /** Shingle hashes from a staged codepoint column; identical values
    * to shingleHashesExpr ∘ shinglesExpr (the fold over a shingle's
    * codepoints IS the fold over the corresponding codes slice).
    */
  def shingleHashesFromCodes(codesCol: String, n: Int = shingleSize)
      : Column =
    expr(s"""transform(sequence(1, greatest(size($codesCol) - ${n - 1}, 1)),
             i -> aggregate(slice($codesCol, i, least($n, size($codesCol))),
                  0L, (acc, c) -> (acc * 31 + c) % $P))""")

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003
    * — the MOSS local-fingerprinting algorithm), window-min value
    * variant: slide a `w`-wide window over the document's shingle-
    * hash sequence, keep each window's MINIMUM hash, dedup and sort.
    * The winnowing guarantee: any substring two documents share of
    * length ≥ w + shingleSize − 1 contributes at least one SHARED
    * fingerprint, while only ~2/(w+1) of positions are retained — a
    * principled sample where the span-dedup family's posting list
    * keeps every position. Entirely ROW-LOCAL (native codegen'd
    * shingle hashing + native monotonic-deque window minima — the
    * equivalent HOF `transform(sequence, i -> array_min(slice(...)))`
    * is O(n·w) interpreted-lambda work and alone cost ~28 s at sf0.1
    * as the posting-list upstream; [[WinnowMins]] is O(n) compiled),
    * zero shuffle at any corpus size; all-integer arithmetic keeps
    * the oracle hash-exact.
    */
  def winnowFingerprints(df: DataFrame, text: String, id: String,
      w: Int = 5): DataFrame =
    df.withColumn("__hs", PolyHashColumns.shingleHashes(col(text)))
      .select(col(id),
        PolyHashColumns.winnowMins(col("__hs"), w).as("fps"))

  /** Winnow-fingerprint match pairs: posting-list self-join keyed on
    * the fingerprint hash, scored by JACCARD OVER THE FINGERPRINT
    * SETS — the MOSS match step with its similarity report. Two
    * measured design points on a boilerplate-heavy corpus:
    * (1) raw shared-count is NOT the threshold — every pair shares a
    * few minima (a count≥3 gate kept 124k of 125k possible pairs at
    * sf0.01) while Jaccard separates near-dups ≥0.9 from background
    * ≤0.6; (2) non-discriminative fingerprints must be DROPPED, not
    * capped — a fingerprint held by thousands of documents
    * enumerates ~cap²/2 pairs of pure background (the cap-to-1024
    * variant measured 52 s at sf0.1; df-filter + pinned posting
    * list: 0.8 s), so
    * fingerprints with document frequency > `maxDf` are excluded
    * and the Jaccard is computed in the surviving DISCRIMINATIVE
    * fingerprint space (set sizes from the same filtered posting
    * list — near-dup pairs keep their rare fingerprints and their
    * sim; boilerplate stops costing anything). This is the stopword
    * rule of IR applied to fingerprints, and the standard MOSS
    * practice. `sim` is 6dp-rounded on BOTH engines before the
    * threshold (float-tie discipline).
    */
  def winnowPairs(fps: DataFrame, id: String,
      minJaccard: Double = 0.7, maxDf: Int = 256): DataFrame = {
    val posting = fps.select(col(id), explode(col("fps")).as("fp"))
    // fingerprints are distinct within a doc, so count == df.
    // EAGERLY MATERIALIZED: the filtered posting list feeds the pair
    // stage and two size-lookup joins. A lazy persist() does NOT
    // protect a single cold action — the consumers' stages race and
    // each re-evaluates the per-document fingerprint HOF upstream
    // (measured 20.5 s cold with persist vs ~1 s with an eager
    // localCheckpoint at sf0.1). localCheckpoint(eager=true) runs the
    // materializing job BEFORE any consumer plan is built, so every
    // consumer reads the checkpointed blocks.
    val keptLists = posting.groupBy(col("fp"))
      .agg(sort_array(collect_list(col(id))).as("__ids"))
      .filter(size(col("__ids")) <= maxDf)
      .localCheckpoint()
    val sizes = keptLists
      .select(explode(col("__ids")).as(id))
      .groupBy(col(id)).agg(count(lit(1)).as("__n"))
      .localCheckpoint()
    keptLists
      .filter(size(col("__ids")) > 1)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(__ids) - 1),
           i -> transform(slice(__ids, i + 1, size(__ids) - i),
                x -> named_struct('id1', element_at(__ids, i),
                     'id2', x))))""")).as("p"))
      .groupBy(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .agg(count(lit(1)).as("shared_fps"))
      .join(sizes.select(col(id).as("id1"), col("__n").as("__n1")),
        Seq("id1"))
      .join(sizes.select(col(id).as("id2"), col("__n").as("__n2")),
        Seq("id2"))
      .withColumn("sim", round(col("shared_fps") /
        (col("__n1") + col("__n2") - col("shared_fps")), 6))
      .filter(col("sim") >= minJaccard)
      .select(col("id1"), col("id2"), col("shared_fps"), col("sim"))
  }

  /** MinHash signature: sig_k = min over shingle hashes of
    * (a_k * h + b_k) mod P.
    */
  def minhashExpr(hashesCol: String): Column = {
    val mins = minhashA.zip(minhashB).map { case (a, b) =>
      s"array_min(transform($hashesCol, h -> (($a * h + $b) % $P)))"
    }
    expr(s"array(${mins.mkString(", ")})")
  }

  /** Per-document signatures over a corpus. Shingle hashing AND the
    * K-minima pass run as native codegen'd expressions
    * (PolyHashShingles, MinHashSigExpr) — same values as the SQL
    * higher-order formulation the DuckDB oracle uses, compiled speed
    * instead of K+1 interpreted lambda passes per document.
    */
  def minhashSignatures(df: DataFrame, text: String, id: String): DataFrame =
    df.select(col(id),
      PolyHashColumns.minhashSig(
        PolyHashColumns.shingleHashes(col(text))).as("sig"))

  /** S-curve auto-parameterization of the banded LSH layout
    * (round-20, the `semdedup_auto` k=√n move applied to the MinHash
    * family): given a target Jaccard threshold, pick the (bands,
    * rows) factorization of the K-hash signature whose S-curve
    * inflection (1/b)^(1/r) — the similarity where the candidate
    * probability 1−(1−s^r)^b crosses ~½ — lands closest to the
    * target, so callers state the THRESHOLD they care about instead
    * of hand-tuning band counts. Ties prefer the larger r (the
    * steeper curve: fewer sub-threshold false candidates reach the
    * verify stage). Driver-side integer selection over ≤ d(K)
    * divisor pairs — deterministic, spec-pinned; at the committed
    * K=16: 0.9→(2,8), 0.8→(4,4) (the hand-tuned default), 0.35→(8,2),
    * 0.05→(16,1).
    */
  def lshAutoParams(targetJaccard: Double,
      numHashes: Int = HashConstants.minhashA.size): (Int, Int) = {
    require(targetJaccard > 0.0 && targetJaccard < 1.0,
      "need 0 < targetJaccard < 1")
    require(numHashes >= 2 && numHashes <= 1024,
      "need 2 <= numHashes <= 1024")
    (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
      .minBy { case (b, r) =>
        (math.abs(math.pow(1.0 / b, 1.0 / r) - targetJaccard), -r)
      }
  }

  /** Banded LSH buckets at an explicit (bands, rows) layout — the
    * [[lshAutoParams]] consumer. One row per (doc, band) with the
    * band key = polynomial hash of that band's signature slice.
    * groupBy-able; docs sharing a band key are near-dup candidates.
    */
  def lshBucketsAt(signatures: DataFrame, id: String, bands: Int,
      rows: Int): DataFrame = {
    require(bands >= 1 && rows >= 1 &&
        bands * rows <= HashConstants.minhashA.size,
      s"need bands*rows <= K=${HashConstants.minhashA.size}")
    signatures
      .select(col(id),
        explode(expr(
          s"""transform(sequence(0, ${bands - 1}),
              b -> named_struct('band', b,
                   'band_key', aggregate(slice(sig, b * $rows + 1, $rows),
                                0L, (acc, h) -> (acc * 31 + h) % $P)))"""))
          .as("bk"))
      .select(col(id), col("bk.band").as("band"),
        col("bk.band_key").as("band_key"))
  }

  /** Banded LSH buckets at the committed near-dup default layout
    * (4×4 — [[HashConstants.lshBands]]).
    */
  def lshBuckets(signatures: DataFrame, id: String): DataFrame =
    lshBucketsAt(signatures, id, lshBands, lshRows)

  /** Candidate near-dup pairs: collect each (band, band_key) bucket's
    * member ids with ONE shuffle, emit all within-bucket pairs
    * (id1 < id2) by expression, distinct across bands. A self-join
    * formulation would run the whole signature pipeline once per join
    * leg (no exchange reuse across differing projections) and shuffle
    * the buckets twice; per-bucket state here is the member-id list,
    * bounded by the LSH collision rate — never an unbucketed cross
    * join.
    *
    * `maxBucket` bounds the within-bucket pair blowup: a hot bucket of
    * k members emits k²/2 pairs, quadratic in one task when a corpus
    * has a huge cluster of near-identical documents. The cap keeps the
    * lowest-id `maxBucket` members (deterministic; recall on hot
    * buckets degrades gracefully instead of the job dying) — run
    * [[dedupNearDup]]'s exact-dedup-first composition so IDENTICAL
    * docs never inflate a bucket in the first place. Mirrored in the
    * oracle as a row_number()-capped bucket CTE.
    */
  def candidatePairs(buckets: DataFrame, id: String,
      maxBucket: Int = 4096): DataFrame =
    buckets
      .groupBy(col("band"), col("band_key"))
      .agg(slice(sort_array(collect_list(col(id))), 1, maxBucket)
        .as("__ids"))
      .filter(size(col("__ids")) > 1)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(__ids) - 1),
           i -> transform(slice(__ids, i + 1, size(__ids) - i),
                x -> named_struct('id1', element_at(__ids, i),
                     'id2', x))))""")).as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .distinct()

  /** Exact n-gram Jaccard over distinct shingle sets — the verify step
    * applied to candidate pairs only.
    */
  def jaccardExpr(shA: String, shB: String): Column =
    expr(s"""CAST(size(array_intersect($shA, $shB)) AS DOUBLE) /
             (size($shA) + size($shB) - size(array_intersect($shA, $shB)))""")

  /** Full near-dup dedup flow: exact-dedup collapse → LSH candidates →
    * exact Jaccard verify → greedy keep-lowest-id (each verified pair
    * (id1 < id2) drops id2; transitive chains collapse to their
    * minimum via the pairwise drops — [[dedupClusters]] is the exact
    * union-find variant) → surviving doc ids.
    *
    * Exact duplicates collapse FIRST (hash-keyed groupBy with map-side
    * combine), so the LSH stage sees one representative per distinct
    * text: a cluster of k identical documents — the dominant hot-bucket
    * shape in web corpora, where boilerplate pages repeat millions of
    * times — contributes ONE bucket member instead of k (k²/2 pairs).
    * Identical docs have Jaccard 1 ≥ any threshold and identical
    * signatures, so the survivor set is exactly the one the
    * un-collapsed flow computes. All joins are id- or bucket-keyed;
    * the only quadratic-ish work is Jaccard on the capped candidate
    * set.
    */
  def dedupNearDup(df: DataFrame, text: String, id: String,
      minJaccard: Double): DataFrame = {
    // reps pin (the containmentPairs discipline): four consumers
    // (signatures, both shingle joins, the left_anti) re-derive the
    // collapse unpinned
    val reps = exactReps(df, text, id).localCheckpoint()
    val drops = verifiedPairs(reps, text, id, minJaccard)
      .select(col("id2").as(id)).distinct()
    reps.select(col(id)).join(drops, Seq(id), "left_anti")
  }

  /** Keeper of each identical-text group: min id, any text value
    * (first() is deterministic here — all texts in a group are
    * identical). One hash-keyed shuffle with map-side combine.
    */
  def exactReps(df: DataFrame, text: String, id: String): DataFrame =
    df.groupBy(md5(col(text).cast("binary")).as("__md5"))
      .agg(min(col(id)).as(id), first(col(text)).as(text))
      .drop("__md5")

  /** LSH candidates verified by exact Jaccard ≥ τ over distinct
    * shingle-HASH sets: set algebra over longs is several times
    * cheaper than over the shingle strings, and the Jaccard value is
    * identical (same hash on both engines, so even the ~n²/P collision
    * noise matches the oracle bit-for-bit). Returns (id1 < id2) pairs.
    */
  def verifiedPairs(reps: DataFrame, text: String, id: String,
      minJaccard: Double): DataFrame = {
    val pairs = candidatePairs(
      lshBuckets(minhashSignatures(reps, text, id), id), id)
    val withSh = reps.select(col(id),
      array_distinct(PolyHashColumns.shingleHashes(col(text)))
        .as("__sh"))
    pairs
      .join(withSh.select(col(id).as("id1"), col("__sh").as("__sh1")),
        "id1")
      .join(withSh.select(col(id).as("id2"), col("__sh").as("__sh2")),
        "id2")
      // free prune: J(A,B) <= |smaller| / |larger|, so J >= τ implies
      // the size ratio is >= τ — integer compare before set algebra
      .filter(least(size(col("__sh1")), size(col("__sh2")))
        >= greatest(size(col("__sh1")), size(col("__sh2"))) * minJaccard)
      .filter(jaccardExpr("__sh1", "__sh2") >= minJaccard)
      .select(col("id1"), col("id2"))
  }

  /** Directional shingle-set CONTAINMENT over LSH candidate pairs —
    * the near-SUBSET detector symmetric Jaccard misses: a short doc
    * fully embedded in a long one has containment(short→long) ≈ 1
    * but Jaccard ≈ |short|/|long|, far below any symmetric
    * threshold. Containment(A→B) = |S(A) ∩ S(B)| / |S(A)|, in exact
    * integer ppm over distinct shingle-hash sets (same hash both
    * engines, bit-exact oracle parity).
    *
    * Returns (id1 < id2) pairs with both directions, the Jaccard for
    * contrast, and `near_subset` = true when a direction clears the
    * threshold but the symmetric Jaccard does NOT — exactly the
    * pairs a Jaccard-τ dedup leaves behind. Same scale shape as
    * [[verifiedPairs]]: exact-reps collapse first, candidates
    * LSH-bounded and capped, set algebra only on candidate pairs.
    */
  def containmentPairs(df: DataFrame, text: String, id: String,
      minPpm: Long = 800000L): DataFrame = {
    // pin the reps collapse: it feeds the signature build AND both
    // shingle-set joins — unpinned, Catalyst re-derives the
    // scan+groupBy three times inside one action
    val reps = exactReps(df, text, id).localCheckpoint()
    val pairs = candidatePairs(
      lshBuckets(minhashSignatures(reps, text, id), id), id)
    val withSh = reps.select(col(id),
      array_distinct(PolyHashColumns.shingleHashes(col(text)))
        .as("__sh"))
    pairs
      .join(withSh.select(col(id).as("id1"), col("__sh").as("__sh1")),
        "id1")
      .join(withSh.select(col(id).as("id2"), col("__sh").as("__sh2")),
        "id2")
      .withColumn("__i",
        size(array_intersect(col("__sh1"), col("__sh2"))).cast("long"))
      .select(col("id1"), col("id2"),
        expr("__i * 1000000L DIV size(__sh1)").as("c12_ppm"),
        expr("__i * 1000000L DIV size(__sh2)").as("c21_ppm"),
        expr("""__i * 1000000L DIV
          | (size(__sh1) + size(__sh2) - __i)""".stripMargin)
          .as("jaccard_ppm"))
      .filter(greatest(col("c12_ppm"), col("c21_ppm")) >= minPpm)
      .withColumn("near_subset", col("jaccard_ppm") < minPpm)
  }

  /** Connected components over an (id1, id2) edge list by min-label
    * propagation WITH pointer-jumping: each round every vertex takes
    * the minimum of (its label, its neighbors' labels), then shortcuts
    * to its label's label — so label chains collapse geometrically and
    * a diameter-d component converges in O(log d) rounds instead of
    * O(d), halving the driver-side convergence probes (one count()
    * per round) on chain-shaped components. The edge list is the
    * VERIFIED near-dup pairs — orders of magnitude smaller than the
    * corpus. `localCheckpoint` truncates the per-round lineage so
    * plans don't grow with iteration count.
    *
    * Throws if the loop hits `maxIters` with labels still changing —
    * a partial labeling is NOT a transitive closure, and batch
    * callers ([[dedupClusters]], keep-one-per-cluster policies) would
    * silently consume it as if it were. With pointer jumping the
    * reachable distance doubles per round, so maxIters=50 covers any
    * component diameter up to ~2^50; hitting the cap means the input
    * is pathological, not that more rounds are a good idea.
    */
  def connectedComponents(edges: DataFrame, vertices: DataFrame,
      id: String, maxIters: Int = 50): DataFrame =
    connectedComponentsWithIters(edges, vertices, id, maxIters)._1

  /** [[connectedComponents]] + the number of rounds actually run
    * (exposed for convergence tests).
    */
  def connectedComponentsWithIters(edges: DataFrame,
      vertices: DataFrame, id: String, maxIters: Int = 50)
      : (DataFrame, Int) = {
    // LAZY checkpoints in this loop (round 22 — the round-21 BPE-fit
    // recipe, guide §1.2): every frame here has strictly SEQUENTIAL
    // consumers — round r's convergence count() materializes the
    // round's frame (and, in round 1, the seed frames below), then
    // round r+1's plan reads the already-cached blocks — so the
    // lazy-persist consumer race (the winnowPairs lesson) cannot
    // occur, and the per-round eager materialization job disappears:
    // the loop drops from 2 jobs per round (+2 seed jobs) to 1 per
    // round. Lineage is still truncated per round (the checkpoint
    // plan node is built eagerly; only the materialization folds
    // into the count).
    val sym = edges.select(col("id1").as("__a"), col("id2").as("__b"))
      .union(edges.select(col("id2").as("__a"), col("id1").as("__b")))
      .localCheckpoint(eager = false)
    var labels = vertices.select(col(id).as("__a"),
      col(id).as("cluster")).localCheckpoint(eager = false)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val prop = sym
        .join(labels.select(col("__a").as("__b"),
          col("cluster").as("__nl")), "__b")
        .groupBy(col("__a")).agg(min(col("__nl")).as("__nl"))
      val stepped = labels.join(prop, Seq("__a"), "left")
        .select(col("__a"), col("cluster").as("__old"),
          least(col("cluster"), coalesce(col("__nl"), col("cluster")))
            .as("cluster"))
      // pointer-jump: labels are always vertex ids, so label(label(v))
      // exists; taking it each round doubles the distance information
      // carried per round (the large-star trick in min-label form).
      // The previous label rides along so the convergence probe below
      // is a filter-count on the checkpointed frame — no extra join
      // job per round
      val next = stepped.join(
          stepped.select(col("__a").as("cluster"),
            col("cluster").as("__ll")),
          Seq("cluster"), "left")
        .select(col("__a"), col("__old"),
          least(col("cluster"), coalesce(col("__ll"), col("cluster")))
            .as("cluster"))
        .localCheckpoint(eager = false)
      // the convergence probe doubles as the materializing action
      changed = next.filter(col("cluster") =!= col("__old")).count()
      labels = next.select(col("__a"), col("cluster"))
      iter += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents hit maxIters=$maxIters with labels " +
          "still changing — the labeling is a partial closure, which " +
          "downstream dedup would silently treat as complete")
    (labels.select(col("__a").as(id), col("cluster")), iter)
  }

  /** Transitive-closure near-dup clustering: exact-dedup reps →
    * verified pairs as edges → connected components. Every rep gets a
    * cluster label = the minimum doc id reachable through verified
    * near-dup relations (singletons label themselves). This is the
    * exact semantics a corpus-dedup user expects for chains A~B~C
    * where A̸~C — unlike [[dedupNearDup]]'s greedy pairwise drop, the
    * whole chain lands in ONE cluster and a downstream keep-one-per-
    * cluster policy sees it as such.
    */
  def dedupClusters(df: DataFrame, text: String, id: String,
      minJaccard: Double): DataFrame = {
    val reps = exactReps(df, text, id).localCheckpoint()
    val edges = verifiedPairs(reps, text, id, minJaccard)
    connectedComponents(edges, reps.select(col(id)), id)
  }

  /** Canonical-document selection: given cluster labels (from
    * [[dedupClusters]]) and a per-doc score, keep the best-scoring doc
    * of each near-dup cluster (ties → lowest id — fully
    * deterministic). This is the curation policy step after
    * clustering: "of these k near-identical pages, keep the highest
    * -quality one", rather than the keep-lowest-id default.
    *
    * One key-join (cluster labels are reps-sized, far below corpus
    * size) plus one per-cluster window; clusters are tiny (near-dup
    * groups), so the window never sees a skewed partition — the
    * groupBy key is the cluster label, not anything Zipfian.
    */
  def keepBestPerCluster(clusters: DataFrame, scored: DataFrame,
      id: String, score: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col(score).desc, col(id).asc)
    clusters.join(scored.select(col(id), col(score)), Seq(id))
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("cluster"))))
      .filter(col("__rn") === 1)
      .select(col("cluster"), col(id), col(score), col("n_members"))
  }

  /** Incremental exact dedup: keep the rows of `batch` whose
    * normalized-content fingerprint does not already exist in
    * `corpus` — the "dedup today's crawl against the existing 100 TB
    * corpus" operation, which must NOT cost a full batch×corpus join
    * per increment.
    *
    * A Bloom filter of the corpus fingerprints (built distributed,
    * merged to a driver sketch of `expectedItems`/`fpp`-bounded size,
    * then broadcast) splits the batch row-locally: rows the filter
    * has definitely never seen (no false negatives) pass straight
    * through with ZERO join; only the small might-contain slice —
    * true dups + an fpp-fraction of false positives — anti-joins the
    * corpus fingerprints for exact confirmation. Results are
    * therefore IDENTICAL to the plain anti-join at every `fpp`; the
    * knob trades sketch memory against anti-join traffic only
    * (pinned by the LlmSpec parity test). The might-contain probe is
    * a native codegen'd expression carrying the broadcast-sized
    * filter as a plan reference object ([[BloomMightContainExpr]] —
    * Spark exposes no public bloom-contains Column), so the split
    * stays inside whole-stage codegen.
    */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame,
      text: String, id: String, expectedItems: Long = 1L << 20,
      fpp: Double = 0.01): DataFrame = {
    val bfp = batch.withColumn("__fp",
      TextAnalysis.fingerprintExpr(text))
    val cfp = corpus.select(TextAnalysis.fingerprintExpr(text)
      .as("__fp"))
    val bloom = cfp.stat.bloomFilter("__fp", expectedItems, fpp)
    val mightContain = (c: Column) =>
      SketchColumns.bloomMightContain(c, bloom)
    // Null fingerprints (null text) must take the definite-new path:
    // the plain anti-join keeps null-key rows (null never equals
    // null), and both mightContain filters would otherwise evaluate
    // to null and drop the row from BOTH branches.
    val definiteNew = bfp.filter(
      col("__fp").isNull || !mightContain(col("__fp")))
    val confirmed = bfp.filter(
      col("__fp").isNotNull && mightContain(col("__fp")))
      .join(cfp.distinct(), Seq("__fp"), "left_anti")
    definiteNew.unionByName(confirmed).drop("__fp")
  }

  /** Polynomial hash fold over each element of a token-array SQL
    * expression ((acc*31 + char) mod P per token).
    */
  def hashTokensExpr(tokensExpr: String): String =
    s"""transform($tokensExpr,
        t -> aggregate(sequence(1, length(t)), 0L,
             (acc, i) -> (acc * 31 + ascii(substring(t, i, 1))) % $P))"""

  /** Content-token hashes: lowercased, empty tokens dropped — the
    * token form [[decontaminate]] and corpus statistics share. Docs
    * that are empty/whitespace-only yield an empty array. Native
    * per-token hashing ([[PolyHashColumns.tokenHashesNonEmpty]]) —
    * the SQL HOF form hashes each token through an interpreted
    * per-character fold with a substring allocation per char.
    */
  def contentTokenHashesExpr(text: String): Column =
    PolyHashColumns.tokenHashesNonEmpty(lower(col(text)))

  /** Word n-gram hashes from a staged token-hash column: each n-token
    * window folds its token hashes ((acc*31 + h) mod P); documents
    * shorter than n contribute one whole-document window. Products
    * stay < 2^35 (acc < P ≈ 2^30). Native
    * ([[PolyHashColumns.ngramFoldHashes]]) — the HOF form is
    * O(tokens·n) interpreted-lambda steps with a slice per window.
    */
  def ngramHashesFromTokenHashes(thCol: String, n: Int): Column =
    PolyHashColumns.ngramFoldHashes(col(thCol), n)

  /** Benchmark decontamination: drop every training document sharing
    * at least one word n-gram with the evaluation corpus — the
    * standard n-gram-overlap rule for scrubbing eval leakage out of
    * training data. Returns the kept train ids: train ids ⋉anti
    * [[contaminatedIds]] on the id (a null id never matches, so its
    * rows are kept).
    */
  def decontaminate(train: DataFrame, evalSet: DataFrame, text: String,
      id: String, n: Int = 8): DataFrame =
    train.select(col(id))
      .join(contaminatedIds(train, evalSet, text, id, n), Seq(id),
        "left_anti")

  /** The distinct ids of the training documents sharing at least one
    * word n-gram with the evaluation corpus — the drop set of
    * [[decontaminate]], for callers that anti-join it against their
    * own frame by id. Scale shape: the eval side is ONE bounded
    * collect ([[evalGramSet]]); every train row is flagged by a
    * row-local probe of its own grams
    * ([[withExactContaminationFlag]]), and the flagged ids are made
    * distinct. The train side is never exploded, shuffled by gram or
    * joined; never a doc×doc comparison.
    */
  def contaminatedIds(train: DataFrame, evalSet: DataFrame,
      text: String, id: String, n: Int = 8): DataFrame =
    withExactContaminationFlag(train.select(col(id), col(text)), text,
        evalGramSet(evalSet, text, n), n)
      .filter(col("contaminated"))
      .select(col(id)).distinct()

  /** The eval corpus's distinct word n-gram hashes as a frame (`__g`).
    * Tokens are NON-EMPTY words only, and zero-token documents produce
    * no grams at all: an empty/whitespace-only doc would otherwise
    * fold to the sentinel gram 0L and read as "contaminated" by any
    * other empty doc despite sharing no content. (Mirrored in the
    * DuckDB oracle.)
    */
  private def evalGrams(evalSet: DataFrame, text: String, n: Int)
      : DataFrame =
    evalSet.withColumn("__th", contentTokenHashesExpr(text))
      .filter(size(col("__th")) > 0)
      .select(explode(ngramHashesFromTokenHashes("__th", n)).as("__g"))
      .distinct()

  /** Fit half of the EXACT decontamination: the eval corpus's
    * distinct n-gram hashes, sorted ascending — the exact twin of
    * [[decontamBloom]] (same tokens, same grams, no false positives).
    * The eval side of a decontamination is collect-sized by contract:
    * the set is collected through [[Guard.boundedCollect]] at site
    * "eval n-gram set", at most `bound` hashes (the default,
    * 4,000,000, is 32 MB as a `long[]`), and a larger set raises
    * naming the site.
    */
  def evalGramSet(evalSet: DataFrame, text: String, n: Int = 8,
      bound: Int = 4000000): Array[Long] = {
    val gs = Guard.boundedCollect(evalGrams(evalSet, text, n), bound,
      "eval n-gram set").map(_.getLong(0))
    java.util.Arrays.sort(gs)
    gs
  }

  /** Fit half of the STREAMING decontamination stage: the eval set's
    * distinct n-gram hashes folded into a bloom filter — a
    * driver-side artifact like a fitted tokenizer
    * ([[graft.llm.TextAnalysis.bpeFitMerges]] pattern). The bloom has
    * NO false negatives by construction, so gating on it can never
    * leak an eval n-gram; `fpp` only over-flags — the conservative
    * direction for decontamination.
    */
  def decontamBloom(evalSet: DataFrame, text: String, n: Int = 8,
      expectedItems: Long = 1L << 20, fpp: Double = 0.01)
      : org.apache.spark.util.sketch.BloomFilter =
    evalGrams(evalSet, text, n).stat.bloomFilter("__g", expectedItems,
      fpp)

  /** Column-append scoring half: flag every doc that shares an
    * n-gram with the fitted eval bloom. Row-local (see
    * [[contaminationFlag]]), so it applies to a streaming frame
    * unchanged (any output mode) or any batch plan with zero shuffle
    * and zero state. Guarantee vs the exact
    * [[decontaminate]]: every doc the exact form drops is flagged
    * (no false negatives); an `fpp` fraction of clean docs may
    * over-flag.
    */
  def withContaminationFlag(df: DataFrame, text: String,
      bloom: org.apache.spark.util.sketch.BloomFilter, n: Int = 8)
      : DataFrame =
    contaminationFlag(df, text, n, None,
      g => SketchColumns.bloomMightContain(g, bloom))

  /** Exact row flag: `contaminated` = the doc shares a word n-gram
    * with `gramSet` (sorted ascending, as [[evalGramSet]] returns it)
    * — the drop rule of [[decontaminate]], per row. Row-local (see
    * [[contaminationFlag]]); the probe is a binary search of the set.
    * With `gate`, only rows where it holds are hashed and probed; the
    * flag is null on the others.
    */
  def withExactContaminationFlag(df: DataFrame, text: String,
      gramSet: Array[Long], n: Int = 8, gate: Option[Column] = None)
      : DataFrame =
    contaminationFlag(df, text, n, gate,
      g => SketchColumns.longSetContains(g, gramSet))

  /** The one flag body both decontamination forms share:
    * `contaminated` = size(tokens) > 0 ∧ EXISTS(gram ∈ the doc's own
    * n-grams: `probe(gram)`). Zero-token docs are clean (they produce
    * no grams, as in [[evalGrams]]); a null text is never flagged true.
    * The probe's artifact rides the plan as a reference object, so
    * the flag adds no shuffle, no join and no state.
    */
  private def contaminationFlag(df: DataFrame, text: String, n: Int,
      gate: Option[Column], probe: Column => Column): DataFrame = {
    val th = "__dc_th"
    val clash = Seq(th, "contaminated").filter(df.columns.contains)
    require(clash.isEmpty,
      s"contamination flag: input already contains column(s) " +
        s"${clash.mkString(", ")}")
    val hashes = contentTokenHashesExpr(text)
    df.withColumn(th, gate.fold(hashes)(when(_, hashes)))
      .withColumn("contaminated",
        size(col(th)) > 0 &&
          exists(ngramHashesFromTokenHashes(th, n), probe))
      .drop(th)
  }

  /** Every n-token window of every document, with its 1-based start
    * position: (id, win_start, gram). Tokens are the non-empty
    * lowercased words; documents shorter than n contribute nothing
    * (a span, unlike a [[decontaminate]] gram, has no whole-document
    * fallback — there is no n-token span to dedup). The shared
    * building block of the span-level dedup family below; public
    * because it is also, applied to a stream, the stateless front
    * half of [[graft.streaming.StreamingDedup.spanScrubDecisions]]
    * (row-local, zero state, any output mode).
    */
  def spanGrams(df: DataFrame, text: String, id: String,
      n: Int = 20, carry: Seq[String] = Nil): DataFrame = df
    // the length gate runs on the CHEAP token count, before the hash
    // projection: a filter on size(__th) gets pushed beneath the
    // projection by Catalyst and re-evaluates the whole per-char
    // hash fold once for the predicate and once for the output
    .filter(expr(
      s"size(filter(split(lower($text), ' '), t -> t != '')) >= $n"))
    .withColumn("__th", contentTokenHashesExpr(text))
    .select((col(id) +: carry.map(col)) :+
      posexplode(ngramHashesFromTokenHashes("__th", n))
      .as(Seq("__p", "gram")): _*)
    .select((col(id) +: carry.map(col)) :+
      (col("__p") + 1).cast("long").as("win_start") :+
      col("gram"): _*)

  /** Span-level exact-substring dedup, detection half: every n-token
    * window whose gram occurs at least twice in the corpus (across
    * documents OR repeated within one) — the duplicated-span scan
    * behind substring-level training-data dedup, where near-identical
    * pages share long runs that document-level dedup never sees.
    * Scale shape: a narrow window explode (rows ∝ total tokens), ONE
    * map-side-combining groupBy on the uniform 64-bit gram to find
    * repeated grams, and a semi-join back on that same key — no
    * doc×doc comparison anywhere, and the heavy explode never carries
    * the text itself, only (id, pos, gram).
    */
  def dupSpanWindows(df: DataFrame, text: String, id: String,
      n: Int = 20): DataFrame =
    // ONE scan + ONE exchange: collect each gram's occurrences and
    // re-explode the repeated ones (the same groupBy+explode shape
    // that replaced the candidate-pair self-join — a self-semi-join
    // of the derived gram frame would re-scan and re-hash the whole
    // corpus, since differing projections defeat exchange reuse).
    // The collected row is exactly the rows emitted anyway, so the
    // output stays linear; a pathological mega-boilerplate gram
    // (~1e8 occurrences at 100 TB) would concentrate in one row —
    // there, pre-collapse identical DOCS first (exact-dedup-first,
    // as dedupNearDup does), which removes precisely those grams.
    spanGrams(df, text, id, n)
      .groupBy(col("gram"))
      .agg(collect_list(struct(col(id), col("win_start"))).as("__ms"))
      .filter(size(col("__ms")) >= 2)
      .select(col("gram"), explode(col("__ms")).as("__m"))
      .select(col(s"__m.$id").as(id),
        col("__m.win_start").as("win_start"), col("gram"))

  /** Span-level dedup, accounting half: per document, how much of it
    * is duplicated text — window count, tokens covered by the UNION
    * of its duplicated [win_start, win_start+n) intervals (classic
    * running-max interval union, so overlapping windows are not
    * double-counted), total tokens, and the covered ratio. This is
    * the scrub-or-keep signal: a doc that is 90% duplicated spans is
    * boilerplate even if no single whole-document duplicate exists.
    * The interval union runs per-document under a window partitioned
    * on the id — token positions within one doc, never corpus-wide.
    */
  def spanDedupStats(df: DataFrame, text: String, id: String,
      n: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ntok = df.select(col(id), size(expr(
      s"filter(split(lower($text), ' '), t -> t != '')"))
      .cast("long").as("n_tokens"))
    val prevEnd = Window.partitionBy(col(id)).orderBy(col("win_start"))
      .rowsBetween(Window.unboundedPreceding, -1)
    dupSpanWindows(df, text, id, n)
      .withColumn("__end", col("win_start") + n)
      .withColumn("__pmax", max(col("__end")).over(prevEnd))
      .withColumn("__add", greatest(lit(0L),
        col("__end") - greatest(
          coalesce(col("__pmax"), col("win_start")), col("win_start"))))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_dup_windows"),
        sum(col("__add")).as("dup_tokens"))
      .join(ntok, Seq(id))
      .withColumn("dup_ratio",
        round(col("dup_tokens") / col("n_tokens"), 6))
  }

  /** Maximal duplicated RUNS: merge each document's overlapping /
    * adjacent duplicated n-token windows ([[dupSpanWindows]]) into
    * maximal intervals — the arbitrary-length longest-duplicate
    * extraction of ExactSubstr-style dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): a
    * 300-token boilerplate block repeated across pages surfaces as ONE
    * run of run_tokens ≈ 300, not 281 separate 20-token windows.
    * Gaps-and-islands: a window starts a new run iff its start lies
    * beyond the running max end of all earlier windows; the run id is
    * the running sum of those starts. Scale shape: both window passes
    * partition on the doc id (positions within one doc, never
    * corpus-wide), and rows entering them are already only the
    * duplicated windows — output is bounded by dup windows, grouped
    * down to runs.
    */
  def spanRuns(df: DataFrame, text: String, id: String,
      n: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prevEnd = Window.partitionBy(col(id)).orderBy(col("win_start"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val runningRun = Window.partitionBy(col(id))
      .orderBy(col("win_start"))
    dupSpanWindows(df, text, id, n)
      .withColumn("__pmax", max(col("win_start") + n).over(prevEnd))
      .withColumn("__new",
        when(col("__pmax").isNull || col("win_start") > col("__pmax"),
          1L).otherwise(0L))
      .withColumn("__run", sum(col("__new")).over(runningRun))
      .groupBy(col(id), col("__run"))
      .agg(
        min(col("win_start")).as("run_start"),
        (max(col("win_start")) + (n - 1)).as("run_end"),
        (max(col("win_start")) + n - min(col("win_start")))
          .as("run_tokens"),
        count(lit(1)).as("n_windows"))
      .select(col(id), col("run_start"), col("run_end"),
        col("run_tokens"), col("n_windows"))
  }

  /** Span-level dedup, apply half: REMOVE duplicated spans from the
    * corpus, keeping each repeated gram's canonical occurrence (the
    * lexicographically first (doc, win_start)) and scrubbing the
    * tokens covered by every other occurrence — the substring-level
    * scrub itself, not just its detection. Output per surviving doc:
    * the scrubbed normalized token stream (lowercased, single-spaced
    * — the same token normalization every gram saw), kept and
    * removed token counts. Docs whose every token is covered vanish.
    * Scale shape: canonical selection is one rank window keyed on
    * the gram; cover positions explode n ints per non-canonical
    * window (distinct-bounded by doc length); the scrub is a
    * doc-local anti-join on (id, pos) and one per-doc re-assembly —
    * nothing corpus-quadratic, no global windows.
    */
  def scrubSpans(df: DataFrame, text: String, id: String,
      n: Int = 20): DataFrame =
    scrubApply(df, text, id, n, nonCanonicalWindows(df, text, id, n))

  /** Detection half of [[scrubSpans]], exposed separately: every
    * duplicated window EXCEPT each gram's canonical occurrence (the
    * lexicographically first (doc, win_start)). The streaming twin
    * ([[graft.streaming.StreamingDedup.spanScrubDecisions]]) produces
    * the same (id, win_start) drop set incrementally; both feed
    * [[scrubApply]].
    */
  def nonCanonicalWindows(df: DataFrame, text: String, id: String,
      n: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wCanon = Window.partitionBy(col("gram"))
      .orderBy(col(id), col("win_start"))
    dupSpanWindows(df, text, id, n)
      .withColumn("__rn", row_number().over(wCanon))
      .filter(col("__rn") > 1)
      .select(col(id), col("win_start"))
  }

  /** Apply half of [[scrubSpans]]: given the non-canonical window set
    * (id, win_start) from any detector — the batch window rank or the
    * streaming first-arrival state — scrub the covered tokens and
    * re-assemble each document.
    */
  def scrubApply(df: DataFrame, text: String, id: String,
      n: Int, nonCanon: DataFrame): DataFrame = {
    val covered = nonCanon
      .select(col(id), explode(expr(
        s"sequence(win_start, win_start + ${n - 1})")).as("pos"))
      .distinct()
    val toks = df
      .withColumn("__t",
        expr(s"filter(split(lower($text), ' '), t -> t != '')"))
      .select(col(id), posexplode(col("__t")).as(Seq("__p", "tok")))
      .select(col(id), (col("__p") + 1).cast("long").as("pos"),
        col("tok"))
    val ntok = df.select(col(id), size(expr(
      s"filter(split(lower($text), ' '), t -> t != '')"))
      .cast("long").as("__n"))
    toks.join(covered, Seq(id, "pos"), "left_anti")
      .groupBy(col(id))
      .agg(expr(
        "array_join(transform(sort_array(collect_list(struct(pos, tok))), s -> s.tok), ' ')")
        .as("scrubbed_text"),
        count(lit(1)).as("n_kept"))
      .join(ntok, Seq(id))
      .withColumn("n_removed", col("__n") - col("n_kept"))
      .select(col(id), col("scrubbed_text"), col("n_kept"),
        col("n_removed"))
  }

  /** LSH near-dup RECALL/PRECISION telemetry — the text-side
    * `ann_recall`: on a FIXED-size document subset (constant cost at
    * any corpus scale), compare the banded-LSH candidate pairs
    * against exact all-pairs Jaccard ground truth at `minJ`. Recall
    * answers "how many true near-dup pairs does the banding scheme
    * surface?", precision "how much of the candidate volume is
    * real?" — the two numbers that justify the (bands × rows)
    * configuration in a dedup run's report. The all-pairs leg is the
    * ground-truth probe only (maxId² pairs on the fixed sample),
    * exactly like ann_recall's brute-force leg.
    */
  def dedupRecall(df: DataFrame, text: String, id: String,
      maxId: Long = 200, minJ: Double = 0.8): DataFrame = {
    val sub = df.filter(col(id) < maxId)
    val sh = sub.select(col(id),
      array_distinct(PolyHashColumns.shingleHashes(col(text)))
        .as("sh"))
    val truth = sh.select(col(id).as("id1"), col("sh").as("sh1"))
      .join(sh.select(col(id).as("id2"), col("sh").as("sh2")),
        col("id1") < col("id2"))
      // threshold on the 6dp-rounded ratio (boundary-stable across
      // engines, the ngram_jaccard contract)
      .filter(round(jaccardExpr("sh1", "sh2"), 6) >= minJ)
      .select(col("id1"), col("id2"))
    // both legs are consumed twice (the hit join + their own counts):
    // pinned so the shingle/minhash subtrees run once per leg, with
    // the scalar crosses going through the shared Dist helper
    val truthP = truth.localCheckpoint()
    val candP = candidatePairs(
      lshBuckets(minhashSignatures(sub, text, id), id), id)
      .select(col("id1"), col("id2"))
      .localCheckpoint()
    val hit = truthP.join(candP, Seq("id1", "id2"), "left_semi")
    graft.engine.Dist.scalarCross(
        graft.engine.Dist.scalarCross(
          truthP.agg(count(lit(1)).as("n_truth")),
          candP, count(lit(1)).as("n_candidates")),
        hit, count(lit(1)).as("n_hit"))
      .select(col("n_truth"), col("n_candidates"), col("n_hit"),
        when(col("n_truth") > 0,
          round(col("n_hit") / col("n_truth"), 6)).as("recall"),
        when(col("n_candidates") > 0,
          round(col("n_hit") / col("n_candidates"), 6))
          .as("precision"))
  }

  /** Corpus-wide PARAGRAPH dedup (the Dolma/CCNet paragraph stage):
    * segment each document into fixed `words`-word paragraphs, keep
    * only each distinct paragraph's FIRST occurrence corpus-wide
    * (lexicographically first (doc, position) — the same keeper rule
    * as [[scrubSpans]]), and re-assemble the surviving text per
    * document. Unlike [[dedupLinesIntra]] (within one doc, row-local)
    * this is cross-document: repeated boilerplate paragraphs vanish
    * everywhere except their first appearance; documents reduced to
    * nothing drop out. Scale shape: one narrow explode (rows ∝
    * paragraphs), ONE window partitioned on the paragraph content
    * (uniform key — content hash distribution), one per-doc
    * re-assembly aggregate. Never doc×doc.
    */
  def paragraphDedup(df: DataFrame, text: String, id: String,
      words: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pars = df
      .withColumn("__t",
        expr(s"filter(split($text, ' '), t -> t != '')"))
      .filter(size(col("__t")) > 0)
      .select(col(id), posexplode(expr(
        s"""transform(sequence(0, CAST(ceil(size(__t) / ${words}D) AS INT) - 1),
            i -> array_join(slice(__t, i * $words + 1, $words), ' '))"""))
        .as(Seq("__p", "par")))
    val wFirst = Window.partitionBy(col("par"))
      .orderBy(col(id), col("__p"))
    val kept = pars
      .withColumn("__rn", row_number().over(wFirst))
      .filter(col("__rn") === 1)
    val nPars = pars.groupBy(col(id))
      .agg(count(lit(1)).as("n_pars"))
    kept.groupBy(col(id))
      .agg(expr(
        "array_join(transform(sort_array(collect_list(struct(__p, par))), s -> s.par), ' ')")
        .as("cleaned_text"),
        count(lit(1)).as("n_kept"))
      .join(nPars, Seq(id))
      .withColumn("n_removed", col("n_pars") - col("n_kept"))
      .select(col(id), col("cleaned_text"), col("n_kept"),
        col("n_removed"))
  }

  /** Decontamination REPORT: per training document, how much of it
    * overlaps the eval corpus — distinct word n-grams, how many of
    * them appear in the eval set, and the fraction. The graded
    * companion to the binary [[decontaminate]] drop: a 2% overlap is
    * a quote, 80% is a leaked benchmark — pipelines threshold this
    * ratio rather than dropping on any single shared gram. Same
    * scale shape as decontaminate: gram explode, ONE left join
    * against the (distinct, broadcastable-when-small) eval-gram set,
    * one per-doc aggregate; never doc×doc.
    */
  def contaminationReport(train: DataFrame, evalSet: DataFrame,
      text: String, id: String, n: Int = 8): DataFrame = {
    def docGrams(df: DataFrame): DataFrame = df
      .withColumn("__th", contentTokenHashesExpr(text))
      .filter(size(col("__th")) > 0)
      .select(col(id),
        explode(ngramHashesFromTokenHashes("__th", n)).as("gram"))
      .distinct()
    val evalGrams = docGrams(evalSet).select("gram").distinct()
      .withColumn("__hit", lit(1L))
    docGrams(train)
      .join(evalGrams, Seq("gram"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
      .withColumn("overlap_ratio",
        round(col("n_hits") / col("n_grams"), 6))
  }

  /** Soft dedup: instead of DROPPING duplicates, keep the lowest-id
    * representative with its copy count and a training-loss
    * downweight (1e6 div n_copies ppm) — repetition-aware loss
    * weighting preserves the information that a document was common
    * (often a quality signal) without letting it dominate training.
    * Same md5-digest grouping as [[exactReps]]: the shuffle carries
    * a 16-byte key, never the document body.
    */
  def softDedupWeights(df: DataFrame, text: String, id: String)
      : DataFrame =
    df.groupBy(md5(col(text).cast("binary")).as("__md5"))
      .agg(min(col(id)).as("doc_id"),
        count(lit(1)).as("n_copies"))
      .withColumn("weight_ppm",
        expr("CAST(1000000L DIV n_copies AS BIGINT)"))
      .select("doc_id", "n_copies", "weight_ppm")

  /** Cross-source n-gram overlap matrix: for every source pair, the
    * distinct word-n-gram sets' intersection size and Jaccard (ppm,
    * truncating integer division) — the leakage dashboard between
    * corpus slices (crawl snapshots, vendors, mirrored dumps) that
    * decides which pairs need cross-source dedup at all.
    *
    * Scale shape: each document reduces to distinct (source, gram)
    * integer keys; pairs come from ONE further groupBy(gram) whose
    * sorted source-set explodes its own ≤C(|S|,2) combinations
    * row-locally — no gram self-join, no doc×doc work, and the count
    * aggregation map-side combines. Pair scaffolding (so empty
    * intersections still report 0) is a |S|²-row broadcast.
    */
  def sourceOverlapMatrix(df: DataFrame, text: String, source: String,
      n: Int = 8): DataFrame = {
    val grams = df
      .withColumn("__th", contentTokenHashesExpr(text))
      .filter(size(col("__th")) > 0)
      .select(col(source).as("src"),
        explode(ngramHashesFromTokenHashes("__th", n)).as("gram"))
      .distinct()
    val sizes = grams.groupBy("src").agg(count(lit(1)).as("n_grams"))
    val common = grams.groupBy("gram")
      .agg(sort_array(collect_set(col("src"))).as("srcs"))
      .select(explode(expr(
        "flatten(transform(srcs, (a, i) -> " +
          "transform(slice(srcs, i + 2, size(srcs)), " +
          "b -> struct(a AS src_a, b AS src_b))))")).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    val scaffold = sizes.as("a").join(sizes.as("b"),
        col("a.src") < col("b.src"))
      .select(col("a.src").as("src_a"), col("b.src").as("src_b"),
        col("a.n_grams").as("grams_a"), col("b.n_grams").as("grams_b"))
    // broadcast the RIGHT (build) side: common's aggregate result is
    // ≤C(|S|,2) rows however big the corpus is
    scaffold.join(broadcast(common), Seq("src_a", "src_b"), "left")
      .na.fill(0L, Seq("n_common"))
      .withColumn("jaccard_ppm", expr(
        "CAST((n_common * 1000000L) DIV " +
          "(grams_a + grams_b - n_common) AS BIGINT)"))
      .select("src_a", "src_b", "grams_a", "grams_b", "n_common",
        "jaccard_ppm")
  }

  /** Corpus snapshot diff by content fingerprint: how many distinct
    * normalized contents were added, removed, and carried over
    * between two corpus versions — the data-versioning summary every
    * refresh publishes. Fingerprints reduce each side to a distinct
    * 64-bit set; the diff is two anti-joins and a semi-join on that
    * integer key (broadcast when one side is small, plain shuffle
    * otherwise) — never text comparison, never quadratic.
    */
  def corpusDiff(v1: DataFrame, v2: DataFrame, text: String)
      : DataFrame = {
    def fps(df: DataFrame): DataFrame = df
      .select(TextAnalysis.fingerprintExpr(text).as("__fp")).distinct()
    val f1 = fps(v1); val f2 = fps(v2)
    def one(change: String, d: DataFrame): DataFrame =
      d.agg(count(lit(1)).as("n_contents"))
        .select(lit(change).as("change"), col("n_contents"))
    one("added", f2.join(f1, Seq("__fp"), "left_anti"))
      .unionByName(one("removed", f1.join(f2, Seq("__fp"), "left_anti")))
      .unionByName(one("unchanged", f2.join(f1, Seq("__fp"), "left_semi")))
  }

  /** Intra-document duplicate-line removal (the CCNet-style cleanup
    * that strips repeated nav bars / footers WITHIN one page): split
    * on `sep`, keep only the FIRST occurrence of each line, rejoin
    * in original order. Entirely row-local — a single codegen'd
    * higher-order-function projection, no shuffle, scales linearly
    * with the scan. The first-occurrence test is an indexed lambda
    * (`array_position(lines, x) == i+1`), quadratic in the LINE
    * count of one document — bounded by page size, never by corpus
    * size (a 1,000-line page costs 10⁶ comparisons, microseconds).
    * Cross-document dedup is the separate span/minhash family.
    */
  def dedupLinesIntra(df: DataFrame, text: String, id: String,
      sep: String = "\n"): DataFrame = {
    val q = java.util.regex.Pattern.quote(sep)
    df.select(col(id),
        split(col(text), q).as("__lines"))
      .withColumn("__kept", expr(
        "filter(__lines, (x, i) -> array_position(__lines, x) = i + 1)"))
      .select(col(id),
        array_join(col("__kept"), sep).as("clean_text"),
        size(col("__lines")).cast("long").as("n_lines"),
        (size(col("__lines")) - size(col("__kept"))).cast("long")
          .as("n_removed"))
  }

  /** Boilerplate n-gram detector: word n-grams (lowercased, empty
    * tokens dropped) appearing in at least `minDocs` DISTINCT
    * documents, with their document frequency — the corpus-level scan
    * that surfaces repeated headers/footers/navigation chrome before
    * a paragraph-level scrub. Per-doc `array_distinct` keeps df a
    * true document count; docs shorter than n contribute nothing.
    * Scale shape: narrow explode (grams per doc ∝ doc length) into
    * ONE map-side-combining groupBy on the gram. At 100 TB the group
    * key would be the gram's 64-bit hash with `min(gram)` carried for
    * display — same plan, eighth the shuffle bytes.
    */
  def boilerplateNgrams(df: DataFrame, text: String, id: String,
      n: Int = 8, minDocs: Int = 3): DataFrame = df
    .withColumn("__toks",
      expr(s"filter(split(lower($text), ' '), t -> t != '')"))
    .filter(size(col("__toks")) >= n)
    .select(col(id), explode(expr(
      s"""array_distinct(transform(sequence(1, size(__toks) - ${n - 1}),
          i -> array_join(slice(__toks, i, $n), ' ')))""")).as("gram"))
    .groupBy(col("gram")).agg(count(lit(1)).as("df"))
    .filter(col("df") >= minDocs)

  /** SITE-template detector — [[boilerplateNgrams]] at the
    * registered-domain grain, which is how real template removal
    * works: a navigation header on every page of ONE site never
    * clears a corpus-wide df threshold proportionally, but covers
    * ~100% of its own domain's pages. A word n-gram is template
    * when it appears (doc-distinct) in ≥ `minDocs` documents AND in
    * ≥ `minSharePpm` of the domain's pages.
    *
    * Scale shape: one gram explode (doc-distinct per doc — a page
    * repeating its own chrome counts once), one map-side-combined
    * (domain, gram) aggregate, the per-domain doc counts broadcast.
    * The domain key is naturally Zipfian; a hot domain costs its
    * gram volume once, and the `minDocs` filter prunes the unique-
    * gram long tail before the share join.
    */
  def siteBoilerplate(df: DataFrame, text: String, id: String,
      domain: String, n: Int = 8, minSharePpm: Long = 500000L,
      minDocs: Int = 2): DataFrame = {
    val grams = df
      .withColumn("__toks",
        expr(s"filter(split(lower($text), ' '), t -> t != '')"))
      .filter(size(col("__toks")) >= n)
      .select(col(domain).as("__dom"), explode(expr(
        s"""array_distinct(transform(sequence(1, size(__toks) - ${n - 1}),
            i -> array_join(slice(__toks, i, $n), ' ')))""")).as("gram"))
    val perDom = df.groupBy(col(domain).as("__dom"))
      .agg(count(lit(1)).as("n_docs_domain"))
    grams.groupBy(col("__dom"), col("gram"))
      .agg(count(lit(1)).as("df_dom"))
      .filter(col("df_dom") >= minDocs)
      .join(broadcast(perDom), Seq("__dom"))
      .withColumn("share_ppm",
        expr("df_dom * 1000000L DIV n_docs_domain"))
      .filter(col("share_ppm") >= minSharePpm)
      .select(col("__dom").as(domain), col("gram"), col("df_dom"),
        col("n_docs_domain"), col("share_ppm"))
  }

  /** Normalization-gain report: how many exact-dup classes does
    * text normalization (lowercase, punctuation → space, whitespace
    * collapse, trim) merge that raw byte-equality misses — the
    * measurement that decides whether the normalize-then-dedup
    * stage pays for itself on a corpus. One scan, two md5
    * projections, one global aggregate of constant width.
    */
  def normDedupGain(df: DataFrame, text: String, id: String)
      : DataFrame =
    df.select(
        md5(col(text).cast("binary")).as("__raw"),
        md5(expr(s"""trim(regexp_replace(regexp_replace(
            lower($text), '[^a-z0-9 ]', ' '), ' +', ' '))""")
          .cast("binary")).as("__norm"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("__raw")).as("raw_classes"),
        count_distinct(col("__norm")).as("norm_classes"))
      .withColumn("classes_merged",
        expr("raw_classes - norm_classes"))
      .withColumn("dup_rows_norm", expr("n_docs - norm_classes"))

  /** N-gram novelty score: the fraction of a document's DISTINCT
    * word n-grams whose corpus-wide FIRST occurrence (min doc id) is
    * this document — 1.0 means entirely new content, ~0 means the
    * document restates what earlier documents already said. The
    * content-value twin of the dedup family: near-dup removal drops
    * copies, novelty ranks what remains by information added.
    * Shape: one narrow gram explode (checkpointed — the gram frame
    * feeds both the first-seen aggregate and the join-back), one
    * map-side-combined groupBy(gram), one co-partitioned join on the
    * same gram key, one per-doc aggregate. At 100 TB key the shuffle
    * on the gram's 64-bit hash with min-id carried, same plan.
    */
  def noveltyScore(df: DataFrame, text: String, id: String,
      n: Int = 3): DataFrame = {
    val grams = df
      .withColumn("__toks",
        expr(s"filter(split(lower($text), ' '), t -> t != '')"))
      .filter(size(col("__toks")) >= n)
      .select(col(id), explode(expr(
        s"""array_distinct(transform(sequence(1, size(__toks) - ${n - 1}),
            i -> array_join(slice(__toks, i, $n), ' ')))""")).as("gram"))
      .localCheckpoint()
    val firstSeen = grams.groupBy(col("gram"))
      .agg(min(col(id)).as("__first"))
    grams.join(firstSeen, "gram")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__first") === col(id), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel") / col("n_grams"), 6))
  }

  /** SimHash from a PRECOMPUTED token-hash column: bit_j = sign of sum
    * over token hashes of (±1 from the hash's j-th bit); packed into a
    * long. Takes a column (not the raw text) because higher-order
    * lambdas are interpreted, not codegen'd — inlining the token
    * hashing here would re-run it once per bit.
    */
  def simhashFromHashes(hashesCol: String): Column = {
    val bits = (0 until simhashBits).map { j =>
      val pw = 1L << j
      s"(CASE WHEN aggregate($hashesCol, 0L, (a, h) -> a + ((h div $pw) % 2) * 2 - 1) > 0 THEN ${1L << j} ELSE 0 END)"
    }
    expr(bits.mkString("CAST((", " + ", ") AS BIGINT)"))
  }

  /** SimHash of a corpus — fully native: token hashing and the packed
    * bit votes each run as one codegen'd pass per row (the HOF
    * formulation in [[simhashFromHashes]] re-walks the token array
    * once per bit, interpreted).
    */
  def simhash(df: DataFrame, text: String, id: String): DataFrame =
    df.select(col(id),
      PolyHashColumns.simhashPack(
        PolyHashColumns.tokenHashes(col(text))).as("simhash"))

  /** SimHash near-dup pairs by pigeonhole banding: split the B-bit
    * simhash into `maxHamming + 1` contiguous bands — any pair within
    * hamming distance ≤ maxHamming is identical on at least one band
    * (pigeonhole), so banded-equality collision is a LOSSLESS
    * candidate filter. Candidates then verify with an exact
    * `bit_count(xor) <= maxHamming`. Same scale shape as the MinHash
    * flow: one shuffle keyed on (band, band_bits), never all-pairs —
    * the standard simhash search layout at corpus scale.
    * `simhashBits` must divide by maxHamming + 1.
    *
    * Default maxHamming=1 (2 bands × 10 bits): with a 20-bit simhash
    * (the bit budget is bounded by the ~2^30 token-hash range — votes
    * above bit 29 are degenerate), 1 bit = 5% divergence, the right
    * near-dup bar; wider bars also collapse band width and flood the
    * verify stage (4×5-bit bands = 1/32 collision rate, measured
    * 30 s vs 2 s at sf0.1).
    */
  def simhashNearDup(df: DataFrame, text: String, id: String,
      maxHamming: Int = 1, maxBucket: Int = 4096): DataFrame = {
    val nBands = maxHamming + 1
    require(simhashBits % nBands == 0,
      s"simhashBits=$simhashBits not divisible by ${nBands} bands")
    val width = simhashBits / nBands
    // ONE shuffle: the hash rides along into the bucket groupBy (it's
    // one long per member), so verification is an expression over the
    // collected members — no re-join against recomputed signatures
    // (a per-leg join re-ran the simhash scan; measured 5.2s → 2s)
    simhash(df, text, id)
      .select(
        explode(expr(
          s"""transform(sequence(0, ${nBands - 1}),
              b -> named_struct('band', CAST(b AS BIGINT),
                   'band_key', (simhash div shiftleft(1L, b * $width))
                               % ${1L << width}))""")).as("bk"),
        col(id), col("simhash"))
      .groupBy(col("bk.band"), col("bk.band_key"))
      .agg(slice(sort_array(collect_list(
        struct(col(id).as("__id"), col("simhash").as("__s")))), 1,
        maxBucket).as("__ms"))
      .filter(size(col("__ms")) > 1)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(__ms) - 1),
           i -> transform(slice(__ms, i + 1, size(__ms) - i),
                y -> named_struct('id1', element_at(__ms, i).__id,
                     'id2', y.__id,
                     'hamming',
                     bit_count(element_at(__ms, i).__s ^ y.__s)))))"""))
        .as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"),
        col("p.hamming").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
