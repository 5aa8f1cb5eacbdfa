package graft

import graft.engine.Resample
import graft.streaming.StreamingResample
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming E2 equivalence: the incremental W-SUN weekly aggregation
  * must produce exactly the batch operator's buckets, and the
  * watermark must drop too-late events in append mode.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import scala.math.Ordering.Double.TotalOrdering

  private val schema = StructType(Seq(
    StructField("k", StringType),
    StructField("ts", TimestampType),
    StructField("v", DoubleType)))

  private val parityRuns = new java.util.concurrent.atomic.AtomicInteger

  /** Runs `op` over a parquet stream that takes `first` as one
    * micro-batch and the `late` arrival as the next (memory sink with
    * a checkpoint, append mode), and over a batch read of the same
    * files. Returns (streamed, batch), every row mapped by `tup` and
    * sorted.
    */
  private def streamAndBatch[T: Ordering](first: DataFrame,
      late: DataFrame)(op: DataFrame => DataFrame)(tup: Row => T)
      : (Seq[T], Seq[T]) = {
    val dir = java.nio.file.Files.createTempDirectory("par_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("par_ck").toString
    val sink = s"parity_out_${parityRuns.incrementAndGet()}"
    val inSchema = StructType(first.schema.map(_.copy(nullable = true)))
    first.write.mode("append").parquet(dir)
    val q = op(spark.readStream.schema(inSchema).parquet(dir))
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      late.write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    def rows(df: DataFrame): Seq[T] = df.collect().toSeq.map(tup).sorted
    (rows(spark.table(sink)),
      rows(op(spark.read.schema(inSchema).parquet(dir))))
  }

  private def docs(rs: (Long, String)*): DataFrame =
    rs.toDF("doc_id", "text")

  private def writeBatch(dir: String, rows: (String, String, Double)*)
      : Unit =
    rows.toSeq
      .map { case (k, ts, v) => (k, java.sql.Timestamp.valueOf(ts), v) }
      .toDF("k", "ts", "v")
      .write.mode("append").parquet(dir)

  test("streaming weekly W-SUN equals the batch resample") {
    val dir = java.nio.file.Files.createTempDirectory("stream_in").toString
    writeBatch(dir,
      ("a", "2024-01-01 09:00:00", 1.0), // Mon -> Sun 01-07
      ("a", "2024-01-07 10:30:00", 2.0), // intraday Sun -> Sun 01-07
      ("a", "2024-01-08 00:00:00", 4.0), // Mon -> Sun 01-14
      ("b", "2024-01-20 12:00:00", 8.0)) // Sat -> Sun 01-21
    StreamingResample.runWeeklyOnce(spark, dir, schema, Seq("k"), "ts",
      "v", "wk_stream")
    val streamed = spark.table("wk_stream")
      .orderBy("k", "week").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2)))
    val batch = Resample.weeklySparse(
      spark.read.schema(schema).parquet(dir), Seq("k"), "ts", "v")
      .orderBy("k", "week").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2)))
    assert(streamed.toSeq === batch.toSeq)
    assert(streamed.toSeq === Seq(
      ("a", "2024-01-07", 3.0), ("a", "2024-01-14", 4.0),
      ("b", "2024-01-21", 8.0)))
  }

  test("append mode emits closed weeks and drops beyond-watermark lates") {
    val dir = java.nio.file.Files.createTempDirectory("stream_in2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    writeBatch(dir, ("a", "2024-01-01 00:00:00", 1.0))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val weekly = StreamingResample.weeklyStream(stream, Seq("k"), "ts",
      "v", watermarkDelay = "7 days")
    val q = weekly.writeStream.format("memory").queryName("wk_append")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    // advance event time far past the first week -> watermark closes it
    writeBatch(dir, ("a", "2024-02-19 00:00:00", 2.0))
    q.processAllAvailable()
    // a record older than watermark (max 02-19 - 7d = 02-12) is dropped
    writeBatch(dir, ("a", "2024-01-02 00:00:00", 100.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wk_append").orderBy("week").collect()
      .map(r => (r.getDate(1).toString, r.getDouble(2)))
    assert(rows.contains(("2024-01-07", 1.0))) // closed, NOT 101.0
  }

  test("streaming dedup emits each key once across micro-batches") {
    import graft.streaming.StreamingResample.Keyed
    val dir = java.nio.file.Files.createTempDirectory("dedup_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dedup_ck").toString
    Seq(Keyed(1L, "a"), Keyed(2L, "b")).toDS()
      .write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(Seq.empty[Keyed].toDS().schema).parquet(dir).as[Keyed]
    val q = StreamingResample.dedupFirstSeen(stream)
      .writeStream.format("memory").queryName("dedup_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    Seq(Keyed(2L, "b2"), Keyed(3L, "c")).toDS()
      .write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    val keys = spark.table("dedup_out").collect()
      .map(_.getLong(0)).sorted
    assert(keys.toSeq === Seq(1L, 2L, 3L)) // key 2 emitted only once
  }

  test("streaming EWMA equals the batch fold across ordered micro-batches") {
    import graft.streaming.StreamingResample.EwmaEvent
    val dir = java.nio.file.Files.createTempDirectory("ew_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ew_ck").toString
    Seq(EwmaEvent("a", 1L, 100.0), EwmaEvent("a", 2L, 200.0),
      EwmaEvent("b", 1L, 50.0)).toDS()
      .write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(Seq.empty[EwmaEvent].toDS().schema).parquet(dir)
      .as[EwmaEvent]
    val q = StreamingResample.ewmaStream(stream)
      .writeStream.format("memory").queryName("ew_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    // later micro-batch continues each key's carried state
    Seq(EwmaEvent("a", 3L, 300.0), EwmaEvent("b", 2L, 150.0)).toDS()
      .write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ew_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    val batch = graft.engine.Series.ewma(
      spark.read.parquet(dir).toDF(), Seq("key"), "t", "v")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(streamed.toSeq === batch.toSeq)
    // recursion sanity: a's third point = .3*300 + .7*(.3*200+.7*100)
    assert(streamed.find(t => t._1 == "a" && t._2 == 3L).get._3 ===
      BigDecimal(0.3 * 300 + 0.7 * (0.3 * 200 + 0.7 * 100))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("streaming Croston: last emit per key equals the batch fold") {
    import graft.streaming.StreamingResample.CrostonEvent
    val d0 = java.time.LocalDate.of(2024, 1, 7).toEpochDay
    val dir = java.nio.file.Files.createTempDirectory("cr_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cr_ck").toString
    Seq(CrostonEvent("a", d0, 10.0), CrostonEvent("a", d0 + 7, 20.0),
      CrostonEvent("b", d0, 5.0)).toDS()
      .write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(Seq.empty[CrostonEvent].toDS().schema).parquet(dir)
      .as[CrostonEvent]
    val q = StreamingResample.crostonStream(stream)
      .writeStream.format("memory").queryName("cr_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    // the 3-week gap arrives in a LATER micro-batch: carried state
    Seq(CrostonEvent("a", d0 + 28, 30.0)).toDS()
      .write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    val streamedLast = spark.table("cr_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3),
        r.getDouble(4), Option(r.get(5)), Option(r.get(6)),
        Option(r.get(7))))
      .groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._2) }
    val batchDf = spark.read.parquet(dir)
      .select(col("key"),
        expr("date_add(DATE '1970-01-01', CAST(t AS INT))").as("week"),
        col("v").as("units"))
    val batch = graft.engine.Series.croston(batchDf, Seq("key"),
        "week", "units")
      .collect().map(r => r.getString(0) -> (r.getLong(1),
        r.getDouble(2), Option(r.get(3)), Option(r.get(4)),
        Option(r.get(5)))).toMap
    for ((k, (_, _, n, z, p, fc, sba)) <- streamedLast) {
      val (bn, bz, bp, bfc, bsba) = batch(k)
      assert((n, z, p, fc, sba) === ((bn, bz, bp, bfc, bsba)),
        s"key $k")
    }
    // hand check: z=18.1, p=1.6 after gaps [1, 3]
    val a = streamedLast("a")
    assert(a._4 === 18.1 && a._5 === Some(1.6))
  }

  test("streaming demand anomaly: bitwise batch parity, bounded state") {
    import graft.streaming.StreamingResample.DemandEvent
    val d0 = java.time.LocalDate.of(2024, 1, 1).toEpochDay
    // fractional quantities: parity must hold on the exact fold
    // order, not just integral-sum luck; spike lands in batch 2
    def qty(i: Int): Double =
      if (i == 38) 500.5 else 10.25 + (i % 5) * 1.5
    val all = (1 to 40).map(i => DemandEvent("a", d0 + i, qty(i)))
    val dir = java.nio.file.Files.createTempDirectory("da_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("da_ck").toString
    // coalesce(1): each append must become ONE parquet file — the
    // operator's contract is time-ordered arrival across batches, and
    // a multi-file append races the running trigger (a micro-batch
    // can list a non-contiguous subset of part files mid-write, so a
    // later day is processed before an earlier one lands — observed
    // as a baseline-window parity flake at day 40)
    all.take(30).toDS().coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(Seq.empty[DemandEvent].toDS().schema).parquet(dir)
      .as[DemandEvent]
    val q = StreamingResample.demandAnomalyStream(stream)
      .writeStream.format("memory").queryName("da_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    all.drop(30).toDS().coalesce(1).write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("da_out").collect()
      .map(r => r.getLong(1) -> (Option(r.get(3)), Option(r.get(4)),
        Option(r.get(5)), r.getBoolean(6))).toMap
    val batchIn = all.map(e => ("a",
      java.sql.Timestamp.valueOf(
        java.time.LocalDate.ofEpochDay(e.t).atStartOfDay()), e.qty))
      .toDF("key", "ts", "qty")
    val batch = graft.engine.Retail.demandAnomaly(batchIn,
        Seq("key"), "ts", "qty")
      .collect().map { r =>
        val day = r.getTimestamp(1).toLocalDateTime.toLocalDate
          .toEpochDay
        day -> (Option(r.get(3)), Option(r.get(4)), Option(r.get(5)),
          r.getBoolean(6))
      }.toMap
    assert(streamed.keySet === batch.keySet)
    for ((day, b) <- batch)
      assert(streamed(day) === b, s"day $day")
    // the spike is flagged, and it is the only flag
    val spikeDay = d0 + 38
    assert(streamed(spikeDay)._4)
    assert(streamed.count(_._2._4) === 1)
  }

  test("watermarked content dedup emits first arrival only, bounded state") {
    import graft.streaming.StreamingDedup
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ts", TimestampType),
      StructField("text", StringType)))
    def rows(dir: String, docs: (Long, String, String)*): Unit =
      docs.toSeq
        .map { case (i, ts, t) => (i, java.sql.Timestamp.valueOf(ts), t) }
        .toDF("doc_id", "ts", "text")
        .write.mode("append").parquet(dir)
    val dir = java.nio.file.Files.createTempDirectory("cdedup_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cdedup_ck").toString
    rows(dir, (1L, "2024-01-01 00:00:00", "same boilerplate"),
      (2L, "2024-01-01 00:05:00", "unique page"))
    val stream = spark.readStream.schema(docSchema).parquet(dir)
    val q = StreamingDedup.dedupByContent(stream, "text", "ts",
      watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("cdedup_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    // duplicate content in a later micro-batch inside the horizon
    rows(dir, (3L, "2024-01-01 00:10:00", "same boilerplate"),
      (4L, "2024-01-01 00:20:00", "another page"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("cdedup_out").collect()
      .map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L, 4L)) // doc 3 deduped against doc 1
    // batch degenerate path = exactDedupByHash keeper count
    val batch = Seq((1L, "x"), (2L, "x"), (3L, "y"))
      .toDF("doc_id", "text")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    assert(StreamingDedup.dedupByContent(batch, "text", "ts").count() === 2)
  }

  test("streaming span-gram stage equals the batch flow across micro-batches") {
    import graft.llm.Dedup
    val span = (1 to 25).map(i => s"w$i").mkString(" ")
    // a later micro-batch carrying the same 25-token span must emit
    // identical grams (stateless: grams depend only on the row)
    val (streamed, batch) = streamAndBatch(docs(1L -> span),
        docs(2L -> (span + " trailing extras beyond the shared run")))(
      Dedup.spanGrams(_, "text", "doc_id"))(
      r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // the shared windows collide: doc2's first 6 window grams equal
    // doc1's (25-token span, 20-token windows)
    val g1 = streamed.filter(_._1 == 1L).map(t => (t._2, t._3)).toMap
    val g2 = streamed.filter(_._1 == 2L).map(t => (t._2, t._3)).toMap
    assert((1L to 6L).forall(ws => g1(ws) == g2(ws)))
  }

  test("streaming minhash bucket stage equals the batch flow across micro-batches") {
    import graft.llm.Dedup
    import graft.streaming.StreamingDedup
    val d1 = "spark engines shuffle partitions and broadcast small tables"
    val d2 = "an entirely different document about pasta and tomato sauce"
    // a near-duplicate of d1 arriving in a LATER micro-batch must get
    // the same band keys the batch flow assigns it (stateless stage —
    // bucket keys depend only on the row)
    val first = docs(1L -> d1, 2L -> d2)
    val late = docs(3L -> d1.replace("small", "tiny"))
    val (streamed, batch) = streamAndBatch(first, late)(
      StreamingDedup.minhashBuckets(_, "text", "doc_id"))(
      r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    assert(streamed === Dedup.lshBuckets(Dedup.minhashSignatures(
      first.union(late), "text", "doc_id"), "doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq)
    // docs 1 and 3 (near-dups) must collide on at least one band key;
    // doc 2 must not collide with either on any band
    val byBand = streamed.groupBy(_._2)
    val collide13 = byBand.values.exists(g =>
      g.filter(x => x._1 == 1L || x._1 == 3L).groupBy(_._3)
        .values.exists(_.map(_._1).toSet == Set(1L, 3L)))
    assert(collide13)
  }

  test("stream-stream interval join attributes events inside the window only") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val impSchema = StructType(Seq(
      StructField("key", StringType),
      StructField("imp_ts", TimestampType)))
    val clkSchema = StructType(Seq(
      StructField("key", StringType),
      StructField("clk_ts", TimestampType)))
    val impDir = java.nio.file.Files.createTempDirectory("ij_imp").toString
    val clkDir = java.nio.file.Files.createTempDirectory("ij_clk").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ij_ck").toString
    Seq(("a", ts("2024-01-01 10:00:00")),
      ("b", ts("2024-01-01 10:05:00")))
      .toDF("key", "imp_ts").write.mode("append").parquet(impDir)
    Seq(("a", ts("2024-01-01 10:20:00")), // inside 30 min -> match
      ("b", ts("2024-01-01 11:00:00")),   // 55 min late -> no match
      ("c", ts("2024-01-01 10:10:00")))   // no impression -> no match
      .toDF("key", "clk_ts").write.mode("append").parquet(clkDir)
    val joined = StreamingResample.intervalJoin(
      spark.readStream.schema(impSchema).parquet(impDir),
      spark.readStream.schema(clkSchema).parquet(clkDir),
      "key", "imp_ts", "clk_ts", within = "30 MINUTES")
    val q = joined.writeStream.format("memory").queryName("ij_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("ij_out").select("key").collect()
      .map(_.getString(0))
    assert(out.toSeq === Seq("a"))
    // batch parity on the same inputs
    val batch = StreamingResample.intervalJoin(
      spark.read.schema(impSchema).parquet(impDir),
      spark.read.schema(clkSchema).parquet(clkDir),
      "key", "imp_ts", "clk_ts", within = "30 MINUTES")
      .select("key").collect().map(_.getString(0))
    assert(batch.toSeq === out.toSeq)
  }

  test("stream-static corpus dedup drops known fingerprints, passes new docs") {
    import graft.streaming.StreamingDedup
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val corpus = Seq((100L, "already in the corpus"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("sd_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sd_ck").toString
    Seq((1L, "already in the corpus"), (2L, "fresh doc one"))
      .toDF("doc_id", "text").write.mode("append").parquet(dir)
    val q = StreamingDedup.dedupVsCorpus(
        spark.readStream.schema(docSchema).parquet(dir),
        corpus, "text")
      .writeStream.format("memory").queryName("sd_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    Seq((3L, "fresh doc two"), (4L, "already in the corpus"))
      .toDF("doc_id", "text").write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sd_out").select("doc_id").collect()
      .map(_.getLong(0)).sorted
    assert(out === Array(2L, 3L)) // corpus dups dropped in BOTH batches
  }

  test("stream-static dim enrichment matches the batch broadcast join") {
    val evSchema = StructType(Seq(
      StructField("store", StringType),
      StructField("units", LongType)))
    val dim = Seq(("s1", "north"), ("s2", "south"))
      .toDF("store", "region")
    val dir = java.nio.file.Files.createTempDirectory("en_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("en_ck").toString
    Seq(("s1", 5L), ("s3", 2L)).toDF("store", "units")
      .write.mode("append").parquet(dir)
    val q = StreamingResample.enrichWithDim(
        spark.readStream.schema(evSchema).parquet(dir), dim, "store")
      .writeStream.format("memory").queryName("en_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("en_out")
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.getString(2)))).sorted
    val batch = StreamingResample.enrichWithDim(
        spark.read.schema(evSchema).parquet(dir), dim, "store")
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.getString(2)))).sorted
    assert(streamed === batch)
    assert(streamed.find(_._1 == "s3").get._3.isEmpty)
    assert(streamed.find(_._1 == "s1").get._3.contains("north"))
  }

  test("streaming curation gate equals the batch form; rejects and redacts") {
    import graft.streaming.StreamingDedup
    val longDoc = ("retail units sold per store and week " * 8).trim +
      " mail me at ops@example.com"
    val (streamed, batch) = streamAndBatch(
        docs(1L -> longDoc, 2L -> "too short to keep"),
        docs(3L -> (longDoc + " second batch arrival")))(
      StreamingDedup.curationGate(_, "text", minTokens = 40)
        .select("doc_id", "redacted"))(
      r => (r.getLong(0), r.getString(1)))
    // short doc rejected; survivors have the email scrubbed
    assert(streamed.map(_._1) === Seq(1L, 3L))
    assert(streamed.forall(_._2.contains("[EMAIL]")))
    assert(streamed.forall(!_._2.contains("ops@example.com")))
    // batch parity: same rows, same redaction
    assert(streamed === batch)
  }

  test("streaming model gate equals the batch LR gate; join-free " +
      "and stateless") {
    import graft.llm.TextAnalysis
    val first = docs(1L -> "retail units sold per store and week in region",
      2L -> "   ", // zero content tokens -> dropped by the gate
      3L -> "plainly different vocabulary drives a different score")
    val late = docs(4L -> "second micro batch arrives with more retail text")
    val (streamed, batch) = streamAndBatch(first, late)(
      TextAnalysis.withLrGate(_, "text")
        .select("doc_id", "text", "lr_score", "keep"))(
      r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getBoolean(3)))
    // zero-token doc dropped; original columns ride along
    assert(streamed.map(_._1) === Seq(1L, 3L, 4L))
    // batch parity: identical scores and keep decisions, and the
    // scores agree with the id-keyed batch gate
    assert(streamed === batch)
    val gate = TextAnalysis.lrQualityGate(first.union(late), "text",
        "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed.forall { case (id, _, s, _) => gate(id) == s })
  }

  test("streaming audio-feature stage equals the batch codec " +
      "pipelines; row-local and stateless") {
    import graft.llm.Multimodal
    for ((codec, pipeline) <- Seq(("ulaw", Multimodal.ulawPipeline _),
        ("adpcm", Multimodal.adpcmPipeline _),
        ("mdct", Multimodal.mdctPipeline _))) {
      val (streamed, batch) = streamAndBatch(
          docs(1L -> "retail units sold per store and week",
            2L -> ("zz" * 40)),
          docs(3L -> "a third doc arrives"))(
        pipeline(_, "text", "doc_id")
          .select("doc_id", "sumsq_recon", "max_abs_err",
            "roundtrip_ok"))(
        r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3)))
      assert(streamed === batch, codec)
      assert(streamed.forall(_._4), codec)
    }
  }

  test("streaming image-feature stage equals the batch codec " +
      "pipelines (png lossless, gif frame-sampled)") {
    import graft.llm.Multimodal
    for ((codec, pipeline) <- Seq(("png", Multimodal.pngPipeline _),
        ("gif", Multimodal.gifPipeline _),
        ("mcv", Multimodal.mcvPipeline _))) {
      val (streamed, batch) = streamAndBatch(
          docs(1L -> "retail units sold per store and week in region nine"),
          docs(2L -> ("zq" * 400)))(
        pipeline(_, "text", "doc_id").select("doc_id", "roundtrip_ok"))(
        r => (r.getLong(0), r.getBoolean(1)))
      assert(streamed === batch, codec)
      assert(streamed.map(_._1) === Seq(1L, 2L), codec)
      assert(streamed.forall(_._2), codec)
    }
  }

  test("streaming patchify stage (flatMap, 4 rows/record) equals the " +
      "batch pipeline across micro-batches") {
    val (streamed, batch) = streamAndBatch(
        docs(1L -> "retail units sold per store and week in region nine"),
        docs(2L -> ("zq" * 400)))(
      graft.llm.Multimodal.patchifyPipeline(_, "text", "doc_id")
        .select("doc_id", "patch_id", "sum_r", "sum_g", "sum_b",
          "patch_fp", "roundtrip_ok"))(
      r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    assert(streamed.length === 8) // 2 docs x 4 patches
    assert(streamed === batch)
  }

  test("streaming augmentation stage equals the batch operator " +
      "across micro-batches; hash gates make it retry-safe") {
    val (streamed, batch) = streamAndBatch(
        docs(1L -> "retail units sold per store and week in region nine",
          2L -> "a b c d e f g h i j k l m n o p"),
        docs(3L -> "late arrival gets the same deterministic gates"))(
      graft.llm.TextAnalysis.augmentTokens(_, "text", "doc_id")
        .select("doc_id", "aug_text", "n_aug", "n_dropped"))(
      r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(streamed.map(_._1) === Seq(1L, 2L, 3L))
    assert(streamed === batch)
  }

  test("streaming repetition stage equals the batch signals; " +
      "row-local and stateless") {
    import graft.llm.TextAnalysis
    val first = docs(1L -> "x y\nx y\nz", 2L -> "ab ab ab cd")
    val late = docs(3L -> "one two\none two\none two")
    val (streamed, batch) = streamAndBatch(first, late)(
      TextAnalysis.withDocRepetition(_, "text")
        .select("doc_id", "dup_line_ppm", "top2_ppm"))(
      r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(streamed.map(_._1) === Seq(1L, 2L, 3L))
    assert(streamed === batch)
    // parity with the batch explode form over the same docs
    assert(streamed === TextAnalysis.docRepetition(first.union(late),
        "text", "doc_id")
      .select("doc_id", "dup_line_ppm", "top2_ppm").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq)
    // doc 3: 3 lines, 2 duplicated -> 666666 ppm
    assert(streamed(2)._2 === 666666L)
    // the char-bigram entropy signal on the same feed: bit-identical
    // to its batch read and to the batch explode form
    val (ent, entBatch) = streamAndBatch(first, late)(
      TextAnalysis.withCharEntropy(_, "text")
        .select("doc_id", "n_bigrams", "entropy"))(
      r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(ent.map(_._1) === Seq(1L, 2L, 3L))
    assert(ent === entBatch)
    assert(ent === TextAnalysis.charEntropy(first.union(late), "text",
        "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq)
  }

  test("streaming decontamination stage equals the batch flag; " +
      "join-free and stateless") {
    import graft.llm.Dedup
    val evalSet = docs(
      100L -> "the quick brown fox jumps over the lazy dog tonight")
    val bloom = Dedup.decontamBloom(evalSet, "text")
    val (streamed, batch) = streamAndBatch(
        docs(1L -> ("see the quick brown fox jumps over the lazy dog " +
          "tonight again"),
          2L -> "unrelated clean retail content with distinct words"),
        docs(3L -> ("second batch also mentions the quick brown fox " +
          "jumps over the lazy dog tonight")))(
      Dedup.withContaminationFlag(_, "text", bloom)
        .select("doc_id", "contaminated"))(
      r => (r.getLong(0), r.getBoolean(1)))
    assert(streamed.map(_._1) === Seq(1L, 2L, 3L))
    assert(streamed.map(_._2) === Seq(true, false, true))
    assert(streamed === batch)
  }

  test("streaming DSIR score stage equals the batch fit; join-free " +
      "and stateless") {
    import graft.llm.TextAnalysis
    // fit offline on a labeled reference corpus...
    val ref = Seq(
      (101L, "t", "retail units sold per store and week"),
      (102L, "t", "weekly retail demand by region"),
      (103L, "r", "entirely unrelated vocabulary here"),
      (104L, "r", "other raw crawl content words"))
      .toDF("doc_id", "source", "text")
    val model = TextAnalysis.dsirFit(ref, "text", "doc_id",
      "source", "t")
    // ...then score an UNLABELED live feed with the literal model
    val (streamed, batch) = streamAndBatch(
        docs(1L -> "retail units sold per store",
          2L -> "   ", // zero content tokens -> dropped
          3L -> "unrelated vocabulary here"),
        docs(4L -> "second micro batch with more retail units text"))(
      TextAnalysis.withDsirScore(_, "text", model)
        .select("doc_id", "dsir_score"))(
      r => (r.getLong(0), r.getDouble(1)))
    assert(streamed.map(_._1) === Seq(1L, 3L, 4L))
    // batch parity over the same files, same literal model
    assert(streamed === batch)
    // target-typical feed doc outscores the raw-typical one
    val s = streamed.toMap
    assert(s(1L) > s(3L))
  }

  test("streaming BM25 score stage equals the batch apply; " +
      "join-free and stateless") {
    import graft.llm.TextAnalysis
    val ref = docs(
      101L -> "alpha alpha beta gamma words",
      102L -> "alpha beta beta beta words",
      103L -> "gamma delta epsilon zeta words")
    val model = TextAnalysis.bm25Fit(ref, "text")
    val (streamed, batch) = streamAndBatch(
        docs(1L -> "alpha beta fresh words", 2L -> "",
          3L -> "no query terms at all"),
        docs(4L -> "second batch alpha alpha alpha"))(
      TextAnalysis.withBm25Score(_, "text", model)
        .select("doc_id", "bm25_micro", "bm25_hits"))(
      r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // stateless stage: every row rides through, empty text included
    assert(streamed.map(_._1) === Seq(1L, 2L, 3L, 4L))
    assert(streamed === batch)
    val s = streamed.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(s(2L) === ((0L, 0L)) && s(3L) === ((0L, 0L)))
    assert(s(4L)._1 > s(1L)._1) // tf saturation still orders
  }

  test("streaming tokenizer stage equals the batch BPE apply; " +
      "join-free and stateless") {
    import graft.streaming.StreamingDedup
    import graft.llm.TextAnalysis
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val corpus = Seq(
      (1L, "abc abc abc ab ab de de de de"),
      (2L, "banana band bandana"),
      (3L, "   "), // zero content tokens -> rides with count 0
      (4L, "ban banana de ab"))
    // fit offline on the reference corpus; the stage ships only the
    // merge table (the tokenizer artifact), never the fit corpus
    val ref = corpus.toDF("doc_id", "text")
    val merges = TextAnalysis.bpeFitMerges(ref, "text",
      rounds = 3, batch = 2)
    assert(merges.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("tok_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("tok_ck").toString
    def rows(docs: Seq[(Long, String)]): Unit =
      docs.toDF("doc_id", "text")
        .write.mode("append").parquet(dir)
    rows(corpus.take(2))
    val stream = spark.readStream.schema(docSchema).parquet(dir)
    val q = StreamingDedup.tokenizerStage(stream, "text", merges)
      .writeStream.format("memory").queryName("tok_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    rows(corpus.drop(2)) // second micro-batch
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("tok_out")
      .select("doc_id", "n_bpe_tokens", "bpe_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[String](2).mkString(",")))
      .sortBy(_._1)
    // zero-token doc rides with count 0 (an accounting stage must
    // not drop rows)
    assert(streamed.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(streamed.find(_._1 == 3L).get._2 === 0L)
    // batch parity: per-doc counts and token sequences equal the
    // batch apply with the same fitted merges AND the one-call
    // batched fit+apply on the same corpus
    val applied = TextAnalysis.bpeApplyWithMerges(
      ref, "text", "doc_id", merges)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[String](2).mkString(","))).sortBy(_._1)
    val batched = TextAnalysis.bpeApply(
      ref, "text", "doc_id", rounds = 3, batch = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[String](2).mkString(","))).sortBy(_._1)
    assert(applied.toSeq === batched.toSeq)
    assert(streamed.filter(_._1 != 3L).toSeq === applied.toSeq)
  }

  test("streaming license gate: stateless verdicts with batch bit " +
      "parity") {
    import graft.llm.TextAnalysis
    val markers = Seq(
      "mit" -> "permission is hereby granted",
      "gpl" -> "gnu general public license")
    val corpus = Seq(
      (1L, "code under permission is hereby granted terms"),
      (2L, "plain document, no license"),
      (3L, "dual permission is hereby granted and " +
        "gnu general public license"))
    def tup(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))
    val (streamed, batch) = streamAndBatch(docs(corpus.take(2): _*),
        docs(corpus.drop(2): _*))(
      TextAnalysis.licenseScan(_, "text", "doc_id", markers))(tup)
    assert(streamed.map(t => (t._1, t._2, t._6)) === Seq(
      (1L, "mit", false), (2L, "unknown", false), (3L, "gpl", true)))
    assert(streamed === batch)
    assert(streamed === TextAnalysis.licenseScan(docs(corpus: _*),
      "text", "doc_id", markers).collect().map(tup).sorted.toSeq)
  }

  test("streaming release gate: the three row-local verdicts match " +
      "the batch operator; bloom contamination never under-flags") {
    import graft.streaming.StreamingDedup
    import graft.llm.Dedup
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val good = "the cat and the dog is in the house of a king to see"
    val decon =
      "every brave knight must guard a tall tower of stone and gold for the queen"
    val markers = Seq("gpl" -> "gnu general public license",
      "mit" -> "permission is hereby granted")
    val corpus = Seq(
      (0L, good),                                   // clean
      (1L, good + " gnu general public license"),   // copyleft
      (2L, good + " mail a@b.com"),                 // pii
      (3L, decon))                                  // contaminated
    val ev = Seq((100L, decon)).toDF("doc_id", "text")
    val bloom = Dedup.decontamBloom(ev, "text")
    val dir = java.nio.file.Files.createTempDirectory("rg_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("rg_ck").toString
    corpus.toDF("doc_id", "text").write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(docSchema).parquet(dir)
    val q = StreamingDedup.releaseGateStage(stream, "text", "doc_id",
        markers, bloom, copyleft = Set("gpl"))
      .writeStream.format("memory").queryName("rg_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("rg_out").collect()
      .map(r => r.getLong(r.fieldIndex("doc_id")) -> r)
      .toMap
    // live verdicts: exactly one doc trips each row-local gate
    assert(out(0L).getBoolean(out(0L).fieldIndex("released_rowlocal")))
    assert(out(1L).getBoolean(out(1L).fieldIndex("copyleft_gate")))
    assert(out(2L).getBoolean(out(2L).fieldIndex("pii_gate")))
    assert(out(3L).getBoolean(out(3L).fieldIndex("contaminated")))
    // batch parity on the shared columns: license/PII bit-identical;
    // bloom contamination ⊇ the exact batch drop set (no false
    // negatives — equality on this fixture, and the superset
    // relation is the guarantee)
    val batch = graft.CurationJob.releaseGate(
        corpus.toDF("doc_id", "text"), "text", "doc_id",
        markers, copyleft = Set("gpl"), evalSet = Some(ev))
      .collect().map(r => r.getLong(0) -> r).toMap
    corpus.foreach { case (i, _) =>
      val (s, b) = (out(i), batch(i))
      Seq("license", "copyleft_gate", "n_email", "n_ip", "n_phone",
        "pii_gate").foreach { c =>
        assert(s.get(s.fieldIndex(c)) === b.get(b.fieldIndex(c)),
          s"doc $i col $c")
      }
      // never under-flag: batch-contaminated implies stream-flagged
      assert(!b.getBoolean(b.fieldIndex("contaminated")) ||
        s.getBoolean(s.fieldIndex("contaminated")))
      assert(s.getBoolean(s.fieldIndex("contaminated")) ===
        b.getBoolean(b.fieldIndex("contaminated")))
    }
  }

  test("streaming byte-level tokenizer: batch parity and live byte " +
      "fallback on out-of-fit scripts") {
    import graft.streaming.StreamingDedup
    import graft.llm.TextAnalysis
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val fitCorpus = Seq(
      (1L, "hello hello help"),
      (2L, "hello helm"))
    val ref = fitCorpus.toDF("doc_id", "text")
    val merges = TextAnalysis.bpeFitMerges(ref, "text",
      rounds = 3, batch = 2, byteGrain = true)
    assert(merges.nonEmpty)
    // the live feed adds a zero-token doc and an out-of-fit
    // multibyte doc — the fallback case a live multilingual feed
    // actually hits
    val live = fitCorpus ++ Seq((3L, "   "), (4L, "héllo"))
    val dir = java.nio.file.Files.createTempDirectory("tb_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("tb_ck").toString
    fitCorpus.toDF("doc_id", "text").write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(docSchema).parquet(dir)
    val q = StreamingDedup.tokenizerBytesStage(stream, "text", merges)
      .writeStream.format("memory").queryName("tb_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    live.drop(2).toDF("doc_id", "text")
      .write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("tb_out")
      .select("doc_id", "n_bpe_tokens", "bpe_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[String](2))).sortBy(_._1)
    assert(streamed.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(streamed(2)._2 === 0L) // zero-token doc rides, count 0
    // byte fallback live: é's bytes the fit never saw surface as
    // two one-byte tokens instead of killing the stream
    assert(streamed(3)._3.count(_ == "c3") === 1)
    assert(streamed(3)._3.count(_ == "a9") === 1)
    // bit parity with the batch byte-grain apply on content docs
    val batch = TextAnalysis.bpeApplyWithMerges(
        live.toDF("doc_id", "text"), "text", "doc_id", merges,
        byteGrain = true)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[String](2))).sortBy(_._1)
    assert(streamed.filter(_._1 != 3L).toSeq === batch.toSeq)
  }

  test("streaming mixture accounting equals the batch windowed " +
      "token sums") {
    import graft.streaming.StreamingDedup
    import graft.llm.TextAnalysis
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("source", StringType),
      StructField("ts", TimestampType),
      StructField("text", StringType)))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val corpus = Seq(
      (1L, "web", t("2024-01-01 00:00:00"), "abc abc ab de de"),
      (2L, "web", t("2024-01-02 00:00:00"), "banana band"),
      (3L, "code", t("2024-01-01 12:00:00"), "ab de"),
      (4L, "web", t("2024-01-09 00:00:00"), "bandana abc"),
      (5L, "code", t("2024-01-10 00:00:00"), "de de de"))
    val ref = corpus.toDF("doc_id", "source", "ts", "text")
    val merges = TextAnalysis.bpeFitMerges(ref, "text",
      rounds = 2, batch = 2)
    val dir = java.nio.file.Files.createTempDirectory("mx_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("mx_ck").toString
    corpus.take(3).toDF("doc_id", "source", "ts", "text")
      .write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(docSchema).parquet(dir)
    val q = StreamingDedup.mixAccountingStage(stream, "text", "ts",
      "source", merges)
      .writeStream.format("memory").queryName("mx_out")
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()
    q.processAllAvailable()
    corpus.drop(3).toDF("doc_id", "source", "ts", "text")
      .write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("mx_out")
      .select(col("win.start").cast("string"), col("source"),
        col("n_tokens")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sorted
    val batch = StreamingDedup.tokenizerStage(ref, "text", merges)
      .groupBy(window(col("ts"), "7 days").as("win"), col("source"))
      .agg(sum(col("n_bpe_tokens")).as("n_tokens"))
      .select(col("win.start").cast("string"), col("source"),
        col("n_tokens")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sorted
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
    // state shape sanity: one row per (window, source)
    assert(streamed.map(x => (x._1, x._2)).distinct.length ===
      streamed.length)
  }

  test("mapGroupsWithState running totals") {
    val ds = Seq(("a", 1.0), ("a", 2.0), ("b", 5.0)).toDS()
    val out = StreamingResample.runningTotals(ds).collect()
      .map(t => t.key -> (t.n, t.total)).toMap
    assert(out("a") === ((2L, 3.0)))
    assert(out("b") === ((1L, 5.0)))
  }

  test("span-scrub TTL: gram state evicts past the horizon, recurring " +
      "span is canonical again") {
    import graft.streaming.StreamingDedup
    val s5 = "alpha beta gamma delta epsilon" // one 5-token span
    val docs = Map(
      1L -> (s5, "2024-01-01 00:00:00"),
      2L -> ("other words entirely here now", "2024-02-01 00:00:00"),
      3L -> ("more unrelated padding text rows", "2024-02-02 00:00:00"),
      4L -> (s5, "2024-02-03 00:00:00"), // far past 1's 10-day TTL
      5L -> (s5, "2024-02-04 00:00:00")) // 1 day after 4: inside TTL
    val dir = java.nio.file.Files.createTempDirectory("ttl_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ttl_ck").toString
    def write(ids: Long*): Unit =
      ids.map { i => val (t, ts) = docs(i)
        (i, t, java.sql.Timestamp.valueOf(ts)) }
        .toDF("doc_id", "text", "ts")
        .write.mode("append").parquet(dir)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    write(1L)
    val stream = spark.readStream.schema(docSchema).parquet(dir)
    val grams = graft.llm.Dedup.spanGrams(stream, "text", "doc_id",
      n = 5, carry = Seq("ts"))
    val q = StreamingDedup.spanScrubDecisionsTtl(grams, "ts",
        watermarkDelay = "0 seconds", ttlDays = 10)
      .writeStream.format("memory").queryName("ttl_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    write(2L); q.processAllAvailable() // watermark -> 02-01 (> 01-11)
    write(3L); q.processAllAvailable() // TTL fires: span state evicted
    write(4L); q.processAllAvailable() // recurring span: canonical AGAIN
    write(5L); q.processAllAvailable() // 1 day later: inside new TTL
    q.stop()
    val byDoc = spark.table("ttl_out").collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // docs 2/3 carry their own unique spans (first occurrence: keep);
    // the shared span: doc 1 keeps, doc 4 keeps AGAIN (state evicted
    // past the 10-day horizon), doc 5 drops (inside doc 4's new TTL)
    assert(byDoc === Map(1L -> true, 2L -> true, 3L -> true,
      4L -> true, 5L -> false))
  }

  test("streaming minhash candidates: per-bucket star equals the batch " +
      "buckets' star; connectivity matches the batch clique") {
    import graft.llm.Dedup
    import graft.streaming.StreamingDedup
    val base = ("spark rows shuffle partition codegen catalyst " +
      "tungsten adaptive broadcast join hash aggregate exchange " +
      "sort merge window watermark state checkpoint lineage") * 3
    val docs = Map( // two near-dup families + a singleton
      1L -> (base + " family a one"), 2L -> (base + " family a two"),
      3L -> (base + " family a three"),
      4L -> ("totally different corpus of words entirely unlike " +
        "the other family with its own vocabulary repeated " * 4 + "x"),
      5L -> ("totally different corpus of words entirely unlike " +
        "the other family with its own vocabulary repeated " * 4 + "y"),
      6L -> "short singleton document with nothing shared")
    val dir = java.nio.file.Files.createTempDirectory("mh_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("mh_ck").toString
    def write(ids: Long*): Unit =
      ids.map(i => (i, docs(i))).toDF("doc_id", "text")
        .write.mode("append").parquet(dir)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    write(1L, 4L)
    val stream = spark.readStream.schema(docSchema).parquet(dir)
    val q = StreamingDedup.minhashCandidateStage(
        StreamingDedup.minhashBuckets(stream, "text", "doc_id"))
      .writeStream.format("memory").queryName("mh_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    write(2L, 5L); q.processAllAvailable()
    write(3L, 6L); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("mh_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // batch star: per (band, band_key) bucket, (min doc, other) pairs
    val static = docs.toSeq.map { case (i, t) => (i, t) }
      .toDF("doc_id", "text")
    val batchStar = Dedup.lshBuckets(
        Dedup.minhashSignatures(static, "text", "doc_id"), "doc_id")
      .groupBy("band", "band_key")
      .agg(min(col("doc_id")).as("rep"),
        collect_list(col("doc_id")).as("ms"))
      .collect().flatMap { r =>
        val rep = r.getLong(2)
        r.getSeq[Long](3).filter(_ != rep)
          .map(d => (r.getInt(0).toLong, math.min(rep, d),
            math.max(rep, d)))
      }.toSet
    assert(streamed === batchStar)
    assert(streamed.nonEmpty) // families really did collide
    // connectivity parity: CC over the streamed star edges equals CC
    // over the batch clique pairs
    val starEdges = streamed.toSeq.map { case (_, a, b) => (a, b) }
      .distinct.toDF("id1", "id2")
    val cliqueEdges = Dedup.candidatePairs(Dedup.lshBuckets(
        Dedup.minhashSignatures(static, "text", "doc_id"), "doc_id"),
        "doc_id")
      .select("id1", "id2")
    val verts = static.select(col("doc_id"))
    def labels(e: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(e, verts, "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(starEdges) === labels(cliqueEdges))
  }

  test("streaming span-scrub: first-occurrence-wins decisions equal " +
      "batch scrubSpans across 3 micro-batches") {
    import graft.llm.Dedup
    import graft.streaming.StreamingDedup
    // an 8-token span shared by four documents → 4 duplicated 5-token
    // windows per copy; doc 1 is canonical (in-batch doc-id tiebreak
    // vs doc 2), docs 4 and 5 arrive in LATER micro-batches (carried
    // gram state decides the drop)
    val s = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Map(
      1L -> (s + " one two three four five"),
      2L -> ("pre1 pre2 " + s),
      3L -> "solo words only here never repeated anywhere at all",
      4L -> s,
      5L -> ("six seven " + s))
    val dir = java.nio.file.Files.createTempDirectory("span_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("span_ck").toString
    def write(ids: Long*): Unit =
      ids.map(i => (i, docs(i))).toDF("doc_id", "text")
        .write.mode("append").parquet(dir)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    write(1L, 2L)
    val stream = spark.readStream.schema(docSchema).parquet(dir)
    val q = StreamingDedup.spanScrubDecisions(
        Dedup.spanGrams(stream, "text", "doc_id", n = 5))
      .writeStream.format("memory").queryName("span_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    write(3L, 4L)
    q.processAllAvailable()
    write(5L)
    q.processAllAvailable()
    q.stop()
    val decisions = spark.table("span_out")
    val streamedDrop = decisions.filter(!col("keep"))
      .select("doc_id", "win_start")
    val static = docs.toSeq.map { case (i, t) => (i, t) }
      .toDF("doc_id", "text")
    // decision parity: the streamed drop set IS the batch rank>1 set
    val batchDrop = Dedup.nonCanonicalWindows(static, "text", "doc_id",
      n = 5)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(streamedDrop) === pairs(batchDrop))
    assert(pairs(streamedDrop).nonEmpty) // non-vacuous: spans did dup
    // exactly one keeper per gram, and it is the first-seen window
    val keepersPerGram = decisions.filter(col("keep"))
      .groupBy("gram").count().collect().map(_.getLong(1)).toSet
    assert(keepersPerGram === Set(1L))
    // end-to-end parity: feeding the streamed drop set to the batch
    // apply half reproduces scrubSpans bit-for-bit
    val viaStream = Dedup.scrubApply(static, "text", "doc_id", 5,
        streamedDrop)
      .orderBy("doc_id").collect().toSeq
    val direct = Dedup.scrubSpans(static, "text", "doc_id", n = 5)
      .orderBy("doc_id").collect().toSeq
    assert(viaStream === direct)
  }

  test("streaming CDC chunk dedup: keep set equals the batch " +
      "first-occurrence rule across micro-batches") {
    import graft.streaming.StreamingDedup
    import graft.llm.TextAnalysis
    val base = "the quick brown fox jumps over the lazy dog while " +
      "seventeen green bottles hang on the wall and slowly count " +
      "themselves down to none at all in the warm afternoon sun"
    val dir = java.nio.file.Files.createTempDirectory("cdc_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cdc_ck").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // batch 1: original + an edited near-dup (intra-batch chunk dups)
    Seq((0L, base), (1L, "EDITED PREFIX " + base))
      .toDF("doc_id", "text").write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(docSchema).parquet(dir)
    val q = StreamingDedup.cdcChunkDecisions(
        StreamingDedup.cdcChunkStage(stream, "text", "doc_id",
          divisor = 16))
      .writeStream.format("memory").queryName("cdc_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    // batch 2: an exact re-crawl — every chunk already owned
    Seq((2L, base)).toDF("doc_id", "text")
      .write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cdc_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(4)))
      .sortBy(t => (t._1, t._2))
    // batch rule on the full accumulated corpus
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("chunk_hash").orderBy("doc_id", "chunk_id")
    val batch = TextAnalysis.cdcChunks(
        spark.read.parquet(dir), "text", "doc_id", divisor = 16)
      .withColumn("chunk_hash", md5(col("chunk").cast("binary")))
      .withColumn("keep", row_number().over(w) === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getBoolean(5))).sortBy(t => (t._1, t._2))
    assert(streamed.toSeq === batch.toSeq)
    // the re-crawl admitted nothing new
    assert(streamed.filter(_._1 == 2L).forall(!_._3))
    // and the near-dup's realigned tail was deduplicated too
    assert(streamed.filter(_._1 == 1L).exists(!_._3))
  }

  test("streaming HLL registers merge across micro-batches and the " +
      "final estimate equals the batch sketch to the bit") {
    import graft.streaming.StreamingDedup
    import graft.llm.TextAnalysis
    val docSchema = StructType(Seq(
      StructField("source", StringType),
      StructField("text", StringType)))
    val batch1 = (1 to 900).map(i => ("big", s"doc number $i")) ++
      (1 to 6).map(i => ("small", s"tiny $i"))
    val batch2 = (700 to 1600).map(i => ("big", s"doc number $i")) ++
      (1 to 40).map(_ => ("small", "tiny 1")) // dups must not inflate
    val dir = java.nio.file.Files.createTempDirectory("hll_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("hll_ck").toString
    def write(rows: Seq[(String, String)]): Unit =
      rows.toDF("source", "text").write.mode("append").parquet(dir)
    write(batch1)
    val stream = spark.readStream.schema(docSchema).parquet(dir)
    @volatile var last = Map.empty[String, Double]
    val q = StreamingDedup.hllStage(stream, "source", "text")
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[
           StreamingDedup.HllEstimate], _: Long) =>
          val rows = df.collect()
          if (rows.nonEmpty)
            last = last ++ rows.map(e => e.grp -> e.n_est)
      }.start()
    q.processAllAvailable()
    val mid = last
    write(batch2)
    q.processAllAvailable()
    q.stop()
    // registers only ratchet up: the estimate is monotone under new
    // distincts, flat under pure duplicates
    assert(last("big") >= mid("big"))
    // bit parity with the batch sketch over the accumulated corpus
    val batchEst = TextAnalysis.hllDistinct(
        spark.read.schema(docSchema).parquet(dir), "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(batchEst("big")._1 === 1600L)
    assert(last("big") === batchEst("big")._2)
    assert(last("small") === batchEst("small")._2)
    // the sketch is in its error band on the accumulated stream too
    assert(math.abs(last("big") - 1600.0) / 1600.0 < 0.15)
  }

  test("streaming langId and urlParse stages equal their batch " +
      "forms; stateless, every row rides through") {
    def pages(rs: (Long, String, String)*) = rs.toDF("doc_id", "text", "url")
    val cols = Seq("doc_id", "pred_lang", "host", "port", "is_ip",
      "registered_domain")
    val (streamed, batch) = streamAndBatch(
        pages(
          (1L, "where did you put the keys to the old car",
            "https://a.b.Example.co.uk:8080/p"),
          (2L, "los estudiantes estaban leyendo en el jardin",
            "http://user:pw@www.Site.COM/x")),
        pages((3L, "les oiseaux chantent dans le jardin",
          "ftp://10.0.0.1:21/f")))(
      df => graft.llm.UrlOps.withUrlParts(
        graft.llm.TextAnalysis.withLangId(df, "text"), "url")
        .selectExpr(cols: _*))(
      r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getBoolean(4), r.getString(5)))
    assert(streamed.map(t => (t._1, t._2)) ===
      Seq((1L, "en"), (2L, "es"), (3L, "fr")))
    assert(streamed(0)._3 === "a.b.example.co.uk")
    assert(streamed(0)._4 === 8080L)
    assert(streamed(0)._6 === "example.co.uk")
    assert(streamed(2)._5 === true)
    assert(streamed === batch)
  }

  test("streaming hybrid retrieval: fitted score stage + stateful " +
      "top-k equals batch hybridRrf once the corpus streams through") {
    import graft.llm.Retrieval
    import graft.streaming.StreamingDedup
    val corpus = Seq(
      (1L, "apples bananas cherries", Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, "window filter stream", Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, "apples bananas grapes", Seq(0.9, 0.1, 0.0, 0.0)),
      (4L, "apples melons", Seq(0.8, 0.0, 0.2, 0.0)),
      (5L, "window filter sorting", Seq(0.1, 0.9, 0.0, 0.0)),
      (6L, "stream window filter extra tokens here",
        Seq(0.0, 0.7, 0.3, 0.0)),
      (7L, "nothing matching whatsoever", Seq(0.0, 0.0, 1.0, 0.0)),
      (8L, "bananas window", Seq(0.5, 0.5, 0.0, 0.0)))
    val docs = corpus.map(t => (t._1, t._2)).toDF("doc_id", "text")
    val emb = corpus.map(t => (t._1, t._3)).toDF("vec_id", "embedding")
    val qids = Seq(1L, 2L)
    def rowTuple(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
    val batch = Retrieval.hybridRrf(docs, emb, qids, m = 5, k = 3)
      .collect().map(rowTuple).toSet
    assert(batch.nonEmpty)
    // fit the query-side model offline on the same corpus snapshot
    val model = Retrieval.hybridFit(docs, emb, qids)
    assert(model.queries.map(_.query_id) === qids)
    val dir = java.nio.file.Files
      .createTempDirectory("hybrid_in").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("hybrid_ckpt").toString
    val sch = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("embedding", ArrayType(DoubleType))))
    def write(rows: Seq[(Long, String, Seq[Double])]): Unit =
      rows.toDF("doc_id", "text", "embedding")
        .write.mode("append").parquet(dir)
    write(corpus.take(4))
    val stream = spark.readStream.schema(sch).parquet(dir)
    val scored = StreamingDedup.hybridScoreStage(stream, "text",
        "doc_id", "embedding", model)
      .as[StreamingDedup.HybridScoreRow]
    val ranked = StreamingDedup.hybridTopKStage(scored, m = 5, k = 3)
    @volatile var last = Array.empty[(Long, Long, Long, Long, Long,
      Long)]
    val q = ranked.writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[
           StreamingDedup.HybridRankRow], _: Long) =>
          val rows = df.collect().map(h => (h.query_id, h.rank,
            h.doc_id, h.rrf_ppm, h.dense_rank, h.lex_rank))
          if (rows.nonEmpty) last = rows
      }.start()
    q.processAllAvailable()
    // mid-stream: a valid current top-k exists for both queries
    assert(last.map(_._1).toSet === Set(1L, 2L))
    write(corpus.drop(4))
    q.processAllAvailable()
    q.stop()
    // once the whole corpus has streamed through, the live ranking
    // IS the batch hybridRrf result, rank for rank
    assert(last.toSet === batch)
  }

  test("streaming urlCanon and shard stages equal their batch forms; " +
      "stateless, two canon variants collide on the stream too") {
    def pages(rs: (Long, String, String)*) = rs.toDF("doc_id", "text", "url")
    val cols = Seq("doc_id", "canon_url", "n_params_dropped", "shard")
    val (streamed, batch) = streamAndBatch(
        pages(
          (1L, "some body text for doc one",
            "https://WWW.Shop.Com:443/p/1/?utm_source=x&id=1#f"),
          (2L, "a different and rather longer body text for doc two",
            "https://www.shop.com/p/1?id=1")),
        pages((3L, "third doc body",
          "http://other.org:8080/x?b=2&a=1&gclid=g")))(
      df => graft.llm.TextAnalysis.withShard(
        graft.llm.UrlOps.canonicalizeUrl(df, "url"), "text", "doc_id",
        nShards = 8).selectExpr(cols: _*))(
      r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // the two variants of one resource collide on the live feed
    assert(streamed(0)._2 === "https://www.shop.com/p/1?id=1")
    assert(streamed(0)._2 === streamed(1)._2)
    assert(streamed(0)._3 === 1L && streamed(1)._3 === 0L)
    // non-default port kept, params sorted, tracking key dropped
    assert(streamed(2)._2 === "http://other.org:8080/x?a=1&b=2")
    assert(streamed === batch)
  }

  test("anchorStage equals batch anchorPairs; stateless, one row " +
      "per tag") {
    val (streamed, batch) = streamAndBatch(
        Seq("""x <a href="https://a.b.com/1">First Link</a> y
           <a href="http://c.co.uk/2">second</a>""").toDF("text"),
        Seq("""<a href="https://z.b.com/3">first link</a> plain""")
          .toDF("text"))(
      graft.llm.UrlOps.anchorPairs(_, "text"))(
      r => (r.getString(0), r.getString(1)))
    // c.co.uk sits under the co.uk multi-part suffix -> the
    // registrable domain keeps three labels
    assert(streamed === Seq(("b.com", "first link"),
      ("b.com", "first link"), ("c.co.uk", "second")))
    assert(streamed === batch)
  }

  test("urlCanonStage feeding watermark dedup keyed on canon_url " +
      "keeps one fetch per resource across micro-batches") {
    import graft.streaming.StreamingDedup
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("url", StringType),
      StructField("ts", TimestampType)))
    val dir = java.nio.file.Files.createTempDirectory("cd_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cd_ck").toString
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    def rows(docs: (Long, String, Int)*): Unit =
      docs.toSeq.map { case (i, u, m) => (i, u, ts(m)) }
        .toDF("doc_id", "url", "ts")
        .write.mode("append").parquet(dir)
    rows(
      (1L, "https://Shop.com:443/p/9/?utm_source=a&id=9", 1),
      (2L, "https://other.org/x", 2))
    val stream = spark.readStream.schema(docSchema).parquet(dir)
    val staged = StreamingDedup.dedupByContent(
      graft.llm.UrlOps.canonicalizeUrl(stream, "url"),
      "canon_url", "ts")
    val q = staged.writeStream.format("memory").queryName("cd_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    // a later re-fetch of resource 9 in a DIFFERENT surface form —
    // same canon key, must NOT re-emit
    rows((3L, "https://shop.com/p/9?id=9&gclid=g", 3),
      (4L, "https://third.net/y", 3))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("cd_out").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(out.toSeq === Seq(1L, 2L, 4L))
  }

  test("streaming Count-Min counters accumulate across micro-batches " +
      "and the final state equals the batch sketch row-for-row") {
    import graft.streaming.StreamingDedup
    import graft.llm.TextAnalysis
    val docSchema = StructType(Seq(StructField("text", StringType)))
    val batch1 = (1 to 60).map(i => s"alpha beta token$i")
    val batch2 = (30 to 90).map(i => s"alpha gamma token$i")
    val dir = java.nio.file.Files.createTempDirectory("cms_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cms_ck").toString
    def write(rows: Seq[String]): Unit =
      rows.toDF("text").write.mode("append").parquet(dir)
    write(batch1)
    val stream = spark.readStream.schema(docSchema).parquet(dir)
    @volatile var last = Map.empty[(Int, Long), Long]
    val q = StreamingDedup.cmsStage(stream, "text", w = 64, d = 3)
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[StreamingDedup.CmsCell],
            _: Long) =>
          val rows = df.collect()
          if (rows.nonEmpty)
            last = last ++ rows.map(c => (c.depth, c.cell) -> c.cnt)
      }.start()
    q.processAllAvailable()
    val mid = last
    write(batch2)
    q.processAllAvailable()
    q.stop()
    // counters only grow: every mid-stream value is <= its final
    assert(mid.forall { case (k, v) => last(k) >= v })
    // row-for-row parity with the batch sketch over the full corpus
    val batch = TextAnalysis.cmsSketch(
        spark.read.schema(docSchema).parquet(dir), "text",
        w = 64, d = 3)
      .collect().map(r =>
        (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(last === batch)
    // 'alpha' appeared in all 121 docs: its d cells each hold >= 121
    val fp = spark.sql(
      "SELECT CAST(conv(substring(md5('alpha'), 1, 15), 16, 10) " +
        "AS BIGINT) AS fp").collect()(0).getLong(0)
    (0 until 3).foreach { i =>
      val cell = spark.sql(
        s"SELECT ${TextAnalysis.cmsCellSql(i, s"${fp}L", 64)}")
        .collect()(0).getLong(0)
      assert(last((i, cell)) >= 121L)
    }
  }

  test("mainContentStage equals batch mainContent across " +
      "micro-batches; chrome stripped before downstream stages") {
    def pages(ids: Long*) = ids.map(i => (i,
      "<a href=\"/\">home</a> <a href=\"/a\">about us</a> " +
        "<a href=\"/c\">contact</a>\n" +
        s"the long and unique body of crawled document number $i " +
        "with plenty of prose\n" + "ok")).toDF("doc_id", "page")
    val (streamed, batch) = streamAndBatch(pages(1L, 2L), pages(3L))(
      graft.llm.TextAnalysis.mainContent(_, "page")
        .select("doc_id", "n_blocks", "n_kept", "kept_ppm", "main_text"))(
      r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(streamed.length === 3)
    // chrome and the sub-minimum fragment are gone on the live feed
    assert(streamed.forall { case (_, nb, nk, _, main) =>
      nb === 3L && nk === 1L && !main.contains("home") &&
        main.startsWith("the long and unique body") })
    assert(streamed === batch)
  }

  test("normalizeStage equals batch normalizeText across " +
      "micro-batches; composed/decomposed spellings collide") {
    val (streamed, batch) = streamAndBatch(
        docs(1L -> "Café  DU\tMONDE", 2L -> "café du monde"),
        docs(3L -> "already clean"))(
      graft.llm.TextAnalysis.normalizeText(_, "text")
        .select("doc_id", "norm_text", "norm_changed"))(
      r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(streamed.length === 3)
    // the decomposed spelling folded onto the composed one live
    assert(streamed(0)._2 === streamed(1)._2)
    assert(streamed(0)._3 && !streamed(1)._3 && !streamed(2)._3)
    assert(streamed === batch)
  }

  test("unigramStage equals batch unigramApply across micro-batches " +
      "(per-occurrence DP vs memoized distinct-word form)") {
    import graft.streaming.StreamingDedup
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("ug_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ug_ck").toString
    def rows(rs: (Long, String)*): Unit =
      rs.toSeq.toDF("doc_id", "text")
        .write.mode("append").parquet(dir)
    val fitDocs = Seq(
      1L -> "the table by the window has tokenization value",
      2L -> "window table value misunderstanding q7")
    rows(fitDocs.head)
    val vocab = graft.llm.TextAnalysis.unigramFit(
      fitDocs.toDF("doc_id", "text"), "text", vocabN = 32)
      .localCheckpoint()
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamingDedup.unigramStage(stream, "text", "doc_id", vocab)
      .writeStream.format("memory").queryName("ug_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    rows(fitDocs(1))
    q.processAllAvailable()
    q.stop()
    def tup(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))
    val streamed = spark.table("ug_out").collect().map(tup).sortBy(_._1)
    val batch = graft.llm.TextAnalysis.unigramApply(
        spark.read.schema(schema).parquet(dir), "text", "doc_id", vocab)
      .collect().map(tup).sortBy(_._1)
    assert(streamed.length === 2)
    assert(streamed.toSeq === batch.toSeq)
    assert(streamed.forall(_._3 > 0))
  }

  test("quantileSketchStage: final emissions equal the batch " +
      "rank sketch after the feed drains, across micro-batches") {
    import graft.streaming.StreamingDedup
    val schema = StructType(Seq(
      StructField("g", StringType), StructField("v", DoubleType),
      StructField("id", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("rs_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("rs_ck").toString
    def rows(rs: (String, Double, String)*): Unit =
      rs.toSeq.toDF("g", "v", "id")
        .write.mode("append").parquet(dir)
    val all = (1 to 900).map(i =>
      (if (i % 2 == 0) "a" else "b", i.toDouble, s"id$i"))
    rows(all.take(500): _*)
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamingDedup.quantileSketchStage(stream, "g", "v", "id",
      k = 64, qs = Seq(50, 90))
      .writeStream.format("memory").queryName("rs_out")
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    q.processAllAvailable()
    rows(all.drop(500): _*)
    q.processAllAvailable()
    q.stop()
    // last emission per (grp, q) = the one with the largest n_rows
    val fin = spark.table("rs_out")
      .collect().map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4))))
      .groupBy(_._1).map { case (kq, xs) =>
        kq -> xs.map(_._2).maxBy(_._1) }
    val batch = graft.llm.TextAnalysis.rankQuantileSketch(
        spark.read.schema(schema).parquet(dir), "g", "v", "id",
        k = 64, qs = Seq(50, 90))
      .collect().map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(fin.size === 4)
    fin.foreach { case (kq, (n, ns, est)) =>
      assert(batch(kq) === ((n, ns, est)), s"key $kq")
    }
  }

  test("robotsStage equals batch robotsGate across micro-batches; " +
      "stream-static policy join, zero state") {
    val rules = Seq(
      ("ex.com", false, "/private/"),
      ("ex.com", true, "/private/ok/"))
      .toDF("host", "allow", "prefix")
    def urls(rs: (Long, String)*) = rs.toDF("doc_id", "url")
    val (streamed, batch) = streamAndBatch(
        urls((1L, "https://ex.com/private/a"),
          (2L, "https://ex.com/private/ok/x")),
        urls((3L, "https://other.net/private/a")))(
      graft.llm.UrlOps.robotsGate(_, "url", rules)
        .select("doc_id", "allowed", "matched_rule", "matched_len"))(
      r => (r.getLong(0), r.getBoolean(1), r.getString(2), r.getLong(3)))
    assert(streamed === Seq(
      (1L, false, "/private/", 9L),
      (2L, true, "/private/ok/", 12L),
      (3L, true, "", 0L)))
    assert(streamed === batch)
  }

  test("streaming FIM stage equals the batch split; a late arrival " +
      "gets the same deterministic cuts") {
    val (streamed, batch) = streamAndBatch(
        docs(1L -> "the quick brown fox jumps over the lazy dog tonight",
          2L -> "short doc"),
        docs(3L -> ("a late document must split exactly like the batch " +
          "pipeline would split it")))(
      graft.llm.TextAnalysis.fimSplit(_, "text", "doc_id")
        .select("doc_id", "fim_mode", "prefix", "middle", "suffix"))(
      r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4)))
    assert(streamed.map(_._1) === Seq(1L, 2L, 3L))
    // non-raw rows reassemble; the short doc passes through raw
    assert(streamed(0)._3 + streamed(0)._4 + streamed(0)._5 ===
      "the quick brown fox jumps over the lazy dog tonight")
    assert((streamed(1)._2, streamed(1)._3) === (("raw", "short doc")))
    assert(streamed === batch)
  }

  test("streaming mojibake stage equals the batch repair; a late " +
      "arrival gets the identical fix count") {
    val (streamed, batch) = streamAndBatch(
        docs(1L -> "cafÃ© itâ€™s fine", 2L -> "clean"),
        docs(3L -> "late â€œquotedâ€¦ Ã±"))(
      graft.llm.TextAnalysis.mojibakeFix(_, "text")
        .select("doc_id", "fixed_text", "n_fixes"))(
      r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(streamed === Seq(
      (1L, "café it’s fine", 2L),
      (2L, "clean", 0L),
      (3L, "late “quoted… ñ", 3L)))
    assert(streamed === batch)
  }

  test("streaming burstiness stage equals the batch signals on a " +
      "late arrival") {
    val (streamed, batch) = streamAndBatch(
        docs(1L -> "one two three. four five six.", 2L -> "no breaks"),
        docs(3L -> "a b c d e f. g h."))(
      graft.llm.TextAnalysis.syntheticSignals(_, "text")
        .select("doc_id", "n_sent", "sum_len", "sum_len2",
          "burstiness_ppm"))(
      r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(streamed === Seq(
      (1L, 2L, 6L, 18L, 0L),
      (2L, 1L, 2L, 4L, 0L),
      (3L, 2L, 8L, 40L, 250000L)))
    assert(streamed === batch)
  }

  test("streaming homoglyph-fold stage equals the batch fold; an " +
      "obfuscated late duplicate hashes onto its original") {
    import graft.llm.TextAnalysis
    // the late arrival is the spam twin with Cyrillic е/і
    val (streamed, batch) = streamAndBatch(
        docs(1L -> "buy cheap pills", 2L -> "plain"),
        docs(3L -> "buy chеap pіlls"))(
      TextAnalysis.confusableFold(_, "text")
        .select(col("doc_id"), col("folded_text"), col("n_folded"),
          TextAnalysis.fingerprintExpr("folded_text").as("fp")))(
      r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(streamed.map(t => (t._1, t._2, t._3)) === Seq(
      (1L, "buy cheap pills", 0L),
      (2L, "plain", 0L),
      (3L, "buy cheap pills", 2L)))
    // the folded fingerprints collide exactly as the batch dedup
    // would see them
    assert(streamed(0)._4 === streamed(2)._4)
    assert(streamed === batch)
  }

  test("streaming position-bias counters merge across micro-batches " +
      "and the final audit row equals the batch operator to the bit") {
    import graft.streaming.StreamingDedup
    import graft.llm.Preference
    val schema = StructType(Seq(
      StructField("judge", StringType),
      StructField("aw", BooleanType)))
    // biased judge drifts into the flag only once batch 2 lands;
    // the balanced judge stays inside its interval throughout
    val batch1 = (1 to 40).map(i =>
        ("jb", Some(i <= 24): Option[Boolean])) ++
      (1 to 40).map(i => ("jok", Some(i <= 21): Option[Boolean]))
    // one NULL label rides along: batch counts it as a pair that is
    // not a win; the stream must do the same instead of dying on the
    // non-nullable encoder
    val batch2 = (1 to 60).map(i =>
        ("jb", Some(i <= 51): Option[Boolean])) ++
      (1 to 60).map(i => ("jok", Some(i <= 30): Option[Boolean])) ++
      Seq(("jok", None: Option[Boolean]))
    val dir = java.nio.file.Files.createTempDirectory("pb_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("pb_ck").toString
    def write(rows: Seq[(String, Option[Boolean])]): Unit =
      rows.toDF("judge", "aw").write.mode("append").parquet(dir)
    write(batch1)
    val stream = spark.readStream.schema(schema).parquet(dir)
    @volatile var last = Map.empty[String,
      StreamingDedup.PositionBiasRow]
    val q = StreamingDedup.positionBiasStage(stream, "judge", "aw")
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[
           StreamingDedup.PositionBiasRow], _: Long) =>
          val rows = df.collect()
          if (rows.nonEmpty)
            last = last ++ rows.map(r => r.judge -> r)
      }.start()
    q.processAllAvailable()
    val mid = last
    // mid-stream: 24/40 is inside the Wilson interval — no flag yet
    assert(!mid("jb").position_biased && !mid("jok").position_biased)
    write(batch2)
    q.processAllAvailable()
    q.stop()
    // counters accumulated exactly across micro-batches
    assert(last("jb").n_pairs === 100L &&
      last("jb").n_a_wins === 75L)
    // the drift tripped the alarm mid-collection
    assert(last("jb").position_biased && !last("jok").position_biased)
    // bit parity with the batch operator over the accumulated feed
    val batch = Preference.positionBias(
        spark.read.schema(schema).parquet(dir), col("judge"),
        col("aw"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
        r.getDouble(6), r.getBoolean(7)))).toMap
    Seq("jb", "jok").foreach { j =>
      val s = last(j)
      assert(batch(j) === ((s.n_pairs, s.n_a_wins, s.a_win_ppm,
        s.ci_lo, s.ci_hi, s.z_stat, s.position_biased)))
    }
  }

  test("streaming paired sign test accumulates across micro-batches " +
      "and the final scoreboard equals the batch operator to the bit") {
    import graft.streaming.StreamingDedup
    import graft.llm.Retrieval
    val schema = StructType(Seq(
      StructField("sa", StringType), StructField("sb", StringType),
      StructField("ma", LongType), StructField("mb", LongType)))
    // one canonically-oriented comparison per (pair, unit) — the
    // LlmSpec pairedSignTest fixture re-expressed as the paired feed
    // an interleaving experiment emits; one NULL-metric row rides
    // along (a no-qrels unit: dropped, not a crash)
    type E = (String, String, Option[Long], Option[Long])
    val feed1: Seq[E] = Seq(
      ("A", "B", Some(10L), Some(3L)),
      ("A", "B", Some(10L), Some(3L)),
      ("A", "B", Some(10L), Some(3L)),
      ("A", "C", Some(10L), Some(2L)),
      ("A", "C", Some(10L), Some(2L)),
      ("B", "C", Some(3L), Some(2L)),
      ("A", "C", None, Some(5L)))
    val feed2: Seq[E] = Seq(
      ("A", "B", Some(1L), Some(8L)),
      ("A", "B", Some(5L), Some(5L)),
      ("A", "C", Some(1L), Some(2L)),
      ("A", "C", Some(5L), Some(2L)),
      ("B", "C", Some(3L), Some(2L)),
      ("B", "C", Some(8L), Some(2L)),
      ("B", "C", Some(5L), Some(2L)))
    val dir = java.nio.file.Files.createTempDirectory("st_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("st_ck").toString
    def write(
        rows: Seq[(String, String, Option[Long], Option[Long])])
        : Unit =
      rows.toDF("sa", "sb", "ma", "mb").write.mode("append")
        .parquet(dir)
    write(feed1)
    val stream = spark.readStream.schema(schema).parquet(dir)
    @volatile var last = Map.empty[(String, String),
      StreamingDedup.SignTestRow]
    val q = StreamingDedup.signTestStage(stream, "sa", "sb",
        "ma", "mb")
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[
           StreamingDedup.SignTestRow], _: Long) =>
          df.collect().foreach(r =>
            last = last.updated((r.sys_a, r.sys_b), r))
      }.start()
    q.processAllAvailable()
    // mid-stream: counters reflect exactly the delivered prefix
    assert(last(("A", "B")).n_pairs === 3L &&
      last(("A", "B")).wins_a === 3L)
    assert(last(("A", "C")).n_pairs === 2L) // NULL row dropped
    write(feed2)
    q.processAllAvailable()
    q.stop()
    // bit parity with the batch operator over the accumulated feed
    val scores = Seq(
      ("A", 0L, Some(10L)), ("A", 1L, Some(10L)),
      ("A", 2L, Some(10L)), ("A", 3L, Some(1L)), ("A", 4L, Some(5L)),
      ("B", 0L, Some(3L)), ("B", 1L, Some(3L)), ("B", 2L, Some(3L)),
      ("B", 3L, Some(8L)), ("B", 4L, Some(5L)),
      ("C", 0L, None: Option[Long]), ("C", 1L, Some(2L)),
      ("C", 2L, Some(2L)), ("C", 3L, Some(2L)), ("C", 4L, Some(2L)))
      .toDF("arm", "query_id", "ndcg_ppm")
    val batch = Retrieval.pairedSignTest(scores, "arm", "query_id",
        "ndcg_ppm")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getDouble(7)))).toMap
    assert(batch.keySet === last.keySet)
    batch.foreach { case (k, b) =>
      val s = last(k)
      assert(b === ((s.n_pairs, s.wins_a, s.wins_b, s.ties,
        s.mean_diff_ppm, s.z_sign)), s"pair $k")
    }
  }

  test("streaming retrieval-eval converges across micro-batches to " +
      "the batch scoreboard row to the bit") {
    import graft.streaming.StreamingDedup
    import graft.llm.Retrieval
    val schema = StructType(Seq(
      StructField("query_id", LongType),
      StructField("doc_id", LongType),
      StructField("rank", LongType)))
    // query 0: graded qrels; query 1: no qrels (NULL-metric path);
    // query 2: qrels but never streamed (the documented divergence —
    // batch emits its n_ret=0 row, a stream cannot key on absence)
    val qrels = Seq((0L, 10L, 3L), (0L, 12L, 1L), (0L, 13L, 2L),
      (2L, 40L, 2L)).toDF("query_id", "doc_id", "rel")
    val model = Retrieval.retrievalEvalFit(qrels, k = 3)
    // fit's ideal side replays the batch integer arithmetic
    assert(model.queries(0L).idcgMicro ===
      7L * 1000000L + 3L * 630929L + 500000L)
    assert(model.queries(0L).nRel === 3L)
    val batch1 = Seq((0L, 10L, 1L), (1L, 20L, 1L))
    // batch 2 re-delivers (0, 10) at a worse rank (collapses to the
    // best) and fills the rest of query 0's shortlist
    val batch2 = Seq((0L, 11L, 2L), (0L, 12L, 3L), (0L, 10L, 3L))
    val dir = java.nio.file.Files.createTempDirectory("re_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("re_ck").toString
    def write(rows: Seq[(Long, Long, Long)]): Unit =
      rows.toDF("query_id", "doc_id", "rank")
        .write.mode("append").parquet(dir)
    write(batch1)
    val stream = spark.readStream.schema(schema).parquet(dir)
    @volatile var last = Map.empty[Long,
      StreamingDedup.RetrievalEvalRow]
    val q = StreamingDedup.retrievalEvalStage(stream, model)
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[
           StreamingDedup.RetrievalEvalRow], _: Long) =>
          val rows = df.collect()
          if (rows.nonEmpty)
            last = last ++ rows.map(r => r.query_id -> r)
      }.start()
    q.processAllAvailable()
    // mid-stream: only rank 1 has arrived for query 0 — idcg is the
    // FULL fitted ideal, so the partial dcg reads honestly below it
    val mid = last(0L)
    assert(mid.n_ret === 1L && mid.n_rel_ret === 1L)
    assert(mid.dcg_micro === 7L * 1000000L)
    assert(mid.ndcg_ppm === Some(7000000L * 1000000L /
      model.queries(0L).idcgMicro))
    write(batch2)
    q.processAllAvailable()
    q.stop()
    // streamed queries converge to the batch rows bit-for-bit
    val batch = Retrieval.retrievalEval(
        spark.read.schema(schema).parquet(dir), qrels, k = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    Seq(0L, 1L).foreach { qid =>
      val s = last(qid)
      val b = batch(qid)
      assert(b.getLong(1) === s.n_ret && b.getLong(2) === s.n_rel &&
        b.getLong(3) === s.n_rel_ret)
      def opt(i: Int): Option[Long] =
        if (b.isNullAt(i)) None else Some(b.getLong(i))
      assert(opt(4) === s.recall_ppm)
      assert(b.getLong(5) === s.rr_ppm)
      assert(opt(6) === s.ap_ppm)
      assert(b.getLong(7) === s.dcg_micro &&
        b.getLong(8) === s.idcg_micro)
      assert(opt(9) === s.ndcg_ppm)
    }
    // the divergence is exactly the never-streamed query: batch has
    // its row, the stream never keyed it
    assert(batch.contains(2L) && !last.contains(2L))
    // knownQueriesOnly bounds state by the MODEL's query set: the
    // no-qrels query 1 is dropped at the stage front (trading away
    // its NULL-metric row for a state bound an untrusted feed needs)
    val ckpt2 = java.nio.file.Files.createTempDirectory("re_ck2")
      .toString
    @volatile var known = Map.empty[Long,
      StreamingDedup.RetrievalEvalRow]
    val q2 = StreamingDedup.retrievalEvalStage(
        spark.readStream.schema(schema).parquet(dir), model,
        knownQueriesOnly = true)
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt2)
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[
           StreamingDedup.RetrievalEvalRow], _: Long) =>
          val rows = df.collect()
          if (rows.nonEmpty)
            known = known ++ rows.map(r => r.query_id -> r)
      }.start()
    q2.processAllAvailable()
    q2.stop()
    assert(known.contains(0L) && !known.contains(1L))
  }
}
