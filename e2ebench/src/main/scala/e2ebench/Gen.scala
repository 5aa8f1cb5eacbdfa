package e2ebench

import org.apache.spark.sql.SparkSession

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import scala.collection.mutable

/** What the ventas generator built: sizes and the input properties the
  * forecast layers depend on. `sample` holds the weekly (W-SUN, gap-
  * filled) series of a seeded sample of gate-passing series, the input
  * the driver-side kernel check replays.
  */
final case class VentasFacts(rows: Long, negativeRows: Long, series: Int,
    passing: Int, seasonal: Int, dominantShare: Double, bytes: Long,
    sample: Seq[(String, String, Array[Double])]) {
  def gateRejectedShare: Double = 1.0 - passing.toDouble / series
  def seasonalShare: Double = seasonal.toDouble / series
}

/** What the documents generator built. `stageDocs`/`stageTokens` are the
  * five funnel stages (raw, exact_dedup, quality_gate, lang_gate,
  * decontaminated) as planted; `plantedContaminated` counts the eval
  * overlaps placed on purpose, `contaminated` also the documents that
  * share a 30-bit n-gram hash with the eval set by collision.
  */
final case class DocsFacts(stageDocs: Seq[Long], stageTokens: Seq[Long],
    plantedContaminated: Long, contaminated: Long, evalDocs: Int,
    distinctWords: Long, bytes: Long) {
  def raw: Long = stageDocs(0)
  def dupShare: Double = 1.0 - stageDocs(1).toDouble / stageDocs(0)
  def contaminatedShare: Double = contaminated.toDouble / stageDocs(3)
}

/** Seeded input generators. The same seed gives byte-identical files;
  * every random choice comes from one SplittableRandom per file.
  */
object Gen {
  val Dominant = "United Kingdom"
  val Countries = Seq("France", "Germany", "EIRE", "Spain", "Netherlands",
    "Belgium", "Switzerland", "Portugal", "Australia", "Norway")
  /** A Sunday: W-SUN week labels are Start + 7k days. */
  val Start: LocalDate = LocalDate.of(2009, 12, 6)
  private val Products = Seq("WHITE HANGING HEART T-LIGHT HOLDER",
    "REGENCY CAKESTAND 3 TIER", "JUMBO BAG RED RETROSPOT",
    "PARTY BUNTING", "LUNCH BAG RED RETROSPOT", "ASSORTED COLOUR BIRD ORNAMENT",
    "SET OF 3 CAKE TINS PANTRY DESIGN", "PACK OF 72 RETROSPOT CAKE CASES")
  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Series kinds and their week spans [lo, hi]. Long series keep
    * train >= 104 weeks (the seasonal Holt-Winters grid); short ones
    * stay under the 12-week gate; low-volume ones sum to 3 units, under
    * the 10-unit gate.
    */
  private val Long_ = 0
  private val Mid = 1
  private val Short_ = 2
  private val Low = 3
  private val KindShares = Seq(0.4, 0.3, 0.15, 0.15)
  private val Spans = Seq((110, 130), (30, 90), (3, 10), (20, 40))

  def ventas(file: File, seed: Long, nSeries: Int,
      cfg: graft.engine.PipelineConfig = graft.engine.PipelineConfig())
      : VentasFacts = {
    val rng = new SplittableRandom(seed)
    val counts = KindShares.map(s => math.round(s * nSeries).toInt).toArray
    counts(Mid) += nSeries - counts.sum
    val kinds = shuffled(rng,
      counts.zipWithIndex.flatMap { case (c, k) => Array.fill(c)(k) })
    // one row = (timestamp seconds, series, quantity, customer); rows
    // are written in timestamp order, as invoices are
    val ts = mutable.ArrayBuilder.make[Long]
    val ser = mutable.ArrayBuilder.make[Int]
    val qty = mutable.ArrayBuilder.make[Int]
    val cust = mutable.ArrayBuilder.make[Int]
    val skus = new Array[String](nSeries)
    val countries = new Array[String](nSeries)
    val weekly = new Array[Array[Double]](nSeries)
    var negatives = 0L
    var dominant = 0
    val epoch0 = Start.minusDays(6).atStartOfDay()
      .toEpochSecond(java.time.ZoneOffset.UTC)
    for (i <- 0 until nSeries) {
      val kind = kinds(i)
      skus(i) = (20000 + i).toString + (if (i % 7 == 0) "A" else "")
      countries(i) =
        if (rng.nextDouble() < 0.7) { dominant += 1; Dominant }
        else Countries(rng.nextInt(Countries.size))
      val (lo, hi) = Spans(kind)
      val span = lo + rng.nextInt(hi - lo + 1)
      val firstWeek = rng.nextInt(20)
      val base = 5 + rng.nextInt(40)
      val phase = rng.nextInt(52)
      val sums = new Array[Double](span)
      def row(week: Int, q: Int): Unit = {
        // a day of the W-SUN week ending Start + 7*(firstWeek+week)
        val day = 7L * (firstWeek + week) + rng.nextInt(7)
        ts += epoch0 + day * 86400L + 8 * 3600 + rng.nextInt(12 * 3600)
        ser += i; qty += q; cust += rng.nextInt(5000)
        if (q >= 0) sums(week) += q else negatives += 1
      }
      for (w <- 0 until span) {
        if (kind == Low) {
          if (w == 0 || w == span / 2 || w == span - 1) row(w, 1)
        } else if (w == 0 || w == span - 1 || kind == Short_ ||
            rng.nextDouble() < 0.85) {
          val nRows = if (rng.nextDouble() < 0.25) 2 else 1
          val level = base * (1 + 0.4 * math.sin(2 * math.Pi * (w + phase) / 52))
          for (_ <- 0 until nRows)
            row(w, math.max(1, math.round(level / nRows).toInt +
              rng.nextInt(5) - 2))
          if (rng.nextDouble() < 0.03) row(w, -(1 + rng.nextInt(5)))
        }
      }
      weekly(i) = sums
    }
    val tsA = ts.result(); val serA = ser.result()
    val qtyA = qty.result(); val custA = cust.result()
    require(tsA.length < (1 << 24), "too many rows for the sort key")
    val order = Array.tabulate(tsA.length)(r => (tsA(r) << 24) | r)
    java.util.Arrays.sort(order)
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 20)
    try {
      out.write("InvoiceNo,StockCode,Description,Quantity,InvoiceDate," +
        "UnitPrice,CustomerID,Country\n")
      var invoice = 536365
      order.foreach { key =>
        val r = (key & ((1 << 24) - 1)).toInt
        val s = serA(r)
        val q = qtyA(r)
        invoice += 1
        val when = LocalDateTime.ofEpochSecond(tsA(r), 0,
          java.time.ZoneOffset.UTC)
        out.write(if (q < 0) s"C$invoice" else invoice.toString)
        out.write(','); out.write(skus(s))
        out.write(','); out.write(Products(s % Products.size))
        out.write(','); out.write(q.toString)
        out.write(','); out.write(TsFormat.format(when))
        out.write(','); out.write("%.2f".formatLocal(java.util.Locale.ROOT, 1.25 + (s % 400) / 100.0))
        out.write(','); out.write(if (custA(r) % 9 == 0) "" else (12000 + custA(r)).toString)
        out.write(','); out.write(countries(s))
        out.write('\n')
      }
    } finally out.close()
    // the kernel's own gates decide which series yield a row
    val passes = weekly.map(w =>
      w.length >= cfg.minWeeks && w.sum >= cfg.minTotalSales)
    val passing = passes.indices.filter(passes(_))
    val seasonal = passing.count(i =>
      weekly(i).length - cfg.horizonWeeks >= 104)
    val sample = shuffled(rng, passing.toArray).take(40).sorted
      .map(i => (skus(i), countries(i), weekly(i))).toSeq
    VentasFacts(tsA.length, negatives, nSeries, passing.size, seasonal,
      dominant.toDouble / nSeries, file.length(), sample)
  }

  private def shuffled(rng: SplittableRandom, a: Array[Int]): Array[Int] = {
    val b = a.clone()
    for (i <- b.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = b(i); b(i) = b(j); b(j) = t
    }
    b
  }

  // ---- documents -------------------------------------------------------

  private val Stop = graft.llm.TextAnalysis.stopwords
  private val Symbols = Seq("!!!", "###", "@@", "$$$", "%%", "&&&", "***")

  /** Lowercase pseudo-words of 2-4 consonant-vowel syllables (so at least
    * four letters: never one of the stopwords, which are all shorter).
    * Eval words start with 'x', a letter training words never use.
    */
  private def pseudoWords(rng: SplittableRandom, n: Int, prefix: String)
      : Array[String] = {
    val cons = "bcdfghjklmnprstvz"
    val vow = "aeiou"
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val syl = 2 + rng.nextInt(3)
      seen += prefix + (0 until syl).map(_ =>
        s"${cons(rng.nextInt(cons.length))}${vow(rng.nextInt(vow.length))}")
        .mkString
    }
    seen.toArray
  }

  /** The program's 30-bit word n-gram hashes (`Dedup.decontaminate`):
    * polynomial hash of each non-empty ' '-token, folded over n-windows,
    * both mod P; a text shorter than n is one whole-text window.
    */
  private def gramHashes(text: String, n: Int = 8): Array[Long] = {
    val P = graft.llm.HashConstants.P
    val th = text.split(' ').filter(_.nonEmpty)
      .map(_.codePoints().toArray.foldLeft(0L)((h, c) => (h * 31 + c) % P))
    val m = math.max(th.length - n + 1, 1)
    val w = math.min(n, th.length)
    Array.tabulate(m)(i => (0 until w).foldLeft(0L)((a, j) => (a * 31 + th(i + j)) % P))
  }

  private final case class Doc(text: String, lang: String, source: String,
      cls: Int)
  private val En = 0
  private val Foreign = 1
  private val LowQ = 2

  /** Writes `documents.parquet` (doc_id, text, lang, source, n_chars) and,
    * with `evalShare > 0`, `eval.parquet` (doc_id, text) into `dir`.
    * Planted: 15 % exact duplicates (new ids, possibly below the
    * original's); of the distinct documents, 55 % English documents that
    * pass both gates, 25 % es/fr/de/zh documents that pass the quality
    * gate only, 20 % short symbol-heavy documents that fail it; `evalShare`
    * of the English documents have a 12-word span copied into the eval
    * set. These counts are the same for every seed; the seed picks which
    * documents they are.
    */
  def docs(spark: SparkSession, dir: File, seed: Long, nDocs: Int,
      words: (Int, Int), evalShare: Double, files: Int): DocsFacts = {
    val rng = new SplittableRandom(seed)
    val vocab = pseudoWords(rng, 6000, "")
    def word(): String = vocab((vocab.length * math.pow(rng.nextDouble(), 2)).toInt)
    def prose(stop: Seq[String]): String = {
      val n = words._1 + rng.nextInt(words._2 - words._1 + 1)
      (0 until n).map { _ =>
        if (stop.nonEmpty && rng.nextDouble() < 0.15) stop(rng.nextInt(stop.size))
        else if (rng.nextDouble() < 0.04) word() + "."
        else word()
      }.mkString(" ")
    }
    val nBase = math.round(nDocs * 0.85).toInt
    val nEn = math.round(nBase * 0.55).toInt
    val nForeign = math.round(nBase * 0.25).toInt
    val classes = shuffled(rng, Array.tabulate(nBase)(k =>
      if (k < nEn) En else if (k < nEn + nForeign) Foreign else LowQ))
    val seen = mutable.HashSet.empty[String]
    val base = new Array[Doc](nBase)
    var i = 0
    while (i < nBase) {
      val d =
        if (classes(i) == En) Doc(prose(Stop("en")), "en", s"src${rng.nextInt(20)}", En)
        else if (classes(i) == Foreign) {
          val lang = Seq("es", "fr", "de", "zh")(rng.nextInt(4))
          Doc(prose(Stop.getOrElse(lang, Nil)), lang, s"src${rng.nextInt(20)}", Foreign)
        } else {
          val n = 4 + rng.nextInt(9)
          Doc((0 until n).map(_ =>
            if (rng.nextBoolean()) Symbols(rng.nextInt(Symbols.size))
            else word() + "!!").mkString(" "), "en", s"src${rng.nextInt(20)}", LowQ)
        }
      if (seen.add(d.text)) { base(i) = d; i += 1 }
    }
    val all = base ++ Array.fill(nDocs - nBase)(base(rng.nextInt(nBase)))
    val byId = shuffled(rng, all.indices.toArray).map(all(_))

    // eval set: a 12-word span of each chosen English doc between
    // eval-only filler, plus filler-only documents
    val evalWords = pseudoWords(rng, 500, "x")
    def filler(n: Int) = (0 until n).map(_ => evalWords(rng.nextInt(evalWords.length)))
    val english = base.filter(_.cls == En)
    val planted = shuffled(rng, english.indices.toArray)
      .take(math.round(english.length * evalShare).toInt).sorted.map(english(_))
    val evalTexts =
      if (evalShare <= 0) Array.empty[String]
      else planted.map { d =>
        val toks = d.text.split(' ')
        val at = rng.nextInt(toks.length - 12)
        (filler(10) ++ toks.slice(at, at + 12) ++ filler(10)).mkString(" ")
      } ++ Array.fill(math.max(20, planted.length / 4))(filler(30).mkString(" "))
    val evalGrams = evalTexts.iterator.flatMap(gramHashes(_)).toSet
    val isContaminated = english.map(d => gramHashes(d.text).exists(evalGrams))
    val contaminated = isContaminated.count(identity)

    def tokens(ds: Iterable[Doc]): Long =
      ds.iterator.map(_.text.split(' ').length.toLong).sum
    val quality = base.filter(_.cls != LowQ)
    val cleanTokens = tokens(english.indices.filterNot(isContaminated)
      .map(english(_)))
    val facts = DocsFacts(
      stageDocs = Seq(nDocs.toLong, nBase.toLong, quality.length.toLong,
        english.length.toLong, (english.length - contaminated).toLong),
      stageTokens = Seq(tokens(byId), tokens(base), tokens(quality),
        tokens(english), cleanTokens),
      plantedContaminated = planted.length.toLong,
      contaminated = contaminated.toLong,
      evalDocs = evalTexts.length,
      distinctWords = base.iterator.flatMap(_.text.split(' ')).toSet.size.toLong,
      bytes = 0L)

    import spark.implicits._
    val docRows = byId.zipWithIndex.map { case (d, id) =>
      (id.toLong, d.text, d.lang, d.source, d.text.length.toLong) }.toSeq
    val docBytes = parquet(spark.sparkContext.parallelize(docRows, files)
      .toDF("doc_id", "text", "lang", "source", "n_chars"),
      new File(dir, "documents.parquet"))
    if (evalTexts.nonEmpty)
      parquet(spark.sparkContext.parallelize(evalTexts.zipWithIndex
        .map { case (t, id) => (id.toLong, t) }.toSeq, 1).toDF("doc_id", "text"),
        new File(dir, "eval.parquet"))
    facts.copy(bytes = docBytes)
  }

  /** Writes each partition of `df` as one parquet file: a single-partition
    * frame becomes the file `target` (the layout of the engine's test
    * tables), a wider one the directory `target` of `part-<i>.parquet`.
    * Returns the bytes written.
    */
  def parquet(df: org.apache.spark.sql.DataFrame, target: File): Long = {
    val tmp = new File(target.getPath + ".tmp")
    df.write.mode("overwrite").parquet(tmp.getPath)
    val parts = tmp.listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    def move(from: File, to: File) = java.nio.file.Files.move(from.toPath,
      to.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    if (df.rdd.getNumPartitions == 1) move(parts.head, target)
    else {
      target.mkdirs()
      parts.zipWithIndex.foreach { case (p, i) =>
        move(p, new File(target, f"part-$i%05d.parquet")) }
    }
    Files.deleteTree(tmp)
    Files.treeBytes(target)
  }
}

object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(treeBytes).sum)
    else f.length()
}
