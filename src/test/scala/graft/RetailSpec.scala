package graft

import graft.engine.Retail
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the retail portfolio analytics: the distributed prefix-sum
  * cumulative share must EXACTLY equal the naive single-window form
  * (decimal arithmetic end to end), and days-of-supply must handle
  * the no-history item.
  */
class RetailSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cumulativeShare equals the single-window form exactly") {
    // revenues engineered with ties across range-partition boundaries
    val perItem = (1L to 500L).map { k =>
      (k, BigDecimal((k % 37) * 100 + 7, 2 /* scale */))
    }.toDF("item", "revenue")
      .select(col("item"), col("revenue").cast("decimal(22,4)")
        .as("revenue"))
    val dist = Retail.cumulativeShare(perItem, "item", numParts = 8)
    val w = Window.orderBy(col("revenue").desc, col("item"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = perItem.agg(sum("revenue").cast("double")).head.getDouble(0)
    val naive = perItem
      .withColumn("cum_share",
        round(sum("revenue").over(w).cast("double") / total, 6))
      .select("item", "cum_share")
    val mismatch = dist.select("item", "cum_share")
      .except(naive).count() + naive.except(
        dist.select("item", "cum_share")).count()
    assert(mismatch === 0L)
  }

  test("Dist.prefixSum on longs equals the naive global window") {
    val df = (1L to 1000L).map(i => (i, (i * 7919) % 101))
      .toDF("id", "v")
    val dist = graft.engine.Dist.prefixSum(df,
        Seq(col("v").desc, col("id")), "v", "run", numParts = 8,
        withTotal = true)
    val w = Window.orderBy(col("v").desc, col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = df.withColumn("run", sum("v").over(w))
    val mismatch = dist.select("id", "run").except(
      naive.select("id", "run")).count()
    assert(mismatch === 0L)
    assert(dist.select("run_total").head.getLong(0) ===
      (1L to 1000L).map(i => (i * 7919) % 101).sum)
  }

  test("Dist.prefixSum: a null value opening a range partition " +
      "carries the running total (longs and decimals, withTotal)") {
    // ids 11, 21 and 31 open partitions 2-4 of 4 with a null value;
    // id 1 is a null with nothing before it, so its total stays null
    val longs = (1L to 40L).map(i =>
        (i, if (i % 5 == 1) None else Some(i)))
      .toDF("id", "v")
    val decimals = longs.select(col("id"),
      (col("v") / 4).cast("decimal(12,2)").as("v"))
    val w = Window.orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for (df <- Seq(longs, decimals)) {
      val dist = graft.engine.Dist.prefixSum(df, Seq(col("id")), "v",
        "run", numParts = 4, withTotal = true)
      val naive = df.withColumn("run", sum("v").over(w))
      val got = dist.orderBy("id").select("run").collect().map(_.get(0))
      val expect = naive.orderBy("id").select("run").collect()
        .map(_.get(0))
      assert(got.toSeq === expect.toSeq)
      assert(got(0) == null && Seq(10, 20, 30).forall(got(_) != null))
      assert(dist.select("run_total").distinct().collect()
        .map(_.get(0)).toSeq === Seq(expect.last))
    }
  }

  test("Dist.groupedRank equals the per-group row_number window") {
    // 3 low-cardinality groups, order values colliding across
    // range-partition boundaries; doc_id is the strict tiebreaker
    val df = (1L to 900L).map(i =>
        (i, s"g${i % 3}", (i * 7919) % 13))
      .toDF("id", "grp", "k")
    val dist = graft.engine.Dist.groupedRank(df, "grp",
      Seq(col("k"), col("id")), "rank", numParts = 8)
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("k"), col("id"))
    val naive = df.withColumn("rank", row_number().over(w).cast("long"))
    val mismatch = dist.select("grp", "id", "rank").except(
      naive.select("grp", "id", "rank")).count() +
      naive.select("grp", "id", "rank").except(
        dist.select("grp", "id", "rank")).count()
    assert(mismatch === 0L)
    // single-group degenerate case (== ungrouped global rank)
    val one = (1L to 50L).map(i => (i, "only", 50L - i))
      .toDF("id", "grp", "k")
    val oneDist = graft.engine.Dist.groupedRank(one, "grp",
      Seq(col("k"), col("id")), "rank", numParts = 4)
      .orderBy("rank").select("id").as[Long].collect().toSeq
    assert(oneDist === (50L to 1L by -1L))
  }

  test("Dist.groupedRank closed forms: ntile and percent_rank match " +
      "the window functions, including uneven and single-row groups") {
    // group sizes 10 / 5 / 1: ntile(3) splits 4-3-3, 2-2-1, 1 — the
    // uneven cases where a wrong closed form shows; percent_rank's
    // single-row group must read 0.0 (the window's defined value)
    val rows = (1L to 10L).map(i => (i, "a", (i * 31) % 17)) ++
      (11L to 15L).map(i => (i, "b", (i * 31) % 17)) ++
      Seq((16L, "c", 3L))
    val df = rows.toDF("id", "grp", "q")
    val ranked = graft.engine.Dist.groupedRank(df, "grp",
      Seq(col("q"), col("id")), "r", numParts = 4,
      withGroupTotal = true)
      .withColumn("nt", expr("(r - 1L) * 3L DIV r_n + 1L"))
      .withColumn("pr", expr(
        """CASE WHEN r_n <= 1L THEN 0.0D
          |ELSE CAST(r - 1L AS DOUBLE) /
          |  CAST(r_n - 1L AS DOUBLE) END""".stripMargin))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("q"), col("id"))
    val win = df.withColumn("nt", ntile(3).over(w).cast("long"))
      .withColumn("pr", percent_rank().over(w))
    val got = ranked.select("grp", "id", "nt", "pr").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq.sorted
    val want = win.select("grp", "id", "nt", "pr").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq.sorted
    assert(got === want)
  }

  test("abcClassify bands: monotone A->B->C down the revenue ranking") {
    val li = Seq(
      // one dominant item, a mid item, a tail of small ones
      (1L, 10000.0, 0.0), (2L, 2000.0, 0.0),
      (3L, 100.0, 0.0), (4L, 50.0, 0.0), (5L, 10.0, 0.0))
      .toDF("l_partkey", "l_extendedprice", "l_discount")
    val bands = Retail.abcClassify(li, "l_partkey", numParts = 2)
      .orderBy(col("revenue").desc)
      .select("abc_band").as[String].collect().toSeq
    assert(bands.head === "A")
    assert(bands === bands.sorted) // never goes back from C to B/A
    assert(bands.last === "C")
  }

  test("basketLift: row-local pairs, mega-basket cap, exact lift") {
    // orders: {1,2,3} twice, {1,2} once, plus a mega-basket to drop
    val rows =
      Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 1L), // dup line kept once
        (11L, 1L), (11L, 2L), (11L, 3L),
        (12L, 1L), (12L, 2L),
        (13L, 99L)) ++ (1L to 10L).map(i => (14L, 100L + i))
    val li = rows.toDF("l_orderkey", "l_partkey")
    val out = Retail.basketLift(li, minSupport = 2, maxBasket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(4))).toMap
    // n_orders = 5 (mega-basket still counts toward marginals/total)
    // pair (1,2): count 3, lift = 3*5/(3*3) = 1.666667
    assert(out((1L, 2L)) === ((3L, 1.666667)))
    // pair (1,3): count 2, lift = 2*5/(3*2) = 1.666667
    assert(out((1L, 3L)) === ((2L, 1.666667)))
    assert(out.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // no pair from the capped order 14 even at minSupport 1
    val all = Retail.basketLift(li, minSupport = 1, maxBasket = 5)
      .collect().map(r => r.getLong(0)).toSet
    assert(!all.exists(_ >= 100L))
  }

  test("elasticity: exact slope on a constructed log-log line") {
    // unit prices u = 1, e, e^2 with qty = u^-2  =>  ln q = -2 ln u
    val e = math.E
    val pts = Seq(1.0, e, e * e).map { u =>
      val q = 1.0 / (u * u); (1L, q, u * q)
    }
    val li = pts.toDF("l_partkey", "l_quantity", "l_extendedprice")
    val part = Seq((1L, "BrandX")).toDF("p_partkey", "p_brand")
    val out = graft.engine.Retail.elasticity(li, part).collect()(0)
    assert(out.getString(0) === "BrandX")
    assert(out.getLong(1) === 3L)
    assert(math.abs(out.getDouble(2) - (-2.0)) < 1e-5)
  }

  test("demandAnomaly: spike excluded from its own baseline, cold start null") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-$day%02d 00:00:00")
    // 10 steady days at 10 units, then a 100-unit spike
    val li = ((1 to 10).map(d => (1L, 10.0, ts(d))) :+
      (1L, 100.0, ts(11)))
      .toDF("l_suppkey", "l_quantity", "l_shipdate")
    val rows = graft.engine.Retail.demandAnomaly(li, Seq("l_suppkey"),
        "l_shipdate", "l_quantity", minObs = 7)
      .orderBy("l_shipdate").collect()
    // first 7 days: baseline too thin -> null z, not anomalous
    assert((0 until 7).forall(i => rows(i).isNullAt(5) &&
      !rows(i).getBoolean(6)))
    // day 11: baseline is the 10 steady days -> std 0 -> null z but
    // mean present; zero-variance baseline cannot score
    val spike = rows(10)
    assert(spike.getDouble(3) === 10.0) // base_mean excludes the spike
    assert(spike.getDouble(4) === 0.0)
    assert(spike.isNullAt(5) && !spike.getBoolean(6))
    // perturb one baseline day -> nonzero std -> spike flags
    val li2 = ((1 to 9).map(d => (1L, 10.0, ts(d))) :+
      (1L, 12.0, ts(10)) :+ (1L, 100.0, ts(11)))
      .toDF("l_suppkey", "l_quantity", "l_shipdate")
    val spike2 = graft.engine.Retail.demandAnomaly(li2,
        Seq("l_suppkey"), "l_shipdate", "l_quantity", minObs = 7)
      .orderBy("l_shipdate").collect().last
    assert(spike2.getBoolean(6))
  }

  test("croston: hand-computed smoothings, single-event series null") {
    def wk(s: String) = java.sql.Date.valueOf(s)
    val sparse = Seq(
      (1L, wk("2024-01-07"), 10.0),
      (1L, wk("2024-01-14"), 20.0), // gap 1 week
      (1L, wk("2024-02-04"), 30.0), // gap 3 weeks
      (2L, wk("2024-01-07"), 5.0))
      .toDF("l_partkey", "week", "units")
    val out = graft.engine.Series.croston(sparse, Seq("l_partkey"),
        "week", "units")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    // z: 10 -> .3*20+.7*10=13 -> .3*30+.7*13=18.1
    assert(r1.getDouble(2) === 18.1)
    // p: seed 1, then .3*3+.7*1=1.6
    assert(r1.getDouble(3) === 1.6)
    assert(r1.getDouble(4) === math.rint(18.1 / 1.6 * 1e6) / 1e6)
    assert(r1.getDouble(5) === 9.615625) // 0.85*18.1/1.6
    val r2 = out(2L)
    assert(r2.getLong(1) === 1L && r2.getDouble(2) === 5.0)
    assert(r2.isNullAt(3) && r2.isNullAt(4) && r2.isNullAt(5))
  }

  test("rollingOriginMa: hand-computed per-origin masked MAPE") {
    def wk(i: Int) = java.sql.Date.valueOf(
      java.time.LocalDate.of(2024, 1, 7).plusWeeks(i).toString)
    val dense = Seq(3.0, 6.0, 9.0, 3.0, 6.0, 9.0).zipWithIndex
      .map { case (u, i) => ("s1", wk(i), u) }
      .toDF("key", "week", "units")
    val out = graft.engine.forecast.Backtest.rollingOriginMa(
        dense, Seq("key"), nMa = 3, origins = 2)
      .orderBy("origin").collect()
    // origin 1 (last week): ma=(9+3+6)/3=6, units 9 -> ape 1/3
    assert(out(0).getLong(0) === 1L)
    assert(out(0).getDouble(3) === 33.3333)
    // origin 2: ma=(6+9+3)/3=6, units 6 -> perfect forecast
    assert(out(1).getDouble(3) === 0.0)
    // zero-demand weeks are masked, short history excluded
    val withZero = (dense.collect().map(r =>
      ("s1", r.getDate(1), r.getDouble(2))).toSeq :+
      ("s2", wk(5), 0.0)).toDF("key", "week", "units")
    val o1 = graft.engine.forecast.Backtest.rollingOriginMa(
        withZero, Seq("key"), nMa = 3, origins = 1)
      .collect()(0)
    assert(o1.getLong(1) === 1L && o1.getLong(2) === 1L)
  }

  test("inventoryProjection: hand-simulated (ROP,OQ) policy with lead 2") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // both parts: 10 units over an 8-day span -> nw=2 -> d=5,
    // rop=15, oq=20
    val li = Seq(
      (1L, 5.0, ts("2024-01-01")), (1L, 5.0, ts("2024-01-08")),
      (2L, 5.0, ts("2024-01-01")), (2L, 5.0, ts("2024-01-08")))
      .toDF("l_partkey", "l_quantity", "l_shipdate")
    val stock = Seq((1L, 10L), (2L, 2L))
      .toDF("l_partkey", "on_hand")
    val out = graft.engine.Retail.inventoryProjection(li, stock,
        "l_partkey", "on_hand")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    // part 1: 10 -> 5 (order 20) -> 0 -> 15 (arrival) -> 10 (order)
    assert(out((1L, 1L)) === ((5L, 20L, false)))
    assert(out((1L, 2L)) === ((0L, 0L, false)))  // on order covers
    assert(out((1L, 3L)) === ((15L, 0L, false))) // arrival lands
    assert(out((1L, 4L)) === ((10L, 20L, false)))
    // part 2 starts under demand: lost sales week 1, floor at 0
    assert(out((2L, 1L)) === ((0L, 20L, true)))
    assert(out((2L, 2L)) === ((0L, 0L, true)))   // still dry pre-arrival
    assert(out((2L, 3L)) === ((15L, 0L, false)))
  }

  test("topDownReconcile: exact shares, reconciled sums to top forecast") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val li = Seq(
      (1L, 10.0, ts("2024-01-02")), (1L, 20.0, ts("2024-01-09")),
      (2L, 30.0, ts("2024-01-02")), (2L, 30.0, ts("2024-01-09")),
      (3L, 10.0, ts("2024-01-02")))
      .toDF("l_partkey", "l_quantity", "l_shipdate")
    val out = graft.engine.forecast.Backtest.topDownReconcile(
        li, "l_partkey", "l_shipdate", "l_quantity")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    // weekly totals 50, 50 -> top_fc = 50; shares .3 / .6 / .1
    assert(out(1L) === ((0.3, 50.0, 15.0)))
    assert(out(2L) === ((0.6, 50.0, 30.0)))
    assert(out(3L) === ((0.1, 50.0, 5.0)))
    assert(math.abs(out.values.map(_._3).sum - 50.0) < 1e-9)
  }

  test("returnRateCI: Wilson bounds bracket the rate; small n ranks lower") {
    val rows =
      (1 to 1000).map(i => (1L, if (i <= 400) "R" else "N")) ++
        Seq((2L, "R"), (2L, "N"))
    val li = rows.toDF("l_partkey", "l_returnflag")
    val part = Seq((1L, "Big"), (2L, "Tiny"))
      .toDF("p_partkey", "p_brand")
    val out = graft.engine.Retail.returnRateCI(li, part)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    val (nB, rateB, loB, hiB) = out("Big")
    assert(nB === 1000L && rateB === 0.4)
    assert(loB < rateB && rateB < hiB)
    // closed-form check at n=1000, p=0.4, z=1.96
    def wilson(p: Double, n: Double, sign: Double): Double = {
      val z = 1.96; val z2 = z * z
      ((p + z2 / (2 * n)) + sign * z *
        math.sqrt(p * (1 - p) / n + z2 / (4 * n * n))) / (1 + z2 / n)
    }
    assert(math.abs(loB - wilson(0.4, 1000, -1)) < 1e-5)
    assert(math.abs(hiB - wilson(0.4, 1000, 1)) < 1e-5)
    // Tiny's 50% rate cannot outrank Big's 40%: its lower bound is
    // far smaller (the whole point of interval-based ranking)
    val (_, rateT, loT, hiT) = out("Tiny")
    assert(rateT === 0.5 && loT < loB && (hiT - loT) > (hiB - loB))
  }

  test("daysOfSupply flags no-history items and low cover") {
    val li = Seq(
      (1L, 10.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, 10.0, java.sql.Timestamp.valueOf("2024-01-10 00:00:00")),
      (2L, 400.0, java.sql.Timestamp.valueOf("2024-01-05 00:00:00")))
      .toDF("l_partkey", "l_quantity", "l_shipdate")
    val stock = Seq((1L, 1000L), (2L, 100L), (3L, 50L))
      .toDF("l_partkey", "on_hand")
    val out = Retail.daysOfSupply(li, stock, "l_partkey", "on_hand",
        leadTimeDays = 30)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(3)), r.getBoolean(4))).toMap
    // item 1: 20 units over a 10-day span -> 2/day -> 500 days cover
    assert(out(1L)._1.contains(500.0) && !out(1L)._2)
    // item 2: 40/day -> 2.5 days cover, below 30-day lead time
    assert(out(2L)._1.contains(2.5) && out(2L)._2)
    // item 3: never sold -> null cover, flagged for review
    assert(out(3L)._1.isEmpty && out(3L)._2)
  }

  test("demandClass: the four Syntetos-Boylan quadrants + single") {
    def wk(s: String) = java.sql.Date.valueOf(s)
    // weekly Sundays; crafted (ADI, CV²) per item around the
    // 1.32 / 0.49 cutoffs
    val rows = Seq.newBuilder[(Long, java.sql.Date, Double)]
    // item 1 smooth: every week (ADI 1), constant size (CV² 0)
    (0 to 9).foreach(i => rows += ((1L,
      wk(java.time.LocalDate.of(2024, 1, 7).plusWeeks(i).toString),
      10.0)))
    // item 2 intermittent: every 2nd week (ADI 2), constant size
    (0 to 4).foreach(i => rows += ((2L,
      wk(java.time.LocalDate.of(2024, 1, 7).plusWeeks(2 * i).toString),
      10.0)))
    // item 3 erratic: every week, sizes 1/19 alternating (CV² ≈ 0.81)
    (0 to 9).foreach(i => rows += ((3L,
      wk(java.time.LocalDate.of(2024, 1, 7).plusWeeks(i).toString),
      if (i % 2 == 0) 1.0 else 19.0)))
    // item 4 lumpy: every 2nd week, sizes 1/19
    (0 to 4).foreach(i => rows += ((4L,
      wk(java.time.LocalDate.of(2024, 1, 7).plusWeeks(2 * i).toString),
      if (i % 2 == 0) 1.0 else 19.0)))
    // item 5: one demand week
    rows += ((5L, wk("2024-01-07"), 7.0))
    val weekly = rows.result().toDF("l_partkey", "week", "units")
    val out = Retail.demandClass(weekly, "l_partkey")
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(out === Map(1L -> "smooth", 2L -> "intermittent",
      3L -> "erratic", 4L -> "lumpy", 5L -> "single"))
  }

  test("psiDrift: identical slices score ~0; a shifted slice scores high") {
    import graft.engine.Profile
    val ref = (1 to 1000).map(i => (i % 50) + 1.0).toDF("x")
    val same = Profile.psiDrift(ref, ref, "x", lo = 1.0, hi = 51.0,
      bins = 10).collect()
    assert(same.length === 10)
    assert(same.forall(_.getDouble(6) === 0.0)) // psi exactly 0
    // current slice concentrated in the top half -> big PSI
    val cur = (1 to 1000).map(i => (i % 25) + 26.0).toDF("x")
    val drift = Profile.psiDrift(ref, cur, "x", lo = 1.0, hi = 51.0,
      bins = 10).collect()
    assert(drift.head.getDouble(6) > 0.25) // "drifted" band
    // proportions are eps-floored, so every term is finite
    assert(drift.forall(r => !r.getDouble(5).isInfinite))
  }
}
