package graft.ops

import graft.SparkSpec

/** Analytics surface (correlated subqueries, EXISTS/NOT EXISTS, funnel,
  * retention): brute-force recomputation in plain Scala over collected
  * sf0.001 fixtures, plus plan-level decorrelation evidence.
  */
class AnalyticsSpec extends SparkSpec {

  private lazy val lineitem: Seq[(Long, Long, Long, Double, Double)] =
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toSeq

  private lazy val orders: Seq[(Long, Long, Int)] =
    spark.read.parquet(s"$sfDir/orders.parquet")
      .selectExpr("o_orderkey", "o_custkey", "year(o_orderdate) AS yr")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq

  "Analytics.minCostSupplier" should "keep exactly the min-unit-cost suppliers per part" in {
    val costs = lineitem.groupBy(t => (t._2, t._3)).map { case ((pk, sk), rows) =>
      (pk, sk, rows.map(r => r._5 / r._4).min)
    }.toSeq
    val minPerPart = costs.groupBy(_._1).view.mapValues(_.map(_._3).min).toMap
    val expected = costs.filter { case (pk, _, c) => c == minPerPart(pk) }
      .map { case (pk, sk, _) => (pk, sk) }.toSet
    val got = Analytics.minCostSupplier(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    got shouldBe expected
    // binding: some part must have more than one candidate supplier
    costs.groupBy(_._1).values.exists(_.size > 1) shouldBe true
  }

  it should "decorrelate the scalar subquery (no nested-loop artifacts)" in {
    val plan = Analytics.minCostSupplier(spark, sfDir)
      .queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should include("Join")
  }

  "Analytics.bigOrders" should "match the brute-force HAVING threshold" in {
    val bigKeys = lineitem.groupBy(_._1).view.mapValues(_.map(_._4).sum)
      .filter(_._2 > 300.0).keySet
    val got = Analytics.bigOrders(spark, sfDir).collect()
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    got.keySet shouldBe bigKeys
    bigKeys.size should be > 0
  }

  "Analytics.churnedCustomers" should "be the 1995-active minus 1996-active set" in {
    val in95 = orders.filter(_._3 == 1995).map(_._2).toSet
    val in96 = orders.filter(_._3 == 1996).map(_._2).toSet
    val expected = in95 -- in96
    val got = Analytics.churnedCustomers(spark, sfDir).collect().map(_.getLong(0)).toSet
    got shouldBe expected
    // both the EXISTS and the NOT EXISTS must prune something
    expected.size should be > 0
    (in95 & in96).size should be > 0
  }

  "Analytics.funnel" should "show a strict dropoff across the three stages" in {
    val got = Analytics.funnel(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got.keySet shouldBe Set("1_view", "2_click", "3_purchase")
    got("1_view") should be > got("2_click")
    got("2_click") should be > got("3_purchase")
    got("3_purchase") should be > 0L
  }

  "Analytics.retentionCohorts" should "match brute-force cohort counts" in {
    val firstYr = orders.groupBy(_._2).view.mapValues(_.map(_._3).min).toMap
    val expected = orders.map(o => (firstYr(o._2).toLong, (o._3 - firstYr(o._2)).toLong, o._2))
      .distinct.filter(_._2 <= 3)
      .groupBy(t => (t._1, t._2)).view.mapValues(_.size.toLong).toMap
    val got = Analytics.retentionCohorts(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    got shouldBe expected
    // retention must decay somewhere for the analysis to bind
    val c0 = got.collect { case ((c, 0L), n) => c -> n }.toMap
    got.exists { case ((c, off), n) => off > 0 && n < c0(c) } shouldBe true
  }

  "Analytics.skylineParts" should "be exactly the non-dominated set" in {
    val pts = graft.io.Sources.part(spark, sfDir)
      .select("p_partkey", "p_size", "p_retailprice").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getDouble(2)))
    def dominated(p: (Long, Long, Double)) = pts.exists(q =>
      q._3 <= p._3 && q._2 >= p._2 && (q._3 < p._3 || q._2 > p._2))
    val expected = pts.filterNot(dominated).map(_._1).toSet
    val got = Analytics.skylineParts(spark, sfDir).collect().map(_.getLong(0)).toSet
    got shouldBe expected // sound AND complete vs the quadratic definition
    expected should not be empty
  }

  behavior of "Analytics.allQuarters (r13)"

  it should "match a brute-force division replay" in {
    val os = spark.read.parquet(s"$sfDir/orders.parquet")
      .selectExpr("o_custkey", "CAST(o_orderdate AS DATE) AS day",
        "CAST(round(o_totalprice * 100) AS LONG) AS cents")
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2)))
      .filter(_._2.getYear == 1995)
    val want = os.groupBy(_._1).collect {
      case (ck, rows)
          if rows.map(r => (r._2.getMonthValue - 1) / 3).distinct.size == 4 =>
        (ck, rows.length.toLong, rows.map(_._3).sum)
    }.toSeq.sortBy(_._1)
    val got = Analytics.allQuarters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    got shouldBe want
    want should not be empty // the division is non-vacuous on the fixture
  }

  behavior of "Analytics.orderStreaks (r13)"

  it should "match a literal consecutive-day walk" in {
    val os = spark.read.parquet(s"$sfDir/orders.parquet")
      .selectExpr("o_custkey", "CAST(o_orderdate AS DATE) AS day")
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate.toEpochDay))
      .distinct
    val want = os.groupBy(_._1).map { case (ck, rows) =>
      val days = rows.map(_._2).distinct.sorted
      // literal linear walk over sorted distinct days
      var streaks = List.empty[Long]
      var cur = 1L
      days.sliding(2).foreach { w =>
        if (w.length == 2) {
          if (w(1) == w(0) + 1) cur += 1 else { streaks ::= cur; cur = 1 }
        }
      }
      streaks ::= cur
      ck -> ((streaks.length.toLong, days.length.toLong, streaks.max))
    }
    val got = Analytics.orderStreaks(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    got shouldBe want
    // genuine multi-day streaks exist on the fixture
    got.values.map(_._3).max should be >= 2L
  }

  behavior of "Analytics.entropySegment and lateArriving (r13)"

  it should "hold entropy bounds and count reconciliation" in {
    val rows = Analytics.entropySegment(spark, sfDir).collect()
    rows.length shouldBe 5
    rows.foreach { r =>
      val n = r.getLong(1)
      val cs = (2 to 6).map(r.getLong(_))
      cs.sum shouldBe n // the 5 priorities partition every order
      val h = r.getDouble(7)
      h should be >= 0.0
      h should be <= math.log(5.0) + 1e-9 // uniform bound over 5 values
    }
  }

  it should "park exactly the late-dimension facts under nation -1" in {
    val lateCusts = spark.read.parquet(s"$sfDir/customer.parquet")
      .filter("c_custkey % 20 = 0").select("c_custkey")
      .collect().map(_.getLong(0)).toSet
    val expectedParked = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_custkey").collect().map(_.getLong(0))
      .count(lateCusts.contains)
    val rows = Analytics.lateArriving(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val unknown = rows.filter(_._1 == -1L)
    unknown.map(_._2).sum shouldBe expectedParked
    unknown.map(_._3).sum shouldBe expectedParked // all unknown rows are parked
    rows.filter(_._1 >= 0).map(_._3).sum shouldBe 0 // known rows never park
    val total = spark.read.parquet(s"$sfDir/orders.parquet").count()
    rows.map(_._2).sum shouldBe total // zero row loss
  }

  behavior of "Temporal.crossCorr (r13)"

  it should "be symmetric-consistent and bounded" in {
    val rows = graft.ops.Temporal.crossCorr(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    rows.map(_._1).toSeq shouldBe (-7L to 7L)
    rows.foreach { case (_, n, c) =>
      n should be > 0L
      math.abs(c) should be <= 1.0 + 1e-9
    }
    // the lag-0 cross-correlation of value vs count is strongly positive
    rows.find(_._1 == 0L).get._3 should be > 0.5
  }

  behavior of "Analytics.rfmScores and saltedRevenue (r13)"

  it should "hold the RFM structural invariants" in {
    val rows = Analytics.rfmScores(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    rows should not be empty
    rows.foreach { case (_, rs, fs, ms, rfm) =>
      rs should (be >= 1L and be <= 5L)
      fs should (be >= 1L and be <= 5L)
      ms should (be >= 1L and be <= 5L)
      rfm shouldBe rs * 100 + fs * 10 + ms
    }
    // quintiles are balanced: each score bucket within 1 of n/5
    Seq(rows.map(_._2), rows.map(_._3), rows.map(_._4)).foreach { scores =>
      val byScore = scores.groupBy(identity).view.mapValues(_.size)
      (byScore.values.max - byScore.values.min) should be <= 1
    }
  }

  it should "make the salted join result-transparent vs a plain join" in {
    val plain = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .selectExpr("l_orderkey", "CAST(round(l_extendedprice * 100) AS LONG) AS cents")
      .join(spark.read.parquet(s"$sfDir/orders.parquet")
        .selectExpr("o_orderkey AS l_orderkey", "o_orderpriority"), "l_orderkey")
      .groupBy("o_orderpriority")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("cents").as("rev"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val salted = Analytics.saltedRevenue(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    salted shouldBe plain
  }

  behavior of "Analytics.attributionUShaped (r13)"

  it should "conserve every purchase cent across channels" in {
    val rows = Analytics.attributionUShaped(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.keySet shouldBe Set("click", "view", "signup", "residual", "unattributed")
    val totalPurchases = graft.io.Sources.events(spark, sfDir)
      .filter("event_type = 'purchase'")
      .selectExpr("CAST(round(value * 100) AS LONG) AS cents")
      .collect().map(_.getLong(0)).sum
    rows.values.sum shouldBe totalPurchases // exact conservation
    // the U-shape genuinely differs from the linear split on this fixture
    val linear = Analytics.attributionLinear(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows should not equal linear
  }

  "Analytics.attributionShapley" should "replay the exact 4-channel game and satisfy efficiency" in {
    val ev = graft.io.Sources.events(spark, sfDir)
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val bit = Map("click" -> 1L, "view" -> 2L, "signup" -> 4L, "error" -> 8L)
    val firstP = ev.filter(_._3 == "purchase").groupBy(_._1)
      .view.mapValues(_.map(_._2).min).toMap
    val masks = ev.flatMap { case (u, us, t) =>
      firstP.get(u).filter(us < _).flatMap(_ => bit.get(t)).map(b => (u, b))
    }.groupBy(_._1).values.map(_.map(_._2).reduce(_ | _)).toSeq
    val nOf = masks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def v(s0: Long): Long =
      nOf.collect { case (m, n) if (m & s0) == m => n }.sum
    val w24 = Array(6L, 2L, 2L, 6L)
    val want = bit.toSeq.sortBy(_._1).map { case (ch, b) =>
      val phi = (0L until 16L).filter(s0 => (s0 & b) == 0).map { s0 =>
        w24(java.lang.Long.bitCount(s0)) * (v(s0 + b) - v(s0))
      }.sum
      (ch, phi, phi * 1000000L / 24)
    }
    val got = Analytics.attributionShapley(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    got shouldBe want
    // efficiency: credits sum to 24 * (v(full) - v(empty))
    got.map(_._2).sum shouldBe 24L * (v(15L) - v(0L))
    got.foreach(_._2 should be > 0L) // every channel carries some credit
  }

  "Analytics.priceVolumeMix" should "replay the waterfall and bound the residual by rounding" in {
    import org.apache.spark.sql.functions.{col, year}
    val rows = graft.io.Sources.lineitem(spark, sfDir)
      .filter(year(col("l_shipdate")).isin(1996, 1997))
      .select(year(col("l_shipdate")).cast("int").as("y"),
        col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2).toLong,
        math.round(r.getDouble(3) * 100)))
    val per = rows.groupBy(r => (r._2, r._1))
      .map { case ((pk, y), g) => (pk, y) -> (g.map(_._3).sum, g.map(_._4).sum) }
    val parts = per.keys.map(_._1).toSet
    var (nc, nn, nx, delta, vol, price, newc, exitc) =
      (0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
    parts.foreach { pk =>
      (per.get((pk, 1996)), per.get((pk, 1997))) match {
        case (Some((q1, e1)), Some((q2, e2))) =>
          nc += 1; delta += e2 - e1
          vol += BigDecimal(100.0 * (q2 - q1).toDouble *
            (e1.toDouble / q1.toDouble))
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          price += BigDecimal(100.0 * (e2.toDouble / q2.toDouble -
            e1.toDouble / q1.toDouble) * q2.toDouble)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        case (None, Some((_, e2))) => nn += 1; delta += e2; newc += e2
        case (Some((_, e1)), None) => nx += 1; delta -= e1; exitc -= e1
        case _ =>
      }
    }
    val resid = delta * 100L - vol - price - newc * 100L - exitc * 100L
    val r0 = Analytics.priceVolumeMix(spark, sfDir).head()
    (r0.getLong(0), r0.getLong(1), r0.getLong(2)) shouldBe ((nc, nn, nx))
    (r0.getLong(3), r0.getLong(4), r0.getLong(5)) shouldBe ((delta, vol, price))
    (r0.getLong(6), r0.getLong(7), r0.getLong(8)) shouldBe ((newc, exitc, resid))
    // the decomposition identity is exact in the reals, so the lattice
    // residual is bounded by half an e2 unit per mirrored common term
    math.abs(resid) should be <= nc
  }

  "Analytics.allenRelations" should "classify every interval exactly once per Allen 1983" in {
    val os = spark.read.parquet(s"$sfDir/orders.parquet")
      .selectExpr("o_orderkey", "CAST(o_orderdate AS DATE) AS d")
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val ys = java.time.LocalDate.parse("1995-06-01")
    val ye = java.time.LocalDate.parse("1995-06-30")
    def rel(xs: java.time.LocalDate, xe: java.time.LocalDate): String =
      if (xs == ys && xe == ye) "equals"
      else if (xs == ys && xe.isBefore(ye)) "starts"
      else if (xs == ys && xe.isAfter(ye)) "started_by"
      else if (xe == ye && xs.isAfter(ys)) "finishes"
      else if (xe == ye && xs.isBefore(ys)) "finished_by"
      else if (xe == ys) "meets"
      else if (xs == ye) "met_by"
      else if (xe.isBefore(ys)) "before"
      else if (xs.isAfter(ye)) "after"
      else if (xs.isAfter(ys) && xe.isBefore(ye)) "during"
      else if (xs.isBefore(ys) && xe.isAfter(ye)) "contains"
      else if (xs.isBefore(ys) && xe.isAfter(ys) && xe.isBefore(ye)) "overlaps"
      else if (xs.isAfter(ys) && xs.isBefore(ye) && xe.isAfter(ye)) "overlapped_by"
      else "other"
    val classed = os.map { case (k, d0) =>
      (rel(d0, d0.plusDays(k % 30 + 1)), k)
    }
    val cen = classed.groupBy(_._1).view
      .mapValues(g => (g.size.toLong, g.map(_._2).sum)).toMap
    val dom = Seq("after", "before", "contains", "during", "equals",
      "finished_by", "finishes", "meets", "met_by", "other",
      "overlapped_by", "overlaps", "started_by", "starts")
    val want = dom.map { r =>
      val (n, s0) = cen.getOrElse(r, (0L, 0L))
      (r, n, s0)
    }
    val got = Analytics.allenRelations(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    got shouldBe want
    // the taxonomy is a PARTITION: exhaustive (sentinel empty) and
    // total (counts reconcile to the order count)
    got.find(_._1 == "other").get._2 shouldBe 0L
    got.map(_._2).sum shouldBe os.length.toLong
  }
}
