package graft.etl

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.Sources

class EtlQueriesSpec extends SparkSpec {

  "etlIncrementalAgg" should "merge partial state + delta into exactly the full recompute" in {
    val merged = EtlQueries.etlIncrementalAgg(spark, sfDir)
    val full = Sources.orders(spark, sfDir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
    merged.exceptAll(full).count() shouldBe 0L
    full.exceptAll(merged).count() shouldBe 0L
    merged.count() should be > 0L
  }

  it should "split real work across state and delta (the cutoff must bind)" in {
    val o = Sources.orders(spark, sfDir)
    val cutoff = lit("1999-01-01").cast("date")
    o.filter(col("o_orderdate") < cutoff).count() should be > 0L
    o.filter(col("o_orderdate") >= cutoff).count() should be > 0L
  }

  "EtlQueries.etlDqQuarantine" should "replay the rule census against a driver-side audit" in {
    val minShip = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .selectExpr("l_orderkey", "CAST(l_shipdate AS DATE) AS sd").collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
      .groupBy(_._1).view.mapValues(_.map(_._2).min(
        Ordering.by((d: java.time.LocalDate) => d.toEpochDay))).toMap
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .selectExpr("o_orderkey", "CAST(o_orderdate AS DATE) AS od",
        "o_orderpriority").collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getString(2)))
    val known = Set("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    var (childless, early, bad, clean) = (0L, 0L, 0L, 0L)
    orders.foreach { case (ok, od, prio) =>
      val ms = minShip.get(ok)
      val c = ms.isEmpty
      val e = ms.exists(_.isBefore(od))
      val b = !known(prio)
      if (c) childless += 1
      if (e) early += 1
      if (b) bad += 1
      if (!c && !e && !b) clean += 1
    }
    val got = EtlQueries.etlDqQuarantine(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got shouldBe Map("childless" -> childless, "early_ship" -> early,
      "bad_priority" -> bad, "zz_clean" -> clean)
    // the two real rules bind; the domain rule is verifiably clean
    childless should be > 0L
    early should be > 0L
    bad shouldBe 0L
    clean should be > 0L
  }

  "backfillPlan (r13)" should "merge missing days into maximal consecutive ranges" in {
    val days = spark.read.parquet(s"$sfDir/orders.parquet")
      .selectExpr("CAST(o_orderdate AS DATE) AS day").distinct().collect()
      .map(_.getDate(0).toLocalDate).sortBy(_.toEpochDay)
    val all = (days.head.toEpochDay to days.last.toEpochDay)
      .map(java.time.LocalDate.ofEpochDay)
    val landed = days.toSet
    val missing = all.filterNot(landed)
    // islands: group consecutive epoch days
    val want = missing.foldLeft(Vector.empty[Vector[java.time.LocalDate]]) {
      case (acc, d) if acc.nonEmpty &&
        acc.last.last.toEpochDay + 1 == d.toEpochDay =>
        acc.init :+ (acc.last :+ d)
      case (acc, d) => acc :+ Vector(d)
    }.map(g => (g.head.toString, g.last.toString, g.length.toLong))
    val got = EtlQueries.backfillPlan(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    got shouldBe want
    // the plan covers exactly the missing mass, ranges never touch
    got.map(_._3).sum shouldBe (all.length - days.length).toLong
    got should not be empty
  }

  "surrogateKeys (r13)" should "assign dense, total, collision-free surrogates" in {
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      .selectExpr("c_nationkey", "c_mktsegment",
        "CAST(round(c_acctbal * 100) AS LONG) AS cents")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val dim = cust.map(t => (t._1, t._2)).distinct.sorted
    val skOf = dim.zipWithIndex.map { case (k, i) => k -> (i + 1).toLong }.toMap
    val want = cust.groupBy(t => (t._1, t._2)).toSeq
      .map { case (k, g) =>
        (skOf(k), k._1, k._2, g.length.toLong, g.map(_._3).sum) }
      .sortBy(_._1)
    val got = EtlQueries.surrogateKeys(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4))).toSeq
    got shouldBe want
    // dense 1..|dim|, mapping total over the corpus
    got.map(_._1) shouldBe (1L to dim.length.toLong)
    got.map(_._4).sum shouldBe cust.length.toLong
  }

  "EtlQueries.retentionPlan (r13)" should "route month partitions by as-of age" in {
    val days = spark.read.parquet(s"$sfDir/orders.parquet")
      .selectExpr("CAST(o_orderdate AS DATE) AS d")
      .collect().map(r => r.getDate(0).toLocalDate)
    val asof = days.maxBy(_.toEpochDay)
    val byMonth = days.groupBy(d => f"${d.getYear}%04d-${d.getMonthValue}%02d")
    val want = byMonth.toSeq.sortBy(_._1).map { case (m, g) =>
      val monthEnd = java.time.LocalDate
        .parse(m + "-01").withDayOfMonth(
          java.time.LocalDate.parse(m + "-01").lengthOfMonth)
      val age = java.time.temporal.ChronoUnit.DAYS.between(monthEnd, asof)
      val action = if (age < 365) "keep" else if (age < 730) "archive"
        else "purge"
      (m, g.length.toLong, age, action)
    }
    val got = EtlQueries.retentionPlan(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    got shouldBe want
    // the policy genuinely splits the corpus: all three actions appear
    got.map(_._4).distinct.sorted shouldBe Seq("archive", "keep", "purge")
    // the newest month is always kept (age <= 0 < 365)
    got.last._4 shouldBe "keep"
  }

  "EtlQueries.partitionPlan (r13)" should "replay the sizing arithmetic per month" in {
    val months = spark.read.parquet(s"$sfDir/orders.parquet")
      .selectExpr("date_format(o_orderdate, 'yyyy-MM') AS m")
      .collect().map(_.getString(0))
    val byM = months.groupBy(identity).view.mapValues(_.length.toLong)
      .toMap.toSeq.sortBy(_._1)
    val avgRows = byM.map(_._2).sum / byM.length
    val want = byM.map { case (mth, n) =>
      (mth, n, n * 120L, (n * 120L + 134217727L) / 134217728L,
        100L * n / avgRows)
    }
    val got = EtlQueries.partitionPlan(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    got shouldBe want
    // fixture months are far below one 128 MiB target file each, and
    // the skew column is centered: some months above, some below avg
    got.foreach(_._4 shouldBe 1L)
    got.exists(_._5 > 100L) shouldBe true
    got.exists(_._5 < 100L) shouldBe true
  }

  "etlSnapshotDiff" should "reconcile the derived snapshot class by class" in {
    val base = Sources.customer(spark, sfDir)
      .select("c_custkey", "c_acctbal").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100)))
    val mk = base.map(_._1).max
    val removed = base.filter(_._1 % 50 == 0)
    val changed = base.filter(t => t._1 % 50 != 0 && t._1 % 10 == 0)
    val unchanged = base.filter(t => t._1 % 50 != 0 && t._1 % 10 != 0)
    val added = base.filter(_._1 % 40 == 0).map(t => (t._1 + mk + 1, t._2))
    val want = Seq(
      ("added", added.length.toLong, added.map(_._2).sum,
        added.map(_._1).sum),
      ("changed", changed.length.toLong, changed.length.toLong,
        changed.map(_._1).sum),
      ("removed", removed.length.toLong, -removed.map(_._2).sum,
        removed.map(_._1).sum),
      ("unchanged", unchanged.length.toLong, 0L,
        unchanged.map(_._1).sum))
    val got = EtlQueries.etlSnapshotDiff(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    got shouldBe want
    // every class binds at every SF (the derivation guarantees it)
    got.foreach(_._2 should be > 0L)
  }

  "etlGdprErasure" should "size the cascade and prove zero post-cascade orphans" in {
    val subjects = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0))
      .filter(_ % 97 == 0).toSet
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .selectExpr("o_orderkey", "o_custkey",
        "CAST(round(o_totalprice * 100) AS LONG) AS cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val erased = orders.filter(o => subjects(o._2))
    val liKeys = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey").collect().map(_.getLong(0))
    val erasedKeys = erased.map(_._1).toSet
    val got = EtlQueries.etlGdprErasure(spark, sfDir).head()
    got.getLong(0) shouldBe subjects.size.toLong
    got.getLong(1) shouldBe erased.length.toLong
    got.getLong(2) shouldBe erased.length.toLong
    got.getLong(3) shouldBe erased.map(_._3).sum
    got.getLong(4) shouldBe liKeys.count(erasedKeys).toLong
    got.getLong(5) shouldBe 0L // the cascade leaves no dangling FK
    // the audit binds: subjects exist and cascade is non-trivial
    subjects.size should be > 0
    erased.length should be > 0
  }

  "etlPipelineE2e" should "keep its scratch warehouse under the SparkContext, not a shared /tmp path" in {
    // the warehouse this query used before: one fixed path per fixture,
    // shared by every session on the host
    val shared = new java.io.File(s"/tmp/graft_e2e_wh_${math.abs(sfDir.hashCode)}")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(del)
      f.delete(); ()
    }
    del(shared)
    spark.sparkContext // SparkFiles resolves against the live context
    val root = new java.io.File(org.apache.spark.SparkFiles.getRootDirectory())
    def warehouses = Option(root.list()).toSeq.flatten.filter(_.startsWith("graft_e2e_wh_")).toSet
    val before = warehouses
    val got = EtlQueries.etlPipelineE2e(spark, sfDir).collect()
    got should not be empty
    shared.exists shouldBe false
    (warehouses -- before) should have size 1
  }
}
