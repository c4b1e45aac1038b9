package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The approximate-sketch scale paths documented next to their exact
  * counterparts (q09 countDistinct → HLL; q32 percentile → t-digest):
  * bounded-memory, one pass, merge order-independent. */
class SketchSpec extends SparkSpec {
  import spark.implicits._
  private val d = sf("sf0.01")

  test("approx_count_distinct within 5% of exact and partitioning-independent") {
    val li = Tables.lineitem(spark, d)
    val exact = li.select(countDistinct(col("l_partkey"))).as[Long].head()
    val approx1 = li.repartition(4)
      .select(approx_count_distinct(col("l_partkey"))).as[Long].head()
    val approx2 = li.repartition(17)
      .select(approx_count_distinct(col("l_partkey"))).as[Long].head()
    assert(math.abs(approx1 - exact).toDouble / exact < 0.05, s"$approx1 vs $exact")
    assert(approx1 === approx2) // HLL merge is order/partitioning independent
  }

  test("q53 profile HLL path: key-column estimates within 5% of exact") {
    // the driver-gate variant emits NULL n_distinct for unbounded columns
    // (two engines' HLLs can never hash-match); this gates the hll=true
    // profile a user runs at scale against the exact counts.
    val prof = Relational.profile(spark, d, hll = true)
      .select("column_name", "n_distinct").as[(String, Long)].collect().toMap
    val o = Tables.orders(spark, d)
    for (c <- Seq("o_custkey", "o_totalprice")) {
      val exact = o.select(countDistinct(col(c))).as[Long].head()
      assert(math.abs(prof(c) - exact).toDouble / exact < 0.05,
        s"$c: hll=${prof(c)} exact=$exact")
    }
    // bounded columns stay exact
    assert(prof("o_orderstatus") ===
      o.select(countDistinct(col("o_orderstatus"))).as[Long].head())
  }

  test("approx_percentile tracks exact percentile") {
    val li = Tables.lineitem(spark, d)
    val exact = li.select(expr("percentile(l_quantity, 0.5)")).as[Double].head()
    val approx = li.select(expr("approx_percentile(l_quantity, 0.5, 1000)"))
      .as[Double].head()
    assert(math.abs(approx - exact) <= 1.0, s"$approx vs $exact")
  }

  test("approx_percentile rank error is within the sketch's hard bound (q63 invariant)") {
    // the GK sketch contract at accuracy a: the returned value's feasible
    // rank interval (count(x<v), count(x<=v)] intersects [q - 1/a, q + 1/a].
    // q63 gates this at 10x slack under the driver; here we hold the HARD
    // bound itself, so the driver gate's margin is demonstrated, not assumed.
    val li = Tables.lineitem(spark, d).select(col("l_extendedprice").as("x")).cache()
    try {
      val n = li.count().toDouble
      for (q <- Seq(0.25, 0.5, 0.75, 0.9)) {
        val v = li.select(expr(s"approx_percentile(x, $q, 1000)")).as[Double].head()
        val lo = li.filter(col("x") < v).count() / n
        val hi = li.filter(col("x") <= v).count() / n
        assert(lo <= q + 0.001 && hi >= q - 0.001,
          s"q=$q v=$v rank interval ($lo, $hi] misses +-0.001")
      }
      // and the registered driver-gate query agrees with its oracle shape
      val rows = Relational.q63ApproxPercentileBound(spark, d)
        .select(col("q"), col("pass")).as[(Double, Boolean)].collect().toMap
      assert(rows.keySet === Set(0.25, 0.5, 0.75, 0.9))
      assert(rows.values.forall(identity), s"q63 pass flags: $rows")
    } finally li.unpersist()
  }

  test("q111 histogram: equi-width bins, max value clamps into the last bin") {
    import spark.implicits._
    // mn=0, mx=10, 20 bins of width 0.5: value v lands in floor(v/0.5);
    // v == mx computes bin 20 and must clamp to 19
    val dir = java.nio.file.Files.createTempDirectory("histspec").toString
    (Seq(0.0, 0.25, 0.5, 9.74, 10.0, 10.0))
      .toDF("l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Relational.q111Histogram(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 2L, 1L -> 1L, 19L -> 3L))
  }

  test("q116 referential integrity: planted orphans counted, NULL key is an orphan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("refspec").toString
    Seq((1L, 10L, 100L), (2L, 10L, 100L), (1L, 99L, 100L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")          // order 2, part 99 dangle
    Seq((1L, 500L), (3L, 999L)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")            // customer 999 dangles
    Seq(Tuple1(10L)).toDF("p_partkey").write.parquet(s"$dir/part.parquet")
    Seq((100L, 8L)).toDF("s_suppkey", "s_nationkey")
      .write.parquet(s"$dir/supplier.parquet")          // nation 8 dangles
    Seq((500L, 7L)).toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$dir/customer.parquet")
    Seq(Tuple1(7L)).toDF("n_nationkey").write.parquet(s"$dir/nation.parquet")
    Seq((1L, Some(500L)), (2L, None), (3L, Some(777L)))
      .toDF("event_id", "user_id")
      .withColumn("ts", lit(1000L * 3600L * 1000000000L))
      .write.parquet(s"$dir/events.parquet")            // null + 777 orphan
    val got = Relational.q116RefIntegrity(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(got === Map(
      "lineitem.l_orderkey->orders" -> 1L,
      "lineitem.l_partkey->part" -> 1L,
      "lineitem.l_suppkey->supplier" -> 0L,
      "orders.o_custkey->customer" -> 1L,
      "customer.c_nationkey->nation" -> 0L,
      "supplier.s_nationkey->nation" -> 1L,
      "events.user_id->customer" -> 2L))
  }

  test("q108 robust stats: lower-median picks and MAD closed forms") {
    import spark.implicits._
    // A (odd n): sorted 1,3,100 → rank (3+1) div 2 = 2 → med 3;
    //   deviations 2,0,97 sorted 0,2,97 → mad 2 (robust to the outlier)
    // B (even n): sorted 1,2,4,8 → LOWER median rank 2 → 2;
    //   deviations 1,0,2,6 sorted 0,1,2,6 → mad 1
    val dir = java.nio.file.Files.createTempDirectory("madspec").toString
    Seq(("A", 1.0), ("A", 3.0), ("A", 100.0),
        ("B", 1.0), ("B", 2.0), ("B", 4.0), ("B", 8.0))
      .toDF("l_returnflag", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Relational.q108RobustStats(spark, dir)
      .as[(String, Long, Double, Double)].collect().toSet
    assert(got === Set(("A", 3L, 3.0, 2.0), ("B", 4L, 2.0, 1.0)))
  }

  test("q108/q32 counts-frame rewrites match the row-level forms on tie-heavy data") {
    // r18: q108's rank pick and q32's percentile run over per-(group,
    // value) COUNTS (the window/aggregate never sees fact rows). The
    // risky inputs are ties AT the median-rank boundary and heavy
    // duplication — this differentials both against the row-level forms.
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("cntpick").toString
    val rows =
      Seq.tabulate(101)(i => ("A", (i % 5).toDouble, (i % 3).toDouble)) ++
      Seq.tabulate(40)(i => ("B", if (i < 20) 1.5 else 2.5, 9.0)) ++
      Seq(("C", 7.0, 1.0))
    rows.toDF("l_returnflag", "l_extendedprice", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    // q108 reference: the pre-r18 row_number window form, verbatim
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("x"))
    def lowerMedianRows(df: org.apache.spark.sql.DataFrame, v: String,
        out: String) = {
      val w = Window.partitionBy(col("g"))
      df.withColumn("rk", row_number().over(w.orderBy(col(v))))
        .withColumn("n", count(lit(1)).over(w))
        .filter(col("rk") === expr("(n + 1) div 2"))
        .select(col("g"), col("n"), col(v).as(out))
    }
    val medRef = lowerMedianRows(li, "x", "med")
    val devRef = li.join(broadcast(medRef.drop("n")), Seq("g"))
      .select(col("g"), abs(col("x") - col("med")).as("dv"))
    val q108Ref = lowerMedianRows(devRef, "dv", "mad").drop("n")
      .join(broadcast(medRef), Seq("g"))
      .select(col("g"), col("n"), col("med"), col("mad"))
      .as[(String, Long, Double, Double)].collect().toSet
    val q108Got = Relational.q108RobustStats(spark, dir)
      .as[(String, Long, Double, Double)].collect().toSet
    assert(q108Got === q108Ref)

    // q32 gets its own input with a NULL flag group added: GROUP BY
    // keeps that group, so the rewrite's two aggregates must pair on it
    // (q108's reference joins on g, which would drop it)
    val dir32 = java.nio.file.Files.createTempDirectory("cntpick32").toString
    (rows ++ Seq.tabulate(9)(i =>
        (null: String, (i % 4).toDouble, (i % 2).toDouble)))
      .toDF("l_returnflag", "l_extendedprice", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir32/lineitem.parquet")

    // q32 reference: unweighted percentile over the fact rows
    val q32Ref = Tables.lineitem(spark, dir32).groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("p50_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"),
        expr("percentile(l_extendedprice, 0.5)").as("p50_price"))
      .as[(String, Double, Double, Double)].collect().toSet
    assert(q32Ref.exists(_._1 == null))
    val q32Got = Relational.q32Percentiles(spark, dir32)
      .as[(String, Double, Double, Double)].collect().toSet
    assert(q32Got === q32Ref)
  }

  test("portable HLL registers: estimate within 10% of truth; union = element-wise max") {
    def estimate(regs: Map[Long, Long], m: Int = 256): Double = {
      val s = (0 until m).map(j => math.pow(2.0, -regs.getOrElse(j.toLong, 0L).toDouble)).sum
      val alpha = 0.7213 / (1.0 + 1.079 / m)
      alpha * m * m / s
    }
    def regsOf(keys: Seq[String]): Map[Long, Long] =
      Analytics.hllRegisters(keys.toDF("key"))
        .as[(Long, Long)].collect().toMap
    val n = 5000
    val a = (1 to n).map(i => s"user-$i")
    val ra = regsOf(a)
    val est = estimate(ra)
    assert(math.abs(est - n) / n < 0.10, s"estimate $est vs $n")
    // duplicates never move a register (no DISTINCT needed anywhere)
    assert(regsOf(a ++ a.take(2000)) === ra)
    // merge = element-wise max of the two sketch states
    val b = (4000 to 7000).map(i => s"user-$i")
    val rb = regsOf(b)
    val merged = (ra.keySet ++ rb.keySet).map(k =>
      k -> math.max(ra.getOrElse(k, 0L), rb.getOrElse(k, 0L))).toMap
    assert(regsOf(a ++ b) === merged)
  }

  test("HDR histogram: exact bucket closed forms; median readout within bucket error; merge adds") {
    def buckets(vs: Seq[Long]): Map[(Long, Long), Long] =
      Relational.hdrHistogram(vs.toDF("v"))
        .as[(Long, Long, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
    // bucket function at the binary boundaries
    assert(buckets(Seq(1L, 8L, 9L, 15L, 16L, 31L)) === Map(
      (1L, 1L) -> 1L, (4L, 0L) -> 1L, (4L, 1L) -> 1L, (4L, 7L) -> 1L,
      (5L, 0L) -> 1L, (5L, 7L) -> 1L))
    // median readout from the sketch: uniform 1..100000, ≤ bucket width off
    val uni = (1L to 100000L)
    val b = buckets(uni)
    def lo(e: Long, m: Long): Double =
      if (e <= 4) m.toDouble
      else ((8 + m).toDouble) * math.pow(2.0, (e - 4).toDouble)
    val sorted = b.toSeq.sortBy { case ((e, m), _) => (e, m) }
    val total = sorted.map(_._2).sum
    var cum = 0L
    val medBucket = sorted.find { case (_, c) => cum += c; cum >= total / 2 }.get._1
    val width = math.pow(2.0, math.max(medBucket._1 - 4, 0L).toDouble)
    val est = lo(medBucket._1, medBucket._2) + width / 2
    assert(math.abs(est - 50000.0) / 50000.0 < 0.05, s"est $est")
    // merge = element-wise count addition
    val c1 = buckets(uni.take(40000))
    val c2 = buckets(uni.drop(40000))
    val add = (c1.keySet ++ c2.keySet).map(k =>
      k -> (c1.getOrElse(k, 0L) + c2.getOrElse(k, 0L))).toMap
    assert(b === add)
  }

  test("portable CMS: min-of-rows estimate one-sided, mass conserved, merge adds") {
    def sketchOf(keys: Seq[String]): Map[(Long, Long), Long] =
      Analytics.cmsSketch(keys.toDF("key"))
        .as[(Long, Long, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
    // JVM replica of the md5 routing (row:key → column), independent of
    // the Catalyst expression path
    def colOf(row: Long, key: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$row:$key".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 64
    }
    def estimate(sk: Map[(Long, Long), Long], key: String): Long =
      (0L until 4L).map(r => sk.getOrElse((r, colOf(r, key)), 0L)).min
    val keys = (1 to 300).flatMap(i => Seq.fill(i % 7 + 1)(s"k$i"))
    val sk = sketchOf(keys)
    val truth = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // CMS guarantee: never underestimates; collisions only inflate
    truth.foreach { case (k, n) =>
      assert(estimate(sk, k) >= n, s"underestimated $k") }
    // each row partitions the full stream: per-row mass == N
    (0L until 4L).foreach { r =>
      val mass = sk.collect { case ((rr, _), c) if rr == r => c }.sum
      assert(mass === keys.size.toLong, s"row $r mass") }
    // merge = cell-wise addition of the two sketch states
    val (a, b2) = keys.splitAt(500)
    val (sa, sb) = (sketchOf(a), sketchOf(b2))
    val merged = (sa.keySet ++ sb.keySet).map(c =>
      c -> (sa.getOrElse(c, 0L) + sb.getOrElse(c, 0L))).toMap
    assert(sk === merged)
  }
}
