package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.operators.RunOracles

object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.tune(
    SparkSession.builder().master("local[8]")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString),
    shufflePartitions = 8).getOrCreate()
}

class AnalyticsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs non-empty on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.count() > 0, s"query $name returned no rows")
    }
    // every query is oracle-checked: by a static entry, or by a run-derived
    // one its body registered for this dir (the registry is JVM-global, so
    // entries other specs published are not counted as static)
    val static = SparkEntry.oracleSql.keySet -- RunOracles.published.keySet
    val registered = RunOracles.registered
    val unchecked = SparkEntry.queries.keySet.filterNot(n => static(n) || registered((n, sf)))
    assert(unchecked.isEmpty, s"queries with no oracle: $unchecked")
    val stray = registered.map(_._1) -- SparkEntry.queries.keySet
    assert(stray.isEmpty, s"run-derived oracles registered under no query: $stray")
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("benchQueries covers exactly the verified query names — a bench " +
    "twin may swap the form, never add or drop an entry") {
    assert(SparkEntry.benchQueries.keySet == SparkEntry.queries.keySet,
      s"diverged: ${SparkEntry.benchQueries.keySet.diff(SparkEntry.queries.keySet)} / " +
        s"${SparkEntry.queries.keySet.diff(SparkEntry.benchQueries.keySet)}")
  }

  test("the bench metric line fits the driver's 2000-char output tail") {
    // the driver parses the stdout JSON from a 2000-char tail; sbt appends
    // a ~75-char [success] line after it. Since round 17 the line's
    // queries object is a HEADLINE SUBSET — canaries + the HeadlineCount
    // most expensive medians (full per-query medians ride
    // BENCH_SPREAD.json, no budget there) — so project the subset at its
    // widest: the LONGEST HeadlineCount+3 short keys in the live set,
    // every value at fmt2's widest form (%.2f + zero-strip under 10s ->
    // "9.99"; %.0f capped -> "999"; the -1 clamp sentinel). Fails BEFORE
    // an operator addition silently overflows the window and zeroes the
    // round's bench (BENCH_r04/r05 `parsed: null`).
    // Keys are Bench's short `<family><number>` prefixes — project their
    // uniqueness here too, so a name collision fails the suite before it
    // makes the metric line ambiguous.
    val shorts = SparkEntry.benchQueries.keySet.toSeq.map(_.takeWhile(_ != '_'))
    assert(shorts.distinct.size == shorts.size,
      s"short bench keys collide: ${shorts.diff(shorts.distinct).distinct}")
    val widestKeys = shorts.sortBy(-_.length).take(Bench.HeadlineCount + 3)
    def sample(worst: String) = {
      val qs = widestKeys.map(n => "\"" + n + "\":" + worst).mkString("{", ",", "}")
      s"""{"metric":"total","value":99999.9,"unit":"sec","nq":99999,"queries":$qs,"sf":"sf0.1","pf":9,"env_throttled":false}"""
    }
    // the samples cover each fmt2 arm at its widest
    val worst = Seq("9.99", "999", "-1").map(sample(_).length).max
    assert(worst < 2000 - 80,
      s"projected bench line $worst chars — trim decimals or shorten " +
        "names before the driver's 2000-char tail cuts the opening brace")
  }

  test("q1 aggregates are internally consistent") {
    val r = operators.Analytics.q1PricingSummary(spark, sf).collect()
    assert(r.map(_.getAs[Long]("count_order")).sum > 0)
    r.foreach { row =>
      assert(row.getAs[Double]("sum_disc_price") <= row.getAs[Double]("sum_base_price"))
    }
  }

  test("q9 emits at most 3 rows per brand with rn in 1..3") {
    val r = operators.Analytics.q9TopNPerGroup(spark, sf).collect()
    r.groupBy(_.getAs[String]("p_brand")).foreach { case (b, rows) =>
      assert(rows.length <= 3, s"brand $b has ${rows.length} rows")
      assert(rows.map(_.getAs[Long]("rn")).forall(n => n >= 1 && n <= 3))
    }
  }

  test("q12 sessions split on >30min gaps") {
    val r = operators.Analytics.q12Sessionize(spark, sf)
    // session durations only span events <=30min apart pairwise, so a
    // 1-event session has duration 0
    val single = r.filter("n_events = 1 AND duration_us <> 0").count()
    assert(single == 0)
  }

  test("q35: the window-min de-correlation matches a literal Scala replay " +
    "of the textbook correlated-subquery semantics, ties included") {
    // literal replay: offers from raw rows, per-part min, keep all ties
    // (nation/region keys ship int32, fact keys int64 — mirror that here)
    val nationRegion = Tables.load(spark, sf, "nation").collect()
      .map(r => r.getAs[Int]("n_nationkey") -> r.getAs[Int]("n_regionkey")).toMap
    val euRegion = Tables.load(spark, sf, "region").collect()
      .filter(_.getAs[String]("r_name") == "EUROPE").map(_.getAs[Int]("r_regionkey")).toSet
    val euSupp = Tables.load(spark, sf, "supplier").collect()
      .filter(r => euRegion.contains(nationRegion(r.getAs[Int]("s_nationkey"))))
      .map(_.getAs[Long]("s_suppkey")).toSet
    val promo = Tables.load(spark, sf, "part").collect()
      .filter(_.getAs[String]("p_type") == "PROMO").map(_.getAs[Long]("p_partkey")).toSet
    val offers = Tables.load(spark, sf, "lineitem")
      .select("l_partkey", "l_suppkey", "l_extendedprice").collect()
      .map(r => (r.getLong(0), r.getLong(1), math.floor(r.getDouble(2) * 100).toLong))
      .filter(o => promo.contains(o._1) && euSupp.contains(o._2))
      .groupBy(o => (o._1, o._2)).map { case (k, os) => (k._1, k._2, os.map(_._3).min) }
    val bestByPart = offers.groupBy(_._1).map { case (p, os) => p -> os.map(_._3).min }
    val expected = offers.filter(o => o._3 == bestByPart(o._1))
      .map(o => (o._1, o._2) -> o._3).toMap
    val got = operators.Analytics.q35MinCostSupplier(spark, sf).collect()
      .map(r => (r.getAs[Long]("p_partkey"), r.getAs[Long]("s_suppkey")) ->
        r.getAs[Long]("offer_cents")).toMap
    assert(got == expected, "min-cost supplier sets diverged")
    assert(got.nonEmpty, "the shipped corpus must exercise the shape")
    // at least one part must carry >1 tied winner OR the tie path is
    // untested; if the data never ties, this still documents the intent
    info(s"${got.size} winning offers over ${bestByPart.size} parts")
  }

  test("q36: zero-order customers appear in the distribution (the outer-" +
    "join row Q13 exists to keep)") {
    val custN = Tables.load(spark, sf, "customer").count()
    val rows = operators.Analytics.q36OrderCountDist(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("custdist")).sum == custN,
      "every customer lands in exactly one bucket")
    val active = Tables.load(spark, sf, "orders")
      .filter("o_orderpriority <> '5-LOW'").select("o_custkey").distinct().count()
    val zeroBucket = rows.find(_.getAs[Long]("c_count") == 0L)
      .map(_.getAs[Long]("custdist")).getOrElse(0L)
    assert(zeroBucket == custN - active, "zero bucket = customers minus active")
  }

  test("q38: matches a brute replay of the correlated Q17 predicate, and " +
    "the threshold is each part's OWN average, not a global one") {
    val brand = Tables.load(spark, sf, "part").collect()
      .filter(_.getAs[String]("p_brand") == "Brand#1")
      .map(r => r.getAs[Long]("p_partkey") -> r.getAs[String]("p_name")).toMap
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1).toLong,
        math.floor(r.getDouble(2) * 100).toLong))
      .filter(l => brand.contains(l._1))
    val expected = li.groupBy(_._1).map { case (p, ls) =>
      val n = ls.length.toLong; val sumQty = ls.map(_._2).sum
      val small = ls.filter(l => l._2 * 5L * n < sumQty)
      p -> (n, sumQty * 100L / n, small.length.toLong, small.map(_._3).sum)
    }
    val got = operators.Analytics.q38SmallQtyRevenue(spark, sf).collect()
      .map(r => r.getAs[Long]("p_partkey") ->
        (r.getAs[Long]("n_li"), r.getAs[Long]("avg_qty_e2"),
          r.getAs[Long]("n_small"), r.getAs[Long]("small_revenue_cents")))
      .toMap
    assert(got == expected, "window de-correlation diverged from brute force")
    assert(got.nonEmpty, "the shipped corpus must exercise the shape")
    assert(got.values.exists(_._3 > 0L), "some lineitem must be small")
    // per-part thresholds genuinely differ (a global-average rewrite
    // would be a silent wrong answer): two parts with different avgs
    assert(got.values.map(_._2).toSet.size > 1,
      "per-part averages must differ for the correlation to be non-vacuous")
  }

  test("q39: exactly the >250-quantity orders survive, with exact long sums") {
    val perOrder = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getDouble(1).toLong).sum)
    val expected = perOrder.filter(_._2 > 250L).toMap
    val got = operators.Analytics.q39BigOrders(spark, sf).collect()
      .map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("total_qty")).toMap
    assert(got == expected, "big-order set diverged from brute force")
    assert(got.nonEmpty, "the shipped corpus must exercise the shape")
    // the threshold must bite strictly BETWEEN min and max per-order
    // totals, or the HAVING is vacuous (keeps all / kills all)
    assert(perOrder.values.max > 250L && perOrder.values.min <= 250L,
      "threshold must split the distribution")
  }

  test("q40: the anti-join and integer threshold replay the correlated " +
    "Q22 form exactly") {
    val cust = Tables.load(spark, sf, "customer").collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Int]("c_nationkey"),
        math.floor(r.getAs[Double]("c_acctbal") * 100).toLong))
    val pos = cust.filter(_._3 > 0L)
    val (sumPos, nPos) = (pos.map(_._3).sum, pos.length.toLong)
    val cutoff = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
    val recent = Tables.load(spark, sf, "orders")
      .filter(org.apache.spark.sql.functions.col("o_orderdate") >= cutoff)
      .select("o_custkey").collect().map(_.getLong(0)).toSet
    val nations = Tables.load(spark, sf, "nation").collect()
      .map(r => r.getAs[Int]("n_nationkey") -> r.getAs[String]("n_name")).toMap
    val expected = cust
      .filter(c => c._3 * nPos > sumPos && !recent.contains(c._1))
      .groupBy(c => nations(c._2)).view
      .mapValues(cs => (cs.length.toLong, cs.map(_._3).sum)).toMap
    val got = operators.Analytics.q40DormantCustomers(spark, sf).collect()
      .map(r => r.getAs[String]("n_name") ->
        (r.getAs[Long]("n_cust"), r.getAs[Long]("sum_bal_cents"))).toMap
    assert(got == expected, "dormant-customer report diverged from brute force")
    assert(got.nonEmpty, "the shipped corpus must exercise the shape")
    // dormancy must actually exclude someone above-average, or the
    // NOT EXISTS arm is untested
    assert(cust.count(c => c._3 * nPos > sumPos) > got.values.map(_._1).sum,
      "some above-average customer must have recent orders")
  }

  test("q41: the explicit quantity envelope is redundant — dropping it " +
    "changes nothing, and every OR block contributes") {
    val got = operators.Analytics.q41DisjunctiveRevenue(spark, sf).collect()
      .map(r => r.getAs[String]("p_brand") ->
        (r.getAs[Long]("n_li"), r.getAs[Long]("revenue_cents"))).toMap
    assert(got.keySet == Set("Brand#3", "Brand#12", "Brand#21"),
      "every disjunction block must produce rows on the shipped corpus")
    val parts = Tables.load(spark, sf, "part").collect()
      .map(r => r.getAs[Long]("p_partkey") ->
        (r.getAs[String]("p_brand"), r.getAs[Int]("p_size"))).toMap
    val expected = Tables.load(spark, sf, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .collect()
      .flatMap { r =>
        val (brand, size) = parts(r.getLong(0))
        val qty = r.getDouble(1).toLong
        val rev = math.floor(r.getDouble(2) * (1 - r.getDouble(3)) * 100).toLong
        val hit =
          (brand == "Brand#3" && size >= 1 && size <= 15 && qty >= 1 && qty <= 11) ||
          (brand == "Brand#12" && size >= 10 && size <= 30 && qty >= 10 && qty <= 20) ||
          (brand == "Brand#21" && size >= 20 && size <= 50 && qty >= 20 && qty <= 30)
        if (hit) Some(brand -> rev) else None
      }
      .groupBy(_._1).view
      .mapValues(rs => (rs.length.toLong, rs.map(_._2).sum)).toMap
    assert(got == expected, "disjunctive revenue diverged from brute force")
  }

  test("q44: the semi join replays the correlated EXISTS exactly — " +
    "each order counted once however many lineitems ran late") {
    import org.apache.spark.sql.functions.{col, datediff, year}
    val lateKeys = Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(datediff(col("l_shipdate"), col("o_orderdate")) > 60)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val expected = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"), year(col("o_orderdate")).as("yr"),
        col("o_orderpriority")).collect()
      .filter(r => r.getInt(1) == 1996 && lateKeys.contains(r.getLong(0)))
      .groupBy(_.getString(2)).view.mapValues(_.length.toLong).toMap
    val got = operators.Analytics.q44LateShipPriority(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_late_orders")).toMap
    assert(got == expected, "late-ship counts diverged from brute force")
    assert(got.nonEmpty, "the shipped corpus must exercise the shape")
    // multi-late-lineitem orders exist, so a join that forgot the semi
    // semantics would overcount — assert the premise
    val multi = Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(datediff(col("l_shipdate"), col("o_orderdate")) > 60 &&
        year(col("o_orderdate")) === 1996)
      .groupBy("o_orderkey").count().filter(col("count") > 1).count()
    assert(multi > 0, "no order has 2+ late lineitems — semi dedup untested")
  }

  test("q45: the promo share replays brute-force in exact cents, the " +
    "window filter reaches the scan, and both part classes contribute") {
    val promo = Tables.load(spark, sf, "part").collect()
      .map(r => r.getAs[Long]("p_partkey") ->
        r.getAs[String]("p_type").startsWith("PROMO")).toMap
    val sep = java.time.LocalDateTime.of(1995, 9, 1, 0, 0)
    val oct = java.time.LocalDateTime.of(1995, 10, 1, 0, 0)
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_partkey", "l_extendedprice", "l_discount", "l_shipdate")
      .collect()
      .filter(r => !r.getAs[java.time.LocalDateTime]("l_shipdate").isBefore(sep) &&
        r.getAs[java.time.LocalDateTime]("l_shipdate").isBefore(oct))
      .map(r => (promo(r.getAs[Long]("l_partkey")),
        math.floor(r.getAs[Double]("l_extendedprice") *
          (1 - r.getAs[Double]("l_discount")) * 100).toLong))
    val total = li.map(_._2).sum
    val promoC = li.filter(_._1).map(_._2).sum
    val row = operators.Analytics.q45PromoRevenue(spark, sf).collect()
    assert(row.length == 1)
    assert(row.head.getAs[Long]("promo_cents") == promoC)
    assert(row.head.getAs[Long]("total_cents") == total)
    assert(row.head.getAs[Long]("promo_share_e6") == promoC * 1000000L / total)
    assert(promoC > 0L && promoC < total,
      "the window must contain both promo and non-promo revenue")
    val p = operators.Analytics.q45PromoRevenue(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"shipdate window not pushed to the scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), "part dim not broadcast")
  }

  test("q46: the argmax replays brute-force — exact cents revenue, max " +
    "selection, supplier names attached; no second fact pass") {
    val jan = java.time.LocalDateTime.of(1996, 1, 1, 0, 0)
    val apr = java.time.LocalDateTime.of(1996, 4, 1, 0, 0)
    val rev = Tables.load(spark, sf, "lineitem")
      .select("l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
      .collect()
      .filter(r => !r.getAs[java.time.LocalDateTime]("l_shipdate").isBefore(jan) &&
        r.getAs[java.time.LocalDateTime]("l_shipdate").isBefore(apr))
      .map(r => (r.getAs[Long]("l_suppkey"),
        math.floor(r.getAs[Double]("l_extendedprice") *
          (1 - r.getAs[Double]("l_discount")) * 100).toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val mx = rev.values.max
    val winners = rev.filter(_._2 == mx).keySet
    val names = Tables.load(spark, sf, "supplier").collect()
      .map(r => r.getAs[Long]("s_suppkey") -> r.getAs[String]("s_name")).toMap
    val got = operators.Analytics.q46TopSupplier(spark, sf).collect()
      .map(r => (r.getAs[Long]("s_suppkey"), r.getAs[String]("s_name"),
        r.getAs[Long]("revenue_cents")))
    assert(got.map(_._1).toSet == winners, "winner set diverged")
    assert(got.forall(g => g._3 == mx && g._2 == names(g._1)))
    assert(got.nonEmpty)
  }

  test("q47: bilateral volume replays brute-force — both directions " +
    "surface, same-nation trade is excluded, cents are exact") {
    import java.time.LocalDateTime
    val nation = Tables.load(spark, sf, "nation").collect()
      .map(r => r.getAs[Number]("n_nationkey").longValue ->
        r.getAs[String]("n_name")).toMap
    val suppNat = Tables.load(spark, sf, "supplier").collect()
      .map(r => r.getAs[Long]("s_suppkey") ->
        nation(r.getAs[Number]("s_nationkey").longValue)).toMap
    val custNat = Tables.load(spark, sf, "customer").collect()
      .map(r => r.getAs[Long]("c_custkey") ->
        nation(r.getAs[Number]("c_nationkey").longValue)).toMap
    val ordCust = Tables.load(spark, sf, "orders").collect()
      .map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("o_custkey")).toMap
    val pair = Set("NATION_13", "NATION_19")
    val lo = LocalDateTime.of(1996, 1, 1, 0, 0)
    val hi = LocalDateTime.of(1998, 1, 1, 0, 0)
    val want = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice",
        "l_discount").collect()
      .filter { r =>
        val d = r.getAs[LocalDateTime]("l_shipdate")
        !d.isBefore(lo) && d.isBefore(hi)
      }
      .flatMap { r =>
        val sn = suppNat(r.getAs[Long]("l_suppkey"))
        val cn = custNat(ordCust(r.getAs[Long]("l_orderkey")))
        if (pair(sn) && pair(cn) && sn != cn)
          Some(((sn, cn, r.getAs[LocalDateTime]("l_shipdate").getYear.toLong),
            math.floor(r.getAs[Double]("l_extendedprice") *
              (1 - r.getAs[Double]("l_discount")) * 100).toLong))
        else None
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val got = operators.Analytics.q47VolumeShipping(spark, sf).collect()
      .map(r => (r.getAs[String]("supp_nation"), r.getAs[String]("cust_nation"),
        r.getAs[Long]("l_year")) -> r.getAs[Long]("revenue_cents")).toMap
    assert(got == want)
    assert(got.keySet.map(k => (k._1, k._2)).size == 2,
      "both trade directions must surface")
  }

  test("q48: market share replays brute-force — numerator rides the " +
    "denominator pass, share is exact e6 integer division") {
    import java.time.LocalDateTime
    val nation = Tables.load(spark, sf, "nation").collect()
      .map(r => r.getAs[Number]("n_nationkey").longValue ->
        (r.getAs[String]("n_name"),
          r.getAs[Number]("n_regionkey").longValue)).toMap
    val asia = Tables.load(spark, sf, "region").collect()
      .filter(_.getAs[String]("r_name") == "ASIA")
      .map(_.getAs[Number]("r_regionkey").longValue).toSet
    val econ = Tables.load(spark, sf, "part").collect()
      .filter(_.getAs[String]("p_type") == "ECONOMY")
      .map(_.getAs[Long]("p_partkey")).toSet
    val suppNat = Tables.load(spark, sf, "supplier").collect()
      .map(r => r.getAs[Long]("s_suppkey") ->
        nation(r.getAs[Number]("s_nationkey").longValue)._1).toMap
    val asiaCust = Tables.load(spark, sf, "customer").collect()
      .filter(r => asia(nation(r.getAs[Number]("c_nationkey").longValue)._2))
      .map(_.getAs[Long]("c_custkey")).toSet
    val lo = LocalDateTime.of(1996, 1, 1, 0, 0)
    val hi = LocalDateTime.of(1998, 1, 1, 0, 0)
    val ordIn = Tables.load(spark, sf, "orders").collect()
      .filter { r =>
        val d = r.getAs[LocalDateTime]("o_orderdate")
        !d.isBefore(lo) && d.isBefore(hi) &&
          asiaCust(r.getAs[Long]("o_custkey"))
      }
      .map(r => r.getAs[Long]("o_orderkey") ->
        r.getAs[LocalDateTime]("o_orderdate").getYear.toLong).toMap
    val byYear = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice",
        "l_discount").collect()
      .filter(r => econ(r.getAs[Long]("l_partkey")) &&
        ordIn.contains(r.getAs[Long]("l_orderkey")))
      .map(r => (ordIn(r.getAs[Long]("l_orderkey")),
        suppNat(r.getAs[Long]("l_suppkey")) == "NATION_18",
        math.floor(r.getAs[Double]("l_extendedprice") *
          (1 - r.getAs[Double]("l_discount")) * 100).toLong))
      .groupBy(_._1)
    val got = operators.Analytics.q48MarketShare(spark, sf).collect()
    assert(got.map(_.getAs[Long]("o_year")).toSeq == byYear.keys.toSeq.sorted)
    got.foreach { r =>
      val g = byYear(r.getAs[Long]("o_year"))
      val nat = g.filter(_._2).map(_._3).sum
      val tot = g.map(_._3).sum
      assert(r.getAs[Long]("nation_cents") == nat)
      assert(r.getAs[Long]("total_cents") == tot)
      assert(r.getAs[Long]("mkt_share_e6") == nat * 1000000L / tot)
      assert(nat > 0 && nat < tot,
        "the share must be strictly between 0 and 1 to be a real test")
    }
    val p = operators.Analytics.q48MarketShare(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"part/supplier/nation prune joins must broadcast onto the fact:\n$p")
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"),
      s"the order-date window must reach the orders scan:\n$p")
  }

  test("q49: returned-items top-20 replays brute-force with the " +
    "custkey tie-break; the cut runs as TakeOrderedAndProject") {
    import java.time.LocalDateTime
    val lo = LocalDateTime.of(1995, 10, 1, 0, 0)
    val hi = LocalDateTime.of(1996, 1, 1, 0, 0)
    val ordCust = Tables.load(spark, sf, "orders").collect()
      .filter { r =>
        val d = r.getAs[LocalDateTime]("o_orderdate")
        !d.isBefore(lo) && d.isBefore(hi)
      }
      .map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("o_custkey")).toMap
    val byCust = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount")
      .collect()
      .filter(r => r.getAs[String]("l_returnflag") == "R" &&
        ordCust.contains(r.getAs[Long]("l_orderkey")))
      .map(r => (ordCust(r.getAs[Long]("l_orderkey")),
        math.floor(r.getAs[Double]("l_extendedprice") *
          (1 - r.getAs[Double]("l_discount")) * 100).toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val want = byCust.toSeq.sortBy { case (k, v) => (-v, k) }.take(20)
    val got = operators.Analytics.q49ReturnedItems(spark, sf).collect()
      .map(r => r.getAs[Long]("c_custkey") -> r.getAs[Long]("revenue_cents"))
    assert(got.toSeq == want)
    val p = operators.Analytics.q49ReturnedItems(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-20 must not be a global sort:\n$p")
  }

  test("q50: product margin replays brute-force — retail-cost cents per " +
    "line, nation/year rollup; part and dims broadcast") {
    val retail = Tables.load(spark, sf, "part").collect()
      .filter(_.getAs[String]("p_name").contains("rod"))
      .map(r => r.getAs[Long]("p_partkey") ->
        math.floor(r.getAs[Double]("p_retailprice") * 100).toLong).toMap
    val nation = Tables.load(spark, sf, "nation").collect()
      .map(r => r.getAs[Number]("n_nationkey").longValue ->
        r.getAs[String]("n_name")).toMap
    val supNat = Tables.load(spark, sf, "supplier").collect()
      .map(r => r.getAs[Long]("s_suppkey") ->
        nation(r.getAs[Number]("s_nationkey").longValue)).toMap
    val ordYear = Tables.load(spark, sf, "orders").collect()
      .map(r => r.getAs[Long]("o_orderkey") ->
        r.getAs[java.time.LocalDateTime]("o_orderdate").getYear.toLong).toMap
    val expect = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
      .collect()
      .filter(r => retail.contains(r.getAs[Long]("l_partkey")))
      .map { r =>
        val rev = math.floor(r.getAs[Double]("l_extendedprice") *
          (1 - r.getAs[Double]("l_discount")) * 100).toLong
        val cost = retail(r.getAs[Long]("l_partkey")) *
          r.getAs[Double]("l_quantity").toLong
        ((supNat(r.getAs[Long]("l_suppkey")),
          ordYear(r.getAs[Long]("l_orderkey"))), rev - cost)
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val got = operators.Analytics.q50ProductMargin(spark, sf).collect()
      .map(r => (r.getAs[String]("nation"), r.getAs[Long]("o_year")) ->
        r.getAs[Long]("margin_cents")).toMap
    assert(got == expect, "margin rollup diverged from the replay")
    assert(got.nonEmpty && got.keys.map(_._1).toSet.size > 1,
      "multiple nations must trade the product line")
    val p = operators.Analytics.q50ProductMargin(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "part/dim joins must broadcast")
  }

  test("q51: the important-parts threshold replays brute-force — strict " +
    "integer 1.5x-mean cut, e6 shares, revenue-desc order") {
    val rev = Tables.load(spark, sf, "lineitem")
      .select("l_partkey", "l_extendedprice", "l_discount").collect()
      .map(r => (r.getAs[Long]("l_partkey"),
        math.floor(r.getAs[Double]("l_extendedprice") *
          (1 - r.getAs[Double]("l_discount")) * 100).toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val total = rev.values.sum
    val thr = 3L * total / (2L * rev.size)
    val want = rev.filter(_._2 > thr).toSeq
      .sortBy { case (k, v) => (-v, k) }
      .map { case (k, v) => (k, v, v * 1000000L / total) }
    val got = operators.Analytics.q51ImportantParts(spark, sf).collect()
      .map(r => (r.getAs[Long]("p_partkey"), r.getAs[Long]("revenue_cents"),
        r.getAs[Long]("share_e6"))).toSeq
    assert(got == want, "threshold cut diverged from the replay")
    assert(got.nonEmpty && got.size < rev.size,
      "the 1.5x-mean cut must keep some parts and drop others")
  }

  test("q52: delay tiers replay brute-force — integer day buckets, " +
    "critical/other counts partition the window exactly") {
    import java.time.LocalDateTime
    val lo = LocalDateTime.of(1996, 1, 1, 0, 0)
    val hi = LocalDateTime.of(1998, 1, 1, 0, 0)
    val ord = Tables.load(spark, sf, "orders").collect()
      .map(r => r.getAs[Long]("o_orderkey") ->
        (r.getAs[LocalDateTime]("o_orderdate"),
          r.getAs[String]("o_orderpriority"))).toMap
    val lines = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_shipdate").collect()
      .filter { r =>
        val d = r.getAs[LocalDateTime]("l_shipdate")
        !d.isBefore(lo) && d.isBefore(hi)
      }
      .map { r =>
        val (od, pri) = ord(r.getAs[Long]("l_orderkey"))
        val days = java.time.temporal.ChronoUnit.DAYS.between(
          od.toLocalDate, r.getAs[LocalDateTime]("l_shipdate").toLocalDate)
        val tier = if (days < 30) "FAST" else if (days < 75) "MED" else "SLOW"
        (tier, pri == "1-URGENT" || pri == "2-HIGH")
      }
    val expect = lines.groupBy(_._1).view.mapValues(g =>
      (g.count(_._2).toLong, g.count(!_._2).toLong)).toMap
    val got = operators.Analytics.q52ShipDelayModes(spark, sf).collect()
      .map(r => r.getAs[String]("ship_tier") ->
        (r.getAs[Long]("critical_lines"), r.getAs[Long]("other_lines"))).toMap
    assert(got == expect, "tier counts diverged from the replay")
    assert(got.keySet == Set("FAST", "MED", "SLOW"),
      "the corpus must exercise all three tiers")
    assert(got.values.map(v => v._1 + v._2).sum == lines.length.toLong)
  }

  test("q53: supplier diversity replays brute-force — below-mean " +
    "suppliers excluded in exact cents, distinct counts per segment") {
    val bal = Tables.load(spark, sf, "supplier").collect()
      .map(r => r.getAs[Long]("s_suppkey") ->
        math.floor(r.getAs[Double]("s_acctbal") * 100).toLong).toMap
    val totBal = bal.values.sum
    val keep = bal.filter { case (_, b) => b * bal.size >= totBal }.keySet
    assert(keep.size < bal.size && keep.nonEmpty,
      "the mean cut must actually exclude someone")
    val seg = Tables.load(spark, sf, "part").collect()
      .filter(_.getAs[String]("p_brand") != "Brand#13")
      .map(r => r.getAs[Long]("p_partkey") ->
        (r.getAs[String]("p_brand"), r.getAs[String]("p_type"))).toMap
    val expect = Tables.load(spark, sf, "lineitem")
      .select("l_partkey", "l_suppkey").collect()
      .filter(r => seg.contains(r.getAs[Long]("l_partkey")) &&
        keep(r.getAs[Long]("l_suppkey")))
      .map(r => (seg(r.getAs[Long]("l_partkey")), r.getAs[Long]("l_suppkey")))
      .distinct
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val got = operators.Analytics.q53SupplierDiversity(spark, sf).collect()
      .map(r => (r.getAs[String]("p_brand"), r.getAs[String]("p_type")) ->
        r.getAs[Long]("supplier_cnt")).toMap
    assert(got == expect, "diversity counts diverged from the replay")
    assert(got.nonEmpty)
  }

  test("q54: dominant suppliers replay brute-force — strict majority of " +
    "each part's year quantity, rolled to the supplier") {
    import java.time.LocalDateTime
    val lo = LocalDateTime.of(1996, 1, 1, 0, 0)
    val hi = LocalDateTime.of(1997, 1, 1, 0, 0)
    val widget = Tables.load(spark, sf, "part").collect()
      .filter(_.getAs[String]("p_name").contains("widget"))
      .map(_.getAs[Long]("p_partkey")).toSet
    val sq = Tables.load(spark, sf, "lineitem")
      .select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate").collect()
      .filter { r =>
        val d = r.getAs[LocalDateTime]("l_shipdate")
        widget(r.getAs[Long]("l_partkey")) && !d.isBefore(lo) && d.isBefore(hi)
      }
      .map(r => ((r.getAs[Long]("l_partkey"), r.getAs[Long]("l_suppkey")),
        r.getAs[Double]("l_quantity").toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val tq = sq.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val expect = sq.filter { case ((p, _), q) => 2 * q > tq(p) }.toSeq
      .map { case ((_, s), q) => (s, q) }
      .groupBy(_._1).view
      .mapValues(g => (g.size.toLong, g.map(_._2).sum)).toMap
    val got = operators.Analytics.q54DominantSupplier(spark, sf).collect()
      .map(r => r.getAs[Long]("s_suppkey") ->
        (r.getAs[Long]("n_dominant_parts"), r.getAs[Long]("dominant_qty"))).toMap
    assert(got == expect, "dominance rollup diverged from the replay")
    assert(got.nonEmpty, "the corpus must contain dominant positions")
  }

  test("q55: RFM segments replay brute-force — per-customer buckets on " +
    "the fixed integer thresholds, full 8-cell grid occupied") {
    import java.time.LocalDateTime
    val anchor = LocalDateTime.of(2001, 9, 1, 0, 0)
    val per = Tables.load(spark, sf, "orders")
      .select("o_custkey", "o_orderdate", "o_totalprice").collect()
      .map(r => (r.getAs[Long]("o_custkey"),
        r.getAs[LocalDateTime]("o_orderdate"),
        math.floor(r.getAs[Double]("o_totalprice") * 100).toLong))
      .groupBy(_._1).map { case (c, os) =>
        val rec = java.time.temporal.ChronoUnit.DAYS.between(
          os.map(_._2).max.toLocalDate, anchor.toLocalDate)
        (c, rec, os.size.toLong, os.map(_._3).sum)
      }
    val expect = per.groupBy { case (_, rec, n, s) =>
      (if (rec < 200) "R1" else "R0") + (if (n >= 10) "F1" else "F0") +
        (if (s >= 250000000L) "M1" else "M0")
    }.map { case (seg, cs) =>
      seg -> (cs.size.toLong, cs.map(_._3).sum, cs.map(_._4).sum,
        cs.map(_._2).min, cs.map(_._2).max)
    }
    val got = operators.Analytics.q55RfmSegments(spark, sf).collect()
      .map(r => r.getAs[String]("segment") ->
        (r.getAs[Long]("n_customers"), r.getAs[Long]("n_orders"),
          r.getAs[Long]("spend_cents"), r.getAs[Long]("min_recency_days"),
          r.getAs[Long]("max_recency_days"))).toMap
    assert(got == expect, "segments diverged from the replay")
    assert(got.keySet.size == 8,
      s"all 8 RFM cells must be occupied, got ${got.keySet}")
    assert(got.values.map(_._1).sum == per.size.toLong,
      "every customer lands in exactly one segment")
  }

  test("e6 share idiom: the Decimal(38,0) envelope stays exact past the " +
    "Long x1e6 wrap point (the r16 ADVICE overflow class)") {
    import spark.implicits._
    // cents sum a 100 TB corpus plausibly reaches: 1e13 cents ($100B).
    // Plain Long math wraps at ~9.2e12 x 1e6; the envelope must not.
    val big = 10000000000000L
    val df = Seq((big, 4 * big)).toDF("num", "den")
    val ok = df.selectExpr(
      "num * CAST(1000000 AS DECIMAL(38,0)) div den AS share_ok")
    val r = ok.collect().head
    assert(r.getAs[Long]("share_ok") == 250000L,
      "Decimal-envelope share must be exact at 1e13 cents")
    assert(ok.schema("share_ok").dataType.typeName == "long",
      "emitted share must stay BIGINT (decimal emit is hash-unsafe)")
    // the pre-fix form as the visible failure witness: under ANSI
    // (Spark 4 default) the x1e6 Long product overflows and the query
    // DIES at exactly the corpus size where the oracle stays exact
    val boom = intercept[Exception] {
      df.selectExpr("num * 1000000 div den AS s").collect()
    }
    assert(boom.getMessage.toUpperCase.contains("OVERFLOW"),
      s"plain-Long form no longer overflows — this guard test is stale: $boom")
  }

  test("q56: sole-late suppliers replay brute-force — pair-grain lateness, " +
    "per-order supplier/late counts, and both exclusion arms occur") {
    import java.time.LocalDateTime
    val ordF = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_orderdate", "o_orderstatus").collect()
      .filter(_.getAs[String]("o_orderstatus") == "F")
      .map(r => r.getAs[Long]("o_orderkey") ->
        r.getAs[LocalDateTime]("o_orderdate")).toMap
    val pairs = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate").collect()
      .filter(r => ordF.contains(r.getAs[Long]("l_orderkey")))
      .map(r => ((r.getAs[Long]("l_orderkey"), r.getAs[Long]("l_suppkey")),
        r.getAs[LocalDateTime]("l_shipdate")))
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      .map { case ((ok, sk), maxShip) =>
        (ok, sk, maxShip.isAfter(ordF(ok).plusDays(60))) }
    val perOrder = pairs.groupBy(_._1).view.mapValues(g =>
      (g.size, g.count(_._3))).toMap
    val expect = pairs.toSeq
      .filter { case (ok, _, late) =>
        late && perOrder(ok)._1 >= 2 && perOrder(ok)._2 == 1 }
      .groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val got = operators.Analytics.q56SoleLateSupplier(spark, sf).collect()
      .map(r => r.getAs[Long]("s_suppkey") -> r.getAs[Long]("numwait")).toMap
    assert(got == expect, "sole-late blame diverged from the replay")
    assert(got.nonEmpty, "the corpus must contain sole-late orders")
    // the NOT-EXISTS arm must bite: some multi-supplier order with >=2
    // late suppliers exists (its suppliers are blamed on no one)
    assert(perOrder.values.exists { case (n, nl) => n >= 2 && nl >= 2 },
      "degenerate corpus: the shared-blame exclusion never fires")
    // and the multi-supplier arm: some single-supplier late order exists
    assert(pairs.exists { case (ok, _, late) => late && perOrder(ok)._1 == 1 },
      "degenerate corpus: the single-supplier exclusion never fires")
  }

  test("q57: the reorder curve replays brute-force — per-customer order " +
    "sequences, exact gap stats per index, and the curve decays") {
    import java.time.LocalDateTime
    val perCust = Tables.load(spark, sf, "orders")
      .select("o_custkey", "o_orderkey", "o_orderdate").collect()
      .map(r => (r.getAs[Long]("o_custkey"), r.getAs[Long]("o_orderkey"),
        r.getAs[LocalDateTime]("o_orderdate").toLocalDate.toEpochDay))
      .groupBy(_._1).values.toSeq
    val indexed = perCust.flatMap { g =>
      val sorted = g.sortBy { case (_, ok, day) => (day, ok) }
      sorted.zipWithIndex.map { case ((_, _, day), i) =>
        val gap = if (i == 0) None else Some(day - sorted(i - 1)._3)
        (i + 1L, gap)
      }
    }
    val expect = indexed.groupBy(_._1).map { case (k, g) =>
      val gaps = g.flatMap(_._2)
      val sum = gaps.sum
      k -> ((g.size.toLong, sum,
        if (gaps.isEmpty) -1L else gaps.min,
        if (gaps.isEmpty) -1L else gaps.max,
        if (k == 1L) -1L else sum / g.size))
    }
    val got = operators.Analytics.q57ReorderCurve(spark, sf).collect()
      .map(r => r.getAs[Long]("order_idx") ->
        ((r.getAs[Long]("n_customers"), r.getAs[Long]("sum_gap_days"),
          r.getAs[Long]("min_gap_days"), r.getAs[Long]("max_gap_days"),
          r.getAs[Long]("avg_gap_days")))).toMap
    assert(got == expect.toMap, "reorder curve diverged from the replay")
    // the curve must be non-increasing in k (a k-th order implies a
    // (k-1)-th) and must actually decay somewhere on this corpus
    val ks = got.keys.toSeq.sorted
    ks.sliding(2).foreach { case Seq(a, b) =>
      assert(got(b)._1 <= got(a)._1, s"curve rose from k=$a to k=$b")
    case _ => () }
    assert(got(ks.last)._1 < got(ks.head)._1, "the curve never decayed")
    assert(ks.head == 1L && got.size >= 3, "need a real multi-order corpus")
  }

  test("q58: the depth-capped closure replays brute-force — depth d rows " +
    "are exactly the d-fold parent application, every edge points " +
    "strictly upward (cycle safety), and the cap truncates a real chain " +
    "at sf0.01") {
    import operators.Analytics.{RefFan, ReachDepthCap}
    val keys = Tables.load(spark, sf, "customer")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val parent = keys.iterator
      .map(c => c -> c / RefFan)
      .filter { case (c, p) => keys(p) && p < c }.toMap
    assert(parent.nonEmpty && (keys -- parent.keySet).nonEmpty,
      "need both referred customers and roots")
    parent.foreach { case (c, p) =>
      assert(p < c, s"edge $c -> $p does not point strictly upward") }
    val spend = Tables.load(spark, sf, "orders")
      .select("o_custkey", "o_totalprice").collect()
      .map(r => r.getLong(0) -> math.floor(r.getDouble(1) * 100).toLong)
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val expected = keys.toSeq.flatMap { c =>
      Iterator.iterate(Option(c))(o => o.flatMap(parent.get))
        .drop(1).take(ReachDepthCap).takeWhile(_.isDefined).map(_.get)
        .zipWithIndex.map { case (a, i) =>
          (c, a, i + 1L) ->
            ((if (parent.contains(a)) 0L else 1L), spend.getOrElse(c, 0L))
        }
    }.toMap
    val got = operators.Analytics.q58HierarchyReach(spark, sf).collect()
      .map(r => (r.getAs[Long]("custkey"), r.getAs[Long]("anc_key"),
        r.getAs[Long]("depth")) ->
        ((r.getAs[Long]("anc_is_root"), r.getAs[Long]("desc_spend_cents"))))
      .toMap
    assert(got == expected, "closure diverged from the brute-force replay")
    assert(got.keys.forall(_._3 <= ReachDepthCap), "a row exceeded the cap")
    assert(got.keys.exists(_._3 == 2L),
      "no multi-hop ancestor — the recursion is vacuous")
    // the truncation arm needs a chain deeper than the cap; the smallest
    // corpus is too shallow (custkeys 0..149 -> max depth exactly 3), so
    // pin it at sf0.01 where custkey 1499 has a depth-4 root never
    // reported: its deepest reported ancestor sits AT the cap and is not
    // a root
    val deep = operators.Analytics
      .q58HierarchyReach(spark, "/root/testdata/sf0.01").collect()
      .map(r => (r.getAs[Long]("custkey"), r.getAs[Long]("depth"),
        r.getAs[Long]("anc_is_root")))
    val truncated = deep.groupBy(_._1).values.filter { rows =>
      val d = rows.maxBy(_._2)
      d._2 == ReachDepthCap.toLong && d._3 == 0L
    }
    assert(truncated.nonEmpty,
      "the cap never truncated a chain at sf0.1 — the cap arm is vacuous")
  }

  test("q60: the subtree rollup equals a brute-force rollup of the " +
    "closure, covers every ancestor exactly once, and sees multi-level " +
    "subtrees") {
    import operators.Analytics.{RefFan, ReachDepthCap}
    val keys = Tables.load(spark, sf, "customer")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val parent = keys.iterator.map(c => c -> c / RefFan)
      .filter { case (c, p) => keys(p) && p < c }.toMap
    val spend = Tables.load(spark, sf, "orders")
      .select("o_custkey", "o_totalprice").collect()
      .map(r => r.getLong(0) -> math.floor(r.getDouble(1) * 100).toLong)
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val closure = keys.toSeq.flatMap { c =>
      Iterator.iterate(Option(c))(_.flatMap(parent.get))
        .drop(1).take(ReachDepthCap).takeWhile(_.isDefined).map(_.get)
        .zipWithIndex.map { case (a, i) => (c, a, i + 1L) }
    }
    val expected = closure.groupBy(_._2).map { case (a, rows) =>
      a -> ((if (parent.contains(a)) 0L else 1L, rows.size.toLong,
        rows.map(_._3).max, rows.map(r => spend.getOrElse(r._1, 0L)).sum))
    }
    val got = operators.Analytics.q60SubtreeRollup(spark, sf).collect()
      .map(r => r.getAs[Long]("anc_key") ->
        ((r.getAs[Long]("anc_is_root"), r.getAs[Long]("n_desc"),
          r.getAs[Long]("max_depth"), r.getAs[Long]("subtree_spend_cents"))))
      .toMap
    assert(got == expected, "rollup diverged from the brute-force closure")
    assert(got.values.map(_._2).sum == closure.size.toLong,
      "n_desc must partition the closure")
    assert(got.values.exists(v => v._1 == 1L && v._3 >= 2L),
      "no root with a multi-level subtree — the rollup depth is vacuous")
  }
}
