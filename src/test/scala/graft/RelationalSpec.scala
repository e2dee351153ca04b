package graft

import org.apache.spark.sql.functions._

import graft.operators.Relational

/** Semantics checks for the relational suite — each asserts a property a
  * hash-match against DuckDB alone wouldn't localize on failure. */
class RelationalSpec extends SparkSpecBase {

  test("pareto: top decile is ~10% of customers holding a super-" +
      "proportional revenue share, totals exact") {
    val r = Relational.pareto(spark, sf).collect()(0)
    val nc = r.getAs[Long]("n_customers")
    val nt = r.getAs[Long]("n_top")
    val share = r.getAs[Double]("top_share")
    // the p90 cut admits ~10% (ties can widen it slightly)
    assert(nt >= nc / 20 && nt <= nc / 5, s"n_top $nt of $nc")
    // the top decile's share strictly exceeds its population share
    assert(share > nt.toDouble / nc.toDouble)
    assert(share < 1.0 && r.getAs[Double]("revenue_top") <=
      r.getAs[Double]("revenue_total"))
  }

  test("pricing summary groups are complete and sums exact") {
    val rows = Relational.pricingSummary(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 9) // <=3 flags x <=3 statuses
    val total = rows.map(_.getAs[Long]("count_order")).sum
    val expected = spark.read.parquet(s"$sf/lineitem.parquet")
      .where(col("l_shipdate") <= to_timestamp_ntz(lit("2001-09-01"))).count()
    assert(total == expected)
    // decimal-exact: sum_disc_price <= sum_base_price (discount in [0,0.1])
    rows.foreach { r =>
      assert(r.getAs[Double]("sum_disc_price") <= r.getAs[Double]("sum_base_price"))
    }
  }

  test("revenue by nation covers exactly the ASIA nations with sales") {
    val rows = Relational.revenueByNation(spark, sf).collect()
    assert(rows.map(_.getAs[Double]("revenue")).toSeq ==
      rows.map(_.getAs[Double]("revenue")).sortBy(-_).toSeq, "sorted desc")
  }

  test("top customers per segment: <=3 per segment, ranks 1..n") {
    val rows = Relational.topCustomersBySegment(spark, sf).collect()
    rows.groupBy(_.getAs[String]("c_mktsegment")).foreach { case (_, rs) =>
      assert(rs.length <= 3)
      assert(rs.map(_.getAs[Int]("rnk")).sorted.toSeq == (1 to rs.length))
    }
  }

  test("semi join counts orders once regardless of matching line count") {
    val total = Relational.latePriorities(spark, sf)
      .agg(sum("order_count")).head.getLong(0)
    val distinctOrders = spark.read.parquet(s"$sf/orders.parquet")
      .join(spark.read.parquet(s"$sf/lineitem.parquet"),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .select("o_orderkey").distinct().count()
    assert(total == distinctOrders)
  }

  test("anti join: customers without orders + customers with orders = all") {
    val without = Relational.customersWithoutOrders(spark, sf)
      .agg(coalesce(sum("n_customers"), lit(0L))).head.getLong(0)
    val c = spark.read.parquet(s"$sf/customer.parquet")
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val withOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi").count()
    assert(without + withOrders == c.count())
  }

  test("rollup emits detail + per-status subtotal + grand total") {
    val rows = Relational.rollupStatus(spark, sf).collect()
    val grand = rows.filter(r => r.getAs[String]("status") == "ALL")
    assert(grand.length == 1)
    assert(grand.head.getAs[Long]("n_orders") ==
      spark.read.parquet(s"$sf/orders.parquet").count())
    val statuses = rows.filter(r => r.getAs[String]("status") != "ALL" &&
      r.getAs[String]("priority") == "ALL")
    assert(statuses.map(_.getAs[Long]("n_orders")).sum == grand.head.getAs[Long]("n_orders"))
  }

  test("cube grand total equals row count") {
    val rows = Relational.cubeSegmentNation(spark, sf).collect()
    val grand = rows.filter(r => r.getAs[String]("segment") == "ALL" &&
      r.getAs[String]("nation") == "ALL")
    assert(grand.length == 1)
    assert(grand.head.getAs[Long]("n_customers") ==
      spark.read.parquet(s"$sf/customer.parquet").count())
  }

  test("running total is monotone per customer (positive prices)") {
    val rows = Relational.customerRunningOrders(spark, sf).collect()
    rows.groupBy(_.getAs[Long]("o_custkey")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rn"))
      val totals = sorted.map(_.getAs[Double]("running_total"))
      assert(totals.zip(totals.drop(1)).forall { case (a, b) => a <= b })
      assert(sorted.head.isNullAt(sorted.head.fieldIndex("prev_price")))
    }
  }

  test("set ops partition nations into disjoint tags") {
    val rows = Relational.nationSetOps(spark, sf).collect()
    val byTag = rows.groupBy(_.getAs[String]("tag"))
      .view.mapValues(_.map(_.getAs[String]("n_name")).toSet).toMap
    val both = byTag.getOrElse("both", Set.empty)
    val cust = byTag.getOrElse("cust_only", Set.empty)
    val supp = byTag.getOrElse("supp_only", Set.empty)
    assert((both & cust).isEmpty && (both & supp).isEmpty && (cust & supp).isEmpty)
  }

  test("price bands cover every part exactly once") {
    val total = Relational.priceBandJoin(spark, sf)
      .agg(sum("n_parts")).head.getLong(0)
    assert(total == spark.read.parquet(s"$sf/part.parquet").count())
  }

  test("grouping sets: per-dimension subtotals + grand total in one pass") {
    val rows = Relational.groupingSets(spark, sf).collect()
    val total = spark.read.parquet(s"$sf/lineitem.parquet").count()
    val grand = rows.filter(r => r.getAs[String]("flag") == "ALL" &&
      r.getAs[String]("status") == "ALL")
    assert(grand.length == 1 && grand.head.getAs[Long]("n_lines") == total)
    val byFlag = rows.filter(r => r.getAs[String]("flag") != "ALL")
    assert(byFlag.map(_.getAs[Long]("n_lines")).sum == total)
  }

  test("correlated subquery: every kept customer beats their nation average") {
    val custs = spark.read.parquet(s"$sf/customer.parquet").collect()
    val byNation = custs.groupBy(_.getAs[Int]("c_nationkey"))
      .view.mapValues { cs =>
        (cs.length, cs.map(c => BigDecimal(c.getAs[Double]("c_acctbal"))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum)
      }.toMap
    val kept = Relational.aboveNationAverage(spark, sf).collect()
    assert(kept.nonEmpty)
    val keptKeys = kept.map(_.getAs[Long]("c_custkey")).toSet
    custs.foreach { c =>
      val (n, sum) = byNation(c.getAs[Int]("c_nationkey"))
      val bal = BigDecimal(c.getAs[Double]("c_acctbal"))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP)
      assert(keptKeys.contains(c.getAs[Long]("c_custkey")) == (bal * n > sum))
    }
  }

  test("rolling 30d range frame includes exactly the trailing window") {
    val rows = Relational.rolling30d(spark, sf).collect()
    val sample = rows.groupBy(_.getAs[Long]("o_custkey")).take(10)
    sample.foreach { case (_, rs) =>
      rs.foreach { r =>
        val d = r.getAs[Int]("day_nr")
        val expect = rs.filter { x =>
          val xd = x.getAs[Int]("day_nr"); xd <= d && xd >= d - 30
        }.map(x => BigDecimal(x.getAs[Double]("o_totalprice"))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
        assert(BigDecimal(r.getAs[Double]("spend_30d")) == expect)
      }
    }
  }

  test("approx percentile (t-digest) lands near the exact percentile") {
    // the sketch is the 100 TB path (mergeable, bounded memory); exact
    // `percentile` is the oracled operator — they must agree closely
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val exact = Relational.percentiles(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val approx = o.groupBy("o_orderpriority")
      .agg(approx_percentile(col("o_totalprice"), lit(0.5), lit(1000)).as("med"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    exact.foreach { case (k, v) =>
      assert(math.abs(approx(k) - v) / v < 0.02, s"$k: $v vs ${approx(k)}")
    }
  }

  test("recursive CTE: ancestor chains match the sequential halving walk") {
    val rows = Relational.recursiveChain(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getAs[Long]("s_suppkey")
      var (anc, depth, sum) = (k, 0L, k)
      while (anc > 1) { anc = anc / 2; depth += 1; sum += anc }
      assert(r.getAs[Long]("chain_len") == depth, s"key $k")
      assert(r.getAs[Long]("anc_sum") == sum, s"key $k")
    }
  }

  test("string funcs: split/regexp round-trip") {
    val rows = Relational.stringFuncs(spark, sf).limit(50).collect()
    rows.foreach { r =>
      val adjective = r.getAs[String]("adjective")
      val noun = r.getAs[String]("noun")
      assert(r.getAs[String]("name_upper") == (adjective + " " + noun).toUpperCase)
      assert(r.getAs[String]("key_padded").length == 8)
    }
  }

  test("pareto on an EMPTY orders frame returns exactly one row " +
      "(n_top 0, everything else NULL) — the global-aggregate shape " +
      "the oracle mirrors so both engines agree on empty input") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Double)]
      .toDF("o_custkey", "o_totalprice")
    val rows = Relational.paretoOn(empty).collect()
    // DuckDB's oracle (global agg over the r2 x st join, no GROUP BY)
    // returns (NULL, 0, NULL, NULL, NULL) on an empty orders table —
    // verified directly; a grouped final SELECT would return 0 rows
    assert(rows.length == 1)
    val r = rows.head
    assert(r.isNullAt(r.fieldIndex("n_customers")))
    assert(r.getAs[Long]("n_top") == 0L)
    assert(r.isNullAt(r.fieldIndex("revenue_total")))
    assert(r.isNullAt(r.fieldIndex("revenue_top")))
    assert(r.isNullAt(r.fieldIndex("top_share")))
    // and the populated path still matches shape: one row, non-null
    val some = Seq((1L, 10.0), (2L, 20.0), (3L, 300.0))
      .toDF("o_custkey", "o_totalprice")
    val full = Relational.paretoOn(some).collect()
    assert(full.length == 1 &&
      full.head.getAs[Long]("n_customers") == 3L)
  }

  test("money sums past the 2^53 exact-double envelope fail loud " +
      "instead of rounding; sums just under it stay exact") {
    import spark.implicits._
    // 2^53 unscaled cents ~ 9.007e13 currency units: each order is
    // under it, customer 1's SUM is over it
    val over = Seq((1L, 5.0e13), (1L, 4.5e13), (2L, 10.0))
      .toDF("o_custkey", "o_totalprice")
    val e = intercept[Exception](Relational.paretoOn(over).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("past the 2^53 exact-double envelope")),
      msgs.mkString(" | "))
    // a sum just under the bound is exact and not refused
    val under = Seq((1L, 4.5e13), (1L, 4.5e13))
      .toDF("o_custkey", "o_totalprice")
    assert(Relational.paretoOn(under).head
      .getAs[Double]("revenue_total") == 9.0e13)
  }

  test("order count distribution: histogram masses reconcile with the " +
      "customer table and the filtered orders table") {
    val rows = Relational.orderCountDistribution(spark, sf).collect()
    val nCustomers = spark.read.parquet(s"$sf/customer.parquet").count()
    val nOrders = spark.read.parquet(s"$sf/orders.parquet")
      .where(col("o_orderpriority") =!= "1-URGENT").count()
    // every customer lands in exactly one bucket (LEFT OUTER keeps the
    // zero-order customers), and the count-weighted mass is the orders
    assert(rows.map(_.getAs[Long]("custdist")).sum == nCustomers)
    assert(rows.map(r => r.getAs[Long]("c_count") *
      r.getAs[Long]("custdist")).sum == nOrders)
  }

  test("promo effect: conditional share is bounded by its total") {
    val r = Relational.promoEffect(spark, sf).collect().head
    val (promo, total) = (r.getAs[Double]("promo_revenue"),
      r.getAs[Double]("total_revenue"))
    assert(promo >= 0.0 && promo <= total)
    assert(r.getAs[Double]("promo_pct") == promo / total * 100.0)
  }

  test("top supplier: the argmax really is the per-supplier max, ties " +
      "all surface") {
    val rows = Relational.topSupplier(spark, sf).collect()
    assert(rows.nonEmpty)
    val revs = rows.map(_.getAs[Double]("total_rev")).distinct
    assert(revs.length == 1, "all surfaced suppliers share the max")
  }

  test("volume shipping: only cross-nation pairs, both directions " +
      "covered by the pair filter") {
    val rows = Relational.volumeShipping(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[String]("supp_nation") != r.getAs[String]("cust_nation"))
      assert(Set(Relational.VolumeNationA, Relational.VolumeNationB)(
        r.getAs[String]("supp_nation")))
    }
  }

  test("shipping priority: at most k rows, revenue sorted desc with " +
      "the order-key tiebreak") {
    val rows = Relational.shippingPriority(spark, sf).collect()
    assert(rows.length <= 10)
    val keys = rows.map(r =>
      (-r.getAs[Double]("revenue"), r.getAs[Long]("l_orderkey"))).toSeq
    assert(keys == keys.sorted, "revenue desc, l_orderkey asc")
  }
}
