package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{QueryDef, Tables}

/** Relational analytics suite over the TPC-H-ish fixture tables.
  *
  * The reference engine has NO joins, aggregations, windows or set ops
  * (SURVEY.md §2.2 — verified absent in reference main.go, the repo's only
  * source file); a training-data pipeline at 100 TB needs all of them, so
  * they are first-class operators here, each expressed declaratively so
  * Catalyst supplies pushdown/pruning/join-selection and Tungsten the
  * codegen.
  *
  * Scale posture baked into each query:
  *   - dimension tables ([[region]]/[[nation]]/band tables) are broadcast —
  *     no shuffle of the fact side for dim joins;
  *   - fact-fact joins (orders ⋈ lineitem) shuffle on the join key once and
  *     aggregate partially map-side (Spark's default hash-aggregate
  *     partial/final split);
  *   - all money aggregation is decimal-cast BEFORE the sum, making sums
  *     exact and therefore independent of partial-aggregation order — the
  *     trick that lets a distributed sum hash-match a single-threaded
  *     DuckDB oracle bit-for-bit. Final outputs cast back to double.
  *   - every ORDER BY carries a total tie-break (SURVEY.md D2).
  */
object Relational {

  /** Exact money: cast double → decimal before aggregating. The fixture
    * money columns are 2-decimal grids, rate columns 2-decimal in [0,1];
    * scale-4 cast is exact for both engines (Spark's string-based
    * double→decimal cast and DuckDB's binary-based one agree whenever the
    * target scale has headroom over the data's true scale). */
  private def dec(c: Column, p: Int, s: Int): Column = c.cast(DecimalType(p, s))
  private def money(c: Column): Column = dec(c, 14, 2)

  /** UNSCALED-LONG money arithmetic — the fast path for money SUMS
    * whose values reach output as doubles (r19 optimization; DuckDB
    * oracles keep the decimal formulation, equality is bitwise). The
    * decimal path pays java.math.BigDecimal per row: Spark's Decimal
    * `*` has no compact-long branch, and a BigDecimal-backed addend
    * knocks the accumulator's `+` off its compact fast path too —
    * summing exact unscaled integers instead measured 2.25× faster on
    * the Q1 aggregate with bitwise-identical output (DevDecBench,
    * sf0.1: 1.14 s → 0.51 s).
    *
    * Exactness argument: the TPC-H money/discount/tax domains are
    * 2-decimal grids, so x·100 lands within far less than 0.5 of its
    * integer and HALF_UP `round()` recovers it exactly — the SAME
    * grid-exactness the decimal formulation already leans on to keep
    * summed int-reps under 2^53 (see pricingSummary's scale-6 note).
    * Products of unscaled longs are exact at summed scales 4/6; the
    * final rescale ([[unscaledDouble]]) casts the exact long sum to
    * double and divides it, in double, by the scale's power of ten —
    * bitwise the decimal formulation's value while |sum| < 2^53,
    * where the cast is exact and the one division is correctly
    * rounded. That is the real output bound: past 2^53 unscaled (about
    * 9e11 currency units at scale 4, 9e9 at scale 6) the cast rounds
    * and the value may differ from the decimal path's, long before
    * ANSI long-overflow throws at ~9.2e18. [[unscaledDouble]] checks
    * the bound at run time: a sum past it fails the query loud
    * instead of rounding. */
  // floor(x·100 + 0.5), not round(): Spark's Round on a double goes
  // through BigDecimal.valueOf per row; on a 2-decimal grid x·100 sits
  // within an ulp of its integer, so the pure-double floor recovers the
  // same HALF_UP integer (incl. negatives: floor(N±ε+0.5) = N for
  // ε ≪ 0.5) with zero allocation. floor(double) is already LongType.
  private def cents(c: Column): Column = floor(c * 100 + 0.5)
  private def rate1c(c: Column): Column =     // (1 − l_discount)·100
    floor((lit(1.0) - c) * 100 + 0.5)
  private def rate1pc(c: Column): Column =    // (1 + l_tax)·100
    floor((lit(1.0) + c) * 100 + 0.5)
  /** Exact long sum at 10^-scale → the decimal-identical double:
    * |N| < 2^53 makes N exact as a double, and IEEE division by the
    * exact power of ten is correctly rounded — the same nearest double
    * the decimal cast produced. The 2^53 envelope is the one the
    * decimal formulation already documented (DuckDB's decimal→double
    * cast stops being correctly rounded past it), so nothing new is
    * assumed. Pure codegen arithmetic — the first long-formulation cut
    * used a per-row DECIMAL division here, which measurably dragged
    * the window-sum queries (one division per output row). A non-null
    * |N| >= 2^53 raises an error (the cast would round); a null sum
    * (an empty group) stays null. `sumCol` is referenced more than
    * once: pass a window sum as a computed column, or each reference
    * becomes its own window aggregate. */
  private def unscaledDouble(sumCol: Column, scale: Int): Column = {
    val bound = lit(1L << 53)
    when(sumCol >= bound || sumCol <= -bound,
      raise_error(concat(lit(s"unscaled money sum at scale $scale is "),
        sumCol.cast("string"), lit(", past the 2^53 exact-double " +
          "envelope: its double rescale would round"))))
      .otherwise(sumCol.cast("double") / lit(math.pow(10, scale)))
  }

  /** Run SQL over per-call uniquely-named temp views. Dataset creation
    * analyzes eagerly, so the views can be dropped before returning the
    * (lazy) frame — no fixed global catalog names are clobbered and
    * concurrent runs over different dirs cannot race. The SQL should
    * alias each view back to its stable name (`... AS customer_v`). */
  private val viewSeq = new java.util.concurrent.atomic.AtomicLong()
  private def sqlOver(s: SparkSession, views: (String, DataFrame)*)(
      q: Map[String, String] => String): DataFrame = {
    val names = views.map { case (alias, df) =>
      val unique = s"graft_${alias}_${viewSeq.incrementAndGet()}"
      df.createOrReplaceTempView(unique)
      alias -> unique
    }.toMap
    try s.sql(q(names))
    finally names.values.foreach(s.catalog.dropTempView)
  }

  private val decSql = "DECIMAL(14,2)"
  private def moneySql(c: String) = s"CAST($c AS $decSql)"
  private def sumMoneySql(c: String) = s"CAST(SUM(${moneySql(c)}) AS DOUBLE)"
  private def revenueSql =
    s"CAST(SUM(${moneySql("l_extendedprice")} * CAST(1.0-l_discount AS DECIMAL(8,4))) AS DOUBLE)"

  // ------------------------------------------------------------------
  // O: aggregation (hash agg, partial+final) — TPC-H Q1 shape
  // ------------------------------------------------------------------

  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .where(col("l_shipdate") <= to_timestamp_ntz(lit("2001-09-01")))
    // unscaled longs (see cents): q·100 and p·100 summed at scale 2,
    // the 2- and 3-factor products at their TRUE scales 4 and 6 (all
    // factors are 2-decimal grids, so nothing ever rounds) — the same
    // values the decimal formulation produced, without its per-row
    // BigDecimal work; scale 6 keeps summed int-reps under 2^53, where
    // DuckDB's decimal→double cast is still correctly rounded.
    val p2 = cents(col("l_extendedprice"))
    val d2 = rate1c(col("l_discount"))
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        unscaledDouble(sum(cents(col("l_quantity"))), 2).as("sum_qty"),
        unscaledDouble(sum(p2), 2).as("sum_base_price"),
        unscaledDouble(sum(p2 * d2), 4).as("sum_disc_price"),
        unscaledDouble(sum(p2 * d2 * rate1pc(col("l_tax"))), 6)
          .as("sum_charge"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty", col("sum_qty") / col("count_order"))
      .withColumn("avg_price", col("sum_base_price") / col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // ------------------------------------------------------------------
  // O: multi-way join (broadcast dims + shuffled fact-fact) — Q5 shape
  // ------------------------------------------------------------------

  def revenueByNation(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders")
    val li = Tables(s, dir, "lineitem")
    val n = Tables(s, dir, "nation")
    val r = Tables(s, dir, "region")
    // nation and region are TRUE dims (25 / 5 rows at any scale) —
    // broadcast them into customer unconditionally. The result is a
    // fifth of the CUSTOMER table: fact-sized, so it carries NO hint —
    // join selection (stats + AQE) broadcasts it while it fits and
    // shuffles orders ⋈ customer on custkey past the threshold, which
    // is the plan that survives 100×. (A forced broadcast here OOMs
    // the driver building a customer-cardinality hash relation.)
    val custDim = c
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "ASIA")
      .select(col("c_custkey"), col("n_name"))
    o.join(custDim, col("o_custkey") === col("c_custkey"))
      .join(li, col("l_orderkey") === col("o_orderkey"))
      .groupBy("n_name")
      .agg(
        unscaledDouble(
          sum(cents(col("l_extendedprice")) * rate1c(col("l_discount"))), 4)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q8 shape — national MARKET SHARE by order year: the share
    * of ASIA-region supplier revenue delivered by CHINA's suppliers.
    * Same dim discipline as [[revenueByNation]]: nation/region are
    * broadcast unconditionally (true fixed dims), the enriched
    * supplier relation is fact-class and carries NO hint (stats + AQE
    * decide — forced broadcast OOMs at scale). Exactness: both
    * numerator and denominator are DECIMAL sums (order-independent ⇒
    * re-plannable) cast to double only at the END, then ONE guarded
    * division — the engines agree bitwise because IEEE division of
    * two identically-derived doubles is correctly rounded. A year
    * with no CHINA rows contributes 0 to the numerator (conditional
    * sum's NULL coalesced), never a NULL share. */
  def marketShare(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val o = Tables(s, dir, "orders")
    val sup = Tables(s, dir, "supplier")
    val n = Tables(s, dir, "nation")
    val r = Tables(s, dir, "region")
    val supDim = sup
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "ASIA")
      .select(col("s_suppkey"), col("n_name"))
    val rev = cents(col("l_extendedprice")) * rate1c(col("l_discount"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(supDim, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        unscaledDouble(
          coalesce(sum(when(col("n_name") === "CHINA", rev)), lit(0L)), 4)
          .as("china_rev"),
        unscaledDouble(sum(rev), 4).as("all_rev"),
        count(lit(1)).as("n_items"))
      .withColumn("mkt_share",
        when(col("all_rev") > 0.0, col("china_rev") / col("all_rev")))
      .orderBy("o_year")
  }

  /** TPC-H Q18 shape — LARGE-VOLUME customers: orders whose total
    * line quantity clears a threshold, with their customers, ranked by
    * order value. The HAVING-filtered order set is tiny relative to
    * the fact tables, so it drives the joins through the size gate
    * ([[VectorSearch.broadcastIfSmall]]): one lineitem aggregate
    * shuffle, then orders and customer are probed by broadcast —
    * neither fact table shuffles. Quantities are decimal sums (whole-
    * valued in the fixture) cast to double at the end — integer-exact
    * in both engines. */
  val BigOrderQty = 150

  def largeVolumeCustomers(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val o = Tables(s, dir, "orders")
    val c = Tables(s, dir, "customer")
    val big = li.groupBy(col("l_orderkey"))
      .agg(sum(cents(col("l_quantity"))).as("qd"))
      .where(col("qd") > BigOrderQty * 100L)
      .select(col("l_orderkey"), unscaledDouble(col("qd"), 2).as("sum_qty"))
    o.join(VectorSearch.broadcastIfSmall(big),
        col("o_orderkey") === col("l_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), money(col("o_totalprice"))
          .cast("double").as("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate"),
        col("o_orderkey"))
      .limit(20)
  }

  // ------------------------------------------------------------------
  // O: grouped top-N via ranking window over a join
  // ------------------------------------------------------------------

  def topCustomersBySegment(s: SparkSession, dir: String, topN: Int = 3): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders")
    // customer is FACT-sized (same class as revenueByNation's custDim):
    // no forced hint — stats/AQE broadcast it while small and shuffle
    // orders ⋈ customer on custkey once it outgrows the threshold
    val spend = o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "c_custkey")
      .agg(unscaledDouble(sum(cents(col("o_totalprice"))), 2)
        .as("total_spend"),
        count(lit(1)).as("n_orders"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("total_spend").desc, col("c_custkey"))
    spend.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= topN)
      .orderBy(col("c_mktsegment"), col("rnk"))
  }

  /** Correlated LATERAL subquery — the other SQL spelling of
    * top-n-per-group: each nation row drives a dependent ORDER
    * BY/LIMIT over its suppliers. Catalyst DECORRELATES this into the
    * same ranked-window shape [[topCustomersBySegment]] writes by hand
    * (no per-row re-execution survives into the physical plan), so the
    * lateral form costs what the window form costs — the point of
    * declaring it is that the SQL surface accepts it. */
  def lateralTopSuppliers(s: SparkSession, dir: String,
      topN: Int = 2): DataFrame =
    sqlOver(s, "nation" -> Tables(s, dir, "nation"),
        "supplier" -> Tables(s, dir, "supplier")) { v =>
      s"""SELECT n.n_name, t.s_name, t.s_acctbal
         |FROM ${v("nation")} n,
         |LATERAL (
         |  SELECT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
         |  FROM ${v("supplier")} s
         |  WHERE s.s_nationkey = n.n_nationkey
         |  ORDER BY s_acctbal DESC, s_name LIMIT $topN) t
         |ORDER BY n.n_name, t.s_acctbal DESC, t.s_name""".stripMargin
    }

  // ------------------------------------------------------------------
  // O: semi / anti joins
  // ------------------------------------------------------------------

  /** Orders having at least one line shipped >90 days after the order date
    * (left SEMI join — the fact side is never duplicated). */
  def latePriorities(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val li = Tables(s, dir, "lineitem")
    o.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** Customers with no orders at all, counted per nation (left ANTI). */
  def customersWithoutOrders(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders")
    val n = Tables(s, dir, "nation")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("n_name")
  }

  /** MULTIPLICITY-preserving set ops — `INTERSECT ALL` / `EXCEPT ALL`
    * (bag semantics: per key, min(m₁, m₂) and m₁ − min(m₁, m₂) copies)
    * over the customer-nation vs supplier-nation multisets, rolled up
    * to per-(tag, nation) counts. The distinct-set variants are
    * `rel_nation_setops`; these are the other half of the SQL set-op
    * surface, and the copies arithmetic is exactly what Spark's
    * `intersectAll`/`exceptAll` plan as one aggregate + generate —
    * no join explosion. */
  def nationSetOpsAll(s: SparkSession, dir: String): DataFrame = {
    val n = broadcast(Tables(s, dir, "nation"))
    val custN = Tables(s, dir, "customer")
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .select("n_name")
    val suppN = Tables(s, dir, "supplier")
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .select("n_name")
    custN.intersectAll(suppN).select(lit("both").as("tag"), col("n_name"))
      .unionByName(custN.exceptAll(suppN)
        .select(lit("cust_extra").as("tag"), col("n_name")))
      .groupBy("tag", "n_name")
      .agg(count(lit(1)).as("n_copies"))
      .orderBy("tag", "n_name")
  }

  /** TPC-H Q21 shape ("suppliers who kept orders waiting", lateness =
    * shipped > 90 days after the order, [[latePriorities]]'
    * predicate): suppliers who were the SOLE late shipper on a
    * multi-supplier order, ranked by how many orders they alone held
    * up.
    *
    * Q21's textbook formulation is an EXISTS + NOT EXISTS pair of
    * lineitem SELF-joins — three fact scans and two corpus-scale
    * semi/anti joins. The set-identical rewrite here: "no OTHER
    * supplier was late and someone else supplied" ⟺ the order has
    * more than one distinct supplier and EXACTLY ONE distinct late
    * supplier (which is then necessarily you). Per-(order, supplier)
    * any-late flags aggregate in ONE fact shuffle; both order-level
    * counts ride the same l_orderkey window partitioning; membership
    * is then a row predicate. The oracle derives the answer through
    * the textbook EXISTS formulation — two independent derivations,
    * one hash. */
  def waitingSuppliers(s: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    val late = col("l_shipdate") >
      col("o_orderdate") + expr("INTERVAL 90 DAYS")
    val perSupp = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(late, 1).otherwise(0)).as("any_late"))
    val w = Window.partitionBy(col("l_orderkey"))
    perSupp
      .withColumn("n_supps", count(lit(1)).over(w))
      .withColumn("n_late_supps", sum(col("any_late")).over(w))
      .where(col("any_late") === 1 && col("n_supps") > 1 &&
        col("n_late_supps") === 1)
      .join(Tables(s, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(k)
  }

  /** Recency cutoff for [[salesOpportunity]] — the last seven months of
    * the fixture's 1995-2001 order range. */
  val SalesOppCutoff = "2001-01-01"

  /** TPC-H Q22 shape ("global sales opportunity") adapted to the
    * fixture's density: POSITIVE-balance customers richer than the
    * positive-balance average who have placed NO order since
    * [[SalesOppCutoff]] — the lapsed-high-value segment an outreach
    * campaign targets, by nation. (Classic Q22 keys on "never
    * ordered", which this fixture's order density makes empty — the
    * recency-lapse variant is the same anti-join-under-a-global-
    * threshold plan shape with a non-degenerate answer.)
    *
    * Determinism: the above-average test is dec(c_acctbal) · n >
    * Σdec(c_acctbal) — exact integer-scaled decimal arithmetic, no
    * division, no float average (a double avg is fold-order-
    * dependent). Scale shape: the 1-row stats aggregate rides a
    * broadcast; NOT EXISTS is a LEFT ANTI join against orders
    * PRE-FILTERED to the recency window (the date predicate pushes to
    * the orders scan — the anti side carries months of orders, not
    * years); nation broadcasts unconditionally (25 rows). */
  def salesOpportunity(s: SparkSession, dir: String): DataFrame = {
    val pos = Tables(s, dir, "customer").where(col("c_acctbal") > 0.0)
    val stats = pos.agg(count(lit(1)).as("n_pos"),
      sum(cents(col("c_acctbal"))).as("sum_pos"))
    pos.crossJoin(broadcast(stats)) // exactly one row by construction
      .where(cents(col("c_acctbal")) * col("n_pos") > col("sum_pos"))
      .join(Tables(s, dir, "orders")
          .where(col("o_orderdate") >=
            lit(SalesOppCutoff).cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"),
        unscaledDouble(sum(cents(col("c_acctbal"))), 2).as("total_acctbal"))
      .orderBy("n_name")
  }

  /** TPC-H Q2 shape ("minimum cost supplier") on the fixture's tables:
    * for every small part (p_size ≤ [[MinCostMaxSize]]), the
    * supplier(s) whose lineitem hit that part's MINIMUM extended price
    * — the classic correlated-MIN scalar subquery, decorrelated to a
    * per-part min aggregate joined back on (part, price). Q2's
    * partsupp is not in this fixture; lineitem plays the
    * supplier-price relation, same plan shape.
    *
    * Scale shape: the part dim filters FIRST and joins through the
    * size gate (part GROWS with the corpus — broadcast while the
    * optimizer's estimate fits, shuffle join past it), so both the
    * aggregate and the join-back run over the part-pruned fact slice;
    * the per-part min relation is |parts|-sized and the join-back
    * re-partitions the same slice by the same key (exchange-
    * reusable). Equality on l_extendedprice is selection, not
    * arithmetic — min of stored doubles is exact in both engines.
    * Supplier is size-gated too; only nation (fixed 25 rows) is
    * force-broadcast. */
  def minCostSupplier(s: SparkSession, dir: String,
      k: Int = 20): DataFrame = {
    val parts = Tables(s, dir, "part")
      .where(col("p_size") <= MinCostMaxSize)
      .select("p_partkey", "p_name")
    val lfilt = Tables(s, dir, "lineitem")
      .join(VectorSearch.broadcastIfSmall(parts),
        col("l_partkey") === col("p_partkey"))
      .select("l_partkey", "l_suppkey", "l_extendedprice", "p_name")
    val minPer = lfilt.groupBy(col("l_partkey").as("m_partkey"))
      .agg(min(col("l_extendedprice")).as("min_price"))
    // the min-hit test rides as `<=` (⟺ `=` against a group minimum):
    // a float EQUALITY between the sides would become a second join
    // key and shuffle both sides on (partkey, normalized-price) —
    // splitting the axis the aggregate already partitioned on
    lfilt
      .join(minPer, col("l_partkey") === col("m_partkey"))
      .where(col("l_extendedprice") <= col("min_price"))
      .join(VectorSearch.broadcastIfSmall(Tables(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("l_partkey").as("p_partkey"), col("p_name"),
        col("s_name"), col("n_name"), col("min_price"))
      .orderBy(col("min_price"), col("p_partkey"), col("s_name"))
      .limit(k)
  }

  val MinCostMaxSize = 5

  /** TPC-H Q17 shape ("small-quantity-order revenue"): total revenue
    * lost if orders below 20% of a part's average quantity were no
    * longer taken — a correlated AVG scalar gating a fact filter,
    * decorrelated to per-part (count, Σqty) partials joined back.
    *
    * Determinism: the below-average test is dec(l_quantity)·5·n <
    * Σdec(l_quantity) — exact integer-scaled decimal arithmetic, no
    * float average (20%·avg = Σ/(5n), cleared of division). The one
    * output division (/7 yearly proxy) is a single fixed-order double
    * op. Scale shape: the brand-filtered part dim joins through the
    * size gate (a 1/|brands| slice of a corpus-growing table), both
    * fact passes run over the brand-pruned slice, the per-part stats
    * relation is |parts|-sized. */
  def smallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables(s, dir, "part")
      .where(col("p_brand") === SmallQtyBrand).select("p_partkey")
    val lfilt = Tables(s, dir, "lineitem")
      .join(VectorSearch.broadcastIfSmall(parts),
        col("l_partkey") === col("p_partkey"))
      .select("l_partkey", "l_quantity", "l_extendedprice")
    val stats = lfilt.groupBy(col("l_partkey").as("q_partkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(cents(col("l_quantity"))).as("sum_qty"))
    lfilt
      .join(stats, col("l_partkey") === col("q_partkey"))
      .where(cents(col("l_quantity")) * lit(5) * col("n_lines") <
        col("sum_qty"))
      .agg(count(lit(1)).as("n_small"),
        (unscaledDouble(sum(cents(col("l_extendedprice"))), 2) /
          lit(7.0)).as("avg_yearly"))
  }

  val SmallQtyBrand = "Brand#1"

  /** TPC-H Q20 shape ("excess/dominant suppliers") — the nested
    * semi-join chain: suppliers who, for some 'large'-named part,
    * shipped more than TWICE the fair per-supplier share of that
    * part's total flow (Q20's availqty > ½·Σqty correlated-aggregate
    * test re-keyed to the fixture, which has no partsupp: dominance
    * over the part's flow instead of over stock — the ½ test is
    * degenerate here because every part ships through many
    * suppliers). Chain: part-name filter ⊂ IN, per-(supplier, part)
    * sums against TWO correlated per-part aggregates (total flow,
    * supplier count), distinct supplier keys semi-join
    * supplier ⋈ nation.
    *
    * Determinism: Σdec(qty)·n > 2·Σdec(qty) is exact decimal/integer
    * arithmetic, division-free. Scale shape: the name-filtered part
    * dim joins through the size gate; ONE partial-aggregated fact
    * pass produces the
    * (supplier, part) sums, BOTH per-part aggregates derive from
    * those partials (never a second fact scan); the supplier key set
    * is |suppliers|-bounded and LEFT SEMI joins the supplier dim. */
  def excessSuppliers(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables(s, dir, "part")
      .where(col("p_name").startsWith(ExcessPartPrefix))
      .select("p_partkey")
    val sp = Tables(s, dir, "lineitem")
      .join(VectorSearch.broadcastIfSmall(parts),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(cents(col("l_quantity"))).as("sp_qty"))
    // both correlated per-part aggregates ride ONE window over the
    // pair relation (the rel_waiting_suppliers one-shuffle rewrite) —
    // a groupBy-then-self-join would aggregate the fact twice
    val w = Window.partitionBy(col("l_partkey"))
    val dominant = sp
      .withColumn("p_qty", sum(col("sp_qty")).over(w))
      .withColumn("n_supp", count(lit(1)).over(w))
      .where(col("sp_qty") * col("n_supp") > col("p_qty") * lit(2))
      .select("l_suppkey").distinct()
    Tables(s, dir, "supplier")
      .join(VectorSearch.broadcastIfSmall(dominant),
        col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "n_name")
      .orderBy("s_suppkey")
  }

  val ExcessPartPrefix = "large"

  // ------------------------------------------------------------------
  // O: grouping sets — ROLLUP and CUBE
  // ------------------------------------------------------------------

  def rollupStatus(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        unscaledDouble(sum(cents(col("o_totalprice"))), 2).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("total"))
      .orderBy("status", "priority")

  /** CUBE over a joined input. Expressed in SQL: the Dataset `cube()` API
    * on a join-derived frame trips DetectAmbiguousSelfJoin in Spark 4.1.2
    * (Expand re-exposes both sides' dataset-id tags); the SQL path plans
    * the identical Expand+Aggregate without the tagging. */
  def cubeSegmentNation(s: SparkSession, dir: String): DataFrame =
    sqlOver(s, "customer" -> Tables(s, dir, "customer"),
        "nation" -> Tables(s, dir, "nation")) { v =>
      s"""SELECT coalesce(c_mktsegment, 'ALL') AS segment,
         |  coalesce(n_name, 'ALL') AS nation,
         |  count(*) AS n_customers,
         |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
         |FROM ${v("customer")} AS customer_v
         |  JOIN ${v("nation")} AS nation_v ON c_nationkey = n_nationkey
         |GROUP BY CUBE(c_mktsegment, n_name)
         |ORDER BY segment, nation""".stripMargin
    }

  // ------------------------------------------------------------------
  // O: window functions — running totals, lag, row_number
  // ------------------------------------------------------------------

  def customerRunningOrders(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("order_date"), col("o_orderkey"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("order_date"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .withColumn("running_c", sum(cents(col("o_totalprice"))).over(wRun))
      .withColumn("running_total", unscaledDouble(col("running_c"), 2))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("gap_days",
        datediff(col("order_date"), lag(col("order_date"), 1).over(w)))
      .drop("running_c")
      .orderBy("o_custkey", "rn")
  }

  /** RUNNING DISTINCT COUNT over a window — an aggregate Spark refuses
    * natively (`COUNT(DISTINCT x) OVER (...)` is unsupported), written
    * the Spark-idiomatic way: `size(collect_set(x))` over the running
    * frame. ONE hash exchange for the whole query (the window's
    * partition key, CI-asserted); per-row state is the value set,
    * bounded here by the 5 order priorities — for high-cardinality
    * values use the two-window first-occurrence-flag idiom (a second
    * exchange) or the KMV sketch aggregate instead. DuckDB supports
    * the DISTINCT window natively, so the oracle pins the Spark idiom
    * against the real semantics. Here: for each customer in order-date
    * order, how many DISTINCT order priorities they have used so far
    * (the "breadth of behavior so far" engagement signal). */
  def runningDistinct(s: SparkSession, dir: String): DataFrame = {
    val wRun = Window.partitionBy(col("o_custkey"))
      .orderBy(col("order_date"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("order_date"),
        col("o_orderpriority"))
      .withColumn("n_distinct_priorities",
        size(collect_set(col("o_orderpriority")).over(wRun))
          .cast("long"))
      .orderBy("o_custkey", "order_date", "o_orderkey")
  }

  // ------------------------------------------------------------------
  // O: set operations — INTERSECT / EXCEPT / UNION ALL
  // ------------------------------------------------------------------

  def nationSetOps(s: SparkSession, dir: String): DataFrame = {
    val n = Tables(s, dir, "nation")
    val custN = Tables(s, dir, "customer")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select("n_name")
    val suppN = Tables(s, dir, "supplier")
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select("n_name")
    custN.intersect(suppN).withColumn("tag", lit("both"))
      .union(custN.except(suppN).withColumn("tag", lit("cust_only")))
      .union(suppN.except(custN).withColumn("tag", lit("supp_only")))
      .select("tag", "n_name")
      .orderBy("tag", "n_name")
  }

  // ------------------------------------------------------------------
  // O: scalar function library — strings, dates (all codegen'd built-ins)
  // ------------------------------------------------------------------

  def stringFuncs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        length(col("p_name")).as("name_len"),
        // split_part ('' when the field is missing) instead of
        // split().getItem (throws INVALID_ARRAY_INDEX under ANSI for a
        // one-word name) — and it matches DuckDB's split_part exactly
        split_part(col("p_name"), lit(" "), lit(1)).as("adjective"),
        split_part(col("p_name"), lit(" "), lit(2)).as("noun"),
        // NULLIF before the int cast: a digit-free brand regex-extracts
        // '' which ANSI CAST throws on (in BOTH engines)
        nullif(regexp_extract(col("p_brand"), "(\\d+)", 1), lit(""))
          .cast("int").as("brand_num"),
        concat_ws("/", col("p_type"), col("p_brand")).as("type_brand"),
        substring(col("p_name"), 1, 3).as("prefix3"),
        col("p_name").startsWith("red").as("is_red"),
        lpad(col("p_partkey").cast("string"), 8, "0").as("key_padded"))
      .orderBy("p_partkey")

  def dateFuncs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_orderdate").cast("date").as("order_date"),
        year(col("o_orderdate")).as("yr"),
        quarter(col("o_orderdate")).as("qtr"),
        month(col("o_orderdate")).as("mth"),
        dayofmonth(col("o_orderdate")).as("dom"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        last_day(col("o_orderdate")).as("month_end"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .orderBy("o_orderkey")

  // ------------------------------------------------------------------
  // O: range (non-equi band) join — broadcast nested loop on a tiny dim
  // ------------------------------------------------------------------

  def priceBandJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = Seq((0, 900.0, 920.0), (1, 920.0, 940.0), (2, 940.0, 960.0),
      (3, 960.0, 980.0), (4, 980.0, 1000.0)).toDF("band_id", "lo", "hi")
    Tables(s, dir, "part")
      .join(broadcast(bands),
        col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
      .groupBy("band_id", "lo", "hi")
      .agg(count(lit(1)).as("n_parts"),
        min(col("p_retailprice")).as("min_price"),
        max(col("p_retailprice")).as("max_price"),
        unscaledDouble(sum(cents(col("p_retailprice"))), 2).as("sum_price"))
      .orderBy("band_id")
  }

  /** Explicit GROUPING SETS (beyond rollup/cube): per-flag totals,
    * per-status totals, and the grand total in one pass (one Expand +
    * one aggregate — not three scans). SQL path, like [[cubeSegmentNation]]
    * (the Dataset API exposes only rollup/cube). */
  def groupingSets(s: SparkSession, dir: String): DataFrame =
    sqlOver(s, "lineitem" -> Tables(s, dir, "lineitem")) { v =>
      s"""SELECT coalesce(l_returnflag, 'ALL') AS flag,
         |  coalesce(l_linestatus, 'ALL') AS status,
         |  count(*) AS n_lines,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         |FROM ${v("lineitem")} AS lineitem_v
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         |ORDER BY flag, status""".stripMargin
    }

  /** Correlated scalar subqueries: customers whose balance exceeds their
    * nation's average. The predicate is cross-multiplied
    * (balance * n > sum) so both sides stay exact decimals — a
    * double average would be partial-aggregation-order-dependent and
    * could not hash-match the oracle. Catalyst decorrelates both
    * subqueries into one aggregate + join. */
  def aboveNationAverage(s: SparkSession, dir: String): DataFrame =
    sqlOver(s, "customer" -> Tables(s, dir, "customer"),
        "nation" -> Tables(s, dir, "nation")) { v =>
      s"""SELECT c_custkey, c_name, c_acctbal, n_name
         |FROM ${v("customer")} AS customer_v
         |  JOIN ${v("nation")} AS nation_v ON c_nationkey = n_nationkey
         |WHERE CAST(c_acctbal AS DECIMAL(12,2)) *
         |    (SELECT count(*) FROM ${v("customer")} c2
         |     WHERE c2.c_nationkey = customer_v.c_nationkey)
         |  > (SELECT SUM(CAST(c2.c_acctbal AS DECIMAL(12,2))) FROM ${v("customer")} c2
         |     WHERE c2.c_nationkey = customer_v.c_nationkey)
         |ORDER BY c_custkey""".stripMargin
    }

  /** RANGE-framed rolling window: per customer, the 30-day trailing
    * spend (range frame over a day-number order key — peers at the same
    * day all included, decimal sum order-independent), plus lead and
    * quartile over a row-ordered companion window. */
  def rolling30d(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("order_date"), col("o_totalprice"))
      .withColumn("day_nr", datediff(col("order_date"), lit("1995-01-01").cast("date")))
    val wRange = Window.partitionBy(col("o_custkey")).orderBy(col("day_nr"))
      .rangeBetween(-30, Window.currentRow)
    val wRow = Window.partitionBy(col("o_custkey"))
      .orderBy(col("day_nr"), col("o_orderkey"))
    o.withColumn("spend_c", sum(cents(col("o_totalprice"))).over(wRange))
      .select(col("o_custkey"), col("o_orderkey"), col("day_nr"),
        col("o_totalprice"),
        unscaledDouble(col("spend_c"), 2).as("spend_30d"),
        lead(col("o_totalprice"), 1).over(wRow).as("next_price"),
        ntile(4).over(wRow).as("quartile"))
      .orderBy("o_custkey", "day_nr", "o_orderkey")
  }

  /** Pivot: order counts as a status x priority matrix. Explicit value
    * list keeps the output schema static (a dynamic pivot would need a
    * driver-side distinct pass); plans as one conditional aggregate —
    * exactly what the oracle writes by hand. */
  def pivotStatus(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("F", "O", "P"))
      .orderBy("o_orderpriority")

  /** Unpivot (melt): the pricing summary's per-measure columns as
    * (group, measure, value) rows — the shape feature pipelines want. */
  def unpivotPricing(s: SparkSession, dir: String): DataFrame =
    pricingSummary(s, dir)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("sum_qty"), col("sum_base_price"), col("sum_disc_price"))
      .unpivot(
        Array(col("l_returnflag"), col("l_linestatus")),
        Array(col("sum_qty"), col("sum_base_price"), col("sum_disc_price")),
        "measure", "value")
      .orderBy("l_returnflag", "l_linestatus", "measure")

  // ------------------------------------------------------------------
  // O: distinct aggregation
  // ------------------------------------------------------------------

  /** Exact interpolated percentiles per group. Spark's `percentile`
    * (exact: sort + linear interpolation at p·(n-1)) and DuckDB's
    * `quantile_cont` share the formula bit-for-bit (verified on the
    * fixtures), so even quantiles hash-match. At scale prefer
    * `approx_percentile` (t-digest, mergeable) — kept out of the oracle
    * set because the sketch is engine-specific. */
  def percentiles(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(percentile(col("o_totalprice"), lit(0.5)).as("med"),
        percentile(col("o_totalprice"), lit(0.95)).as("p95"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  /** PARETO concentration audit — the revenue-skew report behind every
    * "whales" analysis AND the join-skew early warning (a key set
    * whose top decile owns most of the mass is the key set that needs
    * salting): per-customer revenue (decimal-exact), the p90 revenue
    * threshold, and the share of total revenue held by customers at
    * or above it. All money stays DECIMAL until the final double cast
    * (distributed double sums are order-dependent — banned); the only
    * float op on the aggregation path is the percentile threshold,
    * the engine-matched `percentile`/`quantile_cont` pair. The 1-row
    * stats relation broadcasts back over the per-customer relation —
    * nothing wider than customer-cardinality ever shuffles. */
  def pareto(s: SparkSession, dir: String): DataFrame =
    paretoOn(Tables(s, dir, "orders"))

  /** [[pareto]] over any (o_custkey, o_totalprice) frame — the spec
    * surface. The EMPTY-INPUT shape is part of the contract: the final
    * global aggregate returns exactly ONE row (n_customers/revenue
    * NULL, n_top 0) on an empty orders frame, and the oracle mirrors
    * it with the same global-aggregate-over-join shape rather than a
    * GROUP BY (which would return zero rows — the engine divergence
    * the dedup_funnel scalar-subquery discipline exists to prevent).
    * Pinned by RelationalSpec's empty-orders case. */
  def paretoOn(orders: DataFrame): DataFrame = {
    val rev = orders
      .groupBy("o_custkey")
      .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
      .withColumn("rev", unscaledDouble(col("rev_c"), 2))
    val stats = rev.agg(percentile(col("rev"), lit(0.9)).as("t"),
      count(lit(1)).as("n_customers"),
      sum(col("rev_c")).as("total_c"))
    rev.crossJoin(broadcast(stats))
      .where(col("rev") >= col("t"))
      .agg(first(col("n_customers")).as("n_customers"),
        count(lit(1)).as("n_top"),
        first(col("total_c")).as("total_c"),
        sum(col("rev_c")).as("top_c"))
      .select(col("n_customers"), col("n_top"),
        unscaledDouble(col("total_c"), 2).as("revenue_total"),
        unscaledDouble(col("top_c"), 2).as("revenue_top"),
        (unscaledDouble(col("top_c"), 2) / unscaledDouble(col("total_c"), 2))
          .as("top_share"))
  }

  /** One-pass approximate median via a fixed-grid mergeable histogram,
    * next to the exact percentile it approximates. The exact version
    * ([[percentiles]]) buffers and sorts every group member — at 100 TB
    * that is the expensive path; the histogram is a single partial+final
    * count aggregate (mergeable, bounded state: B longs per group) and
    * the median estimate is the midpoint of the first bucket whose
    * cumulative count reaches half. Grid: 64 × 9375 over [0, 600000)
    * (o_totalprice's domain — TPC-H caps ~530k at any SF). All-integer
    * bucketing and cumulative logic, so the oracle reproduces the
    * estimate exactly. */
  def histogramMedian(s: SparkSession, dir: String): DataFrame = {
    val width = 9375L
    val o = Tables(s, dir, "orders")
      .select(col("o_orderpriority"),
        least(lit(63L), floor(col("o_totalprice") / lit(width.toDouble))
          .cast("long")).as("bucket"))
    val counts = o.groupBy("o_orderpriority", "bucket")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("o_orderpriority"))
    counts
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("total", sum(col("n")).over(wAll))
      .where(col("cum") * 2 >= col("total"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_orderpriority")).orderBy(col("bucket"))))
      .where(col("rn") === 1)
      .select(col("o_orderpriority"), col("total").as("n_orders"),
        (col("bucket") * lit(width) + lit(width.toDouble / 2.0))
          .as("est_median"))
      .orderBy("o_orderpriority")
  }

  def distinctSuppliers(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_lines"))
      .orderBy("l_returnflag")

  // ------------------------------------------------------------------
  // Declared queries + DuckDB oracles
  // ------------------------------------------------------------------

  // ------------------------------------------------------------------
  // O: ranking-window function coverage — dense_rank / percent_rank /
  // cume_dist / first_value / last_value over a tie-heavy ordering
  // ------------------------------------------------------------------

  /** The rank-function family over a NON-unique order key (order date):
    * ties are what distinguish dense_rank from row_number and make
    * cume_dist/percent_rank step. first/last_value run over the full
    * frame on a tie-broken companion ordering (deterministic). */
  def windowRankFuncs(s: SparkSession, dir: String): DataFrame = {
    val byDate = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("order_date"))
    val full = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("order_date"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_orderdate").cast("date").as("order_date"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("order_date"),
        dense_rank().over(byDate).cast("long").as("day_rank"),
        percent_rank().over(byDate).as("pct_rank"),
        cume_dist().over(byDate).as("cume"),
        first_value(col("o_orderkey")).over(full).as("first_key"),
        last_value(col("o_orderkey")).over(full).as("last_key"))
      .orderBy("o_orderkey")
  }

  // ------------------------------------------------------------------
  // O: array / regexp scalar function library
  // ------------------------------------------------------------------

  /** Array + regexp scalar coverage over the documents table: split,
    * slice, join, contains, min/max, HOF filter, sort+distinct, regexp
    * count/replace/extract — every one a codegen'd builtin, evaluated in
    * a single scan-side projection. */
  def arrayFuncs(s: SparkSession, dir: String): DataFrame = {
    val ws = split(col("text"), " ")
    Tables(s, dir, "documents").select(
        col("doc_id"),
        size(ws).as("n_words"),
        array_join(slice(ws, 1, 3), "-").as("first3"),
        array_contains(ws, "the").as("has_the"),
        array_min(ws).as("min_word"),
        array_max(ws).as("max_word"),
        size(filter(ws, w => length(w) > 4)).as("n_long"),
        array_join(slice(array_sort(array_distinct(ws)), 1, 5), ",")
          .as("first5_alpha"),
        regexp_count(col("text"), lit("ing")).cast("long").as("n_ing"),
        length(regexp_replace(col("text"), "[aeiou]", "")).as("consonant_len"),
        regexp_extract(col("text"), "[0-9]+", 0).as("first_num"))
      .orderBy("doc_id")
  }

  /** Ordered string aggregation: each nation's top-3 customers by
    * balance as one CSV cell (collect_list is unordered by contract —
    * the deterministic form sorts the collected array before joining,
    * which is also what makes it oracle-able against DuckDB's
    * `string_agg(... ORDER BY)`). */
  def stringAgg(s: SparkSession, dir: String): DataFrame = {
    val n = Tables(s, dir, "nation")
    val w = Window.partitionBy(col("n_name"))
      .orderBy(money(col("c_acctbal")).desc, col("c_name"))
    Tables(s, dir, "customer")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .groupBy("n_name")
      .agg(array_join(array_sort(collect_list(col("c_name"))), ",")
          .as("top3_csv"),
        count(lit(1)).as("n"))
      .orderBy("n_name")
  }

  /** Map-typed scalar coverage: build word→position maps scan-side and
    * exercise lookup / keys / values / filter / aggregate-over-values.
    * The oracle computes the same VALUES from the underlying list
    * (DuckDB's MAP type has different null/ordering semantics — the
    * contract is value parity, not representation parity). */
  def mapFuncs(s: SparkSession, dir: String): DataFrame = {
    val ws5 = slice(array_distinct(split(col("text"), " ")), 1, 5)
    Tables(s, dir, "documents")
      .select(col("doc_id"), ws5.as("ks"))
      .withColumn("m", map_from_arrays(col("ks"),
        transform(col("ks"), (_, i) => i + 1)))
      .select(
        col("doc_id"),
        size(col("m")).as("map_size"),
        element_at(col("m"), "the").cast("long").as("pos_the"),
        array_join(map_keys(col("m")), ",").as("keys_csv"),
        aggregate(map_values(col("m")), lit(0L), (a, x) => a + x)
          .as("sum_pos"),
        size(map_filter(col("m"), (_, v) => v > 2)).as("n_after2"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------------
  // O: table profiling — per-column null / distinct counts
  // ------------------------------------------------------------------

  /** Column profile of the customer table (the data-quality scan every
    * ingest pipeline runs): one pass computes all per-column null and
    * distinct counts (Catalyst plans the multi-distinct aggregate via
    * one Expand — not one scan per column), then unpivots to long form. */
  def profileCustomer(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment",
      "c_acctbal")
    val aggs = cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"),
      countDistinct(col(c)).as(s"nd_$c")))
    val allAggs = count(lit(1)).as("n_rows") +: aggs
    val wide = Tables(s, dir, "customer")
      .agg(allAggs.head, allAggs.tail: _*)
    val stackArgs = cols.map(c => s"'$c', nulls_$c, nd_$c").mkString(", ")
    wide.selectExpr("n_rows",
        s"stack(${cols.length}, $stackArgs) AS (column_name, n_nulls, n_distinct)")
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"))
      .orderBy("column_name")
  }

  /** Native recursive CTE (Spark 4's `WITH RECURSIVE`): every supplier
    * walks its binary ancestor chain (suppkey halving — an implicit,
    * cycle-free hierarchy over the keys), accumulating depth and the
    * ancestor-key sum. Spark supports only UNION ALL recursion (a
    * cyclic reachability like the dedup oracle's UNION-distinct closure
    * diverges — that shape stays with the iterative DataFrame solvers,
    * `Dedup.minhashClustersStar`); an acyclic walk is exactly what the
    * feature covers, and the per-iteration frontier here shrinks
    * geometrically (the 100 TB posture: ≤ log₂(maxkey) rounds, each a
    * narrow self-union, no driver loop). */
  def recursiveChain(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "supplier").createOrReplaceTempView("supplier")
    s.sql(
      """WITH RECURSIVE up(s_suppkey, anc, depth, anc_sum) AS (
        |  SELECT s_suppkey, s_suppkey, 0, CAST(s_suppkey AS BIGINT)
        |  FROM supplier
        |  UNION ALL
        |  SELECT s_suppkey, anc DIV 2, depth + 1,
        |    anc_sum + CAST(anc DIV 2 AS BIGINT)
        |  FROM up WHERE anc > 1)
        |SELECT s_suppkey, CAST(max(depth) AS BIGINT) AS chain_len,
        |  max(anc_sum) AS anc_sum
        |FROM up GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin)
  }

  // ------------------------------------------------------------------
  // O: the remaining classic TPC-H query shapes (round 15) — each picked
  // for a PLAN shape the suite did not yet exercise, adapted to the
  // fixture's columns (no partsupp / commitdate / shipmode).
  // ------------------------------------------------------------------

  /** Date splitting [[shippingPriority]]'s "ordered before, shipped
    * after" halves — late in the fixture's range so the qualifying
    * order set is selective. */
  val ShipPrioCutoff = "1998-06-01"

  /** TPC-H Q3 shape ("shipping priority"): unshipped-revenue ranking of
    * a market segment's orders around a date split. Plan shape this
    * adds: BOTH fact scans arrive pre-filtered on pushed predicates
    * (orders by date, lineitem by the complementary date), the segment
    * slice of customer (1/|segments| — corpus-growing) joins through
    * the size gate, and the grouped revenue feeds a top-k — aggregate
    * THEN TakeOrdered, never a global sort. */
  def shippingPriority(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val cut = lit(ShipPrioCutoff).cast("timestamp")
    val cust = Tables(s, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
    Tables(s, dir, "lineitem").where(col("l_shipdate") > cut)
      .join(Tables(s, dir, "orders").where(col("o_orderdate") < cut),
        col("l_orderkey") === col("o_orderkey"))
      .join(VectorSearch.broadcastIfSmall(cust),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(unscaledDouble(
        sum(cents(col("l_extendedprice")) * rate1c(col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(k)
  }

  /** TPC-H Q6 shape ("forecasting revenue change"): the pure
    * scan-aggregate — every predicate (ship-year window, discount band,
    * quantity cap) is a pushable scan filter and the whole query is one
    * column-pruned pass with a 1-row answer; the shape that proves
    * filters REACH the parquet reader (no join to hide behind). The
    * discount band is a 2-decimal grid in the fixture, so the double
    * literals compare exactly in both engines. */
  def forecastRevenue(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.02, 0.06) && col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_lines"),
        unscaledDouble(sum(cents(col("l_extendedprice")) *
          cents(col("l_discount"))), 4).as("lost_revenue"))

  val VolumeNationA = "NATION_1"
  val VolumeNationB = "NATION_2"

  /** TPC-H Q7 shape ("volume shipping"): bilateral trade volume between
    * two nations by ship year — the DOUBLE dimension-role join (nation
    * enriches the customer side AND the supplier side of the same fact
    * row, under different aliases) plus a cross-side residual
    * (supp_nation ≠ cust_nation selects the two directed pairs). Both
    * enriched key sets are 2/25 nation slices of corpus-growing tables
    * → size gate, never a forced broadcast. */
  def volumeShipping(s: SparkSession, dir: String): DataFrame = {
    val n = Tables(s, dir, "nation")
      .where(col("n_name").isin(VolumeNationA, VolumeNationB))
    val cust = Tables(s, dir, "customer")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val supp = Tables(s, dir, "supplier")
      .join(broadcast(n.select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(VectorSearch.broadcastIfSmall(cust),
        col("o_custkey") === col("c_custkey"))
      .join(VectorSearch.broadcastIfSmall(supp),
        col("l_suppkey") === col("s_suppkey"))
      .where(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(unscaledDouble(
          sum(cents(col("l_extendedprice")) * rate1c(col("l_discount"))), 4)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** The p_name adjective selecting [[productProfit]]'s part slice
    * (the fixture's names are "adjective noun" pairs). */
  val ProfitPartWord = "red"

  /** TPC-H Q9 shape ("product type profit") adapted to the fixture's
    * columns: per (supplier nation, order year) margin over a
    * name-sliced part family, margin = discounted price − catalog cost
    * (p_retailprice·qty plays partsupp's ps_supplycost·qty — the
    * fixture has no partsupp). Plan shape this adds: a SUBTRACTION of
    * two decimal products aggregated exactly — each product is re-cast
    * to its true scale before the difference so the distributed sum
    * stays order-free and bitwise equal to the single-threaded oracle.
    * Four-table chain: part slice and supplier through the size gate,
    * nation force-broadcast, one fact shuffle for the orders join. */
  def productProfit(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables(s, dir, "part")
      .where(col("p_name").contains(ProfitPartWord))
      .select("p_partkey", "p_retailprice")
    val amount =
      cents(col("l_extendedprice")) * rate1c(col("l_discount")) -
        cents(col("p_retailprice")) * cents(col("l_quantity"))
    Tables(s, dir, "lineitem")
      .join(VectorSearch.broadcastIfSmall(parts),
        col("l_partkey") === col("p_partkey"))
      .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(VectorSearch.broadcastIfSmall(Tables(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
      .agg(unscaledDouble(sum(amount), 4).as("profit"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"), col("o_year").desc)
  }

  /** One quarter late in the order range — [[returnedItems]]' window. */
  val ReturnedQStart = "1998-01-01"
  val ReturnedQEnd = "1998-04-01"

  /** TPC-H Q10 shape ("returned item reporting"): customers ranked by
    * revenue they returned in a quarter. Plan shape this adds: a
    * grouped top-k whose GROUP KEY is wide (customer identity columns
    * ride the groupBy instead of a post-agg join-back) over two
    * pre-filtered fact scans; c_acctbal passes through untouched
    * (stored doubles compare/hash exactly). */
  def returnedItems(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables(s, dir, "lineitem").where(col("l_returnflag") === "R")
      .join(Tables(s, dir, "orders")
          .where(col("o_orderdate") >= lit(ReturnedQStart).cast("timestamp") &&
            col("o_orderdate") < lit(ReturnedQEnd).cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(unscaledDouble(
        sum(cents(col("l_extendedprice")) * rate1c(col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(k)

  /** TPC-H Q13 shape ("customer distribution"): the histogram of
    * per-customer order counts under a join-condition filter. Plan
    * shape this adds: a LEFT OUTER join whose extra predicate lives in
    * the JOIN CONDITION (not a WHERE — customers with only urgent
    * orders must survive with count 0), then a second aggregation OVER
    * the first (histogram of a grouped count). */
  def orderCountDistribution(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders"),
        col("c_custkey") === col("o_custkey") &&
          col("o_orderpriority") =!= "1-URGENT",
        "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** One month — [[promoEffect]]'s window. */
  val PromoMonthStart = "1997-03-01"
  val PromoMonthEnd = "1997-04-01"

  /** TPC-H Q14 shape ("promotion effect"): the share of one month's
    * revenue carried by PROMO-type parts. Plan shape this adds: a
    * conditional aggregate and its unconditional total in the SAME
    * grouped pass (never two scans), one guarded terminal division of
    * two identically-derived doubles (correctly rounded, engine-
    * agreeing), the month filter pushed to the fact scan. */
  def promoEffect(s: SparkSession, dir: String): DataFrame = {
    val rev = cents(col("l_extendedprice")) * rate1c(col("l_discount"))
    Tables(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit(PromoMonthStart).cast("timestamp") &&
        col("l_shipdate") < lit(PromoMonthEnd).cast("timestamp"))
      .join(VectorSearch.broadcastIfSmall(
          Tables(s, dir, "part").select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(count(lit(1)).as("n_lines"),
        unscaledDouble(
          coalesce(sum(when(col("p_type") === "PROMO", rev)), lit(0L)), 4)
          .as("promo_revenue"),
        unscaledDouble(sum(rev), 4).as("total_revenue"))
      .withColumn("promo_pct",
        when(col("total_revenue") > 0.0,
          col("promo_revenue") / col("total_revenue") * lit(100.0)))
  }

  /** One quarter — [[topSupplier]]'s revenue window. */
  val TopSuppStart = "1997-01-01"
  val TopSuppEnd = "1997-04-01"

  /** TPC-H Q15 shape ("top supplier"): the supplier(s) whose windowed
    * revenue equals the global maximum. Plan shape this adds: an
    * argmax against a GLOBAL aggregate of an aggregate — the 1-row max
    * broadcasts back over its own source relation and the hit test is
    * an exact equality of unscaled-long sums (a double-sum equality
    * would be partition-order roulette). Supplier joins through the
    * size gate; ties all surface (no arbitrary pick). */
  def topSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit(TopSuppStart).cast("timestamp") &&
        col("l_shipdate") < lit(TopSuppEnd).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(cents(col("l_extendedprice")) * rate1c(col("l_discount")))
        .as("total_rev_d"))
    rev.crossJoin(broadcast(rev.agg(max(col("total_rev_d")).as("max_rev"))))
      .where(col("total_rev_d") === col("max_rev")) // exact long-sum equality
      .join(VectorSearch.broadcastIfSmall(Tables(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        unscaledDouble(col("total_rev_d"), 4).as("total_rev"))
      .orderBy(col("s_suppkey"))
  }

  /** Brand excluded from [[partSupplierCounts]] (Q16's `<> 'Brand#45'`
    * analogue). */
  val PscExcludedBrand = "Brand#1"

  /** TPC-H Q16 shape ("parts/supplier relationship"): how many DISTINCT
    * suppliers ship each surviving (brand, type, size) part family,
    * excluding a brand, a type, and a denylisted supplier set (Q16's
    * "complaints" suppliers → negative-balance suppliers here; the
    * fixture has no partsupp, lineitem plays the part-supplier
    * relation). Plan shape this adds: COUNT(DISTINCT) over a join
    * composed with a NOT-IN-style LEFT ANTI against a derived key set
    * (both through the size gate). */
  def partSupplierCounts(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val badSupp = Tables(s, dir, "supplier")
      .where(col("s_acctbal") < 0.0).select(col("s_suppkey").as("bad_key"))
    val parts = Tables(s, dir, "part")
      .where(col("p_brand") =!= PscExcludedBrand && col("p_type") =!= "PROMO")
      .select("p_partkey", "p_brand", "p_type", "p_size")
    Tables(s, dir, "lineitem")
      .join(VectorSearch.broadcastIfSmall(parts),
        col("l_partkey") === col("p_partkey"))
      .join(VectorSearch.broadcastIfSmall(badSupp),
        col("l_suppkey") === col("bad_key"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
      .limit(k)
  }

  /** TPC-H Q11 shape ("important stock identification") adapted to the
    * fixture (no partsupp — lineitem revenue plays the stock value):
    * parts whose total revenue exceeds 1.5× the MEAN part value. Q11's
    * own fixed fraction must be re-tuned by hand at every scale factor
    * (its spec scales it by 1/SF); anchoring the threshold at the mean
    * makes it scale-FREE — the qualifying tail stays a tail at any
    * corpus size. Plan shape this adds: a grouped aggregate
    * HAVING-filtered against a global aggregate OF THE SAME relation —
    * the per-part sums re-aggregate into the 1-row (total, n_parts)
    * stats (never a second fact scan), and the threshold test is
    * division-free exact decimal/integer arithmetic
    * (value·n·2 > total·3), the [[salesOpportunity]] trick applied to
    * a grouped HAVING. */
  def importantParts(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val perPart = Tables(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(cents(col("l_extendedprice"))).as("value_d"))
    val stats = perPart.agg(sum(col("value_d")).as("total_d"),
      count(lit(1)).as("n_parts"))
    perPart.crossJoin(broadcast(stats)) // exactly one row by construction
      .where(col("value_d") * col("n_parts") * lit(2) >
        col("total_d") * lit(3))
      .select(col("l_partkey"), unscaledDouble(col("value_d"), 2).as("value"))
      .orderBy(col("value").desc, col("l_partkey"))
      .limit(k)
  }

  // ------------------------------------------------------------------
  // Z-ORDER SERVING SPLIT — the string+long multi-axis layout as a
  // declared observable under the driver's gate
  // ------------------------------------------------------------------

  /** Segment count for the z-ordered part table. */
  val ZOrderPartSegs = 8

  private val zorderTables =
    new FixtureTables[(String, Long, Long, Int)]("graft-part-zorder-")(_._1)

  def releaseCaches(): Unit = zorderTables.release()

  /** Memoized manifest table of part's (p_partkey, p_name), ingested
    * in [[ZOrderPartSegs]] KEY-ORDER slices — so the string axis
    * starts scattered (every slice spans the whole name space) — the
    * first 6 [[graft.sources.ManifestStore.zorderCompact]]ed on BOTH
    * axes (the string one through its order-preserving packed-prefix
    * proxy), the last 2 appended AFTERWARD and folded in by
    * [[graft.sources.ManifestStore.zorderMaintain]] — so the declared
    * probes exercise the full-compact AND the incremental-maintenance
    * layout in one table, the way a 100 TB deployment actually runs
    * (full OPTIMIZE once, tail maintenance per ingest). Same memo +
    * shutdown-hook lifecycle as [[Events.manifestEventsTable]];
    * released via [[releaseCaches]]. */
  private def zorderPartTable(s: SparkSession,
      dir: String): (String, Long, Long, Int) =
    zorderTables(s, dir) { path =>
      val part = Tables(s, dir, "part")
        .select(col("p_partkey"), col("p_name"))
      val r = part.agg(min("p_partkey"), max("p_partkey")).head
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val w = math.max(1L, (hi - lo) / ZOrderPartSegs)
      graft.sources.ManifestStore.setZoneMapColumns(s, path,
        Seq("p_name", "p_partkey"))
      def ingest(i: Int): Unit = {
        val sLo = lo + i * w
        val sHi = if (i == ZOrderPartSegs - 1) hi else sLo + w - 1
        if (sHi >= sLo) graft.sources.ManifestStore.store(
          part.where(col("p_partkey").between(sLo, sHi)), path, "part")
      }
      (0 until ZOrderPartSegs - 2).foreach(ingest)
      graft.sources.ManifestStore.zorderCompact(s, path, "part",
        Seq("p_name", "p_partkey"), ZOrderPartSegs - 2)
      (ZOrderPartSegs - 2 until ZOrderPartSegs).foreach(ingest)
      val maintained = graft.sources.ManifestStore.zorderMaintain(s, path,
        "part", Seq("p_name", "p_partkey"), 2)
      (path, lo, hi, maintained)
    }

  /** The Z-ORDER SERVING SPLIT as a declared face — the string+long
    * multi-axis layout ([[zorderPartTable]]) probed on EACH axis
    * alone, with the layout's effectiveness enforced in-query: each
    * probe's scanned-file count (the executed scan's own `numFiles`
    * metric) must come in UNDER the live segment count, or the query
    * fails loud — so the driver's oracle gate permanently guards not
    * just the answers (DuckDB recomputes both counts from the raw
    * parquet) but the pruning itself, exactly like the metadata faces
    * fail loud when sidecars stop proving answers. At 100 TB this is
    * a secondary-key lookup costing the segments the z-layout proves
    * relevant instead of the whole corpus: z-order is what makes BOTH
    * "name range" and "key band" selective on one copy of the data —
    * and the fixture's layout is full-compact PLUS incremental
    * maintenance ([[zorderPartTable]]), so the gate guards both paths.
    * The exact per-axis counts are layout, not data
    * (GraftSourceSpec pins them on a synthetic fixture); only
    * data-derived counts reach the oracle — EXCEPT the two
    * construction-deterministic maintenance observables
    * (`maint_tail`: tail segments the incremental pass re-clustered;
    * `segs_live`: live segments after compact + maintain), which the
    * oracle pins as the fixture's known layout
    * ([[ZOrderPartSegs]]-derived constants): the Spark side reports
    * what the maintain pass and the manifest ACTUALLY did, so a
    * maintenance regression (tail not folded in, compaction
    * fragmenting the base) breaks the hash under the driver's gate —
    * the cost claim "maintain touches the tail, not the corpus" made
    * observable the way `ev_range_count` exposes its serving split. */
  def zorderSplit(s: SparkSession, dir: String): DataFrame = {
    val (path, lo, hi, maintained) = zorderPartTable(s, dir)
    val w = math.max(1L, (hi - lo) / ZOrderPartSegs)
    def src = s.read.format("graft").option("path", path)
      .option("collection", "part").load()
    // the probes are FILTER-ONLY frames, which stay un-wrapped by AQE,
    // so the executed scan's own numFiles metric is directly
    // collectible — an aggregate probe would come back as an
    // AdaptiveSparkPlanExec LEAF hiding its stages' scans, silently
    // turning the prune require into `0 < total` (a dead guard); the
    // nonEmpty require below makes any future metric loss fail loud
    // instead of vacuously passing. Collecting the probe rows is fine
    // at any scale: this face reads a bounded dimension fixture, and
    // the probes are the selective ranges being graded.
    def probe(tag: String, pred: Column): (String, Long, Long) = {
      val df = src.where(pred)
      val n = df.collect().length.toLong
      val scans = df.queryExecution.executedPlan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
      }
      require(scans.nonEmpty,
        s"z-order $tag probe lost its scan metric (plan shape changed)")
      (tag, n, scans.map(_.metrics("numFiles").value).sum)
    }
    // files-vs-files: the unfiltered read's PLANNED file list is the
    // denominator, so a multi-file segment can never skew the compare.
    // inputFiles comes straight off the snapshot's file index — no job,
    // no rows materialized (the old `all` probe collect()ed the whole
    // unfiltered collection per execution just to discard it).
    val all = src.inputFiles.length.toLong
    require(all > 0, "z-order fixture planned zero files")
    val byName = probe("name_range",
      col("p_name") >= "b" && col("p_name") < "e")
    val byKey = probe("key_band",
      col("p_partkey").between(lo + 2 * w, lo + 4 * w))
    Seq(byName, byKey).foreach { case (tag, _, scanned) =>
      require(scanned > 0 && scanned < all,
        s"z-ordered $tag probe stopped pruning: scanned $scanned of " +
          s"$all files — the multi-axis layout regressed")
    }
    val live = graft.sources.ManifestStore
      .currentSegments(s, path, "part").fold(0L)(_.length.toLong)
    import s.implicits._
    Seq((byKey._1, byKey._2), ("maint_tail", maintained.toLong),
      (byName._1, byName._2), ("segs_live", live))
      .toDF("probe", "n_parts").orderBy("probe")
  }

  /** Lateness bound for [[latePriorityLines]] — ship more than 60 days
    * after the order. */
  val LateShipDays = 60

  /** TPC-H Q12 shape ("shipping modes and order priority") adapted to
    * the fixture (no l_shipmode — l_linestatus plays the mode axis):
    * for LATE lines, how many belong to critical-priority orders vs
    * not, per status. Plan shape this adds: the Q12 conditional
    * SPLIT-COUNT — one join, one grouped pass emitting both the
    * critical and non-critical counts as CASE-sums (never two
    * filtered scans), the lateness predicate a cross-side join
    * residual. */
  def latePriorityLines(s: SparkSession, dir: String): DataFrame = {
    val critical = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") +
            expr(s"INTERVAL $LateShipDays DAYS"))
      .groupBy(col("l_linestatus"))
      .agg(sum(when(critical, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(critical, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  /** TPC-H Q19 shape ("discounted revenue"): a DISJUNCTION of
    * per-clause conjunctions spanning BOTH join sides (brand+size from
    * part, quantity from lineitem). Plan shape this adds: OR-of-ANDs
    * predicate handling — Catalyst cannot split a cross-side OR per
    * side, so the per-side IMPLIED envelopes (the brand/size union on
    * the part scan, the quantity hull on the fact scan) are derived by
    * hand and pushed explicitly, with the exact OR as the post-join
    * residual. The envelope is what keeps the joined slice small at
    * 100×; the residual is what keeps it correct. */
  def disjunctiveRevenue(s: SparkSession, dir: String): DataFrame = {
    val clause = (brand: String, sizeHi: Int, qtyLo: Int, qtyHi: Int) =>
      col("p_brand") === brand && col("p_size").between(1, sizeHi) &&
        col("l_quantity").between(qtyLo, qtyHi)
    val partEnvelope = // per-side implication of the OR, pushed by hand
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 35))
    val parts = Tables(s, dir, "part").where(partEnvelope)
      .select("p_partkey", "p_brand", "p_size")
    Tables(s, dir, "lineitem")
      .where(col("l_quantity").between(1, 40)) // quantity hull of the OR
      .join(VectorSearch.broadcastIfSmall(parts),
        col("l_partkey") === col("p_partkey"))
      .where(clause("Brand#12", 15, 1, 21) || clause("Brand#23", 25, 10, 30) ||
        clause("Brand#34", 35, 20, 40))
      .agg(count(lit(1)).as("n_lines"),
        unscaledDouble(
          sum(cents(col("l_extendedprice")) * rate1c(col("l_discount"))), 4)
          .as("revenue"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef.sql("rel_recursive_chain",
      """WITH RECURSIVE up(s_suppkey, anc, depth, anc_sum) AS (
        |  SELECT s_suppkey, s_suppkey, 0, CAST(s_suppkey AS BIGINT)
        |  FROM supplier
        |  UNION ALL
        |  SELECT s_suppkey, anc // 2, depth + 1,
        |    anc_sum + CAST(anc // 2 AS BIGINT)
        |  FROM up WHERE anc > 1)
        |SELECT s_suppkey, CAST(max(depth) AS BIGINT) AS chain_len,
        |  max(anc_sum) AS anc_sum
        |FROM up GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin)(
      recursiveChain),

    QueryDef.sql("rel_window_rank_funcs",
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(dense_rank() OVER w AS BIGINT) AS day_rank,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  first_value(o_orderkey) OVER wf AS first_key,
        |  last_value(o_orderkey) OVER wf AS last_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |    ORDER BY CAST(o_orderdate AS DATE)),
        |  wf AS (PARTITION BY o_orderpriority
        |    ORDER BY CAST(o_orderdate AS DATE), o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin)(windowRankFuncs),

    QueryDef.sql("rel_array_funcs",
      """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(ws) AS INT) AS n_words,
        |  array_to_string(list_slice(ws, 1, 3), '-') AS first3,
        |  list_contains(ws, 'the') AS has_the,
        |  list_min(ws) AS min_word,
        |  list_max(ws) AS max_word,
        |  CAST(len(list_filter(ws, w -> length(w) > 4)) AS INT) AS n_long,
        |  array_to_string(list_slice(list_sort(list_distinct(ws)), 1, 5), ',')
        |    AS first5_alpha,
        |  CAST(len(regexp_extract_all(text, 'ing')) AS BIGINT) AS n_ing,
        |  CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS INT)
        |    AS consonant_len,
        |  regexp_extract(text, '[0-9]+') AS first_num
        |FROM w ORDER BY doc_id""".stripMargin)(arrayFuncs),

    QueryDef.sql("rel_string_agg",
      """WITH t AS (
        |  SELECT n_name, c_name,
        |    row_number() OVER (PARTITION BY n_name
        |      ORDER BY CAST(c_acctbal AS DECIMAL(12,2)) DESC, c_name) AS rn
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey)
        |SELECT n_name,
        |  string_agg(c_name, ',' ORDER BY c_name) AS top3_csv,
        |  count(*) AS n
        |FROM t WHERE rn <= 3
        |GROUP BY n_name ORDER BY n_name""".stripMargin)(stringAgg),

    QueryDef.sql("rel_map_funcs",
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |w AS (
        |  -- order-preserving distinct (list_distinct scrambles order):
        |  -- keep each element only at its first occurrence
        |  SELECT doc_id, list_slice(
        |    list_filter(ws, (x, i) -> list_position(ws, x) = i), 1, 5) AS ks
        |  FROM s)
        |SELECT doc_id,
        |  CAST(len(ks) AS INT) AS map_size,
        |  CAST(NULLIF(list_position(ks, 'the'), 0) AS BIGINT) AS pos_the,
        |  array_to_string(ks, ',') AS keys_csv,
        |  CAST(len(ks) * (len(ks) + 1) // 2 AS BIGINT) AS sum_pos,
        |  CAST(greatest(len(ks) - 2, 0) AS INT) AS n_after2
        |FROM w ORDER BY doc_id""".stripMargin)(mapFuncs),

    QueryDef.sql("rel_profile", {
      val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment",
        "c_acctbal")
      cols.map(c =>
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct FROM customer""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    })(profileCustomer),

    QueryDef.sql("rel_histogram_median",
      """WITH b AS (
        |  SELECT o_orderpriority,
        |    least(63, CAST(floor(o_totalprice / 9375.0E0) AS BIGINT)) AS bucket
        |  FROM orders),
        |c AS (SELECT o_orderpriority, bucket, count(*) AS n
        |  FROM b GROUP BY 1, 2),
        |cum AS (SELECT o_orderpriority, bucket, n,
        |  CAST(SUM(n) OVER (PARTITION BY o_orderpriority ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |  CAST(SUM(n) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS total
        |  FROM c)
        |SELECT o_orderpriority, total AS n_orders,
        |  bucket * 9375 + 4687.5E0 AS est_median
        |FROM cum
        |WHERE cum * 2 >= total
        |QUALIFY row_number() OVER (PARTITION BY o_orderpriority
        |  ORDER BY bucket) = 1
        |ORDER BY o_orderpriority""".stripMargin)(histogramMedian),

    QueryDef.sql("rel_pricing_summary",
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         |  ${sumMoneySql("l_extendedprice")} AS sum_base_price,
         |  $revenueSql AS sum_disc_price,
         |  CAST(SUM(CAST(${moneySql("l_extendedprice")}
         |    * CAST(1.0-l_discount AS DECIMAL(8,4))
         |    * CAST(1.0+l_tax AS DECIMAL(8,4)) AS DECIMAL(18,6))) AS DOUBLE)
         |    AS sum_charge,
         |  count(*) AS count_order,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
         |  ${sumMoneySql("l_extendedprice")} / count(*) AS avg_price
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2001-09-01'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin)(pricingSummary),

    QueryDef.sql("rel_revenue_by_nation",
      s"""SELECT n_name, $revenueSql AS revenue, count(*) AS n_items
         |FROM customer, orders, lineitem, nation, region
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = 'ASIA'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin)(revenueByNation),

    QueryDef.sql("rel_large_volume_customers",
      s"""WITH big AS (
         |  SELECT l_orderkey,
         |    CAST(SUM(CAST(l_quantity AS $decSql)) AS DOUBLE) AS sum_qty
         |  FROM lineitem GROUP BY l_orderkey
         |  HAVING SUM(CAST(l_quantity AS $decSql)) > $BigOrderQty)
         |SELECT c_name, c_custkey, o_orderkey, o_orderdate,
         |  ${moneySql("o_totalprice")}::DOUBLE AS o_totalprice, sum_qty
         |FROM orders, big, customer
         |WHERE o_orderkey = l_orderkey AND o_custkey = c_custkey
         |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
         |LIMIT 20""".stripMargin)(largeVolumeCustomers),

    QueryDef.sql("rel_market_share", {
      val rev =
        s"${moneySql("l_extendedprice")} * CAST(1.0-l_discount AS DECIMAL(8,4))"
      s"""WITH sup AS (
         |  SELECT s_suppkey, n_name FROM supplier, nation, region
         |  WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |    AND r_name = 'ASIA'),
         |g AS (
         |  SELECT year(o_orderdate) AS o_year,
         |    CAST(COALESCE(SUM(CASE WHEN n_name = 'CHINA' THEN $rev END),
         |      0) AS DOUBLE) AS china_rev,
         |    CAST(SUM($rev) AS DOUBLE) AS all_rev,
         |    count(*) AS n_items
         |  FROM lineitem, orders, sup
         |  WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
         |  GROUP BY 1)
         |SELECT o_year, china_rev, all_rev, n_items,
         |  CASE WHEN all_rev > 0.0E0 THEN china_rev / all_rev END
         |    AS mkt_share
         |FROM g ORDER BY o_year""".stripMargin
    })(marketShare),

    QueryDef.sql("rel_top_customers_by_segment",
      s"""WITH spend AS (
         |  SELECT c_mktsegment, c_custkey,
         |    ${sumMoneySql("o_totalprice")} AS total_spend,
         |    count(*) AS n_orders
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  GROUP BY c_mktsegment, c_custkey)
         |SELECT c_mktsegment, c_custkey, total_spend, n_orders,
         |  CAST(row_number() OVER (PARTITION BY c_mktsegment
         |    ORDER BY total_spend DESC, c_custkey) AS INT) AS rnk
         |FROM spend QUALIFY rnk <= 3
         |ORDER BY c_mktsegment, rnk""".stripMargin)(
      (s, dir) => topCustomersBySegment(s, dir)),

    QueryDef.sql("rel_lateral_top_suppliers",
      """SELECT n.n_name, t.s_name, t.s_acctbal
        |FROM nation n,
        |LATERAL (
        |  SELECT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
        |  FROM supplier s
        |  WHERE s.s_nationkey = n.n_nationkey
        |  ORDER BY s_acctbal DESC, s_name LIMIT 2) t
        |ORDER BY n.n_name, t.s_acctbal DESC, t.s_name""".stripMargin)(
      (s, dir) => lateralTopSuppliers(s, dir)),

    QueryDef.sql("rel_late_priorities",
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)(latePriorities),

    QueryDef.sql("rel_customers_without_orders",
      """SELECT n_name, count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)(customersWithoutOrders),

    QueryDef.sql("rel_waiting_suppliers",
      """WITH l AS (SELECT l_orderkey, l_suppkey,
        |    l_shipdate > o_orderdate + INTERVAL 90 DAY AS is_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |w AS (SELECT DISTINCT l1.l_suppkey, l1.l_orderkey
        |  FROM l l1
        |  WHERE l1.is_late
        |    AND EXISTS (SELECT 1 FROM l l2
        |      WHERE l2.l_orderkey = l1.l_orderkey
        |        AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM l l3
        |      WHERE l3.l_orderkey = l1.l_orderkey
        |        AND l3.l_suppkey <> l1.l_suppkey AND l3.is_late))
        |SELECT s_name, count(*) AS numwait
        |FROM w JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY numwait DESC, s_name
        |LIMIT 10""".stripMargin)((s, dir) => waitingSuppliers(s, dir)),

    QueryDef.sql("rel_sales_opportunity",
      s"""WITH pos AS (SELECT * FROM customer WHERE c_acctbal > 0.0E0),
         |st AS (SELECT count(*) AS n_pos,
         |  sum(${moneySql("c_acctbal")}) AS sum_pos FROM pos),
         |elig AS (SELECT p.* FROM pos p, st
         |  WHERE ${moneySql("p.c_acctbal")} * st.n_pos > st.sum_pos
         |    AND NOT EXISTS (SELECT 1 FROM orders o
         |      WHERE o.o_custkey = p.c_custkey
         |        AND o.o_orderdate >=
         |          TIMESTAMP '$SalesOppCutoff 00:00:00'))
         |SELECT n_name, count(*) AS n_customers,
         |  CAST(sum(${moneySql("c_acctbal")}) AS DOUBLE) AS total_acctbal
         |FROM elig JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin)(salesOpportunity),

    QueryDef.sql("rel_min_cost_supplier",
      s"""WITH lf AS (SELECT l_partkey, l_suppkey, l_extendedprice, p_name
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE p_size <= $MinCostMaxSize)
         |SELECT lf.l_partkey AS p_partkey, p_name, s_name, n_name,
         |  l_extendedprice AS min_price
         |FROM lf JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |WHERE l_extendedprice = (SELECT min(l2.l_extendedprice)
         |  FROM lineitem l2 WHERE l2.l_partkey = lf.l_partkey)
         |ORDER BY min_price, p_partkey, s_name
         |LIMIT 20""".stripMargin)((s, dir) => minCostSupplier(s, dir)),

    QueryDef.sql("rel_small_qty_revenue",
      s"""WITH lf AS (SELECT l_partkey, l_quantity, l_extendedprice
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE p_brand = '$SmallQtyBrand')
         |SELECT count(*) AS n_small,
         |  CAST(SUM(${moneySql("l_extendedprice")}) AS DOUBLE) / 7.0E0
         |    AS avg_yearly
         |FROM lf
         |WHERE CAST(l_quantity AS DECIMAL(12,2)) * 5 *
         |    (SELECT count(*) FROM lf l2
         |     WHERE l2.l_partkey = lf.l_partkey)
         |  < (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(12,2)))
         |     FROM lf l2 WHERE l2.l_partkey = lf.l_partkey)"""
        .stripMargin)(smallQtyRevenue),

    QueryDef.sql("rel_excess_suppliers",
      s"""SELECT s_suppkey, s_name, n_name
         |FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |WHERE s_suppkey IN (
         |  SELECT l.l_suppkey FROM lineitem l
         |  WHERE l.l_partkey IN (SELECT p_partkey FROM part
         |    WHERE p_name LIKE '$ExcessPartPrefix%')
         |  GROUP BY l.l_suppkey, l.l_partkey
         |  HAVING SUM(CAST(l.l_quantity AS DECIMAL(12,2))) *
         |    (SELECT count(DISTINCT l2.l_suppkey) FROM lineitem l2
         |     WHERE l2.l_partkey = l.l_partkey) >
         |    (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(12,2)))
         |     FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey) * 2)
         |ORDER BY s_suppkey""".stripMargin)(excessSuppliers),

    QueryDef.sql("rel_rollup_status",
      s"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
         |  coalesce(o_orderpriority, 'ALL') AS priority,
         |  count(*) AS n_orders, ${sumMoneySql("o_totalprice")} AS total
         |FROM orders
         |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         |ORDER BY status, priority""".stripMargin)(rollupStatus),

    QueryDef.sql("rel_cube_segment_nation",
      """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
        |  coalesce(n_name, 'ALL') AS nation,
        |  count(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY CUBE(c_mktsegment, n_name)
        |ORDER BY segment, nation""".stripMargin)(cubeSegmentNation),

    QueryDef.sql("rel_running_distinct",
      """SELECT o_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS order_date, o_orderpriority,
        |  CAST(count(DISTINCT o_orderpriority) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY CAST(o_orderdate AS DATE), o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS n_distinct_priorities
        |FROM orders
        |ORDER BY o_custkey, order_date, o_orderkey""".stripMargin) {
      (s, dir) => runningDistinct(s, dir)
    },

    QueryDef.sql("rel_customer_running_orders",
      s"""SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
         |  o_totalprice,
         |  CAST(row_number() OVER w AS INT) AS rn,
         |  CAST(SUM(${moneySql("o_totalprice")}) OVER
         |    (PARTITION BY o_custkey
         |     ORDER BY CAST(o_orderdate AS DATE), o_orderkey
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         |    AS running_total,
         |  lag(o_totalprice, 1) OVER w AS prev_price,
         |  CAST(date_diff('day', lag(CAST(o_orderdate AS DATE), 1) OVER w,
         |    CAST(o_orderdate AS DATE)) AS INT) AS gap_days
         |FROM orders
         |WINDOW w AS (PARTITION BY o_custkey
         |  ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
         |ORDER BY o_custkey, rn""".stripMargin)(customerRunningOrders),

    QueryDef.sql("rel_nation_setops",
      """WITH custN AS (SELECT n_name FROM customer
        |    JOIN nation ON c_nationkey = n_nationkey),
        |  suppN AS (SELECT n_name FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey)
        |SELECT 'both' AS tag, n_name
        |  FROM (SELECT * FROM custN INTERSECT SELECT * FROM suppN)
        |UNION ALL
        |SELECT 'cust_only' AS tag, n_name
        |  FROM (SELECT * FROM custN EXCEPT SELECT * FROM suppN)
        |UNION ALL
        |SELECT 'supp_only' AS tag, n_name
        |  FROM (SELECT * FROM suppN EXCEPT SELECT * FROM custN)
        |ORDER BY tag, n_name""".stripMargin)(nationSetOps),

    QueryDef.sql("rel_setops_all",
      """WITH custN AS (SELECT n_name FROM customer
        |    JOIN nation ON c_nationkey = n_nationkey),
        |  suppN AS (SELECT n_name FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey),
        |  u AS (
        |    SELECT 'both' AS tag, n_name
        |      FROM (SELECT * FROM custN INTERSECT ALL SELECT * FROM suppN)
        |    UNION ALL
        |    SELECT 'cust_extra' AS tag, n_name
        |      FROM (SELECT * FROM custN EXCEPT ALL SELECT * FROM suppN))
        |SELECT tag, n_name, count(*) AS n_copies
        |FROM u GROUP BY tag, n_name
        |ORDER BY tag, n_name""".stripMargin)(nationSetOpsAll),

    QueryDef.sql("rel_string_funcs",
      """SELECT p_partkey,
        |  upper(p_name) AS name_upper,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  split_part(p_name, ' ', 1) AS adjective,
        |  split_part(p_name, ' ', 2) AS noun,
        |  CAST(NULLIF(regexp_extract(p_brand, '(\d+)', 1), '') AS INT) AS brand_num,
        |  concat_ws('/', p_type, p_brand) AS type_brand,
        |  substring(p_name, 1, 3) AS prefix3,
        |  starts_with(p_name, 'red') AS is_red,
        |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded
        |FROM part ORDER BY p_partkey""".stripMargin)(stringFuncs),

    QueryDef.sql("rel_date_funcs",
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(quarter(o_orderdate) AS INT) AS qtr,
        |  CAST(month(o_orderdate) AS INT) AS mth,
        |  CAST(day(o_orderdate) AS INT) AS dom,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  strftime(o_orderdate, '%Y-%m') AS ym
        |FROM orders ORDER BY o_orderkey""".stripMargin)(dateFuncs),

    QueryDef.sql("rel_price_band_join",
      """SELECT band_id, lo, hi, count(*) AS n_parts,
        |  min(p_retailprice) AS min_price, max(p_retailprice) AS max_price,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM part JOIN (SELECT band_id, CAST(lo AS DOUBLE) AS lo,
        |    CAST(hi AS DOUBLE) AS hi
        |  FROM (VALUES (0, 900.0, 920.0), (1, 920.0, 940.0),
        |    (2, 940.0, 960.0), (3, 960.0, 980.0), (4, 980.0, 1000.0))
        |    v(band_id, lo, hi)) b
        |  ON p_retailprice >= lo AND p_retailprice < hi
        |GROUP BY band_id, lo, hi
        |ORDER BY band_id""".stripMargin)(priceBandJoin),

    QueryDef.sql("rel_grouping_sets",
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  count(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY flag, status""".stripMargin)(groupingSets),

    QueryDef.sql("rel_above_nation_avg",
      """SELECT c_custkey, c_name, c_acctbal, n_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE CAST(c_acctbal AS DECIMAL(12,2)) *
        |    (SELECT count(*) FROM customer c2
        |     WHERE c2.c_nationkey = customer.c_nationkey)
        |  > (SELECT SUM(CAST(c2.c_acctbal AS DECIMAL(12,2))) FROM customer c2
        |     WHERE c2.c_nationkey = customer.c_nationkey)
        |ORDER BY c_custkey""".stripMargin)(aboveNationAverage),

    QueryDef.sql("rel_rolling_30d",
      s"""SELECT o_custkey, o_orderkey,
         |  CAST(date_diff('day', DATE '1995-01-01',
         |    CAST(o_orderdate AS DATE)) AS INT) AS day_nr,
         |  o_totalprice,
         |  CAST(SUM(${moneySql("o_totalprice")}) OVER (
         |    PARTITION BY o_custkey
         |    ORDER BY CAST(date_diff('day', DATE '1995-01-01',
         |      CAST(o_orderdate AS DATE)) AS INT)
         |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)
         |    AS spend_30d,
         |  lead(o_totalprice, 1) OVER w AS next_price,
         |  CAST(ntile(4) OVER w AS INT) AS quartile
         |FROM orders
         |WINDOW w AS (PARTITION BY o_custkey
         |  ORDER BY CAST(date_diff('day', DATE '1995-01-01',
         |    CAST(o_orderdate AS DATE)) AS INT), o_orderkey)
         |ORDER BY o_custkey, day_nr, o_orderkey""".stripMargin)(rolling30d),

    QueryDef.sql("rel_pivot_status",
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)(pivotStatus),

    QueryDef.sql("rel_unpivot_pricing",
      s"""WITH ps AS (
         |  SELECT l_returnflag, l_linestatus,
         |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         |    ${sumMoneySql("l_extendedprice")} AS sum_base_price,
         |    $revenueSql AS sum_disc_price
         |  FROM lineitem
         |  WHERE l_shipdate <= TIMESTAMP '2001-09-01'
         |  GROUP BY l_returnflag, l_linestatus)
         |UNPIVOT ps
         |ON sum_qty, sum_base_price, sum_disc_price
         |INTO NAME measure VALUE value
         |ORDER BY l_returnflag, l_linestatus, measure""".stripMargin)(
      unpivotPricing),

    QueryDef.sql("rel_percentiles",
      """SELECT o_orderpriority,
        |  quantile_cont(o_totalprice, 0.5) AS med,
        |  quantile_cont(o_totalprice, 0.95) AS p95,
        |  count(*) AS n_orders
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)(percentiles),

    QueryDef.sql("rel_pareto",
      // the final SELECT mirrors the Spark plan's SHAPE (one global
      // aggregate over the filtered cross join, st values via first()),
      // not a GROUP BY over st's columns: grouped, an EMPTY orders
      // table would return zero rows while Spark's global agg returns
      // one — the dedup_funnel empty-input discipline
      """WITH rev AS (
        |  SELECT o_custkey,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
        |  FROM orders GROUP BY 1),
        |r2 AS (SELECT o_custkey, rev_dec,
        |  CAST(rev_dec AS DOUBLE) AS rev FROM rev),
        |st AS (SELECT quantile_cont(rev, 0.9) AS t,
        |  count(*) AS n_customers, SUM(rev_dec) AS total_dec FROM r2),
        |top AS (SELECT first(st.n_customers) AS n_customers,
        |  count(*) AS n_top, first(st.total_dec) AS total_dec,
        |  SUM(r2.rev_dec) AS top_dec
        |FROM r2, st WHERE r2.rev >= st.t)
        |SELECT n_customers, n_top,
        |  CAST(total_dec AS DOUBLE) AS revenue_total,
        |  CAST(top_dec AS DOUBLE) AS revenue_top,
        |  CAST(top_dec AS DOUBLE) /
        |    CAST(total_dec AS DOUBLE) AS top_share
        |FROM top""".stripMargin)(pareto),

    QueryDef.sql("rel_null_ordering",
      // engines DISAGREE on default null placement (Spark: NULLS FIRST
      // asc; DuckDB: NULLS LAST) — explicit placement on any nullable
      // sort key is mandatory for cross-engine determinism
      """SELECT o_custkey, o_orderkey, lag(o_totalprice, 1) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev_price
        |FROM orders
        |ORDER BY prev_price ASC NULLS FIRST, o_orderkey
        |LIMIT 100""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").cast("date"), col("o_orderkey"))
      Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"))
        .orderBy(col("prev_price").asc_nulls_first, col("o_orderkey"))
        .limit(100)
    },

    QueryDef.sql("rel_page_two",
      // keyset-free pagination (ORDER BY + LIMIT/OFFSET). Fine for UI
      // pages; at scale prefer keyset pagination (WHERE key > last) —
      // OFFSET still scans+discards the skipped rows.
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 20 OFFSET 40""".stripMargin) { (s, dir) =>
      Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .offset(40).limit(20)
    },

    QueryDef.sql("rel_distinct_suppliers",
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS n_suppliers,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(*) AS n_lines
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)(distinctSuppliers),

    QueryDef.sql("rel_shipping_priority",
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |  $revenueSql AS revenue
         |FROM customer, orders, lineitem
         |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
         |  AND l_orderkey = o_orderkey
         |  AND o_orderdate < TIMESTAMP '$ShipPrioCutoff'
         |  AND l_shipdate > TIMESTAMP '$ShipPrioCutoff'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin)((s, dir) => shippingPriority(s, dir)),

    QueryDef.sql("rel_forecast_revenue",
      s"""SELECT count(*) AS n_lines,
         |  CAST(SUM(CAST(${moneySql("l_extendedprice")}
         |    * CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(18,6)))
         |    AS DOUBLE) AS lost_revenue
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-01-01'
         |  AND l_discount BETWEEN 0.02E0 AND 0.06E0
         |  AND l_quantity < 24""".stripMargin)(forecastRevenue),

    QueryDef.sql("rel_volume_shipping",
      s"""SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
         |  year(l_shipdate) AS l_year, $revenueSql AS revenue,
         |  count(*) AS n_items
         |FROM lineitem, orders, customer, supplier, nation n1, nation n2
         |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
         |  AND l_suppkey = s_suppkey
         |  AND c_nationkey = n1.n_nationkey AND s_nationkey = n2.n_nationkey
         |  AND ((n1.n_name = '$VolumeNationA' AND n2.n_name = '$VolumeNationB')
         |    OR (n1.n_name = '$VolumeNationB' AND n2.n_name = '$VolumeNationA'))
         |GROUP BY 1, 2, 3
         |ORDER BY 1, 2, 3""".stripMargin)(volumeShipping),

    QueryDef.sql("rel_product_profit",
      s"""SELECT n_name, year(o_orderdate) AS o_year,
         |  CAST(SUM(
         |    CAST(${moneySql("l_extendedprice")}
         |      * CAST(1.0-l_discount AS DECIMAL(8,4)) AS DECIMAL(18,6))
         |    - CAST(${moneySql("p_retailprice")}
         |      * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(18,6))
         |  ) AS DOUBLE) AS profit,
         |  count(*) AS n_items
         |FROM lineitem, part, orders, supplier, nation
         |WHERE l_partkey = p_partkey AND l_orderkey = o_orderkey
         |  AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
         |  AND p_name LIKE '%$ProfitPartWord%'
         |GROUP BY 1, 2
         |ORDER BY n_name, o_year DESC""".stripMargin)(productProfit),

    QueryDef.sql("rel_returned_items",
      s"""SELECT c_custkey, c_name, c_acctbal, n_name, $revenueSql AS revenue
         |FROM lineitem, orders, customer, nation
         |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
         |  AND c_nationkey = n_nationkey AND l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '$ReturnedQStart'
         |  AND o_orderdate < TIMESTAMP '$ReturnedQEnd'
         |GROUP BY c_custkey, c_name, c_acctbal, n_name
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin)((s, dir) => returnedItems(s, dir)),

    QueryDef.sql("rel_order_count_distribution",
      """SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)(
      orderCountDistribution),

    QueryDef.sql("rel_promo_effect", {
      val rev =
        s"${moneySql("l_extendedprice")} * CAST(1.0-l_discount AS DECIMAL(8,4))"
      s"""WITH g AS (
         |  SELECT count(*) AS n_lines,
         |    CAST(COALESCE(SUM(CASE WHEN p_type = 'PROMO' THEN $rev END), 0)
         |      AS DOUBLE) AS promo_revenue,
         |    CAST(SUM($rev) AS DOUBLE) AS total_revenue
         |  FROM lineitem, part
         |  WHERE l_partkey = p_partkey
         |    AND l_shipdate >= TIMESTAMP '$PromoMonthStart'
         |    AND l_shipdate < TIMESTAMP '$PromoMonthEnd')
         |SELECT n_lines, promo_revenue, total_revenue,
         |  CASE WHEN total_revenue > 0.0E0
         |    THEN promo_revenue / total_revenue * 100.0E0 END AS promo_pct
         |FROM g""".stripMargin
    })(promoEffect),

    QueryDef.sql("rel_top_supplier",
      s"""WITH r AS (
         |  SELECT l_suppkey, SUM(${moneySql("l_extendedprice")}
         |    * CAST(1.0-l_discount AS DECIMAL(8,4))) AS total_rev_d
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '$TopSuppStart'
         |    AND l_shipdate < TIMESTAMP '$TopSuppEnd'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, CAST(total_rev_d AS DOUBLE) AS total_rev
         |FROM r JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_rev_d = (SELECT max(total_rev_d) FROM r)
         |ORDER BY s_suppkey""".stripMargin)(topSupplier),

    QueryDef.sql("rel_part_supplier_counts",
      s"""SELECT p_brand, p_type, p_size,
         |  count(DISTINCT l_suppkey) AS supplier_cnt
         |FROM lineitem, part
         |WHERE l_partkey = p_partkey
         |  AND p_brand <> '$PscExcludedBrand' AND p_type <> 'PROMO'
         |  AND l_suppkey NOT IN (
         |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0E0)
         |GROUP BY p_brand, p_type, p_size
         |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
         |LIMIT 20""".stripMargin)((s, dir) => partSupplierCounts(s, dir)),

    QueryDef.sql("rel_important_parts",
      s"""WITH pp AS (SELECT l_partkey,
         |    SUM(${moneySql("l_extendedprice")}) AS value_d
         |  FROM lineitem GROUP BY l_partkey),
         |t AS (SELECT SUM(value_d) AS total_d, count(*) AS n_parts FROM pp)
         |SELECT l_partkey, CAST(value_d AS DOUBLE) AS value
         |FROM pp, t
         |WHERE value_d * n_parts * 2 > total_d * 3
         |ORDER BY value DESC, l_partkey
         |LIMIT 20""".stripMargin)((s, dir) => importantParts(s, dir)),

    QueryDef.sql("rel_late_priority_lines",
      s"""SELECT l_linestatus,
         |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  AND l_shipdate > o_orderdate + INTERVAL $LateShipDays DAY
         |GROUP BY l_linestatus
         |ORDER BY l_linestatus""".stripMargin)(latePriorityLines),

    QueryDef.sql("rel_disjunctive_revenue",
      s"""SELECT count(*) AS n_lines, $revenueSql AS revenue
         |FROM lineitem, part
         |WHERE l_partkey = p_partkey AND (
         |  (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
         |    AND l_quantity BETWEEN 1 AND 21)
         |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
         |    AND l_quantity BETWEEN 10 AND 30)
         |  OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
         |    AND l_quantity BETWEEN 20 AND 40))""".stripMargin)(
      disjunctiveRevenue),

    // maint_tail / segs_live are the fixture's construction-determined
    // layout (2 tail segments folded in by the incremental maintain;
    // 6 compacted + 2 maintained live): the oracle pins them as
    // constants, the Spark side reports what the maintain pass and the
    // manifest actually did — a maintenance regression breaks the hash
    QueryDef.sql("rel_zorder_split",
      s"""WITH b AS (
         |  SELECT min(p_partkey) AS lo,
         |    greatest((max(p_partkey) - min(p_partkey)) // $ZOrderPartSegs,
         |      1) AS w
         |  FROM part)
         |SELECT probe, n_parts FROM (
         |  SELECT 'key_band' AS probe, CAST(count(*) AS BIGINT) AS n_parts
         |  FROM part, b
         |  WHERE p_partkey BETWEEN b.lo + 2 * b.w AND b.lo + 4 * b.w
         |  UNION ALL
         |  SELECT 'name_range', CAST(count(*) AS BIGINT)
         |  FROM part WHERE p_name >= 'b' AND p_name < 'e'
         |  UNION ALL
         |  SELECT 'maint_tail', CAST(2 AS BIGINT)
         |  UNION ALL
         |  SELECT 'segs_live', CAST($ZOrderPartSegs AS BIGINT))
         |ORDER BY probe""".stripMargin)((s, dir) => zorderSplit(s, dir))
  )
}
