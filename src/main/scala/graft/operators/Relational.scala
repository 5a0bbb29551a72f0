package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Tables.table

/** Relational operator surface (SURVEY.md §2.5).
  *
  * The reference has only filter/sort/union/projection
  * (`/root/reference/triton/store_reader.go:54-111`); joins, aggregations,
  * windows, set ops and grouping sets are the engine's extension surface,
  * expressed purely through the DataFrame API so Catalyst plans them
  * (broadcast vs shuffle join, partial aggregation, AQE skew handling).
  *
  * Determinism discipline (DuckDB-oracle hash match): money doubles are cast
  * to DECIMAL before any arithmetic so sums are exact; outputs are only
  * BIGINT / DOUBLE / STRING / BOOLEAN; integer sums on the oracle side are
  * cast back to BIGINT (DuckDB widens to HUGEINT).
  */
object Relational {

  private def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Q1-style pricing summary: single shuffle, partial aggregation map-side.
    * At 100 TB this is the canonical "wide scan + low-cardinality groupBy" —
    * 6 groups, so partial agg reduces each task's output to a handful of
    * rows before the exchange.
    */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum(dec($"l_quantity")).cast("double").as("sum_qty"),
        sum(dec($"l_extendedprice")).cast("double").as("sum_base_price"),
        sum(dec($"l_extendedprice") * (lit(1).cast(DecimalType(12, 2)) - dec($"l_discount"))).cast("double").as("sum_disc_price"),
        (sum(dec($"l_quantity")).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(dec($"l_extendedprice")).cast("double") / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Star-schema join: customer ⋈ nation ⋈ region with both dimension sides
    * explicitly broadcast — zero shuffle for the joins, one for the agg.
    */
  def customerByRegion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val customer = table(s, dir, "customer")
    val nation = broadcast(table(s, dir, "nation"))
    val region = broadcast(table(s, dir, "region"))
    customer
      .join(nation, $"c_nationkey" === $"n_nationkey")
      .join(region, $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name")
      .agg(
        count(lit(1)).as("n_customers"),
        sum(dec($"c_acctbal")).cast("double").as("sum_acctbal"))
      .orderBy($"r_name")
  }

  /** Fact-fact join: orders ⋈ lineitem on orderkey. Both sides large → a
    * shuffle. Filters are applied before the join so they push into the
    * parquet scan.
    *
    * Join strategy is pinned to SHUFFLED-HASH with the build on the
    * smaller (filtered-orders) side: the Catalyst default (sort-merge)
    * sorted both sides and spilled 129-617 MB at sf10 ("known since
    * round 6"); measured at sf10: SMJ 3.9-7.2 s / 129 MB spill vs SHJ
    * 3.5-3.9 s / ZERO spill on identical output (bucketed tables also
    * measured: zero shuffle but a 11 s one-time write + residual sort —
    * right only when the key is reused across many queries). The hash
    * build is per-partition orders rows — the side a deployment sizes
    * shuffle partitions for; hinting the lineitem side instead OOMs the
    * hashed relation (measured). Numbers: BENCH_NOTES "q03 join-strategy
    * probe".
    */
  def revenueByPriority(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = table(s, dir, "orders").where($"o_orderstatus" =!= "F")
    val lineitem = table(s, dir, "lineitem").where($"l_discount" > 0.0)
    orders.hint("shuffle_hash").join(lineitem, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(
        sum(dec($"l_extendedprice") * (lit(1).cast(DecimalType(12, 2)) - dec($"l_discount"))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"o_orderpriority")
  }

  /** Global top-k: orderBy+limit plans as TakeOrderedAndProject — per-
    * partition heap + driver merge, no full sort, no shuffle of the data.
    */
  def topOrders(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import s.implicits._
    table(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(k)
  }

  /** Per-group top-k via ranking window; one shuffle on the partition key.
    * Tie-broken on the unique order key so results are deterministic.
    */
  def topOrdersPerCustomer(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    table(s, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .where($"rk" <= k)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rk".cast("long").as("rk"))
  }

  /** Left-semi join (EXISTS): customers that have at least one 'O' order,
    * aggregated per market segment. Semi-join keeps only the probe side —
    * no row multiplication, broadcastable when the filtered build side is
    * small.
    */
  def activeCustomersBySegment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val customer = table(s, dir, "customer")
    val open = table(s, dir, "orders").where($"o_orderstatus" === "O").select($"o_custkey")
    customer.join(open, $"c_custkey" === $"o_custkey", "left_semi")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"c_mktsegment")
  }

  /** Left-anti join (NOT EXISTS): customers with no big-ticket order, per
    * nation. The filter shrinks the build side before the anti-join.
    */
  def idleCustomersByNation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val customer = table(s, dir, "customer")
    val nation = broadcast(table(s, dir, "nation"))
    val ordered = table(s, dir, "orders")
      .where($"o_totalprice" > 400000.0).select($"o_custkey")
    customer.join(ordered, $"c_custkey" === $"o_custkey", "left_anti")
      .join(nation, $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_idle"))
      .orderBy($"n_name")
  }

  /** Grouping sets via ROLLUP (region, nation): totals at every level in one
    * pass (Expand + single aggregation).
    */
  def customerRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val customer = table(s, dir, "customer")
    val nation = broadcast(table(s, dir, "nation"))
    val region = broadcast(table(s, dir, "region"))
    customer
      .join(nation, $"c_nationkey" === $"n_nationkey")
      .join(region, $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
  }

  /** Set ops beyond union: suppliers and customers sharing a nation —
    * intersect/except as distinct set semantics over projected keys.
    */
  def nationPresence(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val custNations = table(s, dir, "customer").select($"c_nationkey".cast("long").as("nationkey"))
    val suppNations = table(s, dir, "supplier").select($"s_nationkey".cast("long").as("nationkey"))
    val both = custNations.intersect(suppNations).withColumn("presence", lit("both"))
    val custOnly = custNations.except(suppNations).withColumn("presence", lit("customer_only"))
    both.unionByName(custOnly).orderBy($"presence", $"nationkey")
  }

  /** Referential-integrity audit (q90): every foreign-key edge of the
    * warehouse schema scored as (child rows, orphan rows) — the
    * data-quality gate a pipeline runs before its joins are trusted,
    * because an inner join silently DROPS orphaned children and an
    * audit is the only place that loss becomes a number. The
    * events.user_id → customer edge is intentionally included even
    * though the synthetic feed violates it: a non-zero orphan count on
    * a soft edge is the informative outcome, not an error.
    *
    * Shape: one left-anti join per edge against the DISTINCT parent
    * keys (parent key sets are dimension-sized or collapse to the
    * distinct set before the join, so AQE broadcasts them); counts
    * combine map-side. Output is one row per schema edge at any SF.
    *
    * The per-edge shape survived a measured challenge (round 10,
    * at sf10): the "lineitem is scanned once per FK edge"
    * criticism is ILLUSORY under columnar storage — each edge's scan
    * prunes to a DIFFERENT single key column, so three 1-column scans
    * read the same bytes as one 3-column scan. The fused alternatives
    * measured strictly worse: 3 sequential left joins over the wide
    * stream = 906 MB sort spill (SMJ) or 2.0 GB shuffle (SHJ hint) vs
    * per-edge's 203 MB shuffle (sorted key runs compress ~4x better
    * than wide rows); an explode-to-(edge,key) single-anti-join variant
    * spilled 604 MB in partial aggregation. Per-edge's own 183 MB
    * anti-join sort spill can be traded away with a shuffle_hash hint
    * (0 spill, but 818 MB shuffle) — on a real cluster network bytes
    * dominate local spill, so the unhinted form stays. Full numbers in
    * BENCH_NOTES "q90 fused-scan probe".
    */
  /** Correlated-subquery surface (q101): orders priced above 1.5x their
    * own customer's average, summarized per priority — the "whale order"
    * screen written the way an analyst writes it, as a correlated scalar
    * subquery through `spark.sql`. The engine contract being exercised is
    * DECORRELATION: Catalyst rewrites the per-row subquery into one
    * aggregate + join (PlanSpec asserts the optimized plan carries no
    * subquery expression), so at 100 TB this runs as two scans + one
    * shuffle, never N executions of an inner query.
    *
    * Determinism: the 1.5x-average comparison is done in integer cents —
    * `price_cents * 2 * cnt > 3 * sum_cents` — because avg() is a DOUBLE
    * whose summation order differs between engines; a boundary row must
    * not flip on an ULP.
    */
  def aboveCustomerAvgOrders(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "orders").createOrReplaceTempView("graft_q101_orders")
    s.sql(
      """SELECT o.o_orderpriority,
        |  count(*) AS n_big,
        |  CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_big_cents
        |FROM graft_q101_orders o
        |WHERE CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 2 *
        |      (SELECT count(*) FROM graft_q101_orders o2 WHERE o2.o_custkey = o.o_custkey)
        |    > 3 * (SELECT sum(CAST(CAST(o2.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |           FROM graft_q101_orders o2 WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY o.o_orderpriority
        |ORDER BY o.o_orderpriority""".stripMargin)
  }

  /** Equi-width histogram (q105): 16 fixed-width bins over order value —
    * the distribution profile every ingest audit prints. Two passes by
    * design: a 1-row global (min, max) aggregate (map-side combine, bytes
    * of output at any SF) broadcast back via crossJoin, then one scan
    * binning rows with pure integer arithmetic — `(cents - mn) * 16 div
    * (mx - mn + 1)` is exact in both engines, where a double-width bin
    * edge would put boundary rows in different bins per engine. Output is
    * 16 rows at any SF.
    */
  def orderValueHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = (dec($"o_totalprice") * 100).cast("long")
    val orders = table(s, dir, "orders").select(cents.as("cents"))
    val bounds = orders.agg(min($"cents").as("mn"), max($"cents").as("mx"))
    orders.crossJoin(broadcast(bounds))
      .select(least(expr("(cents - mn) * 16 div (mx - mn + 1)"), lit(15L)).as("bin"),
        $"cents", $"mn", $"mx")
      .groupBy($"bin")
      .agg(
        count(lit(1)).as("n_orders"),
        sum($"cents").as("sum_cents"),
        (first($"mn") + $"bin" * (first($"mx") - first($"mn") + 1) / lit(16.0)).as("bin_lo"))
      .select($"bin", graft.Tables.round6($"bin_lo").as("bin_lo"), $"n_orders", $"sum_cents")
      .orderBy($"bin")
  }

  /** CDC merge apply (q109): a deterministic change feed (derived from the
    * base table itself: orderkey mod 10 = 3 → UPDATE status/price, 7 →
    * DELETE, 1 → INSERT under a shifted key) applied with MERGE semantics
    * — the upsert every warehouse ingest runs. Spark 4's MERGE INTO needs
    * a v2 catalog table, so the engine expresses the same semantics as
    * the join form a MERGE plans to anyway: changes are key-joined onto
    * base (one shuffle on the merge key, AQE-broadcast while the feed is
    * small), deletes filter, updates coalesce column-wise, inserts union.
    * The post-merge per-status rollup is integer-cents exact, so one
    * misapplied row hash-mismatches.
    */
  def cdcMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = dec($"o_totalprice") * 100
    val base = table(s, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus", cents.cast("long").as("cents"))
    val maxKey = base.agg(max($"o_orderkey").as("mk"))
    val updates = base.where($"o_orderkey" % 10 === 3)
      .select($"o_orderkey", lit("U").as("new_status"),
        // +10% in integer cents, floor — exact in both engines
        expr("cents * 11 div 10").as("new_cents"), lit("update").as("op"))
    val deletes = base.where($"o_orderkey" % 10 === 7)
      .select($"o_orderkey", lit(null).cast("string").as("new_status"),
        lit(null).cast("long").as("new_cents"), lit("delete").as("op"))
    val changes = updates.unionByName(deletes)
    val merged = base.join(changes, Seq("o_orderkey"), "left")
      .where($"op".isNull || $"op" =!= "delete")
      .select($"o_orderkey",
        coalesce($"new_status", $"o_orderstatus").as("o_orderstatus"),
        coalesce($"new_cents", $"cents").as("cents"))
    val inserts = base.where($"o_orderkey" % 10 === 1)
      .crossJoin(broadcast(maxKey))
      .select(($"o_orderkey" + $"mk" + 1).as("o_orderkey"),
        lit("N").as("o_orderstatus"), $"cents")
    merged.unionByName(inserts)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), sum($"cents").as("sum_cents"),
        min($"o_orderkey").as("min_key"), max($"o_orderkey").as("max_key"))
      .orderBy($"o_orderstatus")
  }

  /** Arbitrary GROUPING SETS with an explicit grouping id (q110) — the
    * general form between q08's rollup and q36's cube: exactly the four
    * groupings a reporting layer asks for, one aggregate pass (Spark
    * plans one Expand + one shuffle, not four scans). The gid is
    * recomputed from grouping() bits so it is engine-neutral, and
    * grouped-out columns surface as 'ALL' instead of NULL.
    */
  def groupingSetsReport(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "orders").createOrReplaceTempView("graft_q110_orders")
    s.sql(
      """SELECT
        |  CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS BIGINT) AS gid,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM graft_q110_orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
        |  (o_orderpriority, o_orderstatus), ())
        |ORDER BY gid, priority, status""".stripMargin)
  }

  def integrityAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def edge(child: String, childKey: String, parent: String,
             parentKey: String): DataFrame = {
      val c = table(s, dir, child).select(col(childKey).cast("long").as("k"))
      val p = table(s, dir, parent).select(col(parentKey).cast("long").as("k")).distinct()
      val orphans = c.join(p, Seq("k"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      c.agg(count(lit(1)).as("n_child_rows")).crossJoin(orphans)
        .select(
          lit(s"$child.$childKey").as("edge_child"),
          lit(s"$parent.$parentKey").as("edge_parent"),
          $"n_child_rows", $"n_orphans")
    }
    Seq(
      edge("orders", "o_custkey", "customer", "c_custkey"),
      edge("lineitem", "l_orderkey", "orders", "o_orderkey"),
      edge("lineitem", "l_partkey", "part", "p_partkey"),
      edge("lineitem", "l_suppkey", "supplier", "s_suppkey"),
      edge("customer", "c_nationkey", "nation", "n_nationkey"),
      edge("supplier", "s_nationkey", "nation", "n_nationkey"),
      edge("nation", "n_regionkey", "region", "r_regionkey"),
      edge("events", "user_id", "customer", "c_custkey"))
      .reduce(_ unionByName _)
      .orderBy($"edge_child", $"edge_parent")
  }

  /** Benford first-digit profile (q134): leading-digit distribution of
    * o_totalprice per order priority against the Benford expectation —
    * the classic bulk fraud/anomaly screen over a money column. Counting
    * is exact integer work (first digit of the BIGINT floor); the
    * expectation log10(1+1/d) is expressed as (ln(d+1)-ln(d))/ln(10) so
    * every transcendental takes an INTEGER argument (the q123 discipline:
    * cross-engine libm is only trusted on integer arguments, round6
    * absorbs the last ulp). One scan, map-side combine into a ≤45-cell
    * (priority × digit) grid; per-priority totals are a window over that
    * grid, never a rescan.
    */
  def benfordProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = table(s, dir, "orders")
      .where($"o_totalprice" >= 1.0)
      .select($"o_orderpriority",
        expr("cast(substring(cast(cast(floor(o_totalprice) as bigint) as string), 1, 1) as bigint)")
          .as("digit"))
      .groupBy($"o_orderpriority", $"digit")
      .agg(count(lit(1)).as("n_orders"))
    cells
      .withColumn("n_total",
        sum($"n_orders").over(Window.partitionBy($"o_orderpriority")))
      .select($"o_orderpriority", $"digit", $"n_orders",
        graft.Tables.round6($"n_orders".cast("double") / $"n_total".cast("double"))
          .as("share"),
        graft.Tables.round6((log($"digit" + lit(1)) - log($"digit")) / log(lit(10.0)))
          .as("benford"))
      .orderBy($"o_orderpriority", $"digit")
  }

  /** Gini concentration of customer revenue per nation (q135): how
    * unequal spend is across a nation's purchasing customers. Revenue is
    * exact cents; the sorted-rank identity
    * G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i) needs only integer sums.
    * The rank products run in DECIMAL(38,0) because Σ i·x_i approaches
    * 2^63 around ~600k customers per nation (DuckDB widens to HUGEINT
    * there anyway); one double division at the end. Rank ties on equal
    * cents are value-invariant (Σ i over a tied group is permutation-
    * free) but broken by custkey anyway for determinism.
    *
    * The rank window partitions by nation (25-way parallel); at extreme
    * per-nation cardinality the q102 distributed-rank trick applies
    * within nation — not needed at 10×, noted for 100×.
    */
  def giniConcentration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = table(s, dir, "orders")
      .select($"o_custkey",
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("cents"))
      .groupBy($"o_custkey").agg(sum($"cents").as("cents"))
    val cust = table(s, dir, "customer")
      .select($"c_custkey", $"c_nationkey".cast("long").as("nationkey"))
    val ranked = rev.join(cust, $"o_custkey" === $"c_custkey")
      .withColumn("i", row_number().over(
        Window.partitionBy($"nationkey").orderBy($"cents", $"o_custkey")))
    ranked.groupBy($"nationkey")
      .agg(count(lit(1)).as("n_customers"),
        sum($"cents").as("sum_cents"),
        sum($"i".cast(DecimalType(38, 0)) * $"cents".cast(DecimalType(38, 0)))
          .as("swx"))
      .select($"nationkey", $"n_customers", $"sum_cents",
        graft.Tables.round6(
          ($"swx" * lit(2) -
            ($"n_customers" + lit(1)).cast(DecimalType(38, 0)) *
              $"sum_cents".cast(DecimalType(38, 0))).cast("double") /
          ($"n_customers".cast("double") * $"sum_cents".cast("double")))
          .as("gini"))
      .orderBy($"nationkey")
  }

  /** Declarative data-quality expectations (q138): a Deequ-style rule
    * battery — completeness, domain, range, uniqueness, FK containment —
    * evaluated in one pass per table and reported one row per rule.
    * All orders-side scalar rules fold into a single aggregate (one scan,
    * map-side combine) and unpivot via stack(); uniqueness is the one
    * genuinely shuffling check (exact count distinct); the FK rule is
    * the q90 left-anti shape. Complements q90 (which audits every FK
    * edge): this is the user-declared per-table contract with pass/fail.
    */
  def expectationsReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders")
    val c = table(s, dir, "customer")
    val oAgg = o.agg(
      count(lit(1)).as("n"),
      sum(when($"o_orderkey".isNull, 1L).otherwise(0L)).as("f_key_null"),
      (count(lit(1)) - countDistinct($"o_orderkey")).as("f_key_dup"),
      sum(when($"o_totalprice" > 0.0 && $"o_totalprice" < 1000000.0, 0L)
        .otherwise(1L)).as("f_price_range"),
      sum(when($"o_orderstatus".isin("O", "F", "P"), 0L).otherwise(1L))
        .as("f_status_domain"),
      sum(when($"o_orderdate".isNull, 1L).otherwise(0L)).as("f_date_null"))
    val cAgg = c.agg(
      count(lit(1)).as("n"),
      sum(when($"c_mktsegment".isNull || length($"c_mktsegment") === 0, 1L)
        .otherwise(0L)).as("f_seg_empty"),
      sum(when($"c_acctbal" >= -1000.0, 0L).otherwise(1L)).as("f_acctbal_min"))
    val fkFailed = o.select($"o_custkey".as("k"))
      .join(c.select($"c_custkey".as("k")).distinct(), Seq("k"), "left_anti")
      .agg(count(lit(1)).as("f_fk"))
    val oRules = oAgg.crossJoin(fkFailed).select(
      expr("""stack(6,
        'orders.o_orderkey.not_null', n, f_key_null,
        'orders.o_orderkey.unique', n, f_key_dup,
        'orders.o_totalprice.in_range', n, f_price_range,
        'orders.o_orderstatus.in_domain', n, f_status_domain,
        'orders.o_orderdate.not_null', n, f_date_null,
        'orders.o_custkey.fk_customer', n, f_fk) AS (rule, n_checked, n_failed)"""))
    val cRules = cAgg.select(
      expr("""stack(2,
        'customer.c_mktsegment.not_empty', n, f_seg_empty,
        'customer.c_acctbal.min_bound', n, f_acctbal_min) AS (rule, n_checked, n_failed)"""))
    oRules.unionByName(cRules)
      .select($"rule", $"n_checked", $"n_failed", ($"n_failed" === 0L).as("pass"))
      .orderBy($"rule")
  }

  /** ANALYZE-style column statistics (q139): the per-column profile a
    * cost-based planner (or an engineer sizing a broadcast) reads — row
    * count, null count, EXACT distinct count, and integer-encoded
    * min/max, one row per profiled column. All six distinct counts run
    * in ONE aggregate: Catalyst plans a single Expand (6x fan-out of the
    * pre-projected scan, one shuffle) instead of six scans. min/max are
    * exact integers (keys directly, price in cents, date in epoch days);
    * text columns report ndv only with min/max = -1 — lexicographic
    * extremes are a cross-engine collation trap, and the sentinel keeps
    * the column BIGINT-dense for the hash compare (a NULL would push the
    * pandas compare column to float).
    */
  def columnStatsProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders").select(
      $"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_orderpriority",
      expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("cents"),
      expr("cast(datediff(cast(o_orderdate as date), date '1970-01-01') as bigint)")
        .as("eday"))
    val a = o.agg(
      count(lit(1)).as("n"),
      sum(when($"o_orderkey".isNull, 1L).otherwise(0L)).as("nn_key"),
      countDistinct($"o_orderkey").as("nd_key"),
      min($"o_orderkey").as("mn_key"), max($"o_orderkey").as("mx_key"),
      sum(when($"o_custkey".isNull, 1L).otherwise(0L)).as("nn_cust"),
      countDistinct($"o_custkey").as("nd_cust"),
      min($"o_custkey").as("mn_cust"), max($"o_custkey").as("mx_cust"),
      sum(when($"o_orderstatus".isNull, 1L).otherwise(0L)).as("nn_status"),
      countDistinct($"o_orderstatus").as("nd_status"),
      sum(when($"o_orderpriority".isNull, 1L).otherwise(0L)).as("nn_prio"),
      countDistinct($"o_orderpriority").as("nd_prio"),
      sum(when($"cents".isNull, 1L).otherwise(0L)).as("nn_cents"),
      countDistinct($"cents").as("nd_cents"),
      min($"cents").as("mn_cents"), max($"cents").as("mx_cents"),
      sum(when($"eday".isNull, 1L).otherwise(0L)).as("nn_eday"),
      countDistinct($"eday").as("nd_eday"),
      min($"eday").as("mn_eday"), max($"eday").as("mx_eday"))
    a.select(expr("""stack(6,
        'orders.o_orderkey',        n, nn_key,    nd_key,    mn_key,            mx_key,
        'orders.o_custkey',         n, nn_cust,   nd_cust,   mn_cust,           mx_cust,
        'orders.o_orderstatus',     n, nn_status, nd_status, cast(-1 as bigint), cast(-1 as bigint),
        'orders.o_orderpriority',   n, nn_prio,   nd_prio,   cast(-1 as bigint), cast(-1 as bigint),
        'orders.o_totalprice_cents',n, nn_cents,  nd_cents,  mn_cents,          mx_cents,
        'orders.o_orderdate_eday',  n, nn_eday,   nd_eday,   mn_eday,           mx_eday
      ) AS (col_name, n_rows, n_null, n_distinct, min_val, max_val)"""))
      .orderBy($"col_name")
  }

  /** Sketch-based ANALYZE profile (q180): [[columnStatsProfile]]'s exact
    * ndv swapped for HyperLogLog (`approx_count_distinct`, rsd 0.02) —
    * the form production ANALYZE actually runs. The exact q139 plans a
    * 6x Expand of the scan (one duplicated pass per distinct aggregate —
    * measured 11.7-16 s + 0.5 GB spill at sf10, the heaviest non-spec
    * batch query); the sketches are ordinary aggregate buffers, so this
    * is ONE plain map-side-combined aggregate over one scan — no Expand,
    * no spill, and the plan that still works when a column's ndv is a
    * billion. min/max/null counts stay exact (they always combine).
    * Estimates are engine-specific by design → rows-only under the
    * driver; `AuditOpsSpec` pins each column's estimate within the HLL
    * error envelope of q139's exact counts, the q18/q54 gating pattern.
    */
  def columnStatsApprox(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders").select(
      $"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_orderpriority",
      expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("cents"),
      expr("cast(datediff(cast(o_orderdate as date), date '1970-01-01') as bigint)")
        .as("eday"))
    val a = o.agg(
      count(lit(1)).as("n"),
      sum(when($"o_orderkey".isNull, 1L).otherwise(0L)).as("nn_key"),
      approx_count_distinct($"o_orderkey", 0.02).as("nd_key"),
      min($"o_orderkey").as("mn_key"), max($"o_orderkey").as("mx_key"),
      sum(when($"o_custkey".isNull, 1L).otherwise(0L)).as("nn_cust"),
      approx_count_distinct($"o_custkey", 0.02).as("nd_cust"),
      min($"o_custkey").as("mn_cust"), max($"o_custkey").as("mx_cust"),
      sum(when($"o_orderstatus".isNull, 1L).otherwise(0L)).as("nn_status"),
      approx_count_distinct($"o_orderstatus", 0.02).as("nd_status"),
      sum(when($"o_orderpriority".isNull, 1L).otherwise(0L)).as("nn_prio"),
      approx_count_distinct($"o_orderpriority", 0.02).as("nd_prio"),
      sum(when($"cents".isNull, 1L).otherwise(0L)).as("nn_cents"),
      approx_count_distinct($"cents", 0.02).as("nd_cents"),
      min($"cents").as("mn_cents"), max($"cents").as("mx_cents"),
      sum(when($"eday".isNull, 1L).otherwise(0L)).as("nn_eday"),
      approx_count_distinct($"eday", 0.02).as("nd_eday"),
      min($"eday").as("mn_eday"), max($"eday").as("mx_eday"))
    a.select(expr("""stack(6,
        'orders.o_orderkey',        n, nn_key,    nd_key,    mn_key,            mx_key,
        'orders.o_custkey',         n, nn_cust,   nd_cust,   mn_cust,           mx_cust,
        'orders.o_orderstatus',     n, nn_status, nd_status, cast(-1 as bigint), cast(-1 as bigint),
        'orders.o_orderpriority',   n, nn_prio,   nd_prio,   cast(-1 as bigint), cast(-1 as bigint),
        'orders.o_totalprice_cents',n, nn_cents,  nd_cents,  mn_cents,          mx_cents,
        'orders.o_orderdate_eday',  n, nn_eday,   nd_eday,   mn_eday,           mx_eday
      ) AS (col_name, n_rows, n_null, n_distinct, min_val, max_val)"""))
      .orderBy($"col_name")
  }

  /** Chi-square independence screen (q145): is order status independent
    * of order priority? One row per contingency cell with observed
    * count, expected count, and the cell's chi-square contribution,
    * plus the grid-total statistic and degrees of freedom — the
    * categorical-association test behind "does this segmentation
    * matter". Determinism discipline: counts are exact integers;
    * d = o·N − r·c stays in BIGINT (|d| ≤ N² ~ 2.3·10^14 at sf10); the
    * only doubles are expected = r·c/N and contrib = d²/(N·r·c),
    * each a FIXED-ORDER IEEE chain quantized straight to BIGINT e6
    * units (floor(x·10^6 + 0.5)) — so the grid-total chi2 is an
    * order-free BIGINT sum, never a float reduction. N·r·c would
    * overflow BIGINT, so the denominator multiplies as doubles in
    * literal order on both engines.
    *
    * Scale shape: one scan map-side combines into the ≤(statuses ×
    * priorities) grid; every window after that runs over the bounded
    * grid. dof comes from two 1-row broadcast side aggregates.
    */
  def chiSquareScreen(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val obs0 = table(s, dir, "orders")
      .groupBy($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("observed"))
    // densify: a zero-observed cell still contributes its expected count
    // to the statistic — groupBy alone would silently drop it and
    // understate chi2 (pinned by the dependent-fixture spec).
    val obs = obs0.select($"o_orderstatus").distinct()
      .crossJoin(broadcast(obs0.select($"o_orderpriority").distinct()))
      .join(obs0, Seq("o_orderstatus", "o_orderpriority"), "left")
      .na.fill(0L, Seq("observed"))
    val wAll = Window.partitionBy()
    val wRow = Window.partitionBy($"o_orderstatus")
    val wCol = Window.partitionBy($"o_orderpriority")
    val dims = table(s, dir, "orders").agg(
      countDistinct($"o_orderstatus").as("n_status"),
      countDistinct($"o_orderpriority").as("n_prio"))
    obs
      .withColumn("n", sum($"observed").over(wAll))
      .withColumn("r", sum($"observed").over(wRow))
      .withColumn("c", sum($"observed").over(wCol))
      .withColumn("d", $"observed" * $"n" - $"r" * $"c")
      .withColumn("expected_e6", expr(
        "cast(floor(cast(r as double) * cast(c as double) / cast(n as double) * 1e6 + 0.5) as bigint)"))
      .withColumn("contrib_e6", expr(
        """cast(floor(cast(d as double) * cast(d as double)
          | / (cast(n as double) * cast(r as double) * cast(c as double))
          | * 1e6 + 0.5) as bigint)""".stripMargin))
      .withColumn("chi2_e6", sum($"contrib_e6").over(wAll))
      .crossJoin(broadcast(dims))
      .select($"o_orderstatus", $"o_orderpriority", $"observed",
        $"expected_e6", $"contrib_e6", $"chi2_e6",
        (($"n_status" - 1) * ($"n_prio" - 1)).as("dof"))
      .orderBy($"o_orderstatus", $"o_orderpriority")
  }

  /** Pareto frontier / skyline (q146): the parts no buyer can strictly
    * improve on — no other part is at most as expensive AND at least as
    * large with one of the two strict. Equal (price, size) twins are
    * mutually non-dominating and both survive (standard skyline
    * semantics, pinned by spec against a brute-force dominance check).
    *
    * The frontier condition factors through per-price maxima: a part
    * survives iff its size equals the max size AT its price (an equal-
    * price larger part strictly dominates) and strictly exceeds the max
    * size over all CHEAPER prices (an equal size at a cheaper price
    * dominates too). The prefix max runs decomposed — the q102/q137
    * offsets trick: per-$100 price bucket maxima, a window over the
    * BOUNDED bucket grid for the carry-in, a within-bucket running max
    * — so no global single-partition sort exists anywhere; at 100 TB
    * the only big operations are one groupBy(price) and one
    * bucket-partitioned window. Prices compare in exact cents.
    */
  def paretoFrontier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val parts = table(s, dir, "part").select($"p_partkey",
      expr("cast(floor(p_retailprice * 100 + 0.5) as bigint)").as("price_cents"),
      $"p_size".cast("long").as("size"))
    val perPrice = parts.groupBy($"price_cents").agg(max($"size").as("msize"))
      .withColumn("bucket", expr("price_cents div 10000"))
    val bucketMax = perPrice.groupBy($"bucket").agg(max($"msize").as("bmax"))
      .withColumn("carry", max($"bmax").over(
        Window.orderBy($"bucket").rowsBetween(Window.unboundedPreceding, -1)))
    val withPrefix = perPrice.join(broadcast(bucketMax.select($"bucket", $"carry")), "bucket")
      .withColumn("inbucket", max($"msize").over(
        Window.partitionBy($"bucket").orderBy($"price_cents")
          .rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("prefix", greatest(coalesce($"carry", lit(Long.MinValue)),
        coalesce($"inbucket", lit(Long.MinValue))))
    parts.join(withPrefix.select($"price_cents", $"msize", $"prefix"), "price_cents")
      .where($"size" === $"msize" && $"size" > $"prefix")
      .select($"p_partkey", $"price_cents", $"size".as("p_size"))
      .orderBy($"price_cents", $"p_partkey")
  }

  /** Per-nation Spearman rank correlation (q147) between a customer's
    * order count and total spend — the monotone-association screen that
    * Pearson gets wrong under heavy tails (and spend IS heavy-tailed,
    * q135's Gini says so). Classic 6·Σd² formulation with average ranks
    * for ties and no tie-correction term (the common implementation;
    * pinned by the hand-fixture spec).
    *
    * Determinism discipline: average ranks are kept as DOUBLED integers
    * (r2 = 2·rank + ties − 1 = min_rank + max_rank), so d and Σd² are
    * exact BIGINTs; per-nation n ≤ ~60k at sf10 bounds Σd² ≤ n·(2n)²
    * ~ 8.6e14 — no overflow, and exactly representable when the one
    * fixed-order double chain (1e6 − 1.5e6·Σd²/(n(n²−1)), the 1.5
    * compensating the 4× of squared doubled ranks) quantizes to e6.
    *
    * Scale shape: one orders rollup (map-side combined), a broadcast
    * customer→nation attach, then two rank windows PARTITIONED by
    * nation — no global sort anywhere; output is 25 rows.
    */
  def spearmanCorr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = spearmanBase(s, dir)
    def rank2(v: Column, name: String): Column = {
      // doubled average rank = min_rank + max_rank, both from one
      // nation-partitioned sort: rank() is the min, min+ties−1 the max
      val w = Window.partitionBy($"n_name").orderBy(v)
      val wt = Window.partitionBy($"n_name", v)
      (rank().over(w) * 2 + count(lit(1)).over(wt) - 1).as(name)
    }
    spearmanFromRanks(s,
      m.select($"n_name", rank2($"n_orders", "rx"), rank2($"spend_cents", "ry")))
  }

  /** The documented 100x FALLBACK for [[spearmanCorr]] — the q102
    * distributed-rank machinery in place of the per-nation row windows,
    * for the corpus where one nation IS the data and a nation-partitioned
    * sort becomes a single giant task. The doubled average rank
    * decomposes over the (nation, value) GRID: r2 = min+max rank =
    * 2·(#smaller) + (#equal) + 1 = 2·off + kn + 1, so the per-ROW window
    * disappears entirely — one bounded-grid prefix-sum window and a join
    * back, nothing sorted at corpus scale. `RobustStatsSpec` pins value
    * equality with the window form (the executable proof the other
    * partitioned-rank statistics' fallback comments lean on).
    */
  private[graft] def spearmanCorrGridRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = spearmanBase(s, dir)
    def rank2Grid(df: DataFrame, vcol: String, out: String): DataFrame = {
      val wOff = Window.partitionBy($"n_name").orderBy(col(vcol))
        .rowsBetween(Window.unboundedPreceding, -1)
      // grid = distinct (nation, value) pairs — vocab-bounded, not
      // corpus-bounded; the only window runs over it
      val grid = df.groupBy($"n_name", col(vcol)).agg(count(lit(1)).as("kn"))
        .withColumn("off", coalesce(sum($"kn").over(wOff), lit(0L)))
        .select($"n_name", col(vcol), ($"off" * 2 + $"kn" + 1).as(out))
      df.join(grid, Seq("n_name", vcol))
    }
    val ranked = rank2Grid(rank2Grid(m, "n_orders", "rx"), "spend_cents", "ry")
    spearmanFromRanks(s, ranked.select($"n_name", $"rx", $"ry"))
  }

  /** Shared (nation, per-customer x/y) frame behind both Spearman forms. */
  private def spearmanBase(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perCust = table(s, dir, "orders")
      .groupBy($"o_custkey").agg(
        count(lit(1)).as("n_orders"),
        sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")).as("spend_cents"))
    val cust = table(s, dir, "customer").select($"c_custkey", $"c_nationkey")
    val nation = table(s, dir, "nation").select($"n_nationkey", $"n_name")
    perCust.join(cust, perCust("o_custkey") === cust("c_custkey"))
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .select($"n_name", $"c_custkey", $"n_orders", $"spend_cents")
  }

  /** Shared 6·Σd² tail over (n_name, rx, ry) doubled-integer ranks. */
  private def spearmanFromRanks(s: SparkSession, ranked: DataFrame): DataFrame = {
    import s.implicits._
    ranked
      .withColumn("d", $"rx" - $"ry")
      .groupBy($"n_name").agg(
        count(lit(1)).as("n_customers"),
        sum($"d" * $"d").as("sum_d2"))
      .select($"n_name", $"n_customers", $"sum_d2",
        when($"n_customers" > 1, expr(
          """cast(floor(1000000.0 - 1500000.0 * cast(sum_d2 as double)
            | / (cast(n_customers as double) * (cast(n_customers as double) * cast(n_customers as double) - 1.0))
            | + 0.5) as bigint)""".stripMargin))
          .otherwise(lit(0L)).as("rho_e6"))
      .orderBy($"n_name")
  }

  /** Hash-deterministic bootstrap confidence interval (q151) for the
    * mean order value per market segment — resampling WITHOUT a random
    * number generator: replica b includes an order iff bit b of
    * hash60(orderkey) is set (md5 bits are independent fair coins), so
    * every replica is a reproducible half-sample — across runs, engines,
    * and backfills, the q80/q122 seedless discipline applied to
    * inference. Reported interval = [2nd-smallest, 2nd-largest] of the
    * 32 replica means (the ~94% empirical band; replica means are
    * floor-div integer cents).
    *
    * Scale shape: ONE scan, no explode — the 32 replicas are 64
    * conditional aggregates folded map-side into the ≤5-row segment
    * frame, then stack() unpivots 5×32 bounded rows for the rank
    * windows. The hash costs one md5 per row (not 32); at 100 TB the
    * whole operator is a single map-side-combined aggregate.
    */
  def bootstrapCi(s: SparkSession, dir: String,
                  replicas: Int = 32): DataFrame = {
    import s.implicits._
    val base = table(s, dir, "orders")
      .join(table(s, dir, "customer").select($"c_custkey", $"c_mktsegment"),
        $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("segment"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("cents"),
        expr("hash60(cast(o_orderkey as string))").as("h"))
    val repAggs = (0 until replicas).flatMap { b =>
      Seq(sum(expr(s"shiftright(h, $b) & 1")).as(s"cnt_$b"),
        sum(expr(s"(shiftright(h, $b) & 1) * cents")).as(s"sum_$b"))
    }
    val aggCols = Seq(count(lit(1)).as("n_orders"),
      sum($"cents").as("sum_cents")) ++ repAggs
    val agg = base.groupBy($"segment").agg(aggCols.head, aggCols.tail: _*)
    val stackArgs = (0 until replicas)
      .map(b => s"${b}L, cnt_$b, sum_$b").mkString(", ")
    val reps = agg.select($"segment", $"n_orders", $"sum_cents",
        expr(s"stack($replicas, $stackArgs) as (b, cnt_b, sum_b)"))
      .where($"cnt_b" > 0)
      .withColumn("mean_b", expr("sum_b div cnt_b"))
    val wAsc = Window.partitionBy($"segment").orderBy($"mean_b", $"b")
    val wDesc = Window.partitionBy($"segment").orderBy($"mean_b".desc, $"b".desc)
    reps
      .withColumn("ra", row_number().over(wAsc))
      .withColumn("rd", row_number().over(wDesc))
      .groupBy($"segment", $"n_orders", $"sum_cents").agg(
        max(when($"ra" === 2, $"mean_b")).as("ci_lo_cents"),
        max(when($"rd" === 2, $"mean_b")).as("ci_hi_cents"))
      .select($"segment", $"n_orders",
        expr("sum_cents div n_orders").as("mean_cents"),
        $"ci_lo_cents", $"ci_hi_cents")
      .orderBy($"segment")
  }

  /** Per-nation OLS trend (q157): slope, intercept, and R² of customer
    * spend (cents) on order count — the EFFECT-SIZE complement of
    * q147's rank correlation (Spearman says "monotone"; this says "how
    * many cents per additional order"). Everything folds to exact
    * BIGINT sums per nation (n, Σx, Σy, Σxy, Σx², Σy²) in ONE map-side
    * combined aggregate; slope/intercept/R² are fixed-order double
    * chains over those integers, round6-quantized (the q145/q154
    * discipline). Degenerate nations (constant x, or constant y for R²)
    * pin to 0.0 — spec'd.
    */
  def olsTrend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perCust = table(s, dir, "orders")
      .groupBy($"o_custkey").agg(
        count(lit(1)).as("x"),
        sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")).as("y"))
    val m = perCust
      .join(table(s, dir, "customer").select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(table(s, dir, "nation")
        .select($"n_nationkey", $"n_name")), $"c_nationkey" === $"n_nationkey")
    // second moments widen to DECIMAL(38,0): y is total spend in cents
    // (~1e8 at sf1), so Σy² passes 9.2e18 around 6k customers/nation —
    // the q135 widening rule; the products themselves still fit BIGINT
    val agg = m.groupBy($"n_name").agg(
      count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
      sum(($"x" * $"y").cast(DecimalType(38, 0))).as("sxy"),
      sum(($"x" * $"x").cast(DecimalType(38, 0))).as("sxx"),
      sum(($"y" * $"y").cast(DecimalType(38, 0))).as("syy"))
    val vx = expr("cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)")
    val vy = expr("cast(n as double) * cast(syy as double) - cast(sy as double) * cast(sy as double)")
    val cov = expr("cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)")
    agg.select($"n_name", $"n",
        graft.Tables.round6(when(vx === 0.0, lit(0.0)).otherwise(cov / vx)).as("slope"),
        graft.Tables.round6(when(vx === 0.0, lit(0.0)).otherwise(
          (expr("cast(sy as double)") - (cov / vx) * expr("cast(sx as double)")) /
            expr("cast(n as double)"))).as("intercept"),
        graft.Tables.round6(when(vx === 0.0 || vy === 0.0, lit(0.0))
          .otherwise(cov * cov / (vx * vy))).as("r2"))
      .orderBy($"n_name")
  }

  /** Bucketed zero-shuffle join, driver-visible (q161): write orders and
    * lineitem BUCKETED BY the join key, join them back, and emit the
    * revenue-by-priority rollup PLUS the number of Exchange operators
    * under the join in the EXECUTED plan — which the oracle pins to 0.
    * This turns `BucketedJoinSpec`'s plan assertion into a standing
    * correctness row: if a Spark upgrade or conf drift ever reintroduces
    * a shuffle under this join, the driver's gate goes red, not just a
    * unit test. Broadcast is disabled for the probe (restored after) so
    * co-location, not a broadcast, is what kills the Exchange.
    *
    * The bucketed WRITE is the operator's cost (the q78/q84 trade: at
    * 100 TB you pay one shuffle-on-write to make every future fact-fact
    * join shuffle-free); the rollup result itself must equal the plain
    * two-table join, which is exactly what the oracle computes.
    */
  def bucketedJoinAudit(s: SparkSession, dir: String,
                        buckets: Int = 8): DataFrame = {
    import s.implicits._
    val tag = math.abs(dir.hashCode).toString
    val to = s"q161_orders_$tag"; val tl = s"q161_lineitem_$tag"
    val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // build the bucketed tables ONCE per (session, corpus stamp): the
    // entire point of bucketing (guide §2.4) is that the partitioned
    // write is paid once and every later join on the bucket key skips
    // its exchanges — rebuilding AND dropping the tables on every call
    // measured the write, not the bucketed join the audit exists to pin.
    // The names are corpus-deterministic, the write is mode(overwrite),
    // and a mutated dir misses the stamp and rebuilds, so a stale table
    // can never serve; the warehouse footprint is two fixed-name tables
    // that the next build overwrites (bounded, not per-run growth).
    OpCache.value("bucketedAudit", s, dir, buckets) {
      // a PREVIOUS JVM's tables are directories under the warehouse with
      // no entry in THIS session's (in-memory) catalog — saveAsTable then
      // fails with LOCATION_ALREADY_EXISTS instead of overwriting. Drop
      // any catalog entry AND delete the stale locations first.
      s.sql(s"DROP TABLE IF EXISTS $to"); s.sql(s"DROP TABLE IF EXISTS $tl")
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
      val fs = wh.getFileSystem(s.sessionState.newHadoopConf())
      Seq(to, tl).foreach { t =>
        val p = new org.apache.hadoop.fs.Path(wh, t.toLowerCase)
        if (fs.exists(p)) fs.delete(p, true): Unit
      }
      table(s, dir, "orders").select($"o_orderkey", $"o_orderpriority")
        .write.bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(to)
      table(s, dir, "lineitem")
        .select($"l_orderkey",
          expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("cents"))
        .write.bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(tl)
    }
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = s.table(to)
        .join(s.table(tl), $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_items"), sum($"cents").as("revenue_cents"))
      val rows = graft.io.Scratch.collected(joined) // bounded: one row per priority
      // typed plan traversal, not plan-string substring matching: a
      // shuffle spelled differently (rangepartitioning, an operator
      // rename in a Spark upgrade) must still count, or the pinned
      // n_join_exchanges=0 gate could silently pass over a real shuffle
      val smjs = planNodes(joined.queryExecution.executedPlan).collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      // dedupe across SMJ subtrees by node identity: on a multi-join plan
      // an exchange beneath a nested SMJ sits in every enclosing SMJ's
      // subtree too, and summing per-SMJ would count it once per ancestor
      val exchanges =
        if (smjs.isEmpty) Long.MaxValue // not the co-located plan at all
        else {
          val seen = java.util.Collections.newSetFromMap(
            new java.util.IdentityHashMap[org.apache.spark.sql.execution.SparkPlan, java.lang.Boolean]())
          smjs.flatMap(planNodes).foreach(seen.add)
          var n = 0L
          seen.forEach { node =>
            if (node.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]) n += 1
          }
          n
        }
      rows.withColumn("n_join_exchanges", lit(exchanges))
        .orderBy($"o_orderpriority")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  /** Broadcast-plan audit (q164): q161's canary idea applied to the
    * OTHER join strategy that matters at 100 TB — the star join. The
    * customer⋈nation⋈region rollup must plan BOTH dimension joins as
    * BroadcastHashJoin and NONE as SortMergeJoin (a fact-sized shuffle
    * to join a 25-row dimension is the classic silent regression when a
    * threshold conf drifts or a dimension loses its size stats). The
    * executed plan's counts ride the output row; the oracle pins them
    * to (2, 0), so the driver's gate — not a unit test — goes red on a
    * planning regression.
    */
  def broadcastPlanAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val joined = table(s, dir, "customer")
      .join(broadcast(table(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(table(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name")
      .agg(count(lit(1)).as("n_customers"),
        sum(expr("cast(floor(c_acctbal * 100 + 0.5) as bigint)")).as("acctbal_cents"))
    val rows = graft.io.Scratch.collected(joined) // bounded: one row per region
    // typed node counts (see bucketedJoinAudit): the audit survives plan
    // string renames across Spark upgrades
    val nodes = planNodes(joined.queryExecution.executedPlan)
    val nBhj = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]).toLong
    val nSmj = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]).toLong
    rows.withColumn("n_broadcast_joins", lit(nBhj))
      .withColumn("n_sort_merge_joins", lit(nSmj))
      .orderBy($"r_name")
  }

  /** Flatten an EXECUTED physical plan into its node list, expanding the
    * wrappers that hide subtrees from a plain `TreeNode.collect`: AQE's
    * `AdaptiveSparkPlanExec` (final plan behind a field), materialized
    * `QueryStageExec` leaves (the staged exchange is `.plan`), and
    * `ReusedExchangeExec` (counts as the exchange it reuses — a reused
    * shuffle is still a shuffle read on this edge).
    */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec => q +: planNodes(q.plan)
      case r: ReusedExchangeExec => r +: planNodes(r.child)
      case other => other +: other.children.flatMap(planNodes)
    }
  }

  /** Order-book reconciliation (q176): the full-outer audit every
    * warehouse runs between a header table and its detail rollup —
    * orders vs the lineitem-derived total. Classes: `no_lines` (header
    * without details — q90's soft-edge orphans), `no_order` (details
    * without a header), `match` / `mismatch` on the totals. Arithmetic
    * is exact-integer: per line ec*(100-d)*(100+t) with each factor a
    * floor(x*100+0.5) BIGINT (scale 1e4 relative to cents), the header
    * scaled identically — so "match" is integer equality, not an FP
    * tolerance, and both engines classify identically.
    *
    * Scale shape: one map-side-combined lineitem rollup, a key-clustered
    * FULL OUTER join (both sides shuffle on orderkey once), and a
    * 4-class aggregate.
    */
  def reconReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val derived = table(s, dir, "lineitem")
      .select($"l_orderkey",
        (floor($"l_extendedprice" * 100 + 0.5).cast("long") *
          (lit(100L) - floor($"l_discount" * 100 + 0.5).cast("long")) *
          (lit(100L) + floor($"l_tax" * 100 + 0.5).cast("long"))).as("line_u"))
      .groupBy($"l_orderkey").agg(sum($"line_u").as("derived_u"))
    val headers = table(s, dir, "orders")
      .select($"o_orderkey",
        (floor($"o_totalprice" * 100 + 0.5).cast("long") * 10000L).as("header_u"))
    headers.join(derived, $"o_orderkey" === $"l_orderkey", "full_outer")
      .select(
        when($"l_orderkey".isNull, "no_lines")
          .when($"o_orderkey".isNull, "no_order")
          .when($"header_u" === $"derived_u", "match")
          .otherwise("mismatch").as("status"),
        coalesce(abs($"header_u" - $"derived_u"), lit(0L)).as("abs_diff_u"))
      .groupBy($"status")
      .agg(count(lit(1)).as("n"), sum($"abs_diff_u").as("sum_abs_diff_u"))
      .orderBy($"status")
  }
}
