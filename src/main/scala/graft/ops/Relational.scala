package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.Tables._

/** Core relational operator surface, one named query per operator of
  * SURVEY.md §2 (scan/project/cast, filter, NOT-IN, anti/semi join,
  * inner equi-joins on single + composite keys, union-all, literal
  * relations, global + grouped aggregation, window functions, min-max
  * scaling, distinct, top-k, global sort, count).
  *
  * Determinism contract (driver hash-compares against DuckDB):
  *  - every query ends in an ORDER BY over a unique key set;
  *  - no nondeterministic functions;
  *  - float outputs follow a three-way taxonomy (learned the hard way
  *    — the round-9 sf0.1 sweep caught case 2 live):
  *    1. SUMS of fixed-decimal data → round STRICTLY FINER than the
  *       data's decimal precision (2-decimal prices → round(sum, 4)):
  *       the TRUE sum lies exactly ON the rounding grid and float
  *       error is orders below half a cell, so both engines snap to
  *       the true value. round(sum, 2) — tie-capable — is NOT safe.
  *    2. RATIOS/AVERAGES of discrete data (integer counts, 2-decimal
  *       values) → NO rounding at all. True k/n values land on REAL
  *       decimal .5 ties at every fixed precision, where Spark
  *       (HALF_UP on the shortest decimal repr) and DuckDB
  *       (scale-multiply-then-round) split on BIT-IDENTICAL doubles
  *       (observed: exact avg 58.47375 → 58.4737 vs 58.4738).
  *       Instead: exact integer numerator (BIGINT cents/counts —
  *       also the 100-TB form, order-independent under partial
  *       aggregation) and ONE identically-shaped float division on
  *       both sides — bit-identical doubles match under any
  *       downstream canonicalization, and may safely serve as order
  *       keys or threshold inputs.
  *    3. Genuinely continuous floats (log/sqrt/stddev products) →
  *       round to absorb ulp-order and libm drift; their true values
  *       sit on a tie only with probability zero. Where such a float
  *       orders rows, order by the ROUNDED value with id tie-breaks.
  *       MAGNITUDE CAVEAT (bit both 1 and 3, found at the 10x
  *       fixture): the half-cell must dominate the engines'
  *       accumulation-order delta ≈ sqrt(n)·ε·Σ|x| at the LARGEST
  *       compare scale. A 1e10-magnitude sum rounded to 4 decimals
  *       asks for ~14 significant digits — float sums drift by ~1e-4
  *       there.
  *    4. SUMS whose magnitude leaves no room to round finer than the
  *       data (a product of two 2-decimal columns, exact at 4
  *       decimals, reported at 2) → cast the inputs to DECIMAL, sum
  *       exactly, round once, cast to double. A float sum rounded to
  *       2 splits on exact half-cent ties (HALF_UP vs DuckDB's
  *       binary rounding, 0.01 apart); the exact decimal sum rounds
  *       the same way in both engines.
  *
  * Scale notes are inline per query: at 100 TB the fact tables
  * (lineitem/orders/events) are the big sides; dimensions
  * (region/nation/supplier/part/customer) stay broadcastable or at
  * worst shuffle-joined on their natural keys.
  */
object Relational {

  /** Op 2 (projection + cast) — tokenizer-free typed projection with
    * expression arithmetic. Narrow, no shuffle; parquet reads only the
    * four referenced columns (ReadSchema pruning).
    * Ref: recommender.py:44 (map split/cast).
    */
  def projectCast(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("line_no"),
        upper(col("l_returnflag")).as("flag"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("net_price"))
      .orderBy("l_orderkey", "line_no")

  val projectCastSql: String =
    """SELECT l_orderkey,
      |       CAST(l_linenumber AS BIGINT) AS line_no,
      |       upper(l_returnflag) AS flag,
      |       round(l_extendedprice * (1.0 - l_discount), 4) AS net_price
      |FROM lineitem ORDER BY l_orderkey, line_no""".stripMargin

  /** Op 14-adjacent (predicate filter) — range + date predicates, all
    * pushed to the parquet scan (PushedFilters). Ref: recommender.py:146.
    */
  def filterPredicates(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp")
        && col("l_quantity") >= 45.0 && col("l_discount") > 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_discount"), col("l_shipdate"))
      .orderBy("l_orderkey", "l_linenumber")

  val filterPredicatesSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_shipdate
      |FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_quantity >= 45.0 AND l_discount > 0.05
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Op 14 (NOT-IN against a driver-side literal list). Catalyst folds
    * `isin` to an InSet predicate evaluated at the scan — the closure
    * broadcast of the reference (recommender.py:144-146) becomes a
    * constant in the plan.
    */
  private val excludedParts: Seq[Long] = Seq(1L, 7L, 19L, 42L, 77L, 101L)

  def filterNotIn(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .filter(!col("p_partkey").isin(excludedParts: _*) && col("p_size") <= 25)
      .select(col("p_partkey"), col("p_name"), col("p_size"))
      .orderBy("p_partkey")

  val filterNotInSql: String =
    s"""SELECT p_partkey, p_name, p_size FROM part
       |WHERE p_partkey NOT IN (${excludedParts.mkString(", ")})
       |  AND p_size <= 25
       |ORDER BY p_partkey""".stripMargin

  /** Op 14 generalized (anti-join) — customers with no orders. At scale
    * this is a shuffled left-anti on o_custkey; the orders side is
    * pre-projected to the key only (column pruning), so the shuffle
    * carries 8 bytes/row. Ref semantics: recommender.py:144-146 NOT-IN.
    */
  def antiJoin(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(
        orders(s, d)
          .filter(col("o_orderdate") < lit("1995-07-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")

  val antiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate < TIMESTAMP '1995-07-01')
      |ORDER BY c_custkey""".stripMargin

  /** Semi-join — suppliers that shipped at least one line. Left-semi
    * avoids materializing the (huge) lineitem side beyond the key.
    */
  def semiJoin(s: SparkSession, d: String): DataFrame =
    supplier(s, d)
      .join(lineitem(s, d), col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy("s_suppkey")

  val semiJoinSql: String =
    """SELECT s_suppkey, s_name FROM supplier
      |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
      |ORDER BY s_suppkey""".stripMargin

  /** Op 18 (inner equi-join, single key) — order enriched with its
    * customer. No forced hint: customer SCALES with the corpus
    * (unlike nation/region), so the join strategy must stay size-
    * driven — JoinSelection/AQE broadcasts it while it fits (it does
    * at every test SF, plan-asserted) and degrades to a shuffle join
    * at the scale where a forced broadcast would OOM the executors.
    * Ref: recommender.py:164.
    */
  def joinSingleKey(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(customer(s, d),
        col("o_custkey") === col("c_custkey"), "inner")
      .select(col("o_orderkey"), col("c_name"), col("c_mktsegment"),
        col("o_totalprice").as("total"))
      .orderBy("o_orderkey")

  val joinSingleKeySql: String =
    """SELECT o_orderkey, c_name, c_mktsegment, o_totalprice AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin

  /** Op 8 (inner equi-join, composite key (user,movie) →
    * (l_orderkey,l_linenumber)). Two pruned projections of lineitem
    * joined on the composite key — same-shape as the reference's
    * pair-RDD re-key + join (recommender.py:64-68), expressed as named
    * join keys so EnsureRequirements co-partitions both sides on the
    * identical key set (one shuffle each, no manual re-keying).
    */
  def joinCompositeKey(s: SparkSession, d: String): DataFrame = {
    val qty = lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
      col("l_quantity"))
    val price = lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
      col("l_extendedprice"))
    qty.join(price, Seq("l_orderkey", "l_linenumber"), "inner")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice").as("price"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  val joinCompositeKeySql: String =
    """SELECT a.l_orderkey, a.l_linenumber, a.l_quantity,
      |       b.l_extendedprice AS price
      |FROM (SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem) a
      |JOIN (SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem) b
      |  USING (l_orderkey, l_linenumber)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Multi-way join + grouped agg — revenue by nation (TPC-H Q5 shape).
    * Join order at scale: lineitem ⋈ orders shuffles on orderkey;
    * nation (25 rows, SF-invariant) is hint-broadcast; customer grows
    * with SF so its strategy stays size-driven (broadcast while it
    * fits, shuffle beyond). Exercises what Catalyst's ReorderJoin +
    * JoinSelection give for free.
    */
  def joinMultiAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        // exact DECIMAL product and sum, rounded once — taxonomy
        // case 4 above (a 1e10-magnitude float sum cannot round finer
        // than its data, and rounding it to 2 splits on half-cent ties)
        round(sum(col("l_extendedprice").cast("decimal(15,2)")
            * (lit(1) - col("l_discount").cast("decimal(15,2)"))), 2)
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("n_name")

  val joinMultiAggSql: String =
    """SELECT n_name,
      |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
      |                      * (1 - CAST(l_discount AS DECIMAL(15,2)))), 2)
      |            AS DOUBLE) AS revenue,
      |       count(*) AS n_lines
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Op 13 (union, bag semantics — UNION ALL). Two disjoint slices of
    * orders appended without dedup; narrow (no shuffle).
    * Ref: recommender.py:122.
    */
  def unionAll(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice").as("total"))
    o.filter(col("o_orderstatus") === "F")
      .unionByName(o.filter(col("o_orderstatus") === "O"))
      .orderBy("o_orderkey")
  }

  val unionAllSql: String =
    """SELECT * FROM (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice AS total
      |  FROM orders WHERE o_orderstatus = 'F'
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus, o_totalprice AS total
      |  FROM orders WHERE o_orderstatus = 'O'
      |) ORDER BY o_orderkey""".stripMargin

  /** Op 12 (parallelize literal relation) + op 13 — a driver-side
    * literal relation unioned with a table scan.
    * Ref: recommender.py:109-122 (new-user ratings).
    */
  def literalUnion(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val extra = Seq((100, "EXTRA_A"), (101, "EXTRA_B"))
      .toDF("r_regionkey", "r_name")
    region(s, d).select(col("r_regionkey"), col("r_name"))
      .unionByName(extra).orderBy("r_regionkey")
  }

  val literalUnionSql: String =
    """SELECT r_regionkey, r_name FROM region
      |UNION ALL
      |SELECT * FROM (VALUES (100, 'EXTRA_A'), (101, 'EXTRA_B')) v(k, n)
      |ORDER BY r_regionkey""".stripMargin

  /** Ops 9+10 (scalar map + full aggregation → RMSE shape):
    * sqrt(avg(squared error)) in ONE pass/plan — the reference runs a
    * Python map then .mean() then driver sqrt (recommender.py:73).
    * Partial aggregation (map-side combine) means the shuffle carries
    * one (sum,count) pair per partition regardless of data size.
    */
  def globalAggRmse(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .agg(
        round(sqrt(avg(pow(col("l_quantity") - lit(25.0), 2))), 4).as("rmse"),
        count(lit(1)).as("n"))

  val globalAggRmseSql: String =
    """SELECT round(sqrt(avg(power(l_quantity - 25.0, 2))), 4) AS rmse,
      |       count(*) AS n
      |FROM lineitem""".stripMargin

  /** Grouped aggregation (TPC-H Q1 shape) — the groupBy the reference
    * never does (SURVEY §2.1) but any engine must. HashAggregate with
    * partial combine; 6 aggregates in one pass.
    */
  def groupByAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        // magnitude caveat (taxonomy case 1+3): this sum spans the
        // FULL lineitem table over ~4 groups (~1e10 at sf0.1), where
        // the cross-engine accumulation delta (~1e-4 observed) eats a
        // 4-decimal half-cell — round to 2 for 50x headroom, same as
        // joinMultiAgg's per-nation revenue
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        // l_quantity is integer-valued: avg = k/n hits REAL .5 ties
        // under any fixed rounding; exact BIGINT numerator + one
        // division (no round) is bit-identical cross-engine
        (sum(col("l_quantity").cast("long")) / (lit(1.0) * count(lit(1))))
          .as("avg_qty"),
        // l_discount is 2-decimal data: same case-2 tie shape as
        // avg_qty — exact integer cents numerator, one division
        (sum(round(col("l_discount") * 100).cast("long"))
          / (lit(100.0) * count(lit(1)))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val groupByAggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |       round(sum(l_quantity), 2) AS sum_qty,
      |       round(sum(l_extendedprice), 2) AS sum_base_price,
      |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
      |       sum(CAST(l_quantity AS BIGINT)) / (1.0 * count(*)) AS avg_qty,
      |       sum(CAST(round(l_discount * 100) AS BIGINT)) / (100.0 * count(*)) AS avg_disc,
      |       count(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Op 20 (top-k / ordered limit) — top-10 revenue parts. Catalyst
    * plans TakeOrderedAndProject: per-partition bounded heaps, merged
    * once — no global sort, exactly the scalable form of the
    * reference's takeOrdered (recommender.py:176). Ordering uses the
    * ROUNDED revenue so both engines rank identically; p_name breaks
    * ties deterministically.
    */
  def topK(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      // part grows with SF — leave the join strategy size-driven
      .join(part(s, d), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(desc("revenue"), asc("p_name"))
      .limit(10)

  val topKSql: String =
    """SELECT p_name,
      |       round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_name
      |ORDER BY revenue DESC, p_name ASC
      |LIMIT 10""".stripMargin

  /** Op 26 (global sort, descending) — range-partitioned sort (sampled
    * range boundaries → each partition sorts locally; no single-node
    * bottleneck). Unique key o_orderkey appended for total order.
    */
  def sortGlobal(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice").as("total"),
        col("o_orderdate"))
      .orderBy(desc("total"), asc("o_orderkey"))

  val sortGlobalSql: String =
    """SELECT o_orderkey, o_totalprice AS total, o_orderdate
      |FROM orders ORDER BY total DESC, o_orderkey ASC""".stripMargin

  /** Op 24 (min-max rescale to [1,5]) in scalar form: global min/max
    * via a tiny aggregate cross-joined (broadcast) back — two jobs but
    * NO single-partition window (`over ()` would serialize 100 TB
    * through one task). Matches MinMaxScaler semantics
    * (recommender.py:202-206): (x-min)/(max-min)*(5-1)+1.
    */
  def minMaxScale(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val mm = o.agg(min(col("o_totalprice")).as("lo"),
      max(col("o_totalprice")).as("hi"))
    o.crossJoin(broadcast(mm))
      .select(col("o_orderkey"),
        round((col("o_totalprice") - col("lo"))
          / (col("hi") - col("lo")) * 4.0 + 1.0, 4).as("scaled"))
      .orderBy("o_orderkey")
  }

  val minMaxScaleSql: String =
    """SELECT o_orderkey,
      |       round((o_totalprice - min(o_totalprice) OVER ())
      |             / (max(o_totalprice) OVER () - min(o_totalprice) OVER ())
      |             * 4.0 + 1.0, 4) AS scaled
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Window functions (the general form of op 24's analytic shape):
    * per-customer order sequence — row_number, lag, running sum.
    * Partitioned by o_custkey so state is distributed; no `over ()`.
    */
  def windowFuncs(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders(s, d)
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("prev_total", lag(col("o_totalprice"), 1).over(w))
      .withColumn("running_total",
        round(sum(col("o_totalprice")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"),
        col("prev_total"), col("running_total"))
      .orderBy("o_custkey", "rn")
  }

  val windowFuncsSql: String =
    """SELECT o_custkey, rn, o_orderkey, prev_total, running_total FROM (
      |  SELECT o_custkey, o_orderkey,
      |         row_number() OVER w AS rn,
      |         lag(o_totalprice, 1) OVER w AS prev_total,
      |         round(sum(o_totalprice) OVER
      |           (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
      |           AS running_total
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** Distinct (set semantics the reference never uses, SURVEY §2.1) —
    * planned as a grouped aggregate with partial combine.
    */
  def distinctOp(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy("l_returnflag", "l_linestatus")

  val distinctOpSql: String =
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Op 16 (count action) as a 1-row relation, plus distinct counts —
    * count(distinct) is a two-stage exchange; approx_count_distinct
    * (HLL) is the 100-TB alternative shown in `entryExplain` docs.
    */
  def countOp(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("l_orderkey")).as("n_orders"),
      countDistinct(col("l_partkey")).as("n_parts"))

  val countOpSql: String =
    """SELECT count(*) AS n_rows,
      |       count(DISTINCT l_orderkey) AS n_orders,
      |       count(DISTINCT l_partkey) AS n_parts
      |FROM lineitem""".stripMargin

  /** All ops of this module, for SparkEntry wiring. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rel_project_cast"   -> (projectCast _),
    "rel_filter"         -> (filterPredicates _),
    "rel_filter_notin"   -> (filterNotIn _),
    "rel_anti_join"      -> (antiJoin _),
    "rel_semi_join"      -> (semiJoin _),
    "rel_join_single"    -> (joinSingleKey _),
    "rel_join_composite" -> (joinCompositeKey _),
    "rel_join_multi_agg" -> (joinMultiAgg _),
    "rel_union_all"      -> (unionAll _),
    "rel_literal_union"  -> (literalUnion _),
    "rel_global_agg"     -> (globalAggRmse _),
    "rel_groupby_agg"    -> (groupByAgg _),
    "rel_topk"           -> (topK _),
    "rel_sort"           -> (sortGlobal _),
    "rel_minmax_scale"   -> (minMaxScale _),
    "rel_window"         -> (windowFuncs _),
    "rel_distinct"       -> (distinctOp _),
    "rel_count"          -> (countOp _),
  )

  val oracle: Map[String, String] = Map(
    "rel_project_cast"   -> projectCastSql,
    "rel_filter"         -> filterPredicatesSql,
    "rel_filter_notin"   -> filterNotInSql,
    "rel_anti_join"      -> antiJoinSql,
    "rel_semi_join"      -> semiJoinSql,
    "rel_join_single"    -> joinSingleKeySql,
    "rel_join_composite" -> joinCompositeKeySql,
    "rel_join_multi_agg" -> joinMultiAggSql,
    "rel_union_all"      -> unionAllSql,
    "rel_literal_union"  -> literalUnionSql,
    "rel_global_agg"     -> globalAggRmseSql,
    "rel_groupby_agg"    -> groupByAggSql,
    "rel_topk"           -> topKSql,
    "rel_sort"           -> sortGlobalSql,
    "rel_minmax_scale"   -> minMaxScaleSql,
    "rel_window"         -> windowFuncsSql,
    "rel_distinct"       -> distinctOpSql,
    "rel_count"          -> countOpSql,
  )
}
