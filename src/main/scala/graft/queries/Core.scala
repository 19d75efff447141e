package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.{Batching, Segmentation}

/** Core relational surface (SURVEY.md §2.C, Q-SCAN … Q-NEST).
  *
  * Every query here is paired with an ANSI-SQL oracle (run by the
  * driver in DuckDB over the same parquet). Parity rules, applied
  * uniformly:
  *
  *  - Float aggregation is ORDER-DEPENDENT in IEEE754, and Spark and
  *    DuckDB would sum in different orders. All double sums go through
  *    an exact decimal cast (`sum(cast(x as decimal(28,10)))`) in BOTH
  *    engines, then back to double — bit-identical results.
  *  - Every output column is explicitly aliased; integer outputs are
  *    normalized to BIGINT on both sides (DuckDB counts/extracts
  *    default to int64/hugeint; Spark's size()/year() are int32).
  *  - Every query ends in a deterministic total ORDER BY.
  *  - Windows order by a unique tiebreaker so lag/row_number are
  *    deterministic under key collisions.
  */
object Core {
  type Q = (SparkSession, String) => DataFrame

  /** Exact (decimal-path) sum of a double column, returned as double.
    *
    * Scale 2 on purpose, twice over: (a) the money/value columns are
    * 2-decimal data, so the per-element double→decimal cast is exact
    * in both engines; (b) DuckDB converts decimal→double as
    * (double)(scaled int128) / 10^scale, which is only correctly
    * rounded while the scaled integer fits in double's 53-bit
    * mantissa — scale 2 keeps sums exact up to ~9e13.
    */
  private[queries] def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")
  private[queries] val DSUM = "CAST(sum(CAST(%s AS DECIMAL(18,2))) AS DOUBLE)"

  /** Exact revenue sum: price * (1 - discount) with BOTH factors cast
    * to decimal BEFORE multiplying — casting the double *product*
    * diverges between engines (Spark rounds a double's shortest
    * decimal string, DuckDB its exact binary value). 2-decimal ×
    * 2-decimal is exactly 4-decimal, so every step is exact; the final
    * rescale to scale 4 (a trailing-zero truncation, never a rounding)
    * keeps the scaled integer inside double's mantissa for the cast.
    */
  private[queries] def revSum(price: Column, discount: Column): Column =
    sum(price.cast(DecimalType(18, 4)) *
      (lit(1.0) - discount).cast(DecimalType(18, 4)))
      .cast(DecimalType(28, 4)).cast("double")
  private[queries] val REVSUM = "CAST(CAST(sum(CAST(%s AS DECIMAL(18,4)) * CAST(1.0 - %s AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS DOUBLE)"

  /** Deterministic split bucket: first md5 byte of the stringified
    * key, 0–255. Shared by q_split (keyed on doc_id) and
    * q_split_leakproof (keyed on the cluster representative) so the
    * leakproof split's "degrades to exactly q_split on a
    * duplicate-free corpus" contract is enforced by construction —
    * ONE copy of the hash arithmetic and of the 80/10/10 thresholds.
    */
  private[queries] def splitBucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 2), 16, 10).cast("int")

  private[queries] def splitLabel(key: Column): Column = {
    val b = splitBucket(key)
    when(b < 204, "train").when(b < 230, "val").otherwise("test")
  }

  /** The shared per-order co-purchase pair derivation (ONE shuffle:
    * collect the deduped, sorted part set per order, explode ordered
    * pairs narrowly — within-order sets are small, so the explosion
    * is bounded per row). Three consumers build on it with their own
    * filters: q_triangles (triangle counting), the sparsified graph
    * queries (BFS / LPA / weighted SSSP), and q_recs (co-occurrence
    * counts — collect_set keeps ONE row per (order, pair), so its
    * groupBy counts order-level co-occurrence, exactly the oracle's
    * DISTINCT-items derivation). The test corpus is a single-row-group file →
    * serial scan; keying the exchange on the groupBy column makes the
    * aggregate and explosion run wide (the qPageRank rationale).
    */
  private[queries] def coPurchasePairs(
      s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("l_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS u, y AS v))))"))
        .as("e"))
      .select(col("e.u"), col("e.v"))

  // ---------------------------------------------------------------- Q-SCAN
  /** Scan + project + filter with a string predicate (reference O1/O2,
    * syllabus_parser.py:48-70). Filter and 3-column projection both
    * push into the parquet scan (PushedFilters / ReadSchema).
    */
  private val qScan: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(col("lang") === "en" && length(col("text")) > 0)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy("doc_id")

  private val qScanSql =
    """SELECT doc_id, source, n_chars FROM documents
      |WHERE lang = 'en' AND length(text) > 0
      |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- Q-SEG
  /** Ordered segmentation / sessionization (reference O4,
    * syllabus_parser.py:118-154): running count of marker rows per
    * user, pre-first-marker rows dropped, per-segment aggregates.
    * Parallelism = per-user window partitions; one hash shuffle.
    */
  private val qSeg: Q = (s, d) => {
    val seg = Segmentation.segment(
      Tables.events(s, d),
      col("user_id"), col("event_type") === "signup",
      col("ts"), col("event_id"))
    seg.groupBy(col("user_id"), col("segment"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("seg_start"),
        max(col("ts")).as("seg_end"),
        dsum(col("value")).as("seg_value"))
      .orderBy("user_id", "segment")
  }

  private val qSegSql =
    s"""WITH seg AS (
       |  SELECT user_id, ts, value,
       |         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS segment
       |  FROM events)
       |SELECT user_id, segment, count(*) AS n_events,
       |       min(ts) AS seg_start, max(ts) AS seg_end,
       |       ${DSUM.format("value")} AS seg_value
       |FROM seg WHERE segment >= 1
       |GROUP BY user_id, segment
       |ORDER BY user_id, segment""".stripMargin

  // --------------------------------------------------------------- Q-CLEAN
  /** Marker-title cleanup (reference O3, syllabus_parser.py:85-93):
    * remove marker substring, trim whitespace + ' -:' charset.
    */
  private val qClean: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        Segmentation.cleanTitle(col("text"), "spark").as("cleaned"))
      .orderBy("doc_id")

  private val qCleanSql =
    """SELECT doc_id,
      |  trim(regexp_replace(replace(text, 'spark', ''), '^\s+|\s+$', '', 'g'), ' -:') AS cleaned
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q-BATCH
  /** row_number bucketing with partial final batch (reference O9,
    * syllabus_ai_graph.py:146-182). Runs the SCALABLE batch-id path
    * (range repartition + per-partition offsets — BatchingSpec pins it
    * equivalent to the global-order window): orders is corpus-sized,
    * and this was the repo's last declared-query single-partition
    * window over an unbounded domain (optimization r18, the PrefixScan
    * treatment).
    */
  private val qBatch: Q = (s, d) =>
    Batching.withBatchIdScalable(Tables.orders(s, d), 5, col("o_orderkey"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("batch_total"))
      .orderBy("batch_id")

  private val qBatchSql =
    s"""WITH b AS (
       |  SELECT o_totalprice,
       |         (row_number() OVER (ORDER BY o_orderkey) - 1) // 5 AS batch_id
       |  FROM orders)
       |SELECT batch_id, count(*) AS n_orders,
       |       ${DSUM.format("o_totalprice")} AS batch_total
       |FROM b GROUP BY batch_id ORDER BY batch_id""".stripMargin

  // -------------------------------------------------------------- Q-JOIN-B
  /** 5-way star join, revenue by nation (reference O10 generalized,
    * syllabus_ai_graph.py:190-201). Dimensions are broadcast
    * explicitly; lineitem⋈orders is the only shuffle join.
    */
  private val qJoinB: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val dims = broadcast(
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .select(col("c_custkey"), col("n_name")))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(dims, col("o_custkey") === col("c_custkey"))
      .groupBy(col("n_name"))
      .agg(revSum(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_lineitems"))
      .orderBy("n_name")
  }

  private val qJoinBSql =
    s"""SELECT n_name,
       |       ${REVSUM.format("l_extendedprice", "l_discount")} AS revenue,
       |       count(*) AS n_lineitems
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation   ON c_nationkey = n_nationkey
       |JOIN region   ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ------------------------------------------------------------- Q-JOIN-SA
  /** Left-semi: customers having orders (reference O10 hit path). */
  private val qJoinSemi: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")

  private val qJoinSemiSql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti: customers without orders (reference O10 miss ⇒ empty,
    * syllabus_ai_graph.py:199-201).
    */
  private val qJoinAnti: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")

  private val qJoinAntiSql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // ----------------------------------------------------------------- Q-AGG
  /** TPC-H Q1-shaped hash aggregate with partial/final + distinct
    * (reference O12 generalized, syllabus_ai_graph.py:281).
    */
  private val qAgg: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        revSum(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"),
        countDistinct(col("l_partkey")).as("n_parts"))
      .orderBy("l_returnflag", "l_linestatus")

  private val qAggSql =
    s"""SELECT l_returnflag, l_linestatus,
       |       ${DSUM.format("l_quantity")} AS sum_qty,
       |       ${DSUM.format("l_extendedprice")} AS sum_base_price,
       |       ${REVSUM.format("l_extendedprice", "l_discount")} AS sum_disc_price,
       |       ${DSUM.format("l_quantity")} / count(*) AS avg_qty,
       |       count(*) AS count_order,
       |       count(DISTINCT l_partkey) AS n_parts
       |FROM lineitem
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- Q-CUBE
  /** ROLLUP grouping sets (engine-surface completion of Q-AGG). */
  private val qRollup: Q = (s, d) =>
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("gid"),
        col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  private val qRollupSql =
    s"""SELECT l_returnflag, l_linestatus,
       |       CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       |       count(*) AS n_rows,
       |       ${DSUM.format("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY ROLLUP (l_returnflag, l_linestatus)
       |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- Q-AGG2
  /** Aggregate surface #2: collection aggregates (sorted for
    * determinism) and boolean aggregates. The collected set is emitted
    * array_join'ed to a scalar string: the driver's comparator hashes
    * column values, and raw array cells are unhashable on the pandas
    * side (round-1 `unhashable type: numpy.ndarray`).
    */
  private val qAgg2: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        array_join(array_sort(collect_set(col("l_linestatus"))), ",").as("statuses"),
        bool_and(col("l_discount") <= 0.1).as("all_low_discount"),
        bool_or(col("l_quantity") > 45).as("any_bulk"),
        count_if(col("l_tax") > 0.05).as("n_taxed"))
      .orderBy("l_returnflag")

  private val qAgg2Sql =
    """SELECT l_returnflag,
      |  array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
      |  bool_and(l_discount <= 0.1) AS all_low_discount,
      |  bool_or(l_quantity > 45) AS any_bulk,
      |  CAST(count_if(l_tax > 0.05) AS BIGINT) AS n_taxed
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- Q-CUBE2
  /** Full CUBE grouping sets (completes Q-CUBE's rollup). */
  private val qCube: Q = (s, d) =>
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("gid"),
        col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  private val qCubeSql =
    s"""SELECT l_returnflag, l_linestatus,
       |       CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       |       count(*) AS n_rows,
       |       ${DSUM.format("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY CUBE (l_returnflag, l_linestatus)
       |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- Q-PIVOT
  /** Pivot = conditional aggregation over a known key domain. The
    * DataFrame API's pivot() with explicit values compiles to exactly
    * the CASE-WHEN aggregate the oracle states — no extra pass to
    * discover the domain (which at 100 TB would be a full scan).
    */
  private val qPivot: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(dsum(col("o_totalprice")))
      .na.fill(0.0)
      .orderBy("o_orderpriority")

  private val qPivotSql =
    s"""SELECT o_orderpriority,
       |  coalesce(${DSUM.format("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")}, 0.0) AS "F",
       |  coalesce(${DSUM.format("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")}, 0.0) AS "O",
       |  coalesce(${DSUM.format("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")}, 0.0) AS "P"
       |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ----------------------------------------------------------------- Q-WIN
  /** Ranking + analytic + sliding frame (reference O4/O9 window
    * foundations). Window orders by (o_orderdate, o_orderkey) — the
    * unique tiebreaker keeps lag/row_number deterministic.
    */
  private val qWin: Q = (s, d) => {
    val byDateKey = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val byDate = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"),
      row_number().over(byDateKey).cast("long").as("rn"),
      rank().over(byDate).cast("long").as("rnk"),
      lag(col("o_totalprice"), 1).over(byDateKey).as("prev_price"),
      sum(col("o_totalprice").cast(DecimalType(18, 2)))
        .over(byDateKey.rowsBetween(-2, Window.currentRow))
        .cast("double").as("moving_sum"))
      .orderBy("o_orderkey")
  }

  private val qWinSql =
    """SELECT o_orderkey, o_custkey,
      |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn,
      |  CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS BIGINT) AS rnk,
      |  lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- Q-WIN2
  /** Window battery #2: dense_rank, ntile, first/last_value with
    * explicit frames, and a RANGE interval frame (30-day trailing sum)
    * — the analytic surface beyond Q-WIN's basics.
    */
  private val qWin2: Q = (s, d) => {
    val byDateKey = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val byDate = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))
    val range30d = Window.partitionBy(col("o_custkey"))
      // NTZ has no direct long cast; via TIMESTAMP = epoch seconds
      // under the UTC session, matching DuckDB's epoch()
      .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
      .rangeBetween(-30L * 86400, 0)
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"),
      dense_rank().over(byDate).cast("long").as("drnk"),
      ntile(4).over(byDateKey).cast("long").as("quartile"),
      first(col("o_totalprice")).over(
        byDateKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("first_price"),
      last(col("o_totalprice")).over(
        byDateKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("latest_price"),
      sum(col("o_totalprice").cast(DecimalType(18, 2))).over(range30d)
        .cast("double").as("trailing_30d"),
      percent_rank().over(byDate).as("pct_rank"),
      cume_dist().over(byDate).as("cume"))
      .orderBy("o_orderkey")
  }

  private val qWin2Sql =
    """SELECT o_orderkey, o_custkey,
      |  CAST(dense_rank() OVER w_date AS BIGINT) AS drnk,
      |  CAST(ntile(4) OVER w_key AS BIGINT) AS quartile,
      |  first_value(o_totalprice) OVER (w_key ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price,
      |  last_value(o_totalprice) OVER (w_key ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS latest_price,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
      |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_30d,
      |  percent_rank() OVER w_date AS pct_rank,
      |  cume_dist() OVER w_date AS cume
      |FROM orders
      |WINDOW w_date AS (PARTITION BY o_custkey ORDER BY o_orderdate),
      |       w_key AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- Q-TOPK
  /** Top-10 customers by revenue, tie-broken by key (reference O9/O15
    * limits generalized). Spark plans order+limit as TakeOrderedAndProject
    * — per-partition top-k then a k-row merge, no global sort.
    */
  private val qTopK: Q = (s, d) =>
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(dsum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(10)

  private val qTopKSql =
    s"""SELECT c_custkey, c_name,
       |       ${DSUM.format("o_totalprice")} AS revenue, count(*) AS n_orders
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_custkey, c_name
       |ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin

  // -------------------------------------------------------- Q-TOPK-GROUPED
  /** Per-group top-k via the typed TopKAgg UDAF: partial aggregation
    * ships ≤ k rows per group per partition — the grouped sibling of
    * TakeOrderedAndProject, vs a window row_number that sorts whole
    * groups. Oracle states the window formulation.
    */
  private val qTopKGrouped: Q = (s, d) => {
    val agg = graft.functions.TopKAgg.topK(3)
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(agg(col("o_totalprice"), col("o_orderkey")).as("top"))
      .select(col("c_mktsegment"), posexplode(col("top")).as(Seq("rk", "t")))
      .select(col("c_mktsegment"), (col("rk") + 1).cast("long").as("rk"),
        col("t._1").as("o_totalprice"), col("t._2").as("o_orderkey"))
      .orderBy("c_mktsegment", "rk")
  }

  private val qTopKGroupedSql =
    """SELECT c_mktsegment, CAST(rk AS BIGINT) AS rk, o_totalprice, o_orderkey
      |FROM (
      |  SELECT c_mktsegment, o_totalprice, o_orderkey,
      |         row_number() OVER (PARTITION BY c_mktsegment
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders JOIN customer ON o_custkey = c_custkey)
      |WHERE rk <= 3 ORDER BY c_mktsegment, rk""".stripMargin

  // ----------------------------------------------------------------- Q-SET
  /** UNION / INTERSECT / EXCEPT (reference O12 union generalized). */
  private val qSet: Q = (s, d) => {
    val c = Tables.customer(s, d).select(col("c_nationkey").cast("long").as("nationkey"))
    val sup = Tables.supplier(s, d).select(col("s_nationkey").cast("long").as("nationkey"))
    val both = c.intersect(sup).select(lit("both").as("op"), col("nationkey"))
    val custOnly = c.except(sup).select(lit("cust_only").as("op"), col("nationkey"))
    val all = c.union(sup).distinct().select(lit("any").as("op"), col("nationkey"))
    both.unionByName(custOnly).unionByName(all).orderBy("op", "nationkey")
  }

  private val qSetSql =
    """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer),
      |     s AS (SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier)
      |SELECT 'both' AS op, nationkey FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
      |UNION ALL
      |SELECT 'cust_only' AS op, nationkey FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
      |UNION ALL
      |SELECT 'any' AS op, nationkey FROM (SELECT nationkey FROM c UNION SELECT nationkey FROM s)
      |ORDER BY op, nationkey""".stripMargin

  // ----------------------------------------------------------------- Q-STR
  /** Scalar string battery (reference O3/O17). */
  private val qStr: Q = (s, d) => {
    val toks = split(col("text"), " ")
    Tables.documents(s, d).select(
      col("doc_id"),
      col("text").contains("spark").as("has_spark"),
      substring(regexp_replace(col("text"), "data", "DATA"), 1, 40).as("replaced"),
      substring(lower(col("text")), 1, 40).as("lowered"),
      size(toks).cast("long").as("n_tokens"),
      element_at(toks, 1).as("first_tok"),
      substring(col("text"), 5, 20).as("mid"),
      length(col("text")).cast("long").as("n_chars_text"),
      concat_ws("|", col("source"), col("lang")).as("src_lang"))
      .orderBy("doc_id")
  }

  private val qStrSql =
    """SELECT doc_id,
      |  contains(text, 'spark') AS has_spark,
      |  substring(replace(text, 'data', 'DATA'), 1, 40) AS replaced,
      |  substring(lower(text), 1, 40) AS lowered,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  string_split(text, ' ')[1] AS first_tok,
      |  substring(text, 5, 20) AS mid,
      |  CAST(length(text) AS BIGINT) AS n_chars_text,
      |  concat_ws('|', source, lang) AS src_lang
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- Q-STR2
  /** Scalar string battery #2: edit distance (the classic fuzzy-match
    * primitive), padding, char translation, reverse, repeat.
    */
  private val qStr2: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      levenshtein(substring(col("text"), 1, 12), lit("spark engine")).cast("long").as("edit_dist"),
      lpad(col("lang"), 5, "_").as("lang_pad"),
      rpad(col("source"), 10, ".").as("src_pad"),
      translate(substring(col("text"), 1, 20), "aeiou", "AEIOU").as("translated"),
      reverse(substring(col("text"), 1, 10)).as("rev"),
      concat(lit(""), expr("repeat(lang, 2)")).as("lang2"))
      .orderBy("doc_id")

  private val qStr2Sql =
    """SELECT doc_id,
      |  CAST(levenshtein(substring(text, 1, 12), 'spark engine') AS BIGINT) AS edit_dist,
      |  lpad(lang, 5, '_') AS lang_pad,
      |  rpad(source, 10, '.') AS src_pad,
      |  translate(substring(text, 1, 20), 'aeiou', 'AEIOU') AS translated,
      |  reverse(substring(text, 1, 10)) AS rev,
      |  repeat(lang, 2) AS lang2
      |FROM documents ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- Q-MAP
  /** Map-type surface (the reference's one Dict field,
    * data_types.py:38): construction, extraction, cardinality,
    * key/value listing. Only scalar/array derivatives are emitted —
    * raw MAP columns don't compare portably across engines.
    */
  private val qMap: Q = (s, d) => {
    val m = map(lit("status"), col("o_orderstatus"), lit("priority"), col("o_orderpriority"))
    Tables.orders(s, d).select(
      col("o_orderkey"),
      element_at(m, "status").as("status_val"),
      size(m).cast("long").as("n_entries"),
      // array_join'ed to scalar strings — raw array cells are
      // unhashable in the driver's pandas-side comparator
      array_join(sort_array(map_keys(m)), ",").as("keys_sorted"),
      array_join(sort_array(map_values(m)), ",").as("vals_sorted"))
      .orderBy("o_orderkey")
  }

  private val qMapSql =
    """SELECT o_orderkey,
      |  MAP(['status','priority'], [o_orderstatus, o_orderpriority])['status'][1] AS status_val,
      |  CAST(cardinality(MAP(['status','priority'], [o_orderstatus, o_orderpriority])) AS BIGINT) AS n_entries,
      |  array_to_string(list_sort(map_keys(MAP(['status','priority'], [o_orderstatus, o_orderpriority]))), ',') AS keys_sorted,
      |  array_to_string(list_sort(map_values(MAP(['status','priority'], [o_orderstatus, o_orderpriority]))), ',') AS vals_sorted
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- Q-DATE
  /** Date battery + month grouping (engine-surface completion; the
    * reference stores dates as strings, data_types.py:36).
    */
  private val qDate: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mon"))
      .agg(count(lit(1)).as("n_orders"),
        min(date_trunc("month", col("o_orderdate"))).as("month_start"),
        dsum(col("o_totalprice")).as("month_total"),
        max(datediff(col("o_orderdate"), lit("1995-01-01").cast("date")))
          .cast("long").as("max_days_since"))
      .orderBy("yr", "mon")

  private val qDateSql =
    s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
       |       CAST(month(o_orderdate) AS BIGINT) AS mon,
       |       count(*) AS n_orders,
       |       min(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)) AS month_start,
       |       ${DSUM.format("o_totalprice")} AS month_total,
       |       CAST(max(datediff('day', TIMESTAMP '1995-01-01', o_orderdate)) AS BIGINT) AS max_days_since
       |FROM orders GROUP BY 1, 2 ORDER BY yr, mon""".stripMargin

  // --------------------------------------------------------------- Q-DATE2
  /** Date battery #2: month arithmetic (end-of-month clamping),
    * last_day, day-of-week (normalized to DuckDB's Sunday=0),
    * quarter, formatting, date construction.
    */
  private val qDate2: Q = (s, d) =>
    Tables.orders(s, d).select(
      col("o_orderkey"),
      add_months(col("o_orderdate"), 1).cast("timestamp").as("next_month"),
      last_day(col("o_orderdate")).cast("timestamp").as("eom"),
      (dayofweek(col("o_orderdate")) - 1).cast("long").as("dow"),
      quarter(col("o_orderdate")).cast("long").as("qtr"),
      date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
      make_date(year(col("o_orderdate")), month(col("o_orderdate")), lit(1))
        .cast("timestamp").as("month_floor"))
      .orderBy("o_orderkey")

  private val qDate2Sql =
    """SELECT o_orderkey,
      |  CAST(date_add(o_orderdate, INTERVAL 1 MONTH) AS TIMESTAMP) AS next_month,
      |  CAST(last_day(o_orderdate) AS TIMESTAMP) AS eom,
      |  CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
      |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
      |  strftime(o_orderdate, '%Y-%m') AS ym,
      |  CAST(make_date(CAST(year(o_orderdate) AS INT), CAST(month(o_orderdate) AS INT), 1) AS TIMESTAMP) AS month_floor
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- Q-NULL
  /** Null-handling battery: nullif / coalesce / null-safe equality /
    * greatest-least null skipping.
    */
  private val qNull: Q = (s, d) => {
    val seg = nullif(col("c_mktsegment"), lit("BUILDING"))
    Tables.customer(s, d).select(
      col("c_custkey"),
      seg.as("seg_or_null"),
      coalesce(seg, lit("suppressed")).as("seg_filled"),
      (seg <=> lit(null)).as("is_suppressed"),
      greatest(col("c_acctbal"), lit(0.0)).as("bal_floor"),
      least(nullif(col("c_acctbal"), col("c_acctbal")), col("c_acctbal")).as("least_skips_null"))
      .orderBy("c_custkey")
  }

  private val qNullSql =
    """SELECT c_custkey,
      |  nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
      |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'suppressed') AS seg_filled,
      |  nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM NULL AS is_suppressed,
      |  greatest(c_acctbal, 0.0) AS bal_floor,
      |  least(nullif(c_acctbal, c_acctbal), c_acctbal) AS least_skips_null
      |FROM customer ORDER BY c_custkey""".stripMargin

  // --------------------------------------------------------------- Q-REGEX
  /** Regex battery: extraction (empty string on no match in both
    * engines), boolean match, occurrence count.
    */
  private val qRegex: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      regexp_extract(col("text"), "([a-z]{7,})", 1).as("long_word"),
      col("text").rlike("data|spark").as("mentions_tech"),
      regexp_count(col("text"), lit("[aeiou]{2}")).cast("long").as("n_vowel_pairs"))
      .orderBy("doc_id")

  private val qRegexSql =
    """SELECT doc_id,
      |  regexp_extract(text, '([a-z]{7,})', 1) AS long_word,
      |  regexp_matches(text, 'data|spark') AS mentions_tech,
      |  CAST(len(regexp_extract_all(text, '[aeiou]{2}')) AS BIGINT) AS n_vowel_pairs
      |FROM documents ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- Q-TRY
  /** Error-safe function battery (the engine-wide PERMISSIVE stance,
    * reference parse-or-empty analogue): failed casts / divisions /
    * out-of-bounds access yield NULL, never an exception.
    */
  private val qTry: Q = (s, d) =>
    Tables.events(s, d).select(
      col("event_id"),
      try_divide(col("value"), col("value") - col("value")).as("div0"),
      expr("try_cast(event_type AS BIGINT)").as("bad_cast"),
      expr("try_cast(CAST(event_id AS STRING) AS BIGINT)").as("good_cast"),
      try_element_at(split(col("event_type"), "_"), lit(99)).as("oob"),
      try_add(col("event_id"), lit(1)).cast("long").as("next_id"))
      .orderBy("event_id")

  private val qTrySql =
    """SELECT event_id,
      |  value / nullif(value - value, 0.0) AS div0,
      |  TRY_CAST(event_type AS BIGINT) AS bad_cast,
      |  TRY_CAST(CAST(event_id AS VARCHAR) AS BIGINT) AS good_cast,
      |  string_split(event_type, '_')[99] AS oob,
      |  CAST(event_id + 1 AS BIGINT) AS next_id
      |FROM events ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- Q-JSON
  /** Schema-on-read JSON extraction, null on corrupt input (the
    * reference's Pydantic parse-or-empty, syllabus_ai_graph.py:78,88-90).
    */
  private val qJson: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").cast("long").as("k_val"),
        col("event_type"))
      .withColumn("k_bucket", expr("k_val div 10"))
      .orderBy("event_id")

  private val qJsonSql =
    """SELECT event_id,
      |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
      |  event_type,
      |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_bucket
      |FROM events ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- Q-NEST
  /** Nested/higher-order functions over the embedding array
    * (reference O6/O7 nested-model analogue). Float math is forced
    * through double-exact per-element casts; both engines fold the
    * list sequentially.
    */
  private val qNest: Q = (s, d) =>
    Tables.embeddings(s, d).select(
      col("vec_id"), col("label").cast("long").as("label"),
      size(col("embedding")).cast("long").as("n_dims"),
      size(filter(col("embedding"), x => x > lit(0f))).cast("long").as("n_pos"),
      round(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double")), 6).as("sum_sq"),
      round(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double")) / size(col("embedding")), 6).as("mean_val"))
      .orderBy("vec_id")

  private val qNestSql =
    """SELECT vec_id, CAST(label AS BIGINT) AS label,
      |  CAST(len(embedding) AS BIGINT) AS n_dims,
      |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
      |  round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS sum_sq,
      |  round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) / len(embedding), 6) AS mean_val
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- Q-PLAN
  /** Declarative question-plan construction (reference O8,
    * syllabus_ai_graph.py:92-144) through the real Planner operator:
    * subtopics derived deterministically from `documents` (one per
    * doc, 4 key concepts from the leading tokens), exploded ×9 with
    * cycled difficulties, globally numbered ids.
    */
  private val qPlan: Q = (s, d) => {
    import s.implicits._
    val subs = Tables.documents(s, d).select(
      concat(lit("doc-"), col("doc_id").cast("string")).as("subtopic_name"),
      col("source").as("topic_title"),
      lit("").as("academic_class"), lit("").as("subject"),
      array().cast("array<string>").as("learning_objectives"),
      slice(split(col("text"), " "), 1, 4).as("key_concepts"),
      array().cast("array<string>").as("assessment_criteria"),
      array().cast("array<string>").as("suggested_activities"))
      .as[graft.pipeline.Subtopic]
    graft.pipeline.Planner.plan(subs, perSubtopic = 9).toDF()
      .orderBy("topic", "subtopic", "question_id")
  }

  private val qPlanSql =
    """WITH sub AS (
      |  SELECT source AS topic_title,
      |         'doc-' || CAST(doc_id AS VARCHAR) AS subtopic_name,
      |         string_split(text, ' ')[1:4] AS key_concepts
      |  FROM documents),
      |ex AS (
      |  SELECT topic_title, subtopic_name, key_concepts, pos
      |  FROM sub CROSS JOIN (SELECT unnest(range(9)) AS pos) p)
      |SELECT 'q-' || CAST(row_number() OVER (ORDER BY topic_title, subtopic_name, pos) AS VARCHAR) AS question_id,
      |       topic_title AS topic, subtopic_name AS subtopic,
      |       ['easy','medium','hard'][(pos % 3) + 1] AS difficulty,
      |       key_concepts[(pos % greatest(len(key_concepts), 1)) + 1] AS concept_area,
      |       'planned' AS status
      |FROM ex ORDER BY topic, subtopic, question_id""".stripMargin

  // ---------------------------------------------------------------- Q-ASOF
  /** Backward as-of join (graft.operators.AsOfJoin): every non-signup
    * event picks its user's latest signup at or before it. Oracle is
    * DuckDB's native ASOF LEFT JOIN — right side deduped per (user,
    * ts) so "latest among ties" is well-defined in both engines.
    */
  private val qAsof: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val lft = ev.filter(col("event_type") =!= "signup")
      .select("event_id", "user_id", "ts")
    val rgt = ev.filter(col("event_type") === "signup")
      .groupBy("user_id", "ts").agg(max("event_id").as("signup_id"))
    graft.operators.AsOfJoin.backward(lft, rgt, "user_id", "ts", Seq("signup_id"))
      .orderBy("event_id")
  }

  private val qAsofSql =
    """WITH r AS (
      |  SELECT user_id, ts, max(event_id) AS signup_id FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id, ts),
      |l AS (SELECT event_id, user_id, ts FROM events WHERE event_type <> 'signup')
      |SELECT l.event_id, l.user_id, l.ts,
      |       r.ts AS asof_ts, r.signup_id AS asof_signup_id
      |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY l.event_id""".stripMargin

  /** Forward as-of join (the [[qAsof]] mirror): every signup picks
    * the user's EARLIEST later-or-equal non-signup event — "first
    * activity after signup". Oracle is DuckDB's native forward ASOF
    * (`l.ts <= r.ts`); right side deduped per (user, ts) keeping the
    * max event_id so ties are well-defined in both engines.
    */
  private val qAsofForward: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val lft = ev.filter(col("event_type") === "signup")
      .select("event_id", "user_id", "ts")
    val rgt = ev.filter(col("event_type") =!= "signup")
      .groupBy("user_id", "ts").agg(max("event_id").as("next_id"))
    graft.operators.AsOfJoin.forward(lft, rgt, "user_id", "ts", Seq("next_id"))
      .orderBy("event_id")
  }

  private val qAsofForwardSql =
    """WITH r AS (
      |  SELECT user_id, ts, max(event_id) AS next_id FROM events
      |  WHERE event_type <> 'signup' GROUP BY user_id, ts),
      |l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup')
      |SELECT l.event_id, l.user_id, l.ts,
      |       r.ts AS asof_ts, r.next_id AS asof_next_id
      |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
      |ORDER BY l.event_id""".stripMargin

  // --------------------------------------------------------------- Q-RANGE
  /** Time-range join via the binned equi-join
    * (graft.operators.RangeJoin — hash join on bucket keys, never a
    * nested loop): orders within ±12h of each event, aggregated to a
    * bounded per-event-type summary. The oracle states the raw
    * inequality join (fine at oracle scale).
    */
  private val qRange: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"), col("ts"))
    val others = ev.filter(col("event_type") =!= "signup")
      .select(col("user_id"), col("event_id").as("other_id"),
        col("ts").as("other_ts"), col("event_type"))
    graft.operators.RangeJoin.bucketedRangeJoin(signups, others, "ts", "other_ts",
      beforeSec = 3600, afterSec = 3600, keyCols = Seq("user_id"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("signup_id")).as("n_signups_matched"),
        countDistinct(col("other_id")).as("n_others_matched"))
      .orderBy("event_type")
  }

  private val qRangeSql =
    """WITH s AS (SELECT user_id, event_id AS signup_id, ts FROM events
      |           WHERE event_type = 'signup'),
      |     o AS (SELECT user_id, event_id AS other_id, ts AS other_ts, event_type
      |           FROM events WHERE event_type <> 'signup')
      |SELECT event_type, count(*) AS n_pairs,
      |       count(DISTINCT signup_id) AS n_signups_matched,
      |       count(DISTINCT other_id) AS n_others_matched
      |FROM s JOIN o ON s.user_id = o.user_id
      |  AND other_ts BETWEEN s.ts - INTERVAL '1 hour' AND s.ts + INTERVAL '1 hour'
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------- Q-SESSION
  /** Gap-based session windows (session_window, the dynamic-width
    * sibling of Q-SEG's marker segmentation): events within 30 min of
    * the previous event share a session; window end = last ts + gap.
    * The oracle restates the merge rule relationally: a new session
    * starts when the gap to the previous event is >= the duration
    * (Spark merges only when the next start is strictly inside the
    * extended window).
    */
  private val qSession: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sess_value"))
      .select(col("user_id"),
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("n_events"), col("sess_value"))
      .orderBy("user_id", "sess_start")

  private val qSessionSql =
    s"""WITH o AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_sess
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |s AS (
       |  SELECT user_id, ts, value,
       |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, new_sess DESC
       |                        ROWS UNBOUNDED PRECEDING) AS sess
       |  FROM o)
       |-- new_sess DESC keeps the session opener first among equal ts
       |SELECT user_id, min(ts) AS sess_start,
       |       max(ts) + INTERVAL '30 minutes' AS sess_end,
       |       count(*) AS n_events,
       |       ${DSUM.format("value")} AS sess_value
       |FROM s GROUP BY user_id, sess
       |ORDER BY user_id, sess_start""".stripMargin

  // ----------------------------------------------------------------- Q-SQL
  /** The SQL entry point: one TPC-H-Q3-shaped query written ONCE in a
    * dialect both engines parse, run through spark.sql over temp
    * views — the oracle is the very same string. Exercises the parser/
    * analyzer path the DataFrame queries bypass.
    */
  private val qSqlText =
    s"""SELECT o_orderkey, o_orderdate, o_orderpriority,
       |       ${REVSUM.format("l_extendedprice", "l_discount")} AS revenue,
       |       count(*) AS n_items
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1995-06-01 00:00:00'
       |  AND l_shipdate > TIMESTAMP '1995-06-01 00:00:00'
       |GROUP BY o_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, o_orderkey
       |LIMIT 10""".stripMargin

  private val qSql: Q = (s, d) => {
    Seq("lineitem", "orders", "customer").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    s.sql(qSqlText)
  }

  /** TPC-H Q5-shaped sibling of [[qSqlText]]: the 6-table star
    * (local-supplier revenue by nation inside one region and one
    * order-date year band), again written once in the shared dialect.
    * Exercises the join-reorder-relevant shape — Catalyst is free to
    * pick the join order; the dimension joins broadcast.
    */
  private val qSql2Text =
    s"""SELECT n_name,
       |       ${REVSUM.format("l_extendedprice", "l_discount")} AS revenue,
       |       count(*) AS n_items
       |FROM customer
       |JOIN orders ON o_custkey = c_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  private val qSql2: Q = (s, d) => {
    Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
      .foreach(t => Tables.load(s, d, t).createOrReplaceTempView(t))
    s.sql(qSql2Text)
  }

  // ----------------------------------------------------------- Q-DOCX/PIPE
  /** docx source census over the reference fixture. DuckDB cannot
    * read docx, but the census is a handful of integers measured
    * INDEPENDENTLY of this engine (direct OOXML inspection,
    * FIXTURES.md §1: 49 body-level paragraphs, 18 top-level tables,
    * 13 "Core element" marker paragraphs) — so the oracle is that
    * golden manifest as a VALUES literal (VERDICT r12 next-round #8:
    * promotes the row from `no_oracle` to hash-checked; a source
    * regression now fails the driver gate, not just DocxSourceSpec).
    */
  private[graft] val fixtureDocx = "/root/reference/chemistry_form_1_2.docx"

  private val qDocx: Q = (s, _) =>
    s.read.format("docx").load(fixtureDocx)
      .groupBy(col("doc_id"), col("element_type"))
      .agg(count(lit(1)).as("n_elements"),
        sum(when(col("text").contains("Core element"), 1).otherwise(0)).as("n_markers"))
      .orderBy("doc_id", "element_type")

  /** Full reference-pipeline E2E with the deterministic stub:
    * per-topic question/subtopic counts (rows-only; content invariants
    * in PipelineSpec).
    */
  private val qPipeline: Q = (s, _) => {
    val p = new graft.pipeline.SyllabusPipeline(
      new graft.pipeline.StubQuestionModel, subject = "chemistry",
      academicClass = "Form 1-2")
    p.run(s, fixtureDocx).toDF()
      .groupBy(col("topic"))
      .agg(count(lit(1)).as("n_questions"),
        countDistinct(col("sub_topic")).as("n_subtopics"),
        countDistinct(col("difficulty")).as("n_difficulties"))
      .orderBy("topic")
  }

  // ------------------------------------------------------------------ maps
  val defs: Map[String, Q] = Map(
    "q_scan" -> qScan,
    "q_seg" -> qSeg,
    "q_clean" -> qClean,
    "q_batch" -> qBatch,
    "q_join_broadcast" -> qJoinB,
    "q_join_semi" -> qJoinSemi,
    "q_join_anti" -> qJoinAnti,
    "q_agg" -> qAgg,
    "q_rollup" -> qRollup,
    "q_window" -> qWin,
    "q_topk" -> qTopK,
    "q_set" -> qSet,
    "q_str" -> qStr,
    "q_date" -> qDate,
    "q_json" -> qJson,
    "q_nest" -> qNest,
    "q_plan" -> qPlan,
    "q_asof" -> qAsof,
    "q_asof_forward" -> qAsofForward,
    "q_cube" -> qCube,
    "q_pivot" -> qPivot,
    "q_window2" -> qWin2,
    "q_str2" -> qStr2,
    "q_map" -> qMap,
    "q_date2" -> qDate2,
    "q_null" -> qNull,
    "q_regex" -> qRegex,
    "q_docx" -> qDocx,
    "q_pipeline" -> qPipeline,
    "q_sql" -> qSql,
    "q_sql2" -> qSql2,
    "q_session" -> qSession,
    "q_range" -> qRange,
    "q_topk_grouped" -> qTopKGrouped,
    "q_agg2" -> qAgg2,
    "q_try" -> qTry)

  /** The q_docx golden manifest (FIXTURES.md §1, measured by direct
    * OOXML inspection — independent of the engine under test).
    */
  private val qDocxSql =
    """SELECT doc_id, element_type,
      |       CAST(n_elements AS BIGINT) AS n_elements,
      |       CAST(n_markers AS BIGINT) AS n_markers
      |FROM (VALUES
      |  ('chemistry_form_1_2.docx', 'paragraph', 49, 13),
      |  ('chemistry_form_1_2.docx', 'table', 18, 0))
      |  AS t(doc_id, element_type, n_elements, n_markers)
      |ORDER BY doc_id, element_type""".stripMargin

  /** q_pipeline's oracle (VERDICT r15 next-round #6 — promoted from
    * `no_oracle`, the q_docx golden precedent): the stub generator is
    * deterministic end to end, so the 6-row per-topic aggregate is a
    * committed golden manifest ([[graft.tools.PipelineGolden]];
    * PipelineGoldenSpec re-runs the pipeline per test run and fails
    * loudly if the live output drifts from the committed rows).
    */
  private def qPipelineSql: String =
    s"""SELECT topic,
       |  CAST(n_questions AS BIGINT) AS n_questions,
       |  CAST(n_subtopics AS BIGINT) AS n_subtopics,
       |  CAST(n_difficulties AS BIGINT) AS n_difficulties
       |FROM (VALUES ${graft.tools.PipelineGolden.valuesSql()})
       |  AS t(topic, n_questions, n_subtopics, n_difficulties)
       |ORDER BY topic""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_docx" -> qDocxSql,
    "q_pipeline" -> qPipelineSql,
    "q_scan" -> qScanSql,
    "q_seg" -> qSegSql,
    "q_clean" -> qCleanSql,
    "q_batch" -> qBatchSql,
    "q_join_broadcast" -> qJoinBSql,
    "q_join_semi" -> qJoinSemiSql,
    "q_join_anti" -> qJoinAntiSql,
    "q_agg" -> qAggSql,
    "q_rollup" -> qRollupSql,
    "q_window" -> qWinSql,
    "q_topk" -> qTopKSql,
    "q_set" -> qSetSql,
    "q_str" -> qStrSql,
    "q_date" -> qDateSql,
    "q_json" -> qJsonSql,
    "q_nest" -> qNestSql,
    "q_plan" -> qPlanSql,
    "q_asof" -> qAsofSql,
    "q_asof_forward" -> qAsofForwardSql,
    "q_cube" -> qCubeSql,
    "q_pivot" -> qPivotSql,
    "q_window2" -> qWin2Sql,
    "q_str2" -> qStr2Sql,
    "q_map" -> qMapSql,
    "q_date2" -> qDate2Sql,
    "q_null" -> qNullSql,
    "q_regex" -> qRegexSql,
    "q_sql" -> qSqlText,
    "q_sql2" -> qSql2Text,
    "q_session" -> qSessionSql,
    "q_range" -> qRangeSql,
    "q_topk_grouped" -> qTopKGroupedSql,
    "q_agg2" -> qAgg2Sql,
    "q_try" -> qTrySql)
}
