package graft.gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextAnalysis
import Fixtures._

/** Batch analytics gates (`q*`): TPC-H-shaped aggregation, join and
  * window queries, rollups and percentiles, graph iterations, sketches
  * and fuzzy joins.
  */
object QueryGates {

  private[graft] def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val gates: Seq[Gate] = Seq(
    // ---------------- aggregation / join / window headliners ----------
    Gate("q1_pricing_summary", (s, dir) => q1PricingSummary(s, dir),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    Gate("q3_segment_revenue", (s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    },
      """SELECT c_mktsegment,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    Gate("q_window_ranks", (s, dir) => {
      // the statistical window-rank family: ntile quartiles,
      // percent_rank, cume_dist — all pure count arithmetic over the
      // same (group, order) window, engine-identical by construction
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).as("quartile"),
          TextAnalysis.q4(percent_rank().over(w)).as("pct_rank"),
          TextAnalysis.q4(cume_dist().over(w)).as("cume"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, o_orderpriority,
        |  ntile(4) OVER w AS quartile,
        |  floor(percent_rank() OVER w * 10000) / 10000 AS pct_rank,
        |  floor(cume_dist() OVER w * 10000) / 10000 AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin),

    Gate("q_window_running", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .withColumn("running_total",
          sum(col("o_totalprice").cast("decimal(18,3)"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("rn"),
          col("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey,
        |  ROW_NUMBER() OVER w AS rn,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,3))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    Gate("q_rollup_pricing", (s, dir) =>
      // ROLLUP lattice in one pass: Catalyst expands to grouping sets,
      // one shuffle serves all three aggregation levels (map-side
      // partials per level). NULL group keys -> 'ALL' sentinel.
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("bigint").as("gid"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("sum_disc_price"),
          count(lit(1)).as("n_rows"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("gid"), col("sum_qty"), col("sum_disc_price"), col("n_rows"))
        .orderBy(col("gid"), col("rf"), col("ls")),
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, rf, ls""".stripMargin),

    Gate("q_percentiles", (s, dir) =>
      // exact interpolated percentiles (bit-identical to DuckDB
      // quantile_cont — verified empirically). Exact percentile
      // buffers per group, which is fine for few groups; the 100 TB
      // path for high-cardinality groups is approx_percentile (t-digest
      // sketch, mergeable map-side) — parity-tested in the spec.
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("p50_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"),
          expr("percentile(l_extendedprice, 0.9)").as("p90_price"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag")),
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty,
        |  quantile_cont(l_extendedprice, 0.9) AS p90_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    Gate("q_pivot_revenue", (s, dir) => {
      // pivot = single groupBy(status) with per-segment conditional
      // aggregates: one shuffle, no per-value scans. Values are
      // enumerated explicitly so the plan is static (no driver-side
      // distinct pass) — the 100 TB-safe way to pivot.
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderstatus"))
        .pivot("c_mktsegment", segs)
        .agg(dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("o_orderstatus"))
    },
      """SELECT o_orderstatus,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS DOUBLE) AS "AUTOMOBILE",
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE c_mktsegment = 'BUILDING') AS DOUBLE) AS "BUILDING",
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE c_mktsegment = 'FURNITURE') AS DOUBLE) AS "FURNITURE",
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE c_mktsegment = 'HOUSEHOLD') AS DOUBLE) AS "HOUSEHOLD",
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE c_mktsegment = 'MACHINERY') AS DOUBLE) AS "MACHINERY"
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    Gate("q_topk_per_group", (s, dir) => {
      // top-3 orders by price per market segment: rank + filter plans
      // as WindowGroupLimit — per-partition top-k BEFORE the shuffle,
      // so the exchange carries ≤ k rows per group per partition, not
      // every row (the 100 TB-safe per-group top-k)
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .withColumn("rk", row_number().over(w).cast("bigint"))
        .filter(col("rk") <= 3)
        .select(col("c_mktsegment"), col("rk"), col("o_orderkey"),
          col("o_totalprice"))
        .orderBy(col("c_mktsegment"), col("rk"))
    },
      """SELECT c_mktsegment, rk, o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
        |  FROM orders JOIN customer ON o_custkey = c_custkey) t
        |WHERE rk <= 3 ORDER BY c_mktsegment, rk""".stripMargin),

    Gate("q_grouping_sets", (s, dir) =>
      // explicit GROUPING SETS lattice — unlike rollup's prefix chain,
      // the two single-column sets are independent (cube-style slices
      // without the grand total). Catalyst expands to one Expand +
      // one shuffle serving every set; grouping_id() disambiguates
      // rows whose NULLs are data vs. set-placeholders.
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("bigint").as("gid"),
          dsum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_rows"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
          col("gid"), col("revenue"), col("n_rows"))
        .orderBy(col("gid"), col("st"), col("pri")),
      // DuckDB numbers grouping_id bits identically to Spark here:
      // bit per grouping column, MSB first, 1 = aggregated-away
      """SELECT COALESCE(o_orderstatus, 'ALL') AS st,
        |  COALESCE(o_orderpriority, 'ALL') AS pri,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), (o_orderpriority))
        |ORDER BY gid, st, pri""".stripMargin),

    Gate("q_cube", (s, dir) =>
      // full CUBE lattice (all 4 subsets incl. grand total) — the
      // remaining corner of the rollup/grouping-sets family. Same
      // single Expand + single shuffle: 4× the map-side rows but
      // partial-aggregated before the exchange, so the shuffle carries
      // |groups| rows per partition, not 4×|input|.
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("bigint").as("gid"),
          dsum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_rows"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
          col("gid"), col("revenue"), col("n_rows"))
        .orderBy(col("gid"), col("st"), col("pri")),
      """SELECT COALESCE(o_orderstatus, 'ALL') AS st,
        |  COALESCE(o_orderpriority, 'ALL') AS pri,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, st, pri""".stripMargin),

    Gate("q_unpivot", (s, dir) =>
      // wide→long melt (Dataset.unpivot → Catalyst Expand): the
      // inverse of q_pivot_revenue. Map-side only — the 4× row
      // expansion never shuffles raw; the per-measure partial agg
      // reduces each partition to 4 rows before the exchange.
      t(s, dir, "lineitem")
        .unpivot(
          Array(col("l_orderkey")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "measure", "val")
        .groupBy(col("measure"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("val")).as("sum_val"))
        .orderBy(col("measure")),
      // UNION ALL spelling (engine-neutral melt; DuckDB's UNPIVOT
      // would work too but this pins the semantics explicitly)
      """WITH u AS (
        |  SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT 'l_tax', l_tax FROM lineitem)
        |SELECT measure, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(val AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
        |FROM u GROUP BY measure ORDER BY measure""".stripMargin),

    Gate("q_window_funcs", (s, dir) => {
      // analytic-function battery over one window spec: lag/lead,
      // ntile, percent_rank, cume_dist all share a single sort+shuffle
      // on (custkey; date, key) — Catalyst plans ONE Window node.
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("prev_price",
          lag(col("o_totalprice"), 1).over(w))
        .withColumn("next_price",
          lead(col("o_totalprice"), 1).over(w))
        .withColumn("quartile", ntile(4).over(w).cast("bigint"))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("prev_price"),
          col("next_price"), col("quartile"), col("pct_rank"), col("cume"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey,
        |  LAG(o_totalprice, 1) OVER w AS prev_price,
        |  LEAD(o_totalprice, 1) OVER w AS next_price,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  PERCENT_RANK() OVER w AS pct_rank,
        |  CUME_DIST() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    Gate("q_trgm_similarity", (s, dir) =>
      // pg_trgm-style fuzzy pair search over customer names: inverted
      // trigram index for candidates (never a cross join), exact
      // Jaccard re-score from the full trigram sets
      graft.functions.Trigram.similarPairs(
        t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
          .filter(col("c_custkey") <= 500),
        "c_custkey", "c_name", threshold = 0.8)
        .orderBy(col("id_a"), col("id_b")),
      // pairwise oracle replays the padded-word trigram Jaccard; the
      // Spark side must find the same pairs via the inverted index
      """WITH base AS (
        |  SELECT c_custkey AS id,
        |    list_distinct(flatten(list_transform(
        |      list_filter(string_split_regex(
        |        regexp_replace(lower(c_name), '[^a-z0-9]+', ' ', 'g'), ' '),
        |        w -> length(w) > 0),
        |      w -> list_transform(range(1, length(w) + 2),
        |        i -> substr('  ' || w || ' ', CAST(i AS INT), 3))))) AS tg
        |  FROM customer WHERE c_custkey <= 500),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    len(list_intersect(a.tg, b.tg)) AS inter,
        |    len(a.tg) + len(b.tg) - len(list_intersect(a.tg, b.tg)) AS un
        |  FROM base a JOIN base b ON a.id < b.id)
        |SELECT id_a, id_b,
        |  floor((CASE WHEN un = 0 THEN 0.0
        |    ELSE CAST(inter AS DOUBLE) / un END) * 10000) / 10000 AS sim
        |FROM pairs
        |WHERE floor((CASE WHEN un = 0 THEN 0.0
        |    ELSE CAST(inter AS DOUBLE) / un END) * 10000) / 10000 >= 0.8
        |ORDER BY id_a, id_b""".stripMargin),

    Gate("q_fuzzy_pairs", (s, dir) =>
      // edit-distance-1 pair search over customer names: FastSS
      // deletion-neighborhood inverted index for candidates (never a
      // cross join), exact levenshtein verify; the oracle brute-forces
      // the same pairs quadratically on the capped slice
      graft.functions.FuzzyJoin.editDistancePairs(
        t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
          .filter(col("c_custkey") <= 500),
        "c_custkey", "c_name", maxDist = 1)
        .orderBy(col("id_a"), col("id_b")),
      // quadratic ground truth on the capped slice — the Spark side
      // must find exactly these pairs via the deletion-neighborhood
      // index (FastSS guarantees candidate completeness at d ≤ maxDist)
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE a.c_custkey <= 500 AND b.c_custkey <= 500
        |  AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin),

    Gate("q_fuzzy_join_2t", (s, dir) => {
      // TWO-TABLE fuzzy join at edit distance ≤ 2 (the scale shape:
      // both sides explode into their FastSS deletion neighborhoods,
      // candidates come from the variant equi-join — never a cross
      // join — and exact levenshtein verifies candidates only; the
      // d=1 self-join variant is q_fuzzy_pairs). Disjoint id-parity
      // slices so the slices exist at every SF; the oracle
      // brute-forces the capped slices quadratically.
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"))
        .filter(col("c_custkey") <= 600)
      graft.functions.FuzzyJoin.editDistanceJoin(
        c.filter(col("c_custkey") % 2 === 0), "c_custkey", "c_name",
        c.filter(col("c_custkey") % 2 === 1), "c_custkey", "c_name",
        maxDist = 2)
        .orderBy(col("left_id"), col("right_id"))
    },
      // quadratic ground truth across the disjoint parity slices —
      // FastSS double-deletion neighborhoods are candidate-complete
      // at d ≤ 2, so the indexed join must find exactly these pairs
      """SELECT a.c_custkey AS left_id, b.c_custkey AS right_id,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b
        |  ON levenshtein(a.c_name, b.c_name) <= 2
        |WHERE a.c_custkey <= 600 AND b.c_custkey <= 600
        |  AND a.c_custkey % 2 = 0 AND b.c_custkey % 2 = 1
        |ORDER BY left_id, right_id""".stripMargin),

    Gate("q_pagerank", (s, dir) => {
      // fixed-point PageRank (3 iterations) on the customer→supplier
      // purchase graph: integer-scaled state makes every iteration
      // bit-exact and summation-order-free — the reproducibility
      // property a verified 100 TB web-graph weighting run needs.
      // Suppliers are dangling; their damped mass leaks by design.
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), (col("o_custkey") * 2).as("src"))
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      // orders projects to 2 longs — broadcast it so the edge build's
      // only exchange is the distinct's partial-agg'd shuffle
      val edges = broadcast(o).join(l, "o_orderkey")
        .select("src", "dst").distinct()
      graft.operators.Graph.pageRankFixedPoint(edges, "src", "dst",
          iters = 3)
        .orderBy(col("node"))
    },
      // three unrolled iterations; `//` is DuckDB's truncating integer
      // division = Spark's `div` on the all-positive operands
      """WITH edges AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |nodes AS (SELECT src AS node FROM edges
        |  UNION SELECT dst FROM edges),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
        |pr0 AS (SELECT node, (SELECT 1000000000000 // n FROM nn) AS pr
        |  FROM nodes),
        |it1 AS (SELECT e.dst, SUM(p.pr // d.outdeg) AS m
        |  FROM edges e JOIN pr0 p ON e.src = p.node
        |  JOIN deg d ON e.src = d.src GROUP BY 1),
        |pr1 AS (SELECT n.node,
        |    (15 * (SELECT 1000000000000 // n FROM nn)) // 100
        |      + (85 * COALESCE(i.m, 0)) // 100 AS pr
        |  FROM nodes n LEFT JOIN it1 i ON n.node = i.dst),
        |it2 AS (SELECT e.dst, SUM(p.pr // d.outdeg) AS m
        |  FROM edges e JOIN pr1 p ON e.src = p.node
        |  JOIN deg d ON e.src = d.src GROUP BY 1),
        |pr2 AS (SELECT n.node,
        |    (15 * (SELECT 1000000000000 // n FROM nn)) // 100
        |      + (85 * COALESCE(i.m, 0)) // 100 AS pr
        |  FROM nodes n LEFT JOIN it2 i ON n.node = i.dst),
        |it3 AS (SELECT e.dst, SUM(p.pr // d.outdeg) AS m
        |  FROM edges e JOIN pr2 p ON e.src = p.node
        |  JOIN deg d ON e.src = d.src GROUP BY 1),
        |pr3 AS (SELECT n.node,
        |    (15 * (SELECT 1000000000000 // n FROM nn)) // 100
        |      + (85 * COALESCE(i.m, 0)) // 100 AS pr
        |  FROM nodes n LEFT JOIN it3 i ON n.node = i.dst)
        |SELECT node, CAST(pr AS BIGINT) AS pr FROM pr3 ORDER BY node""".stripMargin),

    Gate("q_label_prop", (s, dir) => {
      // seeded label propagation on the customer↔supplier purchase
      // graph: supplier nations are the seed labels, two synchronous
      // rounds spread them to customers (integer edge-multiplicity
      // votes, ties to the smaller label, seeds clamped) — the
      // graph-based semi-supervised labeler for propagating
      // domain/quality labels over interaction graphs; the oracle
      // unrolls both rounds in SQL
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), (col("o_custkey") * 2).as("src"))
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      val edges = broadcast(o).join(l, "o_orderkey").select("src", "dst")
      val seeds = t(s, dir, "supplier")
        .select((col("s_suppkey") * 2 + 1).as("node"),
          col("s_nationkey").as("nation"))
      graft.operators.Graph.labelPropagate(edges, "src", "dst",
          seeds, "node", "nation", iters = 2)
        .orderBy(col("node"))
    },
      // two unrolled synchronous rounds: integer multiplicity votes,
      // argmax with smaller-label ties, seeds clamped via COALESCE
      """WITH e AS (
        |  SELECT o_custkey * 2 AS s, l_suppkey * 2 + 1 AS d
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |und AS (
        |  SELECT s, d FROM e UNION ALL SELECT d AS s, s AS d FROM e),
        |nodes AS (SELECT DISTINCT s AS node FROM und),
        |seeds AS (
        |  SELECT s_suppkey * 2 + 1 AS node,
        |    CAST(s_nationkey AS BIGINT) AS lbl
        |  FROM supplier),
        |l0 AS (
        |  SELECT n.node, seeds.lbl AS label FROM nodes n
        |  LEFT JOIN seeds ON seeds.node = n.node),
        |v1 AS (
        |  SELECT und.d, l0.label AS nl, COUNT(*) AS votes
        |  FROM und JOIN l0 ON l0.node = und.s
        |  WHERE l0.label IS NOT NULL GROUP BY und.d, l0.label),
        |a1 AS (
        |  SELECT d AS node, nl FROM (
        |    SELECT d, nl, ROW_NUMBER() OVER (PARTITION BY d
        |      ORDER BY votes DESC, nl ASC) AS rn FROM v1)
        |  WHERE rn = 1),
        |l1 AS (
        |  SELECT l0.node, COALESCE(seeds.lbl, a1.nl, l0.label) AS label
        |  FROM l0
        |  LEFT JOIN seeds ON seeds.node = l0.node
        |  LEFT JOIN a1 ON a1.node = l0.node),
        |v2 AS (
        |  SELECT und.d, l1.label AS nl, COUNT(*) AS votes
        |  FROM und JOIN l1 ON l1.node = und.s
        |  WHERE l1.label IS NOT NULL GROUP BY und.d, l1.label),
        |a2 AS (
        |  SELECT d AS node, nl FROM (
        |    SELECT d, nl, ROW_NUMBER() OVER (PARTITION BY d
        |      ORDER BY votes DESC, nl ASC) AS rn FROM v2)
        |  WHERE rn = 1),
        |l2 AS (
        |  SELECT l1.node, COALESCE(seeds.lbl, a2.nl, l1.label) AS label
        |  FROM l1
        |  LEFT JOIN seeds ON seeds.node = l1.node
        |  LEFT JOIN a2 ON a2.node = l1.node)
        |SELECT node, label FROM l2 ORDER BY node""".stripMargin),

    Gate("q_label_prop_delta", (s, dir) => {
      // INCREMENTAL label propagation — the stored-artifact shape: the
      // base purchase graph's 2-round labeling is the stored table
      // (replayed by the oracle exactly like q_label_prop), a delta of
      // new orders (o_orderkey % 5 = 0) arrives, and
      // labelPropagateDelta runs 2 frontier-restricted warm-start
      // rounds over the full graph: round 1 re-votes only nodes
      // incident to delta edges, round 2 only neighbors of changed
      // nodes — frontier-sized shuffle work, oracle-unrolled in SQL.
      // Graph bounded to o_orderkey <= 6000 to keep the gate's cost
      // gate-shaped (the operator itself is corpus-scale).
      val o = t(s, dir, "orders").filter(col("o_orderkey") <= 6000)
        .select(col("o_orderkey"), (col("o_custkey") * 2).as("src"))
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      val all = broadcast(o).join(l, "o_orderkey")
      val base = all.filter(col("o_orderkey") % 5 =!= 0)
        .select("src", "dst")
      val delta = all.filter(col("o_orderkey") % 5 === 0)
        .select("src", "dst")
      val full = all.select("src", "dst")
      val seeds = t(s, dir, "supplier")
        .select((col("s_suppkey") * 2 + 1).as("node"),
          col("s_nationkey").as("nation"))
      val stored = graft.operators.Graph.labelPropagate(
        base, "src", "dst", seeds, "node", "nation", iters = 2)
      graft.operators.Graph.labelPropagateDelta(stored, full,
          "src", "dst", delta, seeds, "node", "nation", rounds = 2)
        ._1.orderBy(col("node"))
    },
      // stored = 2 unrolled base-graph rounds (the q_label_prop
      // replay), then 2 FRONTIER-RESTRICTED warm-start rounds over the
      // full graph: votes only for f1 = delta-edge endpoints, then
      // f2 = neighbors of round-1 changers (IS DISTINCT FROM = the
      // null-safe change test)
      """WITH e_all AS (
        |  SELECT o_orderkey, o_custkey * 2 AS s, l_suppkey * 2 + 1 AS d
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  WHERE o_orderkey <= 6000),
        |be AS (SELECT s, d FROM e_all WHERE o_orderkey % 5 <> 0),
        |de AS (SELECT s, d FROM e_all WHERE o_orderkey % 5 = 0),
        |bund AS (SELECT s, d FROM be UNION ALL SELECT d AS s, s AS d FROM be),
        |fund AS (
        |  SELECT s, d FROM e_all
        |  UNION ALL SELECT d AS s, s AS d FROM e_all),
        |bnodes AS (SELECT DISTINCT s AS node FROM bund),
        |fnodes AS (SELECT DISTINCT s AS node FROM fund),
        |seeds AS (
        |  SELECT s_suppkey * 2 + 1 AS node,
        |    CAST(s_nationkey AS BIGINT) AS lbl
        |  FROM supplier),
        |l0 AS (
        |  SELECT n.node, seeds.lbl AS label FROM bnodes n
        |  LEFT JOIN seeds ON seeds.node = n.node),
        |v1 AS (
        |  SELECT bund.d, l0.label AS nl, COUNT(*) AS votes
        |  FROM bund JOIN l0 ON l0.node = bund.s
        |  WHERE l0.label IS NOT NULL GROUP BY bund.d, l0.label),
        |a1 AS (
        |  SELECT d AS node, nl FROM (
        |    SELECT d, nl, ROW_NUMBER() OVER (PARTITION BY d
        |      ORDER BY votes DESC, nl ASC) AS rn FROM v1)
        |  WHERE rn = 1),
        |l1 AS (
        |  SELECT l0.node, COALESCE(seeds.lbl, a1.nl, l0.label) AS label
        |  FROM l0
        |  LEFT JOIN seeds ON seeds.node = l0.node
        |  LEFT JOIN a1 ON a1.node = l0.node),
        |v2 AS (
        |  SELECT bund.d, l1.label AS nl, COUNT(*) AS votes
        |  FROM bund JOIN l1 ON l1.node = bund.s
        |  WHERE l1.label IS NOT NULL GROUP BY bund.d, l1.label),
        |a2 AS (
        |  SELECT d AS node, nl FROM (
        |    SELECT d, nl, ROW_NUMBER() OVER (PARTITION BY d
        |      ORDER BY votes DESC, nl ASC) AS rn FROM v2)
        |  WHERE rn = 1),
        |l2 AS (
        |  SELECT l1.node, COALESCE(seeds.lbl, a2.nl, l1.label) AS label
        |  FROM l1
        |  LEFT JOIN seeds ON seeds.node = l1.node
        |  LEFT JOIN a2 ON a2.node = l1.node),
        |w0 AS (
        |  SELECT n.node, COALESCE(seeds.lbl, l2.label) AS label
        |  FROM fnodes n
        |  LEFT JOIN seeds ON seeds.node = n.node
        |  LEFT JOIN l2 ON l2.node = n.node),
        |f1 AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT s AS node FROM de UNION ALL SELECT d FROM de)),
        |w1v AS (
        |  SELECT fund.d, w0.label AS nl, COUNT(*) AS votes
        |  FROM fund JOIN f1 ON f1.node = fund.d
        |  JOIN w0 ON w0.node = fund.s
        |  WHERE w0.label IS NOT NULL GROUP BY fund.d, w0.label),
        |w1a AS (
        |  SELECT d AS node, nl FROM (
        |    SELECT d, nl, ROW_NUMBER() OVER (PARTITION BY d
        |      ORDER BY votes DESC, nl ASC) AS rn FROM w1v)
        |  WHERE rn = 1),
        |w1 AS (
        |  SELECT w0.node, COALESCE(seeds.lbl, w1a.nl, w0.label) AS label
        |  FROM w0
        |  LEFT JOIN seeds ON seeds.node = w0.node
        |  LEFT JOIN w1a ON w1a.node = w0.node),
        |ch1 AS (
        |  SELECT w1.node FROM w1 JOIN w0 ON w0.node = w1.node
        |  WHERE w1.label IS DISTINCT FROM w0.label),
        |f2 AS (
        |  SELECT DISTINCT fund.d AS node
        |  FROM fund JOIN ch1 ON ch1.node = fund.s),
        |w2v AS (
        |  SELECT fund.d, w1.label AS nl, COUNT(*) AS votes
        |  FROM fund JOIN f2 ON f2.node = fund.d
        |  JOIN w1 ON w1.node = fund.s
        |  WHERE w1.label IS NOT NULL GROUP BY fund.d, w1.label),
        |w2a AS (
        |  SELECT d AS node, nl FROM (
        |    SELECT d, nl, ROW_NUMBER() OVER (PARTITION BY d
        |      ORDER BY votes DESC, nl ASC) AS rn FROM w2v)
        |  WHERE rn = 1),
        |w2 AS (
        |  SELECT w1.node, COALESCE(seeds.lbl, w2a.nl, w1.label) AS label
        |  FROM w1
        |  LEFT JOIN seeds ON seeds.node = w1.node
        |  LEFT JOIN w2a ON w2a.node = w1.node)
        |SELECT node, label FROM w2 ORDER BY node""".stripMargin),

    Gate("q_triangles", (s, dir) => {
      // per-node triangle counts on the parts-co-ordered graph
      // (market-basket projection, basket-size capped) via
      // degree-ordered orientation — each triangle generated exactly
      // once at its lowest-(degree,id) apex, candidate fan-out
      // O(E^1.5) instead of hub-quadratic; the oracle replays with
      // the simple id orientation, which must agree node for node
      val edges = graft.operators.Graph.coOccurrenceEdges(
        t(s, dir, "lineitem").filter(col("l_orderkey") <= 3000),
        "l_orderkey", "l_partkey", maxGroupSize = 8)
      graft.operators.Graph.triangleCounts(edges, "u", "v")
        .orderBy(col("node"))
    },
      // id-orientation replay: per-node triangle counts are
      // orientation-independent, so the simple a<b<c enumeration must
      // equal the degree-oriented distributed plan exactly
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey <= 3000),
        |small AS (SELECT g FROM items GROUP BY g HAVING COUNT(*) <= 8),
        |kept AS (SELECT items.g, items.i FROM items JOIN small USING (g)),
        |edges AS (
        |  SELECT DISTINCT a.i AS u, b.i AS v
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.i < b.i),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM edges e1
        |  JOIN edges e2 ON e2.u = e1.u AND e1.v < e2.v
        |  JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v),
        |nodes AS (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b AS node FROM tri
        |  UNION ALL SELECT c AS node FROM tri)
        |SELECT node, COUNT(*) AS n_triangles FROM nodes
        |GROUP BY node ORDER BY node""".stripMargin),

    Gate("q_jaro_winkler", (s, dir) =>
      // Jaro-Winkler pair verify on a capped part-name slice: the
      // codegen byte-level kernel must reproduce DuckDB's
      // jaro_winkler_similarity to the last ulp on every surviving
      // pair (similarity values are hash-compared at 9 decimals)
      graft.functions.FuzzyJoin.jaroWinklerPairs(
        t(s, dir, "part").select(col("p_partkey"), col("p_name"))
          .filter(col("p_partkey") <= 400),
        "p_partkey", "p_name", minSim = 0.88)
        .orderBy(col("id_a"), col("id_b")),
      // quadratic ground truth on the capped slice; values must match
      // the byte-level kernel exactly
      """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  jaro_winkler_similarity(a.p_name, b.p_name) AS sim
        |FROM part a JOIN part b ON a.p_partkey < b.p_partkey
        |WHERE a.p_partkey <= 400 AND b.p_partkey <= 400
        |  AND jaro_winkler_similarity(a.p_name, b.p_name) >= 0.88
        |ORDER BY id_a, id_b""".stripMargin),

    Gate("q_bloom_semijoin", (s, dir) => {
      // Bloom-prefiltered semi join: membership sketch built
      // distributed, map-side might_contain cuts the big side before
      // the exact shuffle semi-join rescues correctness
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("o_custkey"))
      graft.operators.BloomJoin.semi(t(s, dir, "orders"), cust,
          "o_custkey", expectedItems = 100000L, numBits = 1000000L)
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, o_custkey FROM orders o
        |WHERE EXISTS (SELECT 1 FROM customer c
        |  WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin),

    Gate("q_bloom_antijoin", (s, dir) => {
      // Bloom anti join: a sketch REJECT is a definite non-member and
      // passes through with no shuffle; only the accepted sliver pays
      // the exact left_anti that kills false positives
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("o_custkey"))
      graft.operators.BloomJoin.anti(t(s, dir, "orders"), cust,
          "o_custkey", expectedItems = 100000L, numBits = 1000000L)
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, o_custkey FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM customer c
        |  WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin),

    Gate("q_approx_distinct", (s, dir) =>
      // HLL sketch audit: approx_count_distinct must sit within 6% of
      // the exact count per group (rsd = 0.02) — the pre-flight a
      // sketch-only 100 TB profile runs on a slice before dropping
      // the exact (Expand-heavy) path. Oracle asserts ok = TRUE and
      // replays the exact counts.
      graft.operators.Profile.sketchDistinctAudit(
        events(s, dir), "event_type", "user_id", rsd = 0.02, tol = 0.06)
        .orderBy(col("event_type")),
      // the oracle's counts are exact; ok = TRUE asserts the Spark
      // side's HLL landed inside its error contract
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |  TRUE AS ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    Gate("q_approx_topk", (s, dir) =>
      // frequent-items sketch audit: every user whose event count is
      // strictly above the 10th-largest count must appear in the
      // approx_top_k(10) list with an exact estimate (all 150–1500
      // users tracked). Boundary ties excluded on both sides → the
      // row set is deterministic.
      graft.operators.Profile.topKAudit(
        events(s, dir), "user_id", k = 10)
        .orderBy(col("item")),
      // exact strict-heavy-hitter set; TRUE pins the Spark sketch's
      // membership + estimate audit
      """WITH e AS (
        |  SELECT user_id AS item, COUNT(*) AS n_exact
        |  FROM events GROUP BY 1),
        |kth AS (
        |  SELECT n_exact AS kc FROM e
        |  ORDER BY n_exact DESC LIMIT 1 OFFSET 9)
        |SELECT item, n_exact, TRUE AS in_sketch, TRUE AS est_ok
        |FROM e, kth WHERE n_exact > kc
        |ORDER BY item""".stripMargin),

    Gate("q_approx_quantiles", (s, dir) =>
      // quantile sketch audit: percentile_approx's estimate must land
      // within its RANK-error contract (1/accuracy), measured as the
      // fraction of rows ≤ estimate vs the requested p — value error
      // is unbounded on skewed data, rank error is the guarantee
      graft.operators.Profile.quantileAudit(
        t(s, dir, "lineitem"), "l_extendedprice",
        Seq(0.25, 0.5, 0.75, 0.95), accuracy = 100, tol = 0.02)
        .orderBy(col("p")),
      // rank-error contract holds by construction → every p is ok
      """SELECT CAST(p AS DOUBLE) AS p, TRUE AS ok
        |FROM unnest([0.25, 0.5, 0.75, 0.95]) t(p)
        |ORDER BY p""".stripMargin),

    Gate("q_theta_segments", (s, dir) => {
      // theta-sketch set algebra on pre-aggregated segment state:
      // distinct-customer overlap and difference between the hot
      // (priority 1–2) and cold order segments, estimated from two
      // compact sketches — no distinct-join over raw history. The
      // oracle pins exact counts; booleans assert each estimate
      // lands within theta tolerance of exact.
      val T = graft.functions.Theta
      val seg = t(s, dir, "orders").select(
        when(col("o_orderpriority") <= "2-HIGH", lit("hot"))
          .otherwise(lit("cold")).as("seg"),
        col("o_custkey"))
      val sk = seg.groupBy(col("seg"))
        .agg(T.thetaSketchAgg(col("o_custkey")).as("sk"))
      val pair = sk.filter(col("seg") === "hot").select(col("sk").as("sk_h"))
        .crossJoin(sk.filter(col("seg") === "cold").select(col("sk").as("sk_c")))
        .select(T.thetaEstimate(col("sk_h")).as("e_hot"),
          T.thetaEstimate(col("sk_c")).as("e_cold"),
          T.thetaIntersectEstimate(col("sk_h"), col("sk_c")).as("e_inter"),
          T.thetaDiffEstimate(col("sk_h"), col("sk_c")).as("e_diff"))
      val hot = seg.filter(col("seg") === "hot")
        .select(col("o_custkey")).distinct()
      val cold = seg.filter(col("seg") === "cold")
        .select(col("o_custkey")).distinct()
      val exact = hot.agg(count(lit(1)).as("n_hot"))
        .crossJoin(cold.agg(count(lit(1)).as("n_cold")))
        .crossJoin(hot.join(cold, Seq("o_custkey"), "left_semi")
          .agg(count(lit(1)).as("n_inter")))
      // tolerance scales with the SET the sketch sampled, not the
      // answer: a tiny A\B between two huge segments has absolute
      // error ~ |A|/√k (theta keeps k samples of A, few land in the
      // sliver), so 6%-of-answer would be an impossible bar
      def ok(est: Column, exact: Column, scale: Column) =
        abs(est - exact).cast("double") <= lit(0.06) * scale + lit(1.0)
      exact.crossJoin(pair)
        .select(col("n_hot"), col("n_cold"), col("n_inter"),
          ok(col("e_hot"), col("n_hot"), col("n_hot")).as("hot_ok"),
          ok(col("e_cold"), col("n_cold"), col("n_cold")).as("cold_ok"),
          ok(col("e_inter"), col("n_inter"), col("n_inter")).as("inter_ok"),
          ok(col("e_diff"), col("n_hot") - col("n_inter"), col("n_hot"))
            .as("diff_ok"))
    },
      // exact segment cardinalities + always-true tolerance booleans;
      // the sketch estimates themselves live Spark-side only (theta
      // bytes aren't oracle-replayable) — a drifting estimate flips
      // a boolean and fails the hash compare
      """WITH seg AS (
        |  SELECT CASE WHEN o_orderpriority <= '2-HIGH' THEN 'hot'
        |              ELSE 'cold' END AS seg, o_custkey
        |  FROM orders),
        |h AS (SELECT DISTINCT o_custkey FROM seg WHERE seg = 'hot'),
        |c AS (SELECT DISTINCT o_custkey FROM seg WHERE seg = 'cold')
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM h) AS n_hot,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_cold,
        |  (SELECT CAST(COUNT(*) AS BIGINT)
        |     FROM h JOIN c USING (o_custkey)) AS n_inter,
        |  TRUE AS hot_ok, TRUE AS cold_ok,
        |  TRUE AS inter_ok, TRUE AS diff_ok""".stripMargin)
  )
}
