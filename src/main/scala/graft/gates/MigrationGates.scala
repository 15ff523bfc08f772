package graft.gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{CopyPipeline, DiffSync, Validation}
import graft.parser.TsqlParser
import graft.convert.Config
import Fixtures._

/** Migration gates: the converter's runtime surfaces as Spark jobs —
  * copy, identity/sequence and type handling (`a*`, `b*`), diff, sync,
  * export and SCD2 maintenance (`c*`, `scd2_*`), DDL replay (`ddl_*`),
  * validation (`val_*`), set operations, citext, skew and layout.
  */
object MigrationGates {

  /** Shared by c20_scd2_apply and its streaming CDC twin
    * stream_scd2_apply (each key changes at most once across the
    * micro-batches, so the folded applyCdc result equals one apply2
    * of the full snapshot).
    */
  private[gates] val scd2ApplyOracle: String =
      // full-outer diff on the business key; IS NOT DISTINCT FROM =
      // Spark's <=> null-safe compare
      """WITH dim AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |      ELSE o_totalprice END AS o_totalprice,
        |    '2025-01-01' AS valid_from,
        |    CAST(NULL AS VARCHAR) AS valid_to,
        |    TRUE AS is_current
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |snap AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 <> 4),
        |j AS (
        |  SELECT d.o_orderkey AS dk, d.o_totalprice AS dv,
        |    d.valid_from AS vf, s.o_orderkey AS sk, s.o_totalprice AS sv
        |  FROM dim d FULL OUTER JOIN snap s
        |    ON d.o_orderkey = s.o_orderkey)
        |SELECT dk AS o_orderkey, dv AS o_totalprice, vf AS valid_from,
        |  CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
        |FROM j WHERE dk IS NOT NULL AND sk IS NOT NULL
        |  AND dv IS NOT DISTINCT FROM sv
        |UNION ALL
        |SELECT dk, dv, vf, '2026-01-01', FALSE
        |FROM j WHERE dk IS NOT NULL
        |  AND (sk IS NULL OR dv IS DISTINCT FROM sv)
        |UNION ALL
        |SELECT sk, sv, '2026-01-01', CAST(NULL AS VARCHAR), TRUE
        |FROM j WHERE sk IS NOT NULL
        |  AND (dk IS NULL OR dv IS DISTINCT FROM sv)
        |ORDER BY o_orderkey, valid_from, is_current""".stripMargin

  /** Shared by c16_sync_apply and stream_sync_apply. */
  private[gates] val syncApplyOracle: String =
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 10 <> 4 ORDER BY o_orderkey""".stripMargin

  /** Shared by citext_ci_join and citext_lower_join. */
  private val citextJoinOracle: String =
      """SELECT a.n_nationkey, b.n_nationkey AS nk2
        |FROM nation a JOIN (SELECT n_nationkey, upper(n_name) AS n_name
        |                    FROM nation) b
        |  ON lower(a.n_name) = lower(b.n_name)
        |ORDER BY a.n_nationkey, nk2""".stripMargin

  /** Shared by skew_salted_join_zipf and skew_unsalted_join_zipf. */
  private val zipfJoinOracle: String =
      """WITH big AS (
        |  SELECT CAST(CASE WHEN o_orderkey % 10 < 7 THEN 0
        |         ELSE o_custkey % 25 END AS BIGINT) AS hot_key,
        |    CAST(o_totalprice AS DECIMAL(18,3)) AS price
        |  FROM orders)
        |SELECT n.n_name, COUNT(*) AS n_rows,
        |  CAST(SUM(price) AS DOUBLE) AS sum_price
        |FROM big b JOIN nation n ON b.hot_key = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin

  val gates: Seq[Gate] = Seq(

    // ---------------- reference dataflow operators (C/B families) -----
    Gate("c_full_copy_scrub", (s, dir) => {
      // C1–C6: full-copy plan = read-side projection + NUL scrub
      val li = t(s, dir, "lineitem")
      CopyPipeline.scrubNulBytes(li)
        .withColumn("l_shipdate",
          date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
        |  l_extendedprice, l_discount, l_tax,
        |  replace(l_returnflag, chr(0), '') AS l_returnflag,
        |  replace(l_linestatus, chr(0), '') AS l_linestatus,
        |  strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    Gate("c3_modulo_buckets", (s, dir) => {
      // C3/P1: LOB-table modulo partitioning — bucket histogram proves
      // the split is complete and disjoint
      t(s, dir, "orders")
        .select(CopyPipeline.moduloBucket("o_orderkey", 8).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    },
      """SELECT o_orderkey % 8 AS bucket, COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    Gate("b4_read_normalize", (s, dir) => {
      // B4: read-side normalization (uuid→lower ≈ lower(text),
      // datetime→style-120 text)
      t(s, dir, "orders").select(
        col("o_orderkey"),
        lower(col("o_orderpriority")).as("pri_norm"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("od_text"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, lower(o_orderpriority) AS pri_norm,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS od_text
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    Gate("c15_diff_classify", (s, dir) => {
      // C11–C15: full-outer diff classification new/changed/deleted/identical
      DiffSync.diff(diffSrc(s, dir), diffTgt(s, dir), Seq("o_orderkey"))
        .select(col("o_orderkey"), col(DiffSync.FlagCol).as("row_state"))
        .orderBy(col("o_orderkey"))
    },
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 <> 4),
        |tgt AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3)
        |SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
        |  CASE WHEN t.o_orderkey IS NULL THEN 'new'
        |       WHEN s.o_orderkey IS NULL THEN 'deleted'
        |       WHEN s.o_custkey IS DISTINCT FROM t.o_custkey
        |         OR s.o_totalprice IS DISTINCT FROM t.o_totalprice
        |         THEN 'changed'
        |       ELSE 'identical' END AS row_state
        |FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey
        |ORDER BY o_orderkey""".stripMargin),

    Gate("c16_sync_apply", (s, dir) => {
      // C16 (set-based): applying the diff reproduces the source table
      DiffSync.applyDiff(
        DiffSync.diff(diffSrc(s, dir), diffTgt(s, dir), Seq("o_orderkey")))
        .orderBy(col("o_orderkey"))
    },
      syncApplyOracle),

    Gate("a22_fk_orphans", (s, dir) => {
      // A22: FK validation as left-anti join; orphans seeded
      // deterministically (keys shifted out of range). Seeding is one
      // explode over a single scan — the naive union re-read the whole
      // fact table for the 0.1% seeded branch.
      val li = t(s, dir, "lineitem")
      val seeded = li.select(explode(array(
          col("l_orderkey"),
          when(col("l_orderkey") % 997 === 0,
            col("l_orderkey") + 100000000L))).as("l_orderkey"))
        .filter(col("l_orderkey").isNotNull)
      // parent (orders) is the small side of the anti join at any
      // realistic dim/fact ratio — broadcast it so only the child scans
      Validation.fkOrphans(seeded, Seq("l_orderkey"),
        t(s, dir, "orders"), Seq("o_orderkey"), broadcastParent = true)
        .distinct().orderBy(col("l_orderkey"))
    },
      """WITH seeded AS (
        |  SELECT l_orderkey FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey + 100000000 AS l_orderkey FROM lineitem
        |  WHERE l_orderkey % 997 = 0)
        |SELECT DISTINCT l_orderkey FROM seeded
        |WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |ORDER BY l_orderkey""".stripMargin),

    Gate("a23_check_violations", (s, dir) => {
      // A23/B6/B7: translated T-SQL CHECK evaluated distributively;
      // source predicate was ISNULL([o_totalprice],0) <= 40000 → rewrite
      val pred = graft.convert.ExprRewriter.rewrite(
        "ISNULL([o_totalprice], 0) <= 40000",
        graft.convert.ExprRewriter.Sparksql, _.toLowerCase)
      Validation.checkViolations(t(s, dir, "orders"), expr(pred))
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE NOT COALESCE(COALESCE(o_totalprice, 0) <= 40000, TRUE)
        |ORDER BY o_orderkey""".stripMargin),

    Gate("a8_sequence_setval", (s, dir) =>
      // A8/pl:3048–3063: setval after load (max for +step, min for -step)
      t(s, dir, "orders").agg(
        max(col("o_orderkey")).as("setval_pos"),
        min(col("o_orderkey")).as("setval_neg"),
        (max(col("o_orderkey")) + 1L).as("next_val")),
      """SELECT MAX(o_orderkey) AS setval_pos, MIN(o_orderkey) AS setval_neg,
        |  MAX(o_orderkey) + 1 AS next_val FROM orders""".stripMargin),

    Gate("b6_expr_rewrite", (s, dir) => {
      // B6: translated T-SQL scalar expressions running distributed:
      // ISNULL→coalesce, CHARINDEX→position, DATEADD→interval, LEN
      val ev = events(s, dir)
      ev.select(
        col("event_id"),
        expr("COALESCE(props, '')").as("props_nn"),
        expr("POSITION('r' IN event_type)").as("pos_r"),
        expr("LENGTH(event_type)").as("type_len"),
        date_format(expr("ts + (2) * INTERVAL '1 day'"),
          "yyyy-MM-dd HH:mm:ss").as("ts_plus2d"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id, COALESCE(props, '') AS props_nn,
        |  POSITION('r' IN event_type) AS pos_r,
        |  LENGTH(event_type) AS type_len,
        |  strftime(ts + 2 * INTERVAL '1 day', '%Y-%m-%d %H:%M:%S') AS ts_plus2d
        |FROM events ORDER BY event_id""".stripMargin),

    Gate("a12_view_tsql", (s, dir) => {
      // A12: a T-SQL view translated by the parser and executed on
      // Spark: concat `+`→`||`, CONVERT→CAST, ISNULL→COALESCE
      val ddl =
        """CREATE VIEW [dbo].[nation_report] (nk, label, region_name) AS
          |SELECT n.n_nationkey, CONVERT(VARCHAR(40), n.n_name) + '|' + ISNULL(r.r_name, 'none'), r.r_name
          |FROM dbo.nation n INNER JOIN dbo.region r ON n.n_regionkey = r.r_regionkey
          |GO""".stripMargin
      val cat = new TsqlParser(Config()).parse(ddl.split("\n").toSeq)
      val viewSql = cat.schemas("public").views("nation_report").sql
      // extract the SELECT body (after AS) and run it on temp views
      val body = viewSql.substring(viewSql.indexOf(" AS ") + 4)
        .replaceAll("public\\.", "")
      t(s, dir, "nation").createOrReplaceTempView("nation")
      t(s, dir, "region").createOrReplaceTempView("region")
      // the view's column aliases live in the CREATE VIEW header
      s.sql(body).toDF("nk", "label", "region_name").orderBy(col("nk"))
    },
      """SELECT n.n_nationkey AS nk,
        |  CAST(n.n_name AS VARCHAR(40)) || '|' || COALESCE(r.r_name, 'none') AS label,
        |  r.r_name AS region_name
        |FROM nation n INNER JOIN region r ON n.n_regionkey = r.r_regionkey
        |ORDER BY nk""".stripMargin),

    Gate("c13_sorted_export", (s, dir) =>
      // C13/C17: PK-ordered export (sort pushdown analog) with top-k
      t(s, dir, "lineitem")
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .limit(100),
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin),

    Gate("set_except", (s, dir) => {
      // §2.D set ops: the diff semantics as EXCEPT ALL
      val o = t(s, dir, "orders")
      o.filter(col("o_orderkey") % 10 =!= 3).select(col("o_orderkey"))
        .exceptAll(o.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey")))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey FROM orders WHERE o_orderkey % 10 <> 3
        |EXCEPT ALL
        |SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 0
        |ORDER BY o_orderkey""".stripMargin),

    Gate("set_intersect", (s, dir) => {
      // INTERSECT ALL bag semantics (Dataset.intersectAll) — the §2.D
      // set operator set_except's twin: multiplicity = min of the two
      // sides' counts
      val a = diffSrc(s, dir).select(col("o_custkey"))
      val b = diffTgt(s, dir).select(col("o_custkey"))
      a.intersectAll(b)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_custkey"))
    },
      """WITH i AS (
        |  SELECT o_custkey FROM orders WHERE o_orderkey % 10 <> 4
        |  INTERSECT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderkey % 10 <> 3)
        |SELECT o_custkey, count(*) AS n FROM i
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    // ---------------- parser/emitter operators as golden relations ----
    Gate("ddl_type_map", (s, dir) => {
      // A3/A4/B1/B2: parse a fixture dump; emit (column, pg_type, spark
      // type, not_null) — golden-checked against a VALUES oracle
      val ddl =
        """CREATE TABLE [dbo].[TypeZoo](
          |	[id] [bigint] IDENTITY(1,1) NOT NULL,
          |	[guid] [uniqueidentifier] NOT NULL,
          |	[ver] [rowversion] NOT NULL,
          |	[name] [nvarchar](100) NULL,
          |	[blob] [varbinary](max) NULL,
          |	[price] [numeric](10, 0) NULL,
          |	[flag] [bit] NOT NULL,
          |	[created] [datetime2](7) NULL
          |) ON [PRIMARY]
          |GO""".stripMargin
      val cat = new TsqlParser(Config(convertNumericToInt = true))
        .parse(ddl.split("\n").toSeq)
      val tab = cat.table("public", "TypeZoo").get
      import s.implicits._
      tab.cols.sortBy(_.pos).map(c =>
        (c.name, c.pgType, c.sparkType.simpleString, c.notNull))
        .toDF("col_name", "pg_type", "spark_type", "not_null")
        .orderBy(col("col_name"))
    },
      """SELECT * FROM (VALUES
        |  ('id', 'bigint', 'bigint', TRUE),
        |  ('guid', 'uuid', 'string', TRUE),
        |  ('ver', 'bytea', 'binary', TRUE),
        |  ('name', 'varchar(100)', 'string', FALSE),
        |  ('blob', 'bytea', 'binary', FALSE),
        |  ('price', 'bigint', 'bigint', FALSE),
        |  ('flag', 'boolean', 'boolean', TRUE),
        |  ('created', 'timestamp', 'timestamp_ntz', FALSE)
        |) AS t(col_name, pg_type, spark_type, not_null)
        |ORDER BY col_name""".stripMargin),

    Gate("ddl_constraints", (s, dir) => {
      // A6/A19/A20/A22/B11: constraint records from a parsed dump
      val ddl =
        """CREATE TABLE [dbo].[Parent](
          |	[id] [int] NOT NULL,
          | CONSTRAINT [PK_Parent] PRIMARY KEY CLUSTERED ([id] ASC)
          |) ON [PRIMARY]
          |GO
          |CREATE TABLE [dbo].[Child](
          |	[id] [int] NOT NULL,
          |	[pid] [int] NULL,
          |	[code] [varchar](10) NOT NULL
          |) ON [PRIMARY]
          |GO
          |ALTER TABLE [dbo].[Child] ADD CONSTRAINT [PK_Child] PRIMARY KEY CLUSTERED ([id] ASC)
          |GO
          |ALTER TABLE [dbo].[Child] ADD CONSTRAINT [UQ_Code] UNIQUE NONCLUSTERED ([code] ASC)
          |GO
          |ALTER TABLE [dbo].[Child] WITH CHECK ADD CONSTRAINT [FK_Child_Parent] FOREIGN KEY([pid])
          |REFERENCES [dbo].[Parent] ([id])
          |ON DELETE CASCADE
          |GO""".stripMargin
      val cat = new TsqlParser(Config()).parse(ddl.split("\n").toSeq)
      import s.implicits._
      cat.allTables.flatMap { case (_, tab) =>
        tab.constraints.map {
          case graft.catalog.PrimaryKey(n, cols) =>
            (tab.name, "PK", n.getOrElse(""), cols.mkString("+"))
          case graft.catalog.Unique(n, cols) =>
            (tab.name, "UNIQUE", n.getOrElse(""), cols.mkString("+"))
          case fk: graft.catalog.ForeignKey =>
            (tab.name, "FK", fk.name.getOrElse(""),
              fk.localCols.mkString("+") + "->" + fk.remoteTable + "." +
                fk.remoteCols.mkString("+") +
                (if (fk.onDeleteCascade) " ON DELETE CASCADE" else ""))
          case c: graft.catalog.Check =>
            (tab.name, "CHECK", c.name.getOrElse(""), c.predicate)
        }
      }.toDF("table_name", "kind", "con_name", "detail")
        .orderBy(col("table_name"), col("kind"), col("con_name"))
    },
      """SELECT * FROM (VALUES
        |  ('Child', 'FK', 'FK_Child_Parent', 'pid->Parent.id ON DELETE CASCADE'),
        |  ('Child', 'PK', 'PK_Child', 'id'),
        |  ('Child', 'UNIQUE', 'UQ_Code', 'code'),
        |  ('Parent', 'PK', 'PK_Parent', 'id')
        |) AS t(table_name, kind, con_name, detail)
        |ORDER BY table_name, kind, con_name""".stripMargin),

    Gate("skew_salted_agg", (s, dir) =>
      // skew-safe two-phase aggregation: the salted plan MUST produce
      // exactly the plain GROUP BY's results — which is precisely what
      // the oracle computes, so the salting path is verified end-to-end
      graft.operators.Skew.saltedSumCount(
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_totalprice").cast("decimal(18,3)").as("price")),
        Seq("o_custkey"), "price", saltSource = "o_orderkey", buckets = 16)
        .select(col("o_custkey"),
          col("sum_price").cast("double").as("sum_price"), col("cnt"))
        .orderBy(col("o_custkey")),
      """SELECT o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,3))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS cnt
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    Gate("skew_salted_agg_zipf", (s, dir) =>
      // the salted path on data that actually NEEDS it: ~70% of all
      // rows collapse onto hot_key 0 (one reducer's partition under a
      // plain shuffle), the rest spread over 100 cold keys. The
      // two-phase plan must still equal the oracle's plain GROUP BY.
      graft.operators.Skew.saltedSumCount(
        t(s, dir, "orders")
          .select(
            when(col("o_orderkey") % 10 < 7, lit(0L))
              .otherwise(col("o_custkey") % 100 + 1).as("hot_key"),
            col("o_orderkey"),
            col("o_totalprice").cast("decimal(18,3)").as("price")),
        Seq("hot_key"), "price", saltSource = "o_orderkey", buckets = 32)
        .select(col("hot_key"),
          col("sum_price").cast("double").as("sum_price"), col("cnt"))
        .orderBy(col("hot_key")),
      """SELECT CAST(CASE WHEN o_orderkey % 10 < 7 THEN 0
        |       ELSE o_custkey % 100 + 1 END AS BIGINT) AS hot_key,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,3))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS cnt
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    Gate("skew_salted_join_zipf", (s, dir) => {
      // salted replicated join under the same zipf skew: the hot key's
      // rows spread over 32 (key, salt) buckets, the 25-row dim side
      // replicates 32×. Rolled up per dim label so the oracle is a
      // plain join + GROUP BY.
      val big = t(s, dir, "orders").select(
        when(col("o_orderkey") % 10 < 7, lit(0L))
          .otherwise(col("o_custkey") % 25).as("hot_key"),
        col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,3)").as("price"))
      val dim = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("hot_key"),
          col("n_name"))
      graft.operators.Skew.saltedJoin(big, dim, Seq("hot_key"),
          saltSource = "o_orderkey", buckets = 32)
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price")).cast("double").as("sum_price"))
        .orderBy(col("n_name"))
    },
      zipfJoinOracle),

    Gate("skew_unsalted_join_zipf", (s, dir) => {
      // the UNSALTED twin of skew_salted_join_zipf, pinned to a plain
      // shuffle join (no broadcast, no salt): the 70%-hot key lands on
      // ONE reduce task — the bench records the skew penalty the salted
      // plan removes. Identical result, identical oracle.
      val big = t(s, dir, "orders").select(
        when(col("o_orderkey") % 10 < 7, lit(0L))
          .otherwise(col("o_custkey") % 25).as("hot_key"),
        col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,3)").as("price"))
      val dim = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("hot_key"),
          col("n_name"))
      // AQE's skew-join mitigation stays ON (default) — the measured
      // gap vs the salted twin is therefore the honest residual, not a
      // strawman with the optimizer disabled
      big.hint("shuffle_merge").join(dim.hint("shuffle_merge"),
          Seq("hot_key"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price")).cast("double").as("sum_price"))
        .orderBy(col("n_name"))
    },
      // identical semantics to the salted twin — the gate asserts the
      // unsalted plan still answers correctly; BENCH records its cost
      zipfJoinOracle),

    Gate("c8_migration_copy", (s, dir) => {
      // C8–C10/P10: the migration runner copying a parsed catalog's
      // tables concurrently from the test source; output = per-table
      // row counts the oracle recomputes directly
      val ddl =
        """CREATE TABLE [dbo].[orders](
          |	[o_orderkey] [bigint] NOT NULL,
          |	[o_custkey] [bigint] NOT NULL,
          |	[o_orderstatus] [nvarchar](10) NULL
          |) ON [PRIMARY]
          |GO
          |CREATE TABLE [dbo].[lineitem](
          |	[l_orderkey] [bigint] NOT NULL,
          |	[l_linenumber] [int] NOT NULL,
          |	[l_returnflag] [nvarchar](1) NULL
          |) ON [PRIMARY]
          |GO""".stripMargin
      val cat = new TsqlParser(Config()).parse(ddl.split("\n").toSeq)
      val results = graft.operators.MigrationRunner.runAll(s, cat,
        read = (_, tab) => Some(t(s, dir, tab.name)),
        sink = (_, _, df) => df.count(),
        parallelism = 2)
      import s.implicits._
      results.map(r => (r.table, r.rows)).toDF("table_name", "rows")
        .orderBy(col("table_name"))
    },
      """SELECT * FROM (
        |  SELECT 'lineitem' AS table_name, COUNT(*) AS rows FROM lineitem
        |  UNION ALL
        |  SELECT 'orders' AS table_name, COUNT(*) AS rows FROM orders
        |) t ORDER BY table_name""".stripMargin),

    Gate("citext_ci_join", (s, dir) => {
      // B1 citext semantics: case-insensitive join via UTF8_LCASE
      // collation must behave exactly like lower()-equality
      val a = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val b = t(s, dir, "nation").select(
        col("n_nationkey").as("nk2"), upper(col("n_name")).as("n_name"))
      graft.functions.Citext.ciJoin(a, b, Seq("n_name"))
        .select(col("n_nationkey"), col("nk2"))
        .orderBy(col("n_nationkey"), col("nk2"))
    },
      citextJoinOracle),

    Gate("citext_lower_join", (s, dir) => {
      // the documented citext WORKAROUND (Spark 4.1 plans UTF8_LCASE
      // join keys sort-merge-only — standing limitation note): a
      // lower()-equality join is hash/broadcast-joinable and must
      // return exactly ciJoin's rows; gating it tri-SF makes the
      // workaround a verified first-class path, not a comment
      val a = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val b = t(s, dir, "nation").select(
        col("n_nationkey").as("nk2"), upper(col("n_name")).as("n_name"))
      graft.functions.Citext.lowerJoin(a, b, Seq("n_name"))
        .select(col("n_nationkey"), col("nk2"))
        .orderBy(col("n_nationkey"), col("nk2"))
    },
      // same ground truth as citext_ci_join: the workaround must be
      // row-identical to the collation join
      citextJoinOracle),

    Gate("val_pk_duplicates", (s, dir) =>
      // C-family validation: PK-duplicate audit (the pre-migration
      // check for a proposed key) — one groupBy, no self-join
      graft.operators.Validation.pkDuplicates(
          t(s, dir, "lineitem"), Seq("l_orderkey"))
        .orderBy(col("l_orderkey")),
      """SELECT l_orderkey, CAST(count(*) AS BIGINT) AS dup_count
        |FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1
        |ORDER BY l_orderkey""".stripMargin),

    Gate("val_null_counts", (s, dir) => {
      // NOT NULL audit in ONE aggregate pass (no per-column jobs);
      // nulls are planted via a deterministic predicate so the audit
      // has something to count on TPC-H's null-free tables
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        when(col("o_orderpriority") === "1-URGENT", lit(null))
          .otherwise(col("o_orderpriority")).as("pri"),
        when(col("o_orderstatus") === "F", lit(null))
          .otherwise(col("o_orderstatus")).as("status"))
      graft.operators.Validation.nullCounts(o, Seq("pri", "status"))
    },
      """SELECT CAST(count(*) AS BIGINT) AS total_rows,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS nulls_pri,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS nulls_status
        |FROM orders""".stripMargin),

    Gate("layout_zorder", (s, dir) =>
      // Morton z-value over (custkey, orderkey) low 10 bits — the
      // clustering key a multi-dim-pruning layout rewrite sorts by;
      // pure codegen'd shift/and/sum arithmetic the oracle replays
      t(s, dir, "orders").select(col("o_orderkey"),
        graft.operators.Layout.zValue(Seq(
          pmod(col("o_custkey"), lit(1024L)),
          pmod(col("o_orderkey"), lit(1024L))), 10).as("zval"))
        .orderBy(col("o_orderkey")),
      """SELECT o_orderkey,
        |  CAST(list_sum(list_transform(range(0, 10), j ->
        |    (((o_custkey % 1024) >> j) & 1) * (CAST(1 AS BIGINT) << (2 * j))
        |    + (((o_orderkey % 1024) >> j) & 1) * (CAST(1 AS BIGINT) << (2 * j + 1))
        |  )) AS BIGINT) AS zval
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    Gate("layout_minmax_prune", (s, dir) => {
      // zone-map data skipping: per-"file" min/max stats (file = an
      // orderkey-clustered slice, so l_orderkey envelopes are tight
      // and disjoint) plus the prune verdict for a range predicate on
      // the clustered key (skips almost every file) and the same test
      // on an unclustered column (skips none) — the case for
      // clustering, measured. Stats are files-sized: the planner
      // consults them without touching data.
      val L = graft.operators.Layout
      L.minMaxStats(t(s, dir, "lineitem"),
          floor(col("l_orderkey") / 1000).cast("long"),
          Seq("l_orderkey", "l_extendedprice"))
        .select(col("file_id"), col("n_rows"),
          col("min_l_orderkey"), col("max_l_orderkey"),
          L.canPrune("l_orderkey", lit(10000L), lit(20000L))
            .as("pruned_clustered"),
          L.canPrune("l_extendedprice", lit(10000.0), lit(20000.0))
            .as("pruned_unclustered"))
        .orderBy(col("file_id"))
    },
      // zone-map stats + the standard envelope-miss skip test
      """WITH s AS (
        |  SELECT CAST(floor(l_orderkey / 1000.0) AS BIGINT) AS file_id,
        |    count(*) AS n_rows,
        |    min(l_orderkey) AS min_l_orderkey,
        |    max(l_orderkey) AS max_l_orderkey,
        |    min(l_extendedprice) AS mnp, max(l_extendedprice) AS mxp
        |  FROM lineitem GROUP BY 1)
        |SELECT file_id, n_rows, min_l_orderkey, max_l_orderkey,
        |  (max_l_orderkey < 10000 OR min_l_orderkey > 20000)
        |    AS pruned_clustered,
        |  (mxp < 10000.0 OR mnp > 20000.0) AS pruned_unclustered
        |FROM s ORDER BY file_id""".stripMargin),

    Gate("layout_compaction_plan", (s, dir) => {
      // small-file compaction planning: per-partition file inventory
      // (size = floor(totalprice) as the deterministic byte proxy —
      // floor BEFORE the bigint cast, since Spark truncates and DuckDB
      // rounds on double→bigint), then start-offset binning into
      // ~6 MB output bins — the window is partitioned per table
      // partition, so planning parallelizes across partitions
      val files = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("part"),
          floor(col("o_orderkey") / 200).cast("long").as("file_id"))
        .agg(sum(floor(col("o_totalprice")).cast("long")).as("size_bytes"))
      graft.operators.Layout.compactionPlan(files, Seq("part"),
          "file_id", "size_bytes", targetSize = 6000000L)
        .orderBy(col("part"), col("file_id"))
    },
      // start-offset binning replayed as an exclusive prefix sum
      """WITH f AS (
        |  SELECT o_orderpriority AS part,
        |    CAST(floor(o_orderkey / 200.0) AS BIGINT) AS file_id,
        |    CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
        |      AS size_bytes
        |  FROM orders GROUP BY 1, 2)
        |SELECT part, file_id, size_bytes,
        |  CAST(floor((sum(size_bytes) OVER (PARTITION BY part
        |    ORDER BY file_id) - size_bytes) / 6000000.0) AS BIGINT)
        |    AS bin
        |FROM f ORDER BY part, file_id""".stripMargin),

    Gate("c19_digest_diff", (s, dir) =>
      // Merkle-pruned incremental diff: per-bucket (count, xor-of-row-
      // hash) digests on both sides, full diff only over dirty buckets;
      // output = the non-identical rows a sync would apply
      DiffSync.digestDiff(diffSrc(s, dir), diffTgt(s, dir),
          Seq("o_orderkey"), nBuckets = 64)
        .select(col("o_orderkey"), col(DiffSync.FlagCol).as("row_state"))
        .orderBy(col("o_orderkey")),
      // direct diff classification minus identical rows — the digest
      // pruning must be output-invisible
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 <> 4),
        |tgt AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |d AS (
        |  SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
        |    CASE WHEN t.o_orderkey IS NULL THEN 'new'
        |         WHEN s.o_orderkey IS NULL THEN 'deleted'
        |         WHEN s.o_custkey IS DISTINCT FROM t.o_custkey
        |           OR s.o_totalprice IS DISTINCT FROM t.o_totalprice
        |           THEN 'changed'
        |         ELSE 'identical' END AS row_state
        |  FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey)
        |SELECT o_orderkey, row_state FROM d
        |WHERE row_state <> 'identical' ORDER BY o_orderkey""".stripMargin),

    Gate("c27_incremental_agg_cdc", (s, dir) => {
      // retraction-capable aggregate maintenance: mixed upsert (every
      // o_orderkey % 10 == 3, price+1, with a KEY MOVE to custkey+1
      // when % 20 == 3) and delete (% 10 == 4) CDC on the orders
      // fact; only the touched keys' rows re-aggregate — must equal
      // the oracle's full re-aggregation of the CDC-applied table
      val ord = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_totalprice"))
      val I = graft.operators.Incremental
      val state0 = I.aggState(ord, "o_custkey", Seq("o_totalprice"))
      val cdc = ord
        .filter(col("o_orderkey") % 10 === 3 || col("o_orderkey") % 10 === 4)
        .select(
          when(col("o_orderkey") % 10 === 4, lit("delete"))
            .otherwise(lit("upsert")).as("op"),
          col("o_orderkey"),
          when(col("o_orderkey") % 20 === 3, col("o_custkey") + 1)
            .otherwise(col("o_custkey")).as("o_custkey"),
          (col("o_totalprice") + 1).as("o_totalprice"))
      I.aggStateCdc(ord, state0, cdc, "o_custkey", "o_orderkey",
          Seq("o_totalprice"))
        .select(col("o_custkey"), col("n_rows"),
          col("sum_o_totalprice").cast("double").as("sum_price"),
          col("min_o_totalprice").as("min_price"),
          col("max_o_totalprice").as("max_price"))
        .orderBy(col("o_custkey"))
    },
      // full re-aggregation of the CDC-applied fact table — the
      // key-scoped rebuild must reproduce it exactly, min/max included
      """WITH a1 AS (
        |  SELECT CASE WHEN o_orderkey % 20 = 3 THEN o_custkey + 1
        |              ELSE o_custkey END AS o_custkey,
        |    CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 1
        |         ELSE o_totalprice END AS v
        |  FROM orders WHERE o_orderkey % 10 <> 4)
        |SELECT o_custkey, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |  MIN(v) AS min_price,
        |  MAX(v) AS max_price
        |FROM a1 GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    Gate("c28_incremental_distinct", (s, dir) => {
      // mergeable-sketch distinct counting: per-priority HLL state on
      // history unioned with a delta sketch; the unioned estimate
      // must be IDENTICAL under a completely different batch split
      // (register-max ⇒ partition-invariant — the 100 TB contract:
      // sketch every file, union later, arrival order irrelevant)
      // and within 6% of exact. NOT compared against a direct-agg
      // estimate: direct sketches use HIP, which union cannot
      // preserve — a real integration trap, pinned here.
      val P = graft.operators.Profile
      def unionEst(a: DataFrame, b: DataFrame) = P.estimateDistinct(
        P.mergeDistinctSketches(
          P.distinctSketch(a, "o_orderpriority", "o_custkey"),
          P.distinctSketch(b, "o_orderpriority", "o_custkey"),
          "o_orderpriority"),
        "o_orderpriority")
      val ord = t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_custkey"))
      val merged = unionEst(ord.filter(col("o_orderkey") % 7 =!= 0),
          ord.filter(col("o_orderkey") % 7 === 0))
        .withColumnRenamed("n_est", "n_inc")
      val alt = unionEst(ord.filter(col("o_orderkey") % 2 === 0),
          ord.filter(col("o_orderkey") % 2 =!= 0))
        .withColumnRenamed("n_est", "n_alt")
      val exact = ord.groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      exact.join(merged, Seq("o_orderpriority"))
        .join(alt, Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n_exact"),
          (col("n_inc") === col("n_alt")).as("split_invariant"),
          (abs(col("n_inc") - col("n_exact")).cast("double") <=
            lit(0.06) * col("n_exact")).as("est_ok"))
        .orderBy(col("o_orderpriority"))
    },
      // the split-invariance and within-6% assertions run Spark-side
      // (sketch bytes aren't oracle-replayable); the oracle pins the
      // exact counts and expects both booleans to hold everywhere
      """SELECT o_orderpriority,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact,
        |  TRUE AS split_invariant, TRUE AS est_ok
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    Gate("c22_incremental_agg", (s, dir) => {
      // incremental MV maintenance: combine(state(history),
      // state(delta)) replayed against the oracle's aggregate over
      // ALL rows — the equivalence IS the gate. Only the delta is
      // scanned at refresh time; the join is keys-sized.
      val ord = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_totalprice"))
      val hist = ord.filter(col("o_orderkey") % 5 < 3)
      val delta = ord.filter(col("o_orderkey") % 5 >= 3)
      val I = graft.operators.Incremental
      I.combine(
          I.aggState(hist, "o_custkey", Seq("o_totalprice")),
          I.aggState(delta, "o_custkey", Seq("o_totalprice")),
          "o_custkey", Seq("o_totalprice"))
        .select(col("o_custkey"), col("n_rows"),
          col("sum_o_totalprice").cast("double").as("sum_price"),
          col("min_o_totalprice").as("min_price"),
          col("max_o_totalprice").as("max_price"))
        .orderBy(col("o_custkey"))
    },
      // the oracle aggregates EVERYTHING in one pass; matching it
      // proves combine(state, delta) == full rescan
      """SELECT o_custkey, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price,
        |  MIN(o_totalprice) AS min_price,
        |  MAX(o_totalprice) AS max_price
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    Gate("c25_scd2_lookup", (s, dir) => {
      // point-in-time SCD2 lookup: two-version synthetic dimension
      // over customer (every 3rd key re-versioned at ts 200), facts
      // from orders with a deterministic ts spanning the boundary —
      // equi-join on the key, interval predicate as residual filter
      val cust = t(s, dir, "customer")
      val v1 = cust.select(col("c_custkey"), col("c_acctbal").as("val"),
        lit(100L).as("valid_from"),
        when(col("c_custkey") % 3 === 0, lit(200L))
          .otherwise(lit(null).cast("long")).as("valid_to"))
      val v2 = cust.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), (col("c_acctbal") + 10.0).as("val"),
          lit(200L).as("valid_from"), lit(null).cast("long").as("valid_to"))
      val facts = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("c_custkey"),
          (lit(150L) + col("o_orderkey") % 100).as("ts"))
      graft.operators.Scd2.lookup(v1.unionByName(v2), facts,
          "c_custkey", "ts")
        .orderBy(col("o_orderkey"))
    },
      // same two-version dimension; the interval predicate picks
      // exactly one version per fact
      """WITH dim AS (
        |  SELECT c_custkey, c_acctbal AS val, 100 AS valid_from,
        |    CASE WHEN c_custkey % 3 = 0 THEN 200 ELSE NULL END
        |      AS valid_to
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, c_acctbal + 10.0, 200, NULL
        |  FROM customer WHERE c_custkey % 3 = 0),
        |f AS (
        |  SELECT o_orderkey, o_custkey AS c_custkey,
        |    150 + o_orderkey % 100 AS ts
        |  FROM orders)
        |SELECT f.o_orderkey, f.c_custkey, f.ts, d.val, d.valid_from,
        |  d.valid_to
        |FROM f JOIN dim d ON f.c_custkey = d.c_custkey
        |  AND f.ts >= d.valid_from
        |  AND (d.valid_to IS NULL OR f.ts < d.valid_to)
        |ORDER BY o_orderkey""".stripMargin),

    Gate("c26_incremental_join_cdc", (s, dir) => {
      // retraction-capable join maintenance: mixed insert/update/delete
      // CDC batches on BOTH sides of a stored orders⋈customer join —
      // stale rows drop via broadcast anti-joins on the touched keys,
      // touched slices re-derive from the upserted payloads; must equal
      // the oracle's full rejoin of the CDC-applied inputs
      val a0 = t(s, dir, "orders").select(col("o_custkey").as("custkey"),
        col("o_orderkey"), col("o_totalprice"))
      val b0 = t(s, dir, "customer").select(col("c_custkey").as("custkey"),
        col("c_name"), col("c_acctbal"))
      val j0 = a0.join(b0, Seq("custkey"))
      val aCdc = t(s, dir, "orders")
        .filter(col("o_orderkey") % 10 === 3 || col("o_orderkey") % 10 === 4)
        .select(when(col("o_orderkey") % 10 === 4, lit("delete"))
            .otherwise(lit("upsert")).as("op"),
          col("o_custkey").as("custkey"), col("o_orderkey"),
          (col("o_totalprice") + 1).as("o_totalprice"))
      val bCdc = t(s, dir, "customer")
        .filter(col("c_custkey") % 7 === 2 || col("c_custkey") % 7 === 3)
        .select(when(col("c_custkey") % 7 === 3, lit("delete"))
            .otherwise(lit("upsert")).as("op"),
          col("c_custkey").as("custkey"),
          concat(col("c_name"), lit("*")).as("c_name"), col("c_acctbal"))
      graft.operators.Incremental.joinDeltaCdc(j0, a0, b0, aCdc, bCdc,
          Seq("custkey"), "o_orderkey", "custkey", "op")
        .orderBy(col("o_orderkey"))
    },
      // full rejoin of the CDC-applied sides: upserts patch the
      // payload, deletes drop the key — the incremental maintenance
      // must reproduce this exactly
      """WITH a1 AS (
        |  SELECT o_custkey AS custkey, o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 1
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 4),
        |b1 AS (
        |  SELECT c_custkey AS custkey,
        |    CASE WHEN c_custkey % 7 = 2 THEN c_name || '*' ELSE c_name END
        |      AS c_name,
        |    c_acctbal
        |  FROM customer WHERE c_custkey % 7 <> 3)
        |SELECT a1.custkey, o_orderkey, o_totalprice, c_name, c_acctbal
        |FROM a1 JOIN b1 ON a1.custkey = b1.custkey
        |ORDER BY o_orderkey""".stripMargin),

    Gate("c24_incremental_join", (s, dir) => {
      // delta-only join maintenance: Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB
      // with both deltas broadcast — historical sides scanned, never
      // reshuffled. Oracle recomputes the delta as the full new join
      // minus the old⋈old quadrant (same predicate algebra).
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
          col("l_quantity"))
      graft.operators.Incremental.joinDelta(
        o.filter(col("o_orderkey") % 10 < 8),
        o.filter(col("o_orderkey") % 10 >= 8),
        l.filter(col("l_linenumber") % 7 < 6),
        l.filter(col("l_linenumber") % 7 >= 6),
        Seq("o_orderkey"))
        .orderBy(col("o_orderkey"), col("l_linenumber"))
    },
      // delta = every joined row where at least one side is delta
      """SELECT o_orderkey, o_custkey, l_linenumber, l_quantity
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE NOT (o_orderkey % 10 < 8 AND l_linenumber % 7 < 6)
        |ORDER BY o_orderkey, l_linenumber""".stripMargin),

    Gate("c23_latest_by_key", (s, dir) =>
      // CDC/upsert compaction: newest event per user via a partial-
      // agg'd struct-max argmax (map-side combine; no per-key window
      // a hot key could pin to one task)
      graft.operators.Incremental.latestByKey(
        events(s, dir).select(col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"),
          col("event_type"), col("value")),
        "user_id", "ts_us", "event_id", Seq("event_type", "value"))
        .orderBy(col("user_id")),
      """SELECT user_id, ts_us, event_id, event_type, value FROM (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |    value, ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin),

    Gate("c21_sampled_diff", (s, dir) =>
      // sampled spot-check audit: both sides keep the same
      // deterministic 1/8 PK-hash slice (portable md5 mod), full
      // classification on the sliver only — row_state histogram
      // included so sampling bias would surface as a count shift
      graft.operators.DiffSync.sampledDiff(diffSrc(s, dir),
          diffTgt(s, dir), Seq("o_orderkey"), modulus = 8)
        .groupBy(col(graft.operators.DiffSync.FlagCol).as("row_state"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("row_state")),
      // same md5-mod slice on both sides, then the c15 classification
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 <> 4
        |    AND CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 8 = 0),
        |tgt AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3
        |    AND CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 8 = 0),
        |d AS (
        |  SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
        |    CASE WHEN t.o_orderkey IS NULL THEN 'new'
        |         WHEN s.o_orderkey IS NULL THEN 'deleted'
        |         WHEN s.o_custkey IS DISTINCT FROM t.o_custkey
        |           OR s.o_totalprice IS DISTINCT FROM t.o_totalprice
        |           THEN 'changed'
        |         ELSE 'identical' END AS row_state
        |  FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey)
        |SELECT row_state, COUNT(*) AS n FROM d
        |GROUP BY row_state ORDER BY row_state""".stripMargin),

    Gate("scd2_cdc_collapse", (s, dir) => {
      // RAW multi-change-per-key CDC feed → collapseCdc → applyCdc,
      // against the snapshot apply2 oracle (c20's, verbatim): each
      // classified change gets two STALE earlier versions (lower seq,
      // wrong values, wrong flags — seq 0 pretends the key is new
      // with a negated price, seq 1 an intermediate +999 change);
      // the max(struct(seq, …)) collapse must keep exactly the
      // highest-seq truth per key, or the fold diverges from the
      // snapshot. This is the day-one real-CDC shape applyCdc's
      // one-change-per-key contract deferred to the caller — now
      // enforceable by construction.
      val dim = t(s, dir, "orders").filter(col("o_orderkey") % 10 =!= 3)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          lit("2025-01-01").as("valid_from"),
          lit(null).cast("string").as("valid_to"),
          lit(true).as("is_current"))
      val changes = DiffSync.diff(
          diffSrc(s, dir).drop("o_custkey"),
          diffTgt(s, dir).drop("o_custkey"), Seq("o_orderkey"))
        .filter(col(DiffSync.FlagCol) =!= "identical")
      val noisy = changes
        .select(col("o_orderkey"), col("o_totalprice"),
          col(DiffSync.FlagCol), lit(2L).as("seq"))
        .unionByName(changes.select(col("o_orderkey"),
          (col("o_totalprice") + 999.0).as("o_totalprice"),
          lit("changed").as(DiffSync.FlagCol), lit(1L).as("seq")))
        .unionByName(changes.select(col("o_orderkey"),
          (-col("o_totalprice")).as("o_totalprice"),
          lit("new").as(DiffSync.FlagCol), lit(0L).as("seq")))
      val collapsed = graft.operators.Scd2.collapseCdc(noisy,
        "o_orderkey", "seq").drop("seq")
      graft.operators.Scd2.applyCdc(dim, collapsed, "o_orderkey",
          Seq("o_totalprice"), DiffSync.FlagCol, lit("2026-01-01"))
        .orderBy(col("o_orderkey"), col("valid_from"), col("is_current"))
    },
      // collapse-then-apply of the noisy multi-change feed must equal
      // the snapshot apply — c20's oracle, verbatim
      scd2ApplyOracle),

    Gate("c20_scd2_apply", (s, dir) => {
      // SCD Type-2 dimension maintenance (Kettle "Dimension
      // lookup/update", Spark-native): one full-outer join between
      // the current-version slice and the snapshot — changed keys
      // close + reopen, new keys open, vanished keys close
      val ord = t(s, dir, "orders")
      val dim = ord.filter(col("o_orderkey") % 10 =!= 3)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          lit("2025-01-01").as("valid_from"),
          lit(null).cast("string").as("valid_to"),
          lit(true).as("is_current"))
      val snap = ord.filter(col("o_orderkey") % 10 =!= 4)
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.operators.Scd2.apply2(dim, snap, "o_orderkey",
          Seq("o_totalprice"), lit("2026-01-01"))
        .orderBy(col("o_orderkey"), col("valid_from"), col("is_current"))
    },
      scd2ApplyOracle)
  )
}
