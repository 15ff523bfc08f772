package graft.gates

import org.apache.spark.sql.functions._
import Fixtures._

/** Data-profiling gates (`profile_*`): column statistics, drift tests
  * and correlation over the fixture tables.
  */
object ProfileGates {

  /** Shared by profile_top_movers and its streaming twin
    * stream_token_drift (the streamed cumulative counts equal the
    * batch wordcount, so the scorer output is identical).
    */
  private[gates] val topMoversOracle: String =
    """WITH cs AS (
      |  SELECT token, COUNT(*) AS cnt_src FROM (
      |    SELECT unnest(regexp_split_to_array(lower(trim(text)),
      |      '\s+')) AS token
      |    FROM documents WHERE doc_id % 2 = 0) u
      |  WHERE token <> '' GROUP BY token),
      |ct AS (
      |  SELECT token, COUNT(*) AS cnt_tgt FROM (
      |    SELECT unnest(regexp_split_to_array(lower(trim(text)),
      |      '\s+')) AS token
      |    FROM documents WHERE doc_id % 2 = 1) u
      |  WHERE token <> '' GROUP BY token),
      |j AS (
      |  SELECT COALESCE(cs.token, ct.token) AS token,
      |    COALESCE(cs.cnt_src, 0) AS cnt_src,
      |    COALESCE(ct.cnt_tgt, 0) AS cnt_tgt
      |  FROM cs FULL OUTER JOIN ct ON cs.token = ct.token),
      |tot AS (
      |  SELECT SUM(cnt_src) AS ns, SUM(cnt_tgt) AS nt, COUNT(*) AS v
      |  FROM j),
      |scored AS (
      |  SELECT token, cnt_src, cnt_tgt,
      |    CAST(floor(ln(((cnt_src + 1.0) * CAST(nt + v AS DOUBLE))
      |      / ((cnt_tgt + 1.0) * CAST(ns + v AS DOUBLE))) * 1e9)
      |      AS BIGINT) AS nanos
      |  FROM j CROSS JOIN tot)
      |SELECT token, cnt_src, cnt_tgt,
      |  CAST(nanos AS DOUBLE) / 1e9 AS log_ratio
      |FROM scored ORDER BY abs(nanos) DESC, token ASC LIMIT 20""".stripMargin

  val gates: Seq[Gate] = Seq(

    Gate("profile_benford", (s, dir) =>
      // forensic leading-digit audit of o_totalprice vs the Benford
      // expectation (string-safe digit extraction, quantized shares)
      graft.operators.Profile.benfordAudit(
        t(s, dir, "orders"), "o_totalprice")
        .orderBy(col("digit")),
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(floor(abs(CAST(o_totalprice AS DOUBLE)))
        |    AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL
        |    AND CAST(floor(abs(CAST(o_totalprice AS DOUBLE))) AS BIGINT) >= 1),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c)
        |SELECT digit, n,
        |  floor(CAST(n AS DOUBLE) / CAST(t AS DOUBLE) * 10000) / 10000
        |    AS obs_share,
        |  floor(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) * 10000)
        |    / 10000 AS exp_share,
        |  floor(abs(
        |    floor(CAST(n AS DOUBLE) / CAST(t AS DOUBLE) * 10000) / 10000
        |    - floor(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) * 10000)
        |      / 10000) * 10000) / 10000 AS dev
        |FROM c, tot ORDER BY digit""".stripMargin),

    Gate("profile_impute_mean", (s, dir) => {
      // data repair: plant NULLs on keys %13=0, refill with the
      // priority-group mean from exact decimal sums (quantized filled
      // values, auditable was_imputed flag)
      val holes = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          when(col("o_orderkey") % 13 === 0, lit(null))
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      graft.operators.Profile.imputeGroupMean(holes,
          "o_orderpriority", "o_totalprice")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice_filled"), col("was_imputed"))
        .orderBy(col("o_orderkey"))
    },
      """WITH holes AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CASE WHEN o_orderkey % 13 = 0 THEN NULL
        |      ELSE o_totalprice END AS v
        |  FROM orders),
        |means AS (
        |  SELECT o_orderpriority,
        |    floor(CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) * 10000) / 10000 AS m
        |  FROM holes WHERE v IS NOT NULL GROUP BY o_orderpriority)
        |SELECT h.o_orderkey, h.o_orderpriority,
        |  COALESCE(CAST(h.v AS DOUBLE), m.m) AS o_totalprice_filled,
        |  (h.v IS NULL AND m.m IS NOT NULL) AS was_imputed
        |FROM holes h LEFT JOIN means m
        |  ON h.o_orderpriority = m.o_orderpriority
        |ORDER BY h.o_orderkey""".stripMargin),

    Gate("profile_top_movers", (s, dir) =>
      // WHICH vocabulary moved between two snapshots (PSI/KS give the
      // scalar): Laplace-smoothed share log-ratio per union-vocab
      // token in integer nanos, top-20 by |ratio| with token
      // tie-break; even/odd doc halves stand in for the snapshots
      graft.operators.Profile.tokenDriftMovers(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0),
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        "text", k = 20),
      topMoversOracle),

    Gate("profile_chi2_drift", (s, dir) =>
      // Pearson χ² token-drift movers — the statistically-weighted
      // complement of the log-ratio movers (rare tokens stop
      // over-ranking); NO transcendentals, so the nano statistic is
      // bit-identical cross-engine by op-order pinning alone
      graft.operators.Profile.chi2TokenDrift(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0),
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        "text", k = 25),
      // same wordcount + full-outer join as the movers oracle; the χ²
      // term mirrors the Spark side's exact operation order
      // ((o−e)²/e src + tgt, ×1e9, floor) — no transcendentals
      """WITH cs AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt_src FROM (
        |    SELECT unnest(regexp_split_to_array(lower(trim(text)),
        |      '\s+')) AS token
        |    FROM documents WHERE doc_id % 2 = 0) u
        |  WHERE token <> '' GROUP BY token),
        |ct AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt_tgt FROM (
        |    SELECT unnest(regexp_split_to_array(lower(trim(text)),
        |      '\s+')) AS token
        |    FROM documents WHERE doc_id % 2 = 1) u
        |  WHERE token <> '' GROUP BY token),
        |j AS (
        |  SELECT COALESCE(cs.token, ct.token) AS token,
        |    COALESCE(cs.cnt_src, 0) AS cnt_src,
        |    COALESCE(ct.cnt_tgt, 0) AS cnt_tgt
        |  FROM cs FULL OUTER JOIN ct ON cs.token = ct.token),
        |tot AS (
        |  SELECT CAST(SUM(cnt_src) AS BIGINT) AS a,
        |    CAST(SUM(cnt_tgt) AS BIGINT) AS b FROM j),
        |scored AS (
        |  SELECT token, cnt_src, cnt_tgt,
        |    CAST(floor((
        |      CASE WHEN a > 0 THEN
        |      (CAST(cnt_src AS DOUBLE) -
        |        CAST(cnt_src + cnt_tgt AS DOUBLE) * CAST(a AS DOUBLE)
        |          / CAST(a + b AS DOUBLE)) *
        |      (CAST(cnt_src AS DOUBLE) -
        |        CAST(cnt_src + cnt_tgt AS DOUBLE) * CAST(a AS DOUBLE)
        |          / CAST(a + b AS DOUBLE)) /
        |      (CAST(cnt_src + cnt_tgt AS DOUBLE) * CAST(a AS DOUBLE)
        |          / CAST(a + b AS DOUBLE))
        |      ELSE 0.0 END
        |      +
        |      CASE WHEN b > 0 THEN
        |      (CAST(cnt_tgt AS DOUBLE) -
        |        CAST(cnt_src + cnt_tgt AS DOUBLE) * CAST(b AS DOUBLE)
        |          / CAST(a + b AS DOUBLE)) *
        |      (CAST(cnt_tgt AS DOUBLE) -
        |        CAST(cnt_src + cnt_tgt AS DOUBLE) * CAST(b AS DOUBLE)
        |          / CAST(a + b AS DOUBLE)) /
        |      (CAST(cnt_src + cnt_tgt AS DOUBLE) * CAST(b AS DOUBLE)
        |          / CAST(a + b AS DOUBLE))
        |      ELSE 0.0 END
        |    ) * 1e9) AS BIGINT) AS chi2_nano
        |  FROM j CROSS JOIN tot)
        |SELECT token, cnt_src, cnt_tgt, chi2_nano
        |FROM scored ORDER BY chi2_nano DESC, token ASC LIMIT 25""".stripMargin),

    Gate("profile_psi_drift", (s, dir) =>
      // the monitoring-standard PSI over the same 64-bin layout as
      // the bucketed KS; Laplace-smoothed shares, ln terms quantized
      // and decimal-summed (the BM25 convention)
      graft.operators.Profile.psiDrift(
        diffSrc(s, dir), diffTgt(s, dir), "o_totalprice", buckets = 64),
      """WITH src AS (
        |  SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
        |  WHERE o_orderkey % 10 <> 4),
        |tgt AS (
        |  SELECT CAST(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |    ELSE o_totalprice END AS DOUBLE) AS v
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |u AS (
        |  SELECT v, 1 AS s, 0 AS t FROM src WHERE v IS NOT NULL
        |  UNION ALL
        |  SELECT v, 0 AS s, 1 AS t FROM tgt WHERE v IS NOT NULL),
        |bounds AS (SELECT min(v) AS lo, max(v) AS hi FROM u),
        |binned AS (
        |  SELECT CASE WHEN hi = lo THEN 0
        |    ELSE least(63, CAST(floor((v - lo) / (hi - lo) * 64) AS BIGINT))
        |    END AS bin, s, t
        |  FROM u, bounds),
        |pb AS (
        |  SELECT bin, CAST(sum(s) AS BIGINT) AS cs,
        |    CAST(sum(t) AS BIGINT) AS ct
        |  FROM binned GROUP BY bin),
        |allbins AS (SELECT CAST(range AS BIGINT) AS bin FROM range(64)),
        |pbf AS (
        |  SELECT b.bin, COALESCE(cs, 0) AS cs, COALESCE(ct, 0) AS ct
        |  FROM allbins b LEFT JOIN pb ON b.bin = pb.bin),
        |tot AS (SELECT CAST(sum(s) AS BIGINT) AS n_src,
        |  CAST(sum(t) AS BIGINT) AS n_tgt FROM u),
        |terms AS (
        |  SELECT n_src, n_tgt,
        |    CAST(floor(
        |      (CAST(cs + 1 AS DOUBLE) / CAST(n_src + 64 AS DOUBLE)
        |        - CAST(ct + 1 AS DOUBLE) / CAST(n_tgt + 64 AS DOUBLE))
        |      * ln((CAST(cs + 1 AS DOUBLE) / CAST(n_src + 64 AS DOUBLE))
        |        / (CAST(ct + 1 AS DOUBLE) / CAST(n_tgt + 64 AS DOUBLE)))
        |      * 1e9) / 1e9 AS DECIMAL(28,9)) AS term
        |  FROM pbf, tot)
        |SELECT n_src, n_tgt,
        |  floor(CAST(sum(term) AS DOUBLE) * 10000) / 10000 AS psi
        |FROM terms GROUP BY n_src, n_tgt""".stripMargin),

    Gate("profile_ks_drift_bucketed", (s, dir) =>
      // the corpus-scale KS path: 64 equal-width bins over combined
      // bounds — cum pass over ≤64 rows, never per distinct value
      graft.operators.Profile.ksDriftBucketed(
        diffSrc(s, dir), diffTgt(s, dir), "o_totalprice", buckets = 64),
      """WITH src AS (
        |  SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
        |  WHERE o_orderkey % 10 <> 4),
        |tgt AS (
        |  SELECT CAST(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |    ELSE o_totalprice END AS DOUBLE) AS v
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |u AS (
        |  SELECT v, 1 AS s, 0 AS t FROM src WHERE v IS NOT NULL
        |  UNION ALL
        |  SELECT v, 0 AS s, 1 AS t FROM tgt WHERE v IS NOT NULL),
        |bounds AS (SELECT min(v) AS lo, max(v) AS hi FROM u),
        |binned AS (
        |  SELECT CASE WHEN hi = lo THEN 0
        |    ELSE least(63, CAST(floor((v - lo) / (hi - lo) * 64) AS BIGINT))
        |    END AS bin, s, t
        |  FROM u, bounds),
        |pb AS (
        |  SELECT bin, CAST(sum(s) AS BIGINT) AS cs,
        |    CAST(sum(t) AS BIGINT) AS ct
        |  FROM binned GROUP BY bin),
        |cum AS (
        |  SELECT bin,
        |    CAST(sum(cs) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fs,
        |    CAST(sum(ct) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ft
        |  FROM pb),
        |tot AS (SELECT CAST(sum(s) AS BIGINT) AS n_src,
        |  CAST(sum(t) AS BIGINT) AS n_tgt FROM u)
        |SELECT n_src, n_tgt,
        |  floor(max(abs(CAST(fs AS DOUBLE) / CAST(n_src AS DOUBLE)
        |    - CAST(ft AS DOUBLE) / CAST(n_tgt AS DOUBLE))) * 10000) / 10000
        |    AS ks_bucketed
        |FROM cum, tot GROUP BY n_src, n_tgt""".stripMargin),

    Gate("profile_ks_drift", (s, dir) => {
      // distribution-drift audit over the diff fixture: target
      // perturbs o_totalprice (+1.0 on keys %7=0) and drops/adds
      // different key slices, so the exact discrete KS distance is
      // small but nonzero — the shape-change signal a mean/variance
      // audit would miss
      graft.operators.Profile.ksDrift(
        diffSrc(s, dir), diffTgt(s, dir), "o_totalprice")
    },
      """WITH src AS (
        |  SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 10 <> 4),
        |tgt AS (
        |  SELECT CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |    ELSE o_totalprice END AS v
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |u AS (
        |  SELECT v, 1 AS s, 0 AS t FROM src WHERE v IS NOT NULL
        |  UNION ALL
        |  SELECT v, 0 AS s, 1 AS t FROM tgt WHERE v IS NOT NULL),
        |pv AS (
        |  SELECT v, CAST(sum(s) AS BIGINT) AS cs, CAST(sum(t) AS BIGINT) AS ct
        |  FROM u GROUP BY v),
        |cum AS (
        |  SELECT v,
        |    CAST(sum(cs) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fs,
        |    CAST(sum(ct) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ft
        |  FROM pv),
        |tot AS (
        |  SELECT CAST(sum(s) AS BIGINT) AS n_src, CAST(sum(t) AS BIGINT) AS n_tgt
        |  FROM u)
        |SELECT n_src, n_tgt,
        |  floor(max(abs(CAST(fs AS DOUBLE) / CAST(n_src AS DOUBLE)
        |    - CAST(ft AS DOUBLE) / CAST(n_tgt AS DOUBLE))) * 10000) / 10000 AS ks
        |FROM cum, tot GROUP BY n_src, n_tgt""".stripMargin),

    Gate("profile_source_cards", (s, dir) =>
      // one-row-per-source data cards: volume, mean length, dominant
      // language (count argmax, ties to the smaller lang), exact-dup
      // rate against the WHOLE corpus (cross-source dups count)
      graft.operators.Profile.sourceCards(
        t(s, dir, "documents"), "source", "doc_id", "text", "lang",
        "n_chars")
        .orderBy(col("source")),
      """WITH fp AS (
        |  SELECT source, doc_id, lang, n_chars,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
        |  FROM documents),
        |dups AS (SELECT f FROM fp GROUP BY f HAVING count(*) > 1),
        |flagged AS (
        |  SELECT fp.source, fp.lang, fp.n_chars,
        |    CASE WHEN d.f IS NULL THEN 0 ELSE 1 END AS dup
        |  FROM fp LEFT JOIN dups d ON fp.f = d.f),
        |base AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS chars,
        |    CAST(sum(dup) AS BIGINT) AS dup_docs
        |  FROM flagged GROUP BY source),
        |lc AS (SELECT source, lang, count(*) AS c
        |  FROM flagged GROUP BY source, lang),
        |tl AS (
        |  SELECT source, lang AS top_lang, c AS top_lang_docs FROM (
        |    SELECT source, lang, c, ROW_NUMBER() OVER (
        |      PARTITION BY source ORDER BY c DESC, lang ASC) AS rn
        |    FROM lc) WHERE rn = 1)
        |SELECT b.source, b.n_docs,
        |  floor(CAST(b.chars AS DOUBLE) / CAST(b.n_docs AS DOUBLE)
        |    * 10000) / 10000 AS mean_chars,
        |  tl.top_lang, tl.top_lang_docs, b.dup_docs,
        |  floor(CAST(b.dup_docs AS DOUBLE) / CAST(b.n_docs AS DOUBLE)
        |    * 10000) / 10000 AS dup_rate
        |FROM base b JOIN tl ON b.source = tl.source
        |ORDER BY b.source""".stripMargin),

    Gate("profile_correlation", (s, dir) =>
      // per-group Pearson r from exact decimal moments — six numbers
      // per group through the shuffle, doubles only in the final
      // fixed IEEE expression both engines replay
      graft.operators.Profile.correlation(
        t(s, dir, "lineitem"), "l_returnflag", "l_quantity",
        "l_extendedprice")
        .orderBy(col("l_returnflag")),
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,4))) AS sx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS sy,
        |    -- DECIMAL(19,4) operands force int128 product storage in
        |    -- DuckDB (an 18-digit product would overflow int64);
        |    -- values are identical — both engines' sums are exact
        |    sum(CAST(l_quantity AS DECIMAL(19,4))
        |      * CAST(l_extendedprice AS DECIMAL(19,4))) AS sxy,
        |    sum(CAST(l_quantity AS DECIMAL(19,4))
        |      * CAST(l_quantity AS DECIMAL(19,4))) AS sx2,
        |    sum(CAST(l_extendedprice AS DECIMAL(19,4))
        |      * CAST(l_extendedprice AS DECIMAL(19,4))) AS sy2
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |  GROUP BY l_returnflag),
        |c AS (
        |  SELECT l_returnflag, n,
        |    CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n AS cov,
        |    CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n AS vx,
        |    CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n AS vy
        |  FROM m)
        |SELECT l_returnflag, n,
        |  CASE WHEN n > 1 AND vx > 0 AND vy > 0
        |    THEN floor(cov / sqrt(vx * vy) * 10000) / 10000
        |    ELSE NULL END AS corr
        |FROM c ORDER BY l_returnflag""".stripMargin),

    Gate("profile_zscore", (s, dir) =>
      // per-segment z-score outliers on order totals: exact decimal
      // moments (partition-order-independent variance), one partial-
      // agg'd stats shuffle + join-back
      graft.operators.Profile.zscoreOutliers(
        t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"), col("o_orderkey"),
            col("o_totalprice")),
        "c_mktsegment", "o_totalprice")
        .select(col("c_mktsegment"), col("o_orderkey"), col("zscore"),
          col("is_outlier"))
        .orderBy(col("o_orderkey")),
      // exact decimal (n, Σx, Σx²) per group; identical double
      // arithmetic for mean/var/z on both sides
      """WITH base AS (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_totalprice IS NOT NULL),
        |st AS (
        |  SELECT c_mktsegment, COUNT(*) AS n,
    |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS s,
        |    -- DuckDB multiply needs w1+w2 <= 38: 19+19 fits exactly,
        |    -- values identical to Spark's (18,4)x(18,4)
        |    SUM(CAST(o_totalprice AS DECIMAL(19,4))
        |      * CAST(o_totalprice AS DECIMAL(19,4))) AS s2
        |  FROM base GROUP BY c_mktsegment),
        |z AS (
        |  SELECT b.c_mktsegment, b.o_orderkey,
        |    CASE WHEN n > 1 AND (CAST(s2 AS DOUBLE)
        |        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1) > 0
        |      THEN (CAST(o_totalprice AS DOUBLE) - CAST(s AS DOUBLE) / n)
        |        / sqrt((CAST(s2 AS DOUBLE)
        |          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1))
        |      ELSE 0.0 END AS zr
        |  FROM base b JOIN st USING (c_mktsegment))
        |SELECT c_mktsegment, o_orderkey,
        |  floor(zr * 10000) / 10000 AS zscore,
        |  abs(floor(zr * 10000) / 10000) > 2.5 AS is_outlier
        |FROM z ORDER BY o_orderkey""".stripMargin),

    Gate("profile_mad_outliers", (s, dir) =>
      // robust median/MAD outliers per segment — the heavy-tail-safe
      // twin of profile_zscore; exact medians (audit-scale path),
      // broadcast join-backs, 4-decimal-floored modified z
      graft.operators.Profile.madOutliers(
        t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"), col("o_orderkey"),
            col("o_totalprice")),
        "c_mktsegment", "o_totalprice")
        .select(col("c_mktsegment"), col("o_orderkey"), col("mad_z"),
          col("is_outlier"))
        .orderBy(col("o_orderkey")),
      // DuckDB median on DOUBLE is quantile_cont(0.5) with the same
      // a + (b−a)·f interpolation Spark's exact median uses; the
      // modified z replays identically, floored at 4 decimals
      """WITH base AS (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_totalprice IS NOT NULL),
        |med AS (
        |  SELECT c_mktsegment, median(o_totalprice) AS med
        |  FROM base GROUP BY c_mktsegment),
        |dev AS (
        |  SELECT b.*, m.med FROM base b
        |  JOIN med m USING (c_mktsegment)),
        |mad AS (
        |  SELECT c_mktsegment, median(abs(o_totalprice - med)) AS mad
        |  FROM dev GROUP BY c_mktsegment),
        |z AS (
        |  SELECT d.c_mktsegment, d.o_orderkey,
        |    floor((CASE WHEN a.mad > 0
        |      THEN 0.6745 * (d.o_totalprice - d.med) / a.mad
        |      ELSE 0.0 END) * 10000) / 10000 AS mad_z
        |  FROM dev d JOIN mad a USING (c_mktsegment))
        |SELECT c_mktsegment, o_orderkey, mad_z,
        |  abs(mad_z) > 3.5 AS is_outlier
        |FROM z ORDER BY o_orderkey""".stripMargin),

    Gate("profile_orders", (s, dir) =>
      // per-column migration profile: one scan, one single-row agg
      // (exact distinct via Expand), canonical min/max strings
      graft.operators.Profile.profile(t(s, dir, "orders"))
        .orderBy(col("col_name")),
      """WITH p AS (
        |  SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
        |    COUNT(o_orderkey) AS n_nonnull,
        |    COUNT(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
        |    CAST(MAX(o_orderkey) AS VARCHAR) AS max_s FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', COUNT(*), COUNT(o_custkey),
        |    COUNT(DISTINCT o_custkey),
        |    CAST(MIN(o_custkey) AS VARCHAR),
        |    CAST(MAX(o_custkey) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', COUNT(*), COUNT(o_orderstatus),
        |    COUNT(DISTINCT o_orderstatus),
        |    CAST(MIN(o_orderstatus) AS VARCHAR),
        |    CAST(MAX(o_orderstatus) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', COUNT(*), COUNT(o_totalprice),
        |    COUNT(DISTINCT o_totalprice),
        |    CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,4)) AS VARCHAR),
        |    CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,4)) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', COUNT(*), COUNT(o_orderdate),
        |    COUNT(DISTINCT o_orderdate),
        |    strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S'),
        |    strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', COUNT(*), COUNT(o_orderpriority),
        |    COUNT(DISTINCT o_orderpriority),
        |    CAST(MIN(o_orderpriority) AS VARCHAR),
        |    CAST(MAX(o_orderpriority) AS VARCHAR) FROM orders)
        |SELECT * FROM p ORDER BY col_name""".stripMargin),

    Gate("profile_migration_audit", (s, dir) =>
      // both sides profiled + full-outer compared per column: the
      // perturbed o_totalprice and the row-set drift must flag, the
      // intact o_custkey distinct-set must not
      graft.operators.Profile.compare(diffSrc(s, dir), diffTgt(s, dir))
        .orderBy(col("col_name")),
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 <> 4),
        |tgt AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |ps AS (
        |  SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
        |    COUNT(o_orderkey) AS n_nonnull,
        |    COUNT(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
        |    CAST(MAX(o_orderkey) AS VARCHAR) AS max_s FROM src
        |  UNION ALL
        |  SELECT 'o_custkey', COUNT(*), COUNT(o_custkey),
        |    COUNT(DISTINCT o_custkey), CAST(MIN(o_custkey) AS VARCHAR),
        |    CAST(MAX(o_custkey) AS VARCHAR) FROM src
        |  UNION ALL
        |  SELECT 'o_totalprice', COUNT(*), COUNT(o_totalprice),
        |    COUNT(DISTINCT o_totalprice),
        |    CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,4)) AS VARCHAR),
        |    CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,4)) AS VARCHAR)
        |  FROM src),
        |pt AS (
        |  SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
        |    COUNT(o_orderkey) AS n_nonnull,
        |    COUNT(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
        |    CAST(MAX(o_orderkey) AS VARCHAR) AS max_s FROM tgt
        |  UNION ALL
        |  SELECT 'o_custkey', COUNT(*), COUNT(o_custkey),
        |    COUNT(DISTINCT o_custkey), CAST(MIN(o_custkey) AS VARCHAR),
        |    CAST(MAX(o_custkey) AS VARCHAR) FROM tgt
        |  UNION ALL
        |  SELECT 'o_totalprice', COUNT(*), COUNT(o_totalprice),
        |    COUNT(DISTINCT o_totalprice),
        |    CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,4)) AS VARCHAR),
        |    CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,4)) AS VARCHAR)
        |  FROM tgt)
        |SELECT COALESCE(ps.col_name, pt.col_name) AS col_name,
        |  ps.n_rows AS src_n_rows, pt.n_rows AS tgt_n_rows,
        |  ps.n_nonnull AS src_n_nonnull, pt.n_nonnull AS tgt_n_nonnull,
        |  ps.n_distinct AS src_n_distinct, pt.n_distinct AS tgt_n_distinct,
        |  ps.min_s AS src_min_s, pt.min_s AS tgt_min_s,
        |  ps.max_s AS src_max_s, pt.max_s AS tgt_max_s,
        |  (ps.n_rows IS NOT DISTINCT FROM pt.n_rows
        |    AND ps.n_nonnull IS NOT DISTINCT FROM pt.n_nonnull
        |    AND ps.n_distinct IS NOT DISTINCT FROM pt.n_distinct
        |    AND ps.min_s IS NOT DISTINCT FROM pt.min_s
        |    AND ps.max_s IS NOT DISTINCT FROM pt.max_s) AS cols_match
        |FROM ps FULL OUTER JOIN pt ON ps.col_name = pt.col_name
        |ORDER BY col_name""".stripMargin),

    Gate("profile_histogram", (s, dir) =>
      // equi-width value distribution: 1-row min/max broadcast, then
      // a map-side bucket projection and a <=10-key groupBy — the
      // audit that catches in-range value drift min/max misses
      graft.operators.Profile.histogram(t(s, dir, "orders"),
        "o_totalprice", nBuckets = 10)
        .orderBy(col("bucket")),
      """WITH mm AS (
        |  SELECT min(CAST(o_totalprice AS DOUBLE)) AS mn,
        |         max(CAST(o_totalprice AS DOUBLE)) AS mx
        |  FROM orders WHERE o_totalprice IS NOT NULL)
        |SELECT CAST(CASE WHEN mm.mx = mm.mn THEN 0
        |  ELSE least(floor((CAST(o_totalprice AS DOUBLE) - mm.mn)
        |    / ((mm.mx - mm.mn) / 10)), 9) END AS INT) AS bucket,
        |  COUNT(*) AS n_rows
        |FROM orders, mm WHERE o_totalprice IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
