package graft.gates

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Dedup, TextAnalysis}
import Fixtures._

/** Training-data curation gates (`curate_*`): quality filters,
  * decontamination, mixing weights, sampling, splits and packing.
  */
object CurateGates {

  /** Shared by curate_decontaminate and curate_decontaminate_bloom. */
  private val decontaminateOracle: String =
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 4 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 2),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))
        |    WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END AS ngrams
        |  FROM toks),
        |bench AS (
        |  SELECT DISTINCT unnest(ngrams) AS g FROM ng WHERE doc_id % 37 = 0),
        |corpus AS (
        |  SELECT doc_id, unnest(ngrams) AS g FROM ng WHERE doc_id % 37 <> 0),
        |hits AS (
        |  SELECT c.doc_id, count(*) AS n_hits
        |  FROM corpus c JOIN bench b ON c.g = b.g GROUP BY c.doc_id),
        |tot AS (
        |  SELECT doc_id, len(ngrams) AS n_grams FROM ng WHERE doc_id % 37 <> 0)
        |SELECT t.doc_id, h.n_hits, t.n_grams,
        |  floor(CAST(h.n_hits AS DOUBLE) / greatest(t.n_grams, 1) * 10000) / 10000
        |    AS overlap
        |FROM tot t JOIN hits h ON t.doc_id = h.doc_id
        |ORDER BY t.doc_id""".stripMargin

  val gates: Seq[Gate] = Seq(

    Gate("curate_quota_sample", (s, dir) =>
      // per-source quota: at most 20 docs per source in deterministic
      // salted-hash order — plans as WindowGroupLimit (per-partition
      // top-k before the exchange)
      graft.functions.Curation.quotaSample(
        t(s, dir, "documents"), "doc_id", "source", cap = 20)
        .orderBy(col("doc_id")),
      """WITH r AS (
        |  SELECT doc_id, source,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5('quota|' || CAST(doc_id AS VARCHAR)), doc_id)
        |      AS BIGINT) AS pick_rank
        |  FROM documents)
        |SELECT doc_id, source, pick_rank FROM r
        |WHERE pick_rank <= 20 ORDER BY doc_id""".stripMargin),

    Gate("curate_documents", (s, dir) => {
      // the composed training-data curation pipeline: length + quality
      // filters, then near-duplicate removal (LSH candidates + exact
      // Jaccard ≥ 0.15; the lower doc_id of each dup pair survives) —
      // one declarative plan, one anti-join, no driver loop
      val docs = t(s, dir, "documents")
      val dupLosers = Dedup.ngramJaccardPairsLsh(docs, "doc_id", "text",
        threshold = 0.15, n = 3, numHashes = 16, bands = 8, portable = true)
        .select(col("id_b").as("doc_id")).distinct()
      docs.select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .filter(col("n_tokens") >= 25 && col("quality") >= 0.35)
        .join(dupLosers, Seq("doc_id"), "left_anti")
        .orderBy(col("doc_id"))
    },
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 1),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END AS ngrams
        |  FROM toks),
        |hp AS (
        |  SELECT doc_id, list_transform(ngrams, g -> {
        |    'h1': CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT),
        |    'h2': CAST(('0x' || substr(md5(g), 16, 10)) AS BIGINT)}) AS hs
        |  FROM ng),
        |sig AS (
        |  SELECT doc_id, list_transform(range(0, 16),
        |    s -> list_min(list_transform(hs, h ->
        |      xor(((h.h1 + s * h.h2) & 1073741823) << 30 | ((h.h1 + s * h.h2) >> 30),
        |          (((h.h1 + s * h.h2) & 1073741823) << 30 | ((h.h1 + s * h.h2) >> 30)) >> 15)))) AS sg
        |  FROM hp),
        |bands AS (
        |  SELECT doc_id, b AS band_id,
        |    CAST(sg[b*2+1] AS VARCHAR) || '|' || CAST(sg[b*2+2] AS VARCHAR) AS band_hash
        |  FROM sig, range(0, 8) t(b)),
        |cands AS (
        |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        |  FROM bands l JOIN bands r
        |    ON l.band_id = r.band_id AND l.band_hash = r.band_hash
        |    AND l.doc_id < r.doc_id),
        |losers AS (
        |  SELECT DISTINCT c.id_b AS doc_id
        |  FROM cands c JOIN ng a ON c.id_a = a.doc_id JOIN ng b ON c.id_b = b.doc_id
        |  WHERE floor(CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE) /
        |      greatest(len(a.ngrams) + len(b.ngrams)
        |        - len(list_intersect(a.ngrams, b.ngrams)), 1) * 10000) / 10000 >= 0.15),
        |base AS (
        |  SELECT doc_id, lang, text,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |    ' ' || lower(text) || ' ' AS padded
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, lang, n_tokens,
        |    floor(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) * 10000) / 10000 AS punct_ratio,
        |    floor(CAST(
        |        (length(padded) - length(replace(padded, ' the ', ''))) / 5
        |      + (length(padded) - length(replace(padded, ' a ', ''))) / 3
        |      + (length(padded) - length(replace(padded, ' and ', ''))) / 5
        |      + (length(padded) - length(replace(padded, ' of ', ''))) / 4
        |      + (length(padded) - length(replace(padded, ' to ', ''))) / 4
        |      + (length(padded) - length(replace(padded, ' in ', ''))) / 4
        |      AS DOUBLE) / greatest(n_tokens, 1) * 10000) / 10000 AS stopword_ratio,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score
        |  FROM base),
        |scored AS (
        |  SELECT doc_id, lang, n_tokens,
        |    floor(greatest(least((len_score + least(stopword_ratio * 5, 1.0)
        |      - least(punct_ratio * 5, 1.0)) / 2, 1.0), 0.0) * 10000) / 10000 AS quality
        |  FROM m)
        |SELECT doc_id, lang, n_tokens, quality FROM scored
        |WHERE n_tokens >= 25 AND quality >= 0.35
        |  AND doc_id NOT IN (SELECT doc_id FROM losers)
        |ORDER BY doc_id""".stripMargin),

    // ---------------- extension operators: corpus curation ------------
    Gate("curate_split_train_test", (s, dir) =>
      // deterministic md5-bucket split: stable under corpus growth,
      // map-only, replayed bit-for-bit by the oracle
      graft.functions.Curation.splitAssign(t(s, dir, "documents"), "doc_id")
        .orderBy(col("doc_id")),
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 90 THEN 'train'
        |       WHEN bucket < 95 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin),

    Gate("curate_sample_stratified", (s, dir) =>
      // per-language downsampling (en to 20%, rest to 50%) via the
      // same salted-hash buckets — a codegen'd filter, no shuffle
      graft.functions.Curation.stratifiedSample(
        t(s, dir, "documents"), "doc_id", "lang",
        ratesPer10k = Seq("en" -> 2000), defaultPer10k = 5000)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id")),
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x' || substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 15))
        |    AS BIGINT) % 10000
        |  < CASE WHEN lang = 'en' THEN 2000 ELSE 5000 END
        |ORDER BY doc_id""".stripMargin),

    Gate("curate_weighted_sample", (s, dir) =>
      // A-ES weighted sample: 200 docs drawn proportional to byte
      // length, without replacement — rank key is map-only, selection
      // is TakeOrdered; the oracle replays the md5-derived ranks
      graft.functions.Curation.weightedSample(
        t(s, dir, "documents")
          .select(col("doc_id"), octet_length(col("text")).as("w")),
        "doc_id", "w", k = 200)
        .orderBy(col("doc_id")),
      // identical A-ES rank: u = (md5_60 + 0.5)/2^60, key = u^(1/w);
      // the id tiebreak matches the Spark orderBy
      """SELECT doc_id, w FROM (
        |  SELECT doc_id, strlen(text) AS w,
        |    pow((CAST(('0x' || substr(md5('wsample|' ||
        |        CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 0.5)
        |      / 1152921504606846976.0,
        |      1.0 / strlen(text)) AS k
        |  FROM documents
        |  ORDER BY k DESC, doc_id LIMIT 200) t
        |ORDER BY doc_id""".stripMargin),

    Gate("curate_dsir_weights", (s, dir) => {
      // DSIR importance weights: every document scored for likeness to
      // the target slice (doc_id % 7 = 0 standing in for a curated
      // domain sample) via hashed unigram+bigram bucket log-ratios;
      // bucket tables broadcast, per-doc sums decimal — the oracle
      // replays the md5 buckets and quantized ln ratios exactly
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.functions.Curation.dsirLogWeights(
          docs, docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text", buckets = 8192)
        .orderBy(col("doc_id"))
    },
      // full replay: md5 buckets, add-one-smoothed counts, ln of the
      // exact rational quantized to 9 decimals, decimal per-doc sums
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, unnest(list_concat(tk,
        |    CASE WHEN len(tk) >= 2 THEN
        |      list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
        |    ELSE CAST([] AS VARCHAR[]) END)) AS g
        |  FROM toks),
        |gb AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5('dsir|' || g), 1, 15)) AS BIGINT)
        |      % 8192 AS b
        |  FROM gr WHERE g <> ''),
        |tc AS (SELECT b, count(*) AS ct FROM gb WHERE doc_id % 7 = 0 GROUP BY b),
        |rc AS (SELECT b, count(*) AS cr FROM gb GROUP BY b),
        |tt AS (SELECT count(*) AS nt FROM gb WHERE doc_id % 7 = 0),
        |rt AS (SELECT count(*) AS nr FROM gb),
        |lam AS (
        |  SELECT rc.b,
        |    floor(ln(CAST((COALESCE(tc.ct, 0) + 1) * (rt.nr + 8192) AS DOUBLE)
        |           / CAST((rc.cr + 1) * (tt.nt + 8192) AS DOUBLE)) * 1e9)
        |      / 1e9 AS lam
        |  FROM rc LEFT JOIN tc ON rc.b = tc.b, tt, rt)
        |SELECT gb.doc_id, count(*) AS n_grams,
        |  floor(CAST(SUM(CAST(lam AS DECIMAL(28,9))) AS DOUBLE) * 1e4) / 1e4
        |    AS log_w
        |FROM gb JOIN lam ON gb.b = lam.b
        |GROUP BY gb.doc_id ORDER BY gb.doc_id""".stripMargin),

    Gate("curate_decontaminate", (s, dir) => {
      // benchmark decontamination: docs sharing a 4-gram with the
      // held-out set (doc_id % 37 = 0 here; a real eval suite in
      // production). The benchmark gram set is broadcast — the corpus
      // side is never self-joined.
      val docs = t(s, dir, "documents")
      graft.functions.Curation.decontaminate(
        docs.filter(col("doc_id") % 37 =!= 0),
        docs.filter(col("doc_id") % 37 === 0),
        "doc_id", "text", n = 4)
        .orderBy(col("doc_id"))
    },
      decontaminateOracle),

    Gate("curate_decontaminate_bloom", (s, dir) => {
      // Bloom-prefilter decontamination: same output as the exact
      // variant, but the corpus gram stream is cut map-side by a
      // distributed-built Bloom sketch BEFORE the (unbroadcast) exact
      // semi-join — the shape for eval sets too big to broadcast
      val docs = t(s, dir, "documents")
      graft.functions.Curation.decontaminateBloom(
        docs.filter(col("doc_id") % 37 =!= 0),
        docs.filter(col("doc_id") % 37 === 0),
        "doc_id", "text", n = 4,
        expectedGrams = 200000L, numBits = 2097152L)
        .orderBy(col("doc_id"))
    },
      // the Bloom prefilter is plan-only (false positives die in the
      // exact verify join), so the oracle is the exact decontamination
      decontaminateOracle),

    Gate("curate_pack_sequences", (s, dir) =>
      // concat-then-chunk sequence packing into 512-token training
      // sequences over 16 hash shards: one shuffle, one running-sum
      // window per shard, fully deterministic layout
      graft.functions.Curation.packSequences(
        t(s, dir, "documents"), "doc_id", "text",
        budget = 512, nShards = 16)
        .orderBy(col("doc_id")),
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 16 AS shard,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |      AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM d)
        |SELECT doc_id, shard, n_tokens,
        |  cum - n_tokens AS start_offset,
        |  (cum - n_tokens) // 512 AS pack_first,
        |  greatest(cum - 1, cum - n_tokens) // 512 AS pack_last
        |FROM c ORDER BY doc_id""".stripMargin),

    Gate("curate_pack_wordpiece", (s, dir) => {
      // packing budgeted in REAL subword tokens: per-doc length =
      // Σ over words of the wordpiece piece count (map-side transform
      // + aggregate — the tokenizer runs inside the scan projection),
      // fed into the same per-shard running-sum pack layout
      val np = aggregate(
        transform(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"),
          w => size(TextAnalysis.wordpiecePieces(w, wordpieceVocab))
            .cast("long")),
        lit(0L), (acc, x) => acc + x)
      graft.functions.Curation.packSequencesBy(
        t(s, dir, "documents"), "doc_id", np,
        budget = 256, nShards = 16, salt = "packwp|")
        .orderBy(col("doc_id"))
    },
      // wordpiece closed form (see txt_wordpiece) composed with the
      // pack_sequences window replay; wordless docs pack at length 0
      s"""WITH wv(piece) AS (VALUES ${wordpieceWholeWords
            .map(w => s"('$w')").mkString(", ")}),
        |toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |  FROM documents),
        |pref AS (
        |  SELECT doc_id, word,
        |    coalesce((SELECT max(length(v.piece)) FROM wv v
        |              WHERE starts_with(t.word, v.piece)), 1) AS p
        |  FROM toks t),
        |np AS (
        |  SELECT doc_id,
        |    1 + length(regexp_replace(substr(word, p + 1), 'ing', '#', 'g'))
        |      AS n
        |  FROM pref),
        |per AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS np
        |  FROM np GROUP BY doc_id),
        |d AS (
        |  SELECT dd.doc_id,
        |    CAST(('0x' || substr(md5('packwp|' || CAST(dd.doc_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 16 AS shard,
        |    COALESCE(per.np, 0) AS n_tokens
        |  FROM documents dd LEFT JOIN per ON dd.doc_id = per.doc_id),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM d)
        |SELECT doc_id, shard, n_tokens,
        |  cum - n_tokens AS start_offset,
        |  (cum - n_tokens) // 256 AS pack_first,
        |  greatest(cum - 1, cum - n_tokens) // 256 AS pack_last
        |FROM c ORDER BY doc_id""".stripMargin),

    Gate("curate_negative_sample", (s, dir) =>
      // contrastive-training negatives: k consecutive positions after
      // a salted-hash offset in the per-shard md5 permutation —
      // deterministic, distinct, no global sort, equi-join probe
      graft.functions.Curation.negativeSample(
        t(s, dir, "documents"), "doc_id", k = 4, nShards = 16)
        .orderBy(col("query_id"), col("neg_rank")),
      """WITH b AS (
        |  SELECT doc_id, md5('neg|perm|' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |perm AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(h, 1, 15)) AS BIGINT) % 16 AS shard, h
        |  FROM b),
        |pp AS (
        |  SELECT doc_id, shard,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id)
        |      AS BIGINT) AS pos
        |  FROM perm),
        |cnt AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_s
        |  FROM pp GROUP BY shard),
        |q AS (
        |  SELECT doc_id AS query_id,
        |    CAST(('0x' || substr(md5('neg|shard|' || CAST(doc_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 16 AS shard,
        |    CAST(('0x' || substr(md5('neg|pos|' || CAST(doc_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |probe AS (
        |  SELECT q.query_id, q.shard, CAST(t.i AS BIGINT) AS neg_rank,
        |    ((q.h + t.i) % c.n_s) + 1 AS pos
        |  FROM q JOIN cnt c ON q.shard = c.shard, range(0, 4) t(i))
        |SELECT p.query_id, p.neg_rank, pp.doc_id AS neg_id
        |FROM probe p
        |JOIN pp ON p.shard = pp.shard AND p.pos = pp.pos
        |WHERE pp.doc_id <> p.query_id
        |ORDER BY query_id, neg_rank""".stripMargin),

    Gate("curate_contamination_matrix", (s, dir) => {
      // source × benchmark overlap triage: three synthetic eval
      // suites (bench_id = doc_id % 3 over the held-out slice), per
      // cell a theta intersection estimate checked against the exact
      // truth within tolerance — the "which sources leak into which
      // evals" answer, no corpus-vs-bench gram join
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 37 === 0)
        .select((col("doc_id") % 3).as("bench_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 37 =!= 0)
      val est = graft.functions.Curation.contaminationSketchMatrix(
        corpus, "source", bench, "bench_id", "text", n = 4)
      def grams(df: org.apache.spark.sql.DataFrame, keys: Seq[Column]) =
        df.select((keys :+ explode(
          Dedup.wordNgramsNative(col("text"), 4)).as("g")): _*)
      val segD = grams(corpus, Seq(col("source"))).distinct()
        .transform(graft.CachePool.persist(_))
      val benchD = grams(bench, Seq(col("bench_id"))).distinct()
        .transform(graft.CachePool.persist(_))
      val nG = segD.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
      val nB = benchD.groupBy(col("bench_id"))
        .agg(count(lit(1)).as("__n_bench"))
      val ov = segD.join(benchD, "g")
        .groupBy(col("source"), col("bench_id"))
        .agg(count(lit(1)).as("n_overlap"))
      def ok(e: Column, exact: Column, scale: Column) =
        abs(e - exact).cast("double") <= lit(0.06) * scale + lit(1.0)
      est.join(nG, "source")
        .join(broadcast(nB), "bench_id")
        .join(ov, Seq("source", "bench_id"), "left")
        .select(col("source"), col("bench_id"), col("n_grams"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          ok(col("est_grams"), col("n_grams"), col("n_grams"))
            .as("grams_ok"),
          ok(col("est_overlap"), coalesce(col("n_overlap"), lit(0L)),
            col("n_grams") + col("__n_bench")).as("overlap_ok"))
        .orderBy(col("source"), col("bench_id"))
    },
      // exact (source × benchmark) truths + always-true tolerance
      // booleans; full matrix via cross join of the marginals
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id, source,
        |    CASE WHEN len(tk) >= 4 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 2),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))
        |    WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END AS ngrams
        |  FROM toks),
        |bench AS (
        |  SELECT DISTINCT doc_id % 3 AS bench_id, g FROM (
        |    SELECT doc_id, unnest(ngrams) AS g FROM ng WHERE doc_id % 37 = 0)),
        |seg AS (
        |  SELECT DISTINCT source, g FROM (
        |    SELECT source, unnest(ngrams) AS g FROM ng
        |    WHERE doc_id % 37 <> 0)),
        |ngc AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
        |  FROM seg GROUP BY 1),
        |bid AS (SELECT DISTINCT bench_id FROM bench),
        |ov AS (
        |  SELECT s.source, b.bench_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
        |  FROM seg s JOIN bench b ON s.g = b.g GROUP BY 1, 2)
        |SELECT n.source, bid.bench_id, n.n_grams,
        |  CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  TRUE AS grams_ok, TRUE AS overlap_ok
        |FROM ngc n CROSS JOIN bid
        |LEFT JOIN ov o ON n.source = o.source AND bid.bench_id = o.bench_id
        |ORDER BY n.source, bid.bench_id""".stripMargin),

    Gate("curate_split_containment_safe", (s, dir) => {
      // the nastier leakage mode: a test doc QUOTED inside a train doc
      // (directed containment) — invisible to Jaccard edges. Same
      // cluster-representative hash split, edges = containmentPairs.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.containmentPairs(
        docs.select(col("doc_id"), col("text")), "doc_id", "text",
        threshold = 0.9, n = 3)
      graft.functions.Curation.leakageSafeSplit(docs, "doc_id", pairs,
          salt = "splitc|")
        .orderBy(col("doc_id"))
    },
      // ground-truth containment pairs (all gram-sharing pairs ≥ 0.9)
      // → symmetric reachability → cluster-representative md5 bucket
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 1),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END AS ngrams
        |  FROM toks),
        |nz AS (SELECT doc_id, ngrams FROM ng WHERE len(ngrams) > 0),
        |gr AS (SELECT doc_id, unnest(ngrams) AS gram FROM nz),
        |shared AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM gr a JOIN gr b ON a.gram = b.gram AND a.doc_id <> b.doc_id),
        |sc AS (
        |  SELECT s.id_a, s.id_b
        |  FROM shared s
        |  JOIN nz a ON s.id_a = a.doc_id JOIN nz b ON s.id_b = b.doc_id
        |  WHERE floor(CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE)
        |    / len(a.ngrams) * 10000) / 10000 >= 0.9),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM sc
        |  UNION ALL SELECT id_b, id_a FROM sc),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
        |cl AS (SELECT id AS doc_id, min(r) AS cluster_id
        |  FROM reach GROUP BY id),
        |lab AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
        |bk AS (SELECT doc_id, cluster_id,
        |  CAST(('0x' || substr(md5('splitc|' || CAST(cluster_id AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM lab)
        |SELECT doc_id, cluster_id, bucket,
        |  CASE WHEN bucket < 90 THEN 'train'
        |       WHEN bucket < 95 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM bk ORDER BY doc_id""".stripMargin),

    Gate("curate_split_leakage_safe", (s, dir) => {
      // leakage-safe split: hash the near-dup CLUSTER representative,
      // not the doc — no near-dup pair may straddle train/test (the
      // silent eval-contamination path). Edges = the portable
      // LSH+Jaccard pipeline; oracle replays reachability + md5
      // bucketing.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairsLsh(docs, "doc_id", "text",
        threshold = 0.15, n = 3, numHashes = 16, bands = 8,
        portable = true)
      graft.functions.Curation.leakageSafeSplit(docs, "doc_id", pairs)
        .orderBy(col("doc_id"))
    },
      // cc reachability (shared prefix) + singleton fill-in, then the
      // splitAssign md5 bucket keyed on the cluster representative
      (DedupGates.ccReachSql + """,
        |cl AS (SELECT id AS doc_id, min(r) AS cluster_id
        |  FROM reach GROUP BY id),
        |lab AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
        |bk AS (SELECT doc_id, cluster_id,
        |  CAST(('0x' || substr(md5('split|' || CAST(cluster_id AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM lab)
        |SELECT doc_id, cluster_id, bucket,
        |  CASE WHEN bucket < 90 THEN 'train'
        |       WHEN bucket < 95 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM bk ORDER BY doc_id""".stripMargin)),

    Gate("curate_length_buckets", (s, dir) =>
      // length-bucketed dynamic batching: pad-to = next multiple of 32
      // tokens, batches of 8 within each (shard, bucket) — per-doc
      // padding waste bounded by the step, not the global max length
      graft.functions.Curation.lengthBuckets(
        t(s, dir, "documents"), "doc_id", "text",
        step = 32, batchSize = 8, nShards = 4)
        .orderBy(col("doc_id")),
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5('lenbkt|' || CAST(doc_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 4 AS shard,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |      AS BIGINT) AS n_tokens
        |  FROM documents),
        |bk AS (
        |  SELECT doc_id, shard, n_tokens,
        |    ((n_tokens + 31) // 32) * 32 AS bucket_bound
        |  FROM base),
        |batched AS (
        |  SELECT doc_id, shard, n_tokens, bucket_bound,
        |    CAST((ROW_NUMBER() OVER (PARTITION BY shard, bucket_bound
        |      ORDER BY doc_id) - 1) // 8 AS BIGINT) AS batch_in_bucket
        |  FROM bk)
        |SELECT doc_id, shard, n_tokens, bucket_bound, batch_in_bucket,
        |  bucket_bound - n_tokens AS pad_waste,
        |  MAX(n_tokens) OVER (PARTITION BY shard, bucket_bound,
        |    batch_in_bucket) AS batch_max_tokens,
        |  MAX(n_tokens) OVER (PARTITION BY shard, bucket_bound,
        |    batch_in_bucket) - n_tokens AS pad_waste_batch_max
        |FROM batched ORDER BY doc_id""".stripMargin),

    Gate("curate_shuffle_shard", (s, dir) =>
      // deterministic md5-order global shuffle into 16 shards with
      // within-shard positions — the epoch-reshuffleable training
      // order layout (new salt = new epoch)
      graft.functions.Curation.shuffleAssign(
        t(s, dir, "documents"), "doc_id", nShards = 16)
        .orderBy(col("doc_id")),
      """WITH b AS (
        |  SELECT doc_id, md5('shuffle|' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(h, 1, 15)) AS BIGINT) % 16 AS shard, h
        |  FROM b)
        |SELECT doc_id, shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id)
        |    AS BIGINT) AS pos
        |FROM s ORDER BY doc_id""".stripMargin),

    Gate("curate_strip_boilerplate", (s, dir) => {
      // C4-style template stripping: every doc gains its source's
      // footer line (25/25 docs → boilerplate, dropped) and every 5th
      // doc a shared rare line (5/25 = 20% < 60% → kept); the original
      // text line is unique per doc and must survive byte-identically
      val planted = concat(col("text"),
        lit("\n"), lit("visit "), col("source"), lit(" for more"),
        when(col("doc_id") % 5 === 0, lit("\nrare line")).otherwise(lit("")))
      graft.functions.Curation.stripBoilerplateLines(
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"), planted.as("text")),
        "doc_id", "text", "source", minDocs = 10, minFrac = 0.6)
        .orderBy(col("doc_id"))
    },
      // replays planting, per-source line document-frequency, the
      // minDocs/minFrac cut, anti-join strip, and ORDER BY pos
      // reassembly
      """WITH docs AS (
        |  SELECT doc_id, source,
        |    text || chr(10) || 'visit ' || source || ' for more' ||
        |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'rare line'
        |         ELSE '' END AS text
        |  FROM documents),
        |ls AS (
        |  SELECT doc_id, source, string_split(text, chr(10)) AS parts
        |  FROM docs),
        |lines AS (
        |  SELECT doc_id, source,
        |    CAST(generate_subscripts(parts, 1) AS INT) AS pos,
        |    unnest(parts) AS line
        |  FROM ls),
        |linedf AS (
        |  SELECT source, line, COUNT(*) AS n_with FROM (
        |    SELECT DISTINCT source, line, doc_id FROM lines)
        |  GROUP BY 1, 2),
        |srcdocs AS (SELECT source, COUNT(*) AS n_docs FROM docs GROUP BY 1),
        |boiler AS (
        |  SELECT l.source, l.line
        |  FROM linedf l JOIN srcdocs s ON l.source = s.source
        |  WHERE s.n_docs >= 10 AND CAST(l.n_with AS DOUBLE) >= s.n_docs * 0.6),
        |kept AS (
        |  SELECT li.* FROM lines li
        |  ANTI JOIN boiler b ON li.source = b.source AND li.line = b.line),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
        |    COUNT(*) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, d.source,
        |  COALESCE(r.text, '') AS text,
        |  CAST(COALESCE(r.n_kept, 0) AS INT) AS n_lines_kept,
        |  CAST(len(string_split(d.text, chr(10)))
        |    - COALESCE(r.n_kept, 0) AS INT) AS n_lines_dropped
        |FROM docs d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    Gate("curate_mixture_sample", (s, dir) => {
      // temperature-scaled source mixing (α = 0.5, budget 300):
      // per-source weight n^α/Σn^α realized as an exact integer
      // keep-rate-per-million, then the deterministic salted-hash
      // Bernoulli keep — the oracle replays weights, rates and the
      // per-source kept counts bit-for-bit
      val docs = t(s, dir, "documents")
      val rates = graft.functions.Curation.temperatureMixture(
        docs, "source", alpha = 0.5, budget = 300L)
      val kept = graft.functions.Curation.applyMixture(
          docs, "doc_id", "source", alpha = 0.5, budget = 300L)
        .groupBy(col("source")).agg(count(lit(1)).as("kept_docs"))
      rates.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("w_q"), col("rate_ppm"),
          coalesce(col("kept_docs"), lit(0L)).as("kept_docs"))
        .orderBy(col("source"))
    },
      // α-sampling replay: w_q = ⌊√n·10^6⌋ (IEEE sqrt — exact on both
      // engines), rate = min(10^6, ⌊budget·10^6·w_q / (Σw_q·n)⌋) via
      // exact HUGEINT integer division, kept = salted-md5 bucket
      // under the rate; every output cast back to BIGINT
      """WITH c AS (
        |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        |w AS (
        |  SELECT source, n_docs,
        |    CAST(floor(sqrt(n_docs) * 1000000) AS BIGINT) AS w_q
        |  FROM c),
        |t AS (SELECT SUM(w_q) AS w_sum FROM w),
        |r AS (
        |  SELECT source, n_docs, w_q,
        |    CAST(least(CAST(1000000 AS HUGEINT),
        |      (CAST(300 AS HUGEINT) * 1000000 * w_q)
        |        // (CAST((SELECT w_sum FROM t) AS HUGEINT) * n_docs))
        |      AS BIGINT) AS rate_ppm
        |  FROM w),
        |k AS (
        |  SELECT d.source, COUNT(*) AS kept_docs
        |  FROM documents d JOIN r ON d.source = r.source
        |  WHERE CAST(('0x' || substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 1000000 < r.rate_ppm
        |  GROUP BY 1)
        |SELECT r.source, r.n_docs, r.w_q, r.rate_ppm,
        |  COALESCE(k.kept_docs, 0) AS kept_docs
        |FROM r LEFT JOIN k ON r.source = k.source
        |ORDER BY r.source""".stripMargin),

    Gate("curate_contamination_sketch", (s, dir) => {
      // sketch-based contamination triage: per-source gram counts and
      // benchmark-overlap estimates from theta state (no corpus-vs-
      // bench gram join); booleans assert the estimates land within
      // theta tolerance of the exact truths the oracle pins
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 37 === 0)
        .select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 37 =!= 0)
      val est = graft.functions.Curation.contaminationSketchReport(
        corpus, "source", bench, "text", n = 4)
      def grams(df: org.apache.spark.sql.DataFrame, keys: Seq[Column]) =
        df.select((keys :+ explode(
          Dedup.wordNgramsNative(col("text"), 4)).as("g")): _*)
      // truth side: distinct gram sets persist across their two uses
      // (bench: total + overlap probe) and the per-source total and
      // overlap fold into ONE left join + aggregation — the original
      // two-agg shape re-ran the tokenize→explode→distinct pipeline
      // three times and was 11.5 s of the sf0.1 bench alone (vs ~4 s)
      val segD = grams(corpus, Seq(col("source"))).distinct()
      val benchD = grams(bench, Seq.empty).distinct()
        .transform(graft.CachePool.persist(_))
      val nB = benchD.agg(count(lit(1)).as("__n_bench"))
      val cnts = segD
        .join(benchD.withColumn("__hit", lit(1)), Seq("g"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_grams"),
          count(col("__hit")).as("n_overlap"))
      def ok(e: Column, exact: Column, scale: Column) =
        abs(e - exact).cast("double") <= lit(0.06) * scale + lit(1.0)
      est.join(cnts, "source")
        .crossJoin(broadcast(nB))
        .select(col("source"), col("n_grams"), col("n_overlap"),
          ok(col("est_grams"), col("n_grams"), col("n_grams"))
            .as("grams_ok"),
          ok(col("est_overlap"), col("n_overlap"),
            col("n_grams") + col("__n_bench")).as("overlap_ok"))
        .orderBy(col("source"))
    },
      // exact per-source gram/overlap truths + always-true tolerance
      // booleans (theta bytes aren't oracle-replayable; a drifting
      // estimate flips a boolean and fails the hash compare)
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id, source,
        |    CASE WHEN len(tk) >= 4 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 2),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))
        |    WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END AS ngrams
        |  FROM toks),
        |bench AS (
        |  SELECT DISTINCT g FROM (
        |    SELECT unnest(ngrams) AS g FROM ng WHERE doc_id % 37 = 0)),
        |seg AS (
        |  SELECT DISTINCT source, g FROM (
        |    SELECT source, unnest(ngrams) AS g FROM ng
        |    WHERE doc_id % 37 <> 0)),
        |ngc AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
        |  FROM seg GROUP BY 1),
        |ov AS (
        |  SELECT s.source, CAST(COUNT(*) AS BIGINT) AS n_overlap
        |  FROM seg s JOIN bench b ON s.g = b.g GROUP BY 1)
        |SELECT n.source, n.n_grams,
        |  CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  TRUE AS grams_ok, TRUE AS overlap_ok
        |FROM ngc n LEFT JOIN ov o ON n.source = o.source
        |ORDER BY n.source""".stripMargin),

    Gate("curate_url_canonical", (s, dir) => {
      // URL canonicalization over deterministically messied URLs
      // (mixed-case scheme/host, default ports, duplicate slashes,
      // trailing slash, tracking params, unsorted query, fragment) —
      // the canonical string is the URL-dedup key; domain is the
      // per-site aggregation key. Map-only, rides the scan.
      val id = col("doc_id").cast("string")
      val messy = when(col("doc_id") % 2 === 0,
        concat(lit("HTTP://WWW."), col("source"),
          lit(".Example.COM:80//path//"), id,
          when(col("doc_id") % 3 === 0, lit(""))
            .otherwise(lit("/?utm_source=feed&b=2&a=1&gclid=x")),
          lit("#frag")))
        .otherwise(concat(lit("HTTPS://"), col("source"),
          lit(".Example.ORG:443/p/"), id, lit("/"),
          when(col("doc_id") % 3 === 0, lit("?z=9&utm_medium=email&a=1"))
            .otherwise(lit("")),
          lit("#x")))
      t(s, dir, "documents")
        .select(col("doc_id"), messy.as("__u"))
        .select(col("doc_id"),
          graft.functions.Web.canonicalizeUrl(col("__u")).as("url_canon"),
          graft.functions.Web.domainOf(col("__u")).as("domain"))
        .orderBy(col("doc_id"))
    },
      // replays construction + every canonicalization rule with RE2
      // regexps and list ops (\1 backreference = Spark's $1)
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN 'HTTP://WWW.' || source || '.Example.COM:80//path//'
        |        || doc_id ||
        |        CASE WHEN doc_id % 3 = 0 THEN ''
        |          ELSE '/?utm_source=feed&b=2&a=1&gclid=x' END || '#frag'
        |      ELSE 'HTTPS://' || source || '.Example.ORG:443/p/'
        |        || doc_id || '/' ||
        |        CASE WHEN doc_id % 3 = 0 THEN '?z=9&utm_medium=email&a=1'
        |          ELSE '' END || '#x'
        |    END AS url
        |  FROM documents),
        |nf AS (SELECT doc_id, regexp_replace(trim(url), '#.*$', '') AS s
        |  FROM u),
        |parts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(s, '^([A-Za-z][A-Za-z0-9+.-]*)://.*$', 1))
        |      AS scheme,
        |    lower(regexp_extract(s, '^[^:]+://([^/?#]+).*$', 1)) AS hostport,
        |    regexp_replace(regexp_extract(s,
        |      '^[^:]+://[^/?#]+([^?#]*).*$', 1), '/{2,}', '/', 'g') AS p0,
        |    regexp_extract(s, '\?([^#]*)', 1) AS q
        |  FROM nf),
        |norm AS (
        |  SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |      WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |      ELSE hostport END AS host,
        |    CASE WHEN p0 = '' THEN '/'
        |      ELSE regexp_replace(p0, '(.)/$', '\1') END AS path,
        |    array_to_string(list_sort(list_filter(string_split(q, '&'),
        |      p -> length(p) > 0 AND NOT regexp_matches(p,
        |        '^(utm_[a-z]+|fbclid|gclid|msclkid)='))), '&') AS query,
        |    regexp_replace(regexp_replace(hostport, ':[0-9]+$', ''),
        |      '^www\.', '') AS domain
        |  FROM parts)
        |SELECT doc_id,
        |  scheme || '://' || host || path ||
        |    CASE WHEN length(query) > 0 THEN '?' || query ELSE '' END
        |    AS url_canon,
        |  domain
        |FROM norm ORDER BY doc_id""".stripMargin),

    Gate("curate_k_anonymity", (s, dir) =>
      // release screen before a record-level export: any
      // (nation, segment) combination shared by fewer than k=10
      // customers re-identifies its members; one partial-agg'd
      // groupBy, combination-sized output
      graft.functions.Curation.kAnonymityAudit(
        t(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"), k = 10)
        .orderBy(col("c_nationkey"), col("c_mktsegment")),
      """SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size,
        |  COUNT(*) < 10 AS violates
        |FROM customer GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin),

    Gate("curate_pii_redact", (s, dir) => {
      // the corpus has no natural PII, so synthesize a deterministic
      // contact line per doc (both engines build the identical string)
      // and redact it — exercising both patterns on every row
      val synth = concat(col("text"), lit(" Contact user"),
        col("doc_id").cast("string"), lit("@mail.example.org or 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit("-9876."))
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Curation.piiRedact(synth).as("redacted"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      text || ' Contact user' || CAST(doc_id AS VARCHAR)
        |        || '@mail.example.org or 555-'
        |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-9876.',
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\d{3}-\d{4}(-\d{4})?', '<PHONE>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin),

    Gate("curate_scrub_spans", (s, dir) => {
      // SURGICAL decontamination: splice the maximal duplicated spans
      // (dedup_span_extents' own table) OUT of each document instead
      // of dropping the document — span-level curation's apply step.
      // One equi-join + a codegen'd aggregate fold over the per-doc
      // span array (two substrs per span); docs without spans pass
      // through byte-identical.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val spans = Dedup.dupSpans(docs, "doc_id", "text", gramChars = 30)
      graft.functions.Curation.scrubSpans(docs, spans, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // the span-extents chain, then the splice: kept segments =
      // [prev_span_end+1, span_start-1] per span + the tail after the
      // last span, concatenated in position order; docs with spans
      // but no surviving characters become '', docs without spans
      // pass through
      """WITH g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    substr(text, CAST(i AS INT), 30) AS gram
        |  FROM documents, unnest(range(1, length(text) - 30 + 2)) t(i)),
        |d AS (
        |  SELECT gram FROM g GROUP BY gram
        |  HAVING count(DISTINCT doc_id) >= 2),
        |h AS (SELECT g.* FROM g SEMI JOIN d USING (gram)),
        |c AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(max(pos + 30) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM h),
        |s AS (
        |  SELECT doc_id, pos, CAST(SUM(is_new) OVER (
        |    PARTITION BY doc_id ORDER BY pos
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span_idx
        |  FROM c),
        |sp AS MATERIALIZED (
        |  SELECT doc_id, span_idx, MIN(pos) AS a, MAX(pos + 30) - 1 AS b
        |  FROM s GROUP BY doc_id, span_idx),
        |x AS (
        |  SELECT doc_id, a, b,
        |    COALESCE(MAX(b) OVER (PARTITION BY doc_id ORDER BY a
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS prev_b
        |  FROM sp),
        |segs AS (
        |  SELECT doc_id, prev_b + 1 AS ka, a - 1 AS kb FROM x
        |  UNION ALL
        |  SELECT doc_id, MAX(b) + 1 AS ka, NULL AS kb
        |  FROM sp GROUP BY doc_id),
        |cut AS (
        |  SELECT sg.doc_id, string_agg(
        |      CASE WHEN sg.kb IS NULL THEN substr(dd.text, CAST(sg.ka AS INT))
        |        ELSE substr(dd.text, CAST(sg.ka AS INT),
        |          CAST(GREATEST(sg.kb - sg.ka + 1, 0) AS INT)) END,
        |      '' ORDER BY sg.ka) AS text
        |  FROM segs sg JOIN documents dd USING (doc_id)
        |  GROUP BY sg.doc_id)
        |SELECT dd.doc_id,
        |  CASE WHEN cut.doc_id IS NOT NULL THEN COALESCE(cut.text, '')
        |    ELSE dd.text END AS text
        |FROM documents dd LEFT JOIN cut USING (doc_id)
        |ORDER BY dd.doc_id""".stripMargin)
  )
}
