package graft.gates

import org.apache.spark.sql.functions._
import graft.functions.{Dedup, Similarity, TextAnalysis}
import Fixtures._

/** Duplicate-detection gates (`dedup_*`): exact, n-gram Jaccard,
  * MinHash LSH, SimHash, span and cluster deduplication.
  */
object DedupGates {

  /** Shared by dedup_minhash_lsh and its streaming twin
    * stream_neardup_lsh (cumulative streamed pair set == batch
    * self-join).
    */
  private[gates] val minhashLshOracle: String =
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
        |    CAST(sg[b*4+1] AS VARCHAR) || '|' || CAST(sg[b*4+2] AS VARCHAR) || '|' ||
        |    CAST(sg[b*4+3] AS VARCHAR) || '|' || CAST(sg[b*4+4] AS VARCHAR) AS band_hash
        |  FROM sig, range(0, 4) t(b))
        |SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        |FROM bands l JOIN bands r
        |  ON l.band_id = r.band_id AND l.band_hash = r.band_hash
        |  AND l.doc_id < r.doc_id
        |ORDER BY id_a, id_b""".stripMargin

  /** Shared oracle prefix: the dedup_ngram_jaccard pair pipeline +
    * recursive reachability CTE (`reach`) that the cluster oracles
    * build on. */
  private[gates] val ccReachSql: String =
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
        |scored AS (
        |  SELECT c.id_a, c.id_b
        |  FROM cands c JOIN ng a ON c.id_a = a.doc_id JOIN ng b ON c.id_b = b.doc_id
        |  WHERE floor(CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE) /
        |      greatest(len(a.ngrams) + len(b.ngrams)
        |        - len(list_intersect(a.ngrams, b.ngrams)), 1) * 10000) / 10000 >= 0.15),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM scored
        |  UNION ALL SELECT id_b, id_a FROM scored),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst)""".stripMargin

  /** Shared by dedup_cluster_cc and dedup_cluster_cc_star_ckpt. */
  private val ccClusterOracle: String =
      (ccReachSql + """
        |SELECT id AS doc_id, min(r) AS cluster_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)

  val gates: Seq[Gate] = Seq(

    // ---------------- extension operators: dedup -----------------------
    Gate("dedup_exact", (s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("fp")),
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |  MIN(doc_id) AS keeper_id, COUNT(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    Gate("dedup_ngram_jaccard", (s, dir) =>
      // THE corpus-dedup hot path: MinHash-LSH candidates (2-row bands →
      // recall ≈1 at j≥0.8) + exact-Jaccard verify on candidates only.
      // Portable md5 hashing lets the oracle replicate the exact
      // candidate set, so the full pipeline is hash-verified.
      Dedup.ngramJaccardPairsLsh(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.15, n = 3, numHashes = 16, bands = 8, portable = true)
        .orderBy(col("id_a"), col("id_b")),
      // Shared CTE prologue for the md5-minhash replicas: tokens → ngrams
      // (short-doc guarded exactly like Dedup.wordNgramsFromTokens).
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
        |scored AS (
        |  SELECT c.id_a, c.id_b,
        |    floor(CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE) /
        |      greatest(len(a.ngrams) + len(b.ngrams)
        |        - len(list_intersect(a.ngrams, b.ngrams)), 1) * 10000) / 10000 AS jaccard
        |  FROM cands c JOIN ng a ON c.id_a = a.doc_id JOIN ng b ON c.id_b = b.doc_id)
        |SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.15
        |ORDER BY id_a, id_b""".stripMargin),

    Gate("dedup_evidence", (s, dir) => {
      // auditable dedup decisions: each verified near-dup pair carries
      // its shared-gram count and the first 3 shared grams (lexical
      // order — engine-independent) as a reviewable evidence string
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairsLsh(docs, "doc_id", "text",
        threshold = 0.15, n = 3, numHashes = 16, bands = 8,
        portable = true)
      Dedup.explainPairs(pairs, docs, "doc_id", "text", n = 3, topK = 3)
        .orderBy(col("id_a"), col("id_b"))
    },
      // the dedup_ngram_jaccard pipeline + per-pair evidence: sorted
      // shared grams, count, and the first-3 string
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
        |scored AS (
        |  SELECT c.id_a, c.id_b,
        |    floor(CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE) /
        |      greatest(len(a.ngrams) + len(b.ngrams)
        |        - len(list_intersect(a.ngrams, b.ngrams)), 1) * 10000) / 10000 AS jaccard,
        |    list_sort(list_intersect(a.ngrams, b.ngrams)) AS shared
        |  FROM cands c JOIN ng a ON c.id_a = a.doc_id JOIN ng b ON c.id_b = b.doc_id)
        |SELECT id_a, id_b, jaccard,
        |  CAST(len(shared) AS BIGINT) AS n_shared,
        |  array_to_string(shared[1:3], ' | ') AS evidence
        |FROM scored WHERE jaccard >= 0.15
        |ORDER BY id_a, id_b""".stripMargin),

    Gate("dedup_containment", (s, dir) => {
      // directed near-superset detection (doc quoted/embedded in a
      // longer doc — the case Jaccard-targeted LSH structurally
      // misses). Fixture plants an extended copy (original + fixed
      // tail) of every 40th doc; originals are ≥0.9-contained in
      // their extensions. The prefix filter (rarest-gram inverted
      // index) must be lossless: the oracle computes ground truth
      // over ALL gram-sharing pairs, so any candidate the filter
      // dropped would hash-mismatch.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val tail = " quarterly compliance appendix retained for archival reference only"
      val extended = docs.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 900000L).as("doc_id"),
          concat(col("text"), lit(tail)).as("text"))
      Dedup.containmentPairs(docs.union(extended), "doc_id", "text",
          threshold = 0.9, n = 3)
        .orderBy(col("id_a"), col("id_b"))
    },
      // Ground truth for the prefix-filtered containment search: exact
      // directed containment over EVERY pair sharing at least one gram
      // (any pair with containment ≥ 0.9 > 0 shares a gram, so this is
      // the complete qualifying set — losslessness of the Spark side's
      // prefix filter is exactly what the hash match proves).
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 900000 AS doc_id,
        |    text || ' quarterly compliance appendix retained for archival reference only' AS text
        |  FROM documents WHERE doc_id % 40 = 0),
        |toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM docs),
        |ng AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 1),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END AS ngrams
        |  FROM toks),
        |nz AS (SELECT doc_id, ngrams FROM ng WHERE len(ngrams) > 0),
        |g AS (SELECT doc_id, unnest(ngrams) AS gram FROM nz),
        |shared AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id),
        |scored AS (
        |  SELECT s.id_a, s.id_b,
        |    floor(CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE)
        |      / len(a.ngrams) * 10000) / 10000 AS containment,
        |    CAST(len(a.ngrams) AS BIGINT) AS n_a,
        |    CAST(len(b.ngrams) AS BIGINT) AS n_b
        |  FROM shared s
        |  JOIN nz a ON s.id_a = a.doc_id
        |  JOIN nz b ON s.id_b = b.doc_id)
        |SELECT id_a, id_b, containment, n_a, n_b FROM scored
        |WHERE containment >= 0.9 ORDER BY id_a, id_b""".stripMargin),

    Gate("dedup_incremental_lsh", (s, dir) => {
      // incremental ingest dedup: history (doc_id % 5 ≠ 0) ships a
      // PERSISTED band index; the delta batch (doc_id % 5 = 0) is the
      // only thing tokenized/hashed; result must equal the
      // full-corpus LSH+verify restricted to pairs touching the delta
      // (the oracle runs the full pipeline and filters)
      val docs = t(s, dir, "documents")
      val history = docs.filter(col("doc_id") % 5 =!= 0)
      val delta = docs.filter(col("doc_id") % 5 === 0)
      val index = Dedup.lshBands(history, "doc_id", "text",
        numHashes = 16, bands = 8, ngramN = 3, portable = true)
      Dedup.nearDupDelta(index, history, delta, "doc_id", "text",
          threshold = 0.15, n = 3, numHashes = 16, bands = 8,
          portable = true)
        .orderBy(col("id_a"), col("id_b"))
    },
      // the full-corpus LSH+verify pipeline restricted to pairs
      // touching the delta batch (doc_id % 5 = 0) — the incremental
      // path must reproduce it exactly without re-hashing history
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
        |scored AS (
        |  SELECT c.id_a, c.id_b,
        |    floor(CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE) /
        |      greatest(len(a.ngrams) + len(b.ngrams)
        |        - len(list_intersect(a.ngrams, b.ngrams)), 1) * 10000) / 10000 AS jaccard
        |  FROM cands c JOIN ng a ON c.id_a = a.doc_id JOIN ng b ON c.id_b = b.doc_id)
        |SELECT id_a, id_b, jaccard FROM scored
        |WHERE jaccard >= 0.15 AND (id_a % 5 = 0 OR id_b % 5 = 0)
        |ORDER BY id_a, id_b""".stripMargin),

    Gate("dedup_lpa_delta", (s, dir) => {
      // the INCREMENTAL family composed end to end (the delta twin of
      // curate_documents' batch composition): history's near-dup
      // graph is labeled (the stored table), a delta batch arrives,
      // nearDupDelta derives ONLY the delta-touching edges from the
      // persisted band index, and labelPropagateDelta repairs labels
      // with 2 frontier-restricted warm-start rounds — every stage
      // delta-sized (delta docs hashed, frontier-sized votes), which
      // is the 100 TB contract for continuous ingest. The oracle
      // replays the portable-minhash pipeline into the full LPA
      // unroll.
      val docs = t(s, dir, "documents")
      val history = docs.filter(col("doc_id") % 5 =!= 0)
      val delta = docs.filter(col("doc_id") % 5 === 0)
      // localCheckpoints = the stored-artifact seams made literal
      // (edge tables and the label table are PERSISTED artifacts in
      // the incremental contract); without the cuts every downstream
      // reference re-runs the full LSH+verify pipeline (measured
      // 9.2 s warm vs ~3 s cut)
      val baseEdges = Dedup.ngramJaccardPairsLsh(history, "doc_id",
        "text", threshold = 0.15, n = 3, numHashes = 16, bands = 8,
        portable = true).localCheckpoint()
      val seeds = docs.filter(col("doc_id") % 10 === 1)
        .select(col("doc_id").as("node"), col("doc_id").as("lbl"))
      val stored = graft.operators.Graph.labelPropagate(
          baseEdges, "id_a", "id_b", seeds, "node", "lbl", iters = 2)
        .localCheckpoint()
      val index = Dedup.lshBands(history, "doc_id", "text",
        numHashes = 16, bands = 8, ngramN = 3, portable = true)
      val deltaEdges = Dedup.nearDupDelta(index, history, delta,
        "doc_id", "text", threshold = 0.15, n = 3, numHashes = 16,
        bands = 8, portable = true).localCheckpoint()
      val fullEdges = baseEdges.select(col("id_a"), col("id_b"))
        .unionByName(deltaEdges.select(col("id_a"), col("id_b")))
      graft.operators.Graph.labelPropagateDelta(stored, fullEdges,
          "id_a", "id_b", deltaEdges, seeds, "node", "lbl", rounds = 2)
        ._1.orderBy(col("node"))
    },
      // portable-minhash LSH+verify pairs over the full corpus feed
      // the q_label_prop_delta LPA unroll: stored = 2 rounds over the
      // both-history pairs, then 2 frontier-restricted warm-start
      // rounds over all pairs (f1 = delta-pair endpoints, f2 =
      // neighbors of round-1 changers)
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
        |scored AS (
        |  SELECT c.id_a, c.id_b,
        |    floor(CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE) /
        |      greatest(len(a.ngrams) + len(b.ngrams)
        |        - len(list_intersect(a.ngrams, b.ngrams)), 1) * 10000) / 10000 AS jaccard
        |  FROM cands c JOIN ng a ON c.id_a = a.doc_id JOIN ng b ON c.id_b = b.doc_id),
        |p AS (SELECT id_a AS s, id_b AS d FROM scored WHERE jaccard >= 0.15),
        |be AS (SELECT s, d FROM p WHERE s % 5 <> 0 AND d % 5 <> 0),
        |de AS (SELECT s, d FROM p WHERE s % 5 = 0 OR d % 5 = 0),
        |bund AS (SELECT s, d FROM be UNION ALL SELECT d AS s, s AS d FROM be),
        |fund AS (SELECT s, d FROM p UNION ALL SELECT d AS s, s AS d FROM p),
        |bnodes AS (SELECT DISTINCT s AS node FROM bund),
        |fnodes AS (SELECT DISTINCT s AS node FROM fund),
        |seeds AS (
        |  SELECT doc_id AS node, doc_id AS lbl FROM documents
        |  WHERE doc_id % 10 = 1),
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

    Gate("dedup_ngram_allpairs", (s, dir) =>
      // ground-truth twin on a BOUNDED audit sample (first 200 ids —
      // constant cost at any sf): unblocked exact all-pairs Jaccard,
      // independently recomputable by the oracle
      Dedup.ngramJaccardAllPairs(
        t(s, dir, "documents").filter(col("doc_id") < 200),
        "doc_id", "text", threshold = 0.15, n = 3)
        .orderBy(col("id_a"), col("id_b")),
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents WHERE doc_id < 200),
        |ng AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 1),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END AS ngrams
        |  FROM toks)
        |SELECT l.doc_id AS id_a, r.doc_id AS id_b,
        |  floor(CAST(len(list_intersect(l.ngrams, r.ngrams)) AS DOUBLE) /
        |    greatest(len(l.ngrams) + len(r.ngrams)
        |      - len(list_intersect(l.ngrams, r.ngrams)), 1) * 10000) / 10000 AS jaccard
        |FROM ng l JOIN ng r ON l.doc_id < r.doc_id
        |WHERE floor(CAST(len(list_intersect(l.ngrams, r.ngrams)) AS DOUBLE) /
        |    greatest(len(l.ngrams) + len(r.ngrams)
        |      - len(list_intersect(l.ngrams, r.ngrams)), 1) * 10000) / 10000 >= 0.15
        |ORDER BY id_a, id_b""".stripMargin),

    Gate("dedup_minhash_lsh", (s, dir) =>
      Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 16, bands = 4, ngramN = 3, portable = true)
        .orderBy(col("id_a"), col("id_b")),
      minhashLshOracle),

    Gate("dedup_script_routed", (s, dir) => {
      // script-routed dedup composition: docs with doc_id % 100 ∈
      // {96, 97} are replaced by planted 30-char pure-CJK twins over a
      // 20-char alphabet (a twin pair shares base = floor(id/2); the
      // odd twin perturbs position 15). The planted docs are
      // whitespace-free, so the word route sees ONE token and word
      // n-grams miss the near-dup — the router must send them down the
      // char-shingle path. Everything else keeps the corpus text and
      // routes to word n-grams (same params as dedup_ngram_jaccard).
      val alpha = "日月山川水火木金土人心手口目耳車門馬魚鳥"
      val isCjk = col("doc_id") % 100 === 96 || col("doc_id") % 100 === 97
      val base = floor(col("doc_id") / lit(2.0)).cast("long")
      val chars = (0 until 30).map { i =>
        val perturb =
          if (i == 15) when(col("doc_id") % 2 === 1, lit(3L)).otherwise(lit(0L))
          else lit(0L)
        val idx = pmod(base * 7 + lit(i.toLong * 13) + perturb, lit(20L))
          .cast("int")
        lit(alpha).substr(idx + 1, lit(1))
      }
      val text2 = when(isCjk, concat(chars: _*)).otherwise(col("text"))
      Dedup.scriptRoutedNearDups(
        t(s, dir, "documents").select(col("doc_id"), text2.as("text")),
        "doc_id", "text", wordThreshold = 0.15, charThreshold = 0.5,
        wordN = 3, charK = 3, numHashes = 16, bands = 8, portable = true)
        .orderBy(col("id_a"), col("id_b"))
    },
      // planted CJK twins + routing + both portable minhash paths
      // replayed end to end: char 3-shingles for CJK-dominant docs,
      // word 3-grams for the rest
      """WITH docs AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 100 IN (96, 97) THEN
        |      array_to_string(list_transform(range(0, 30), i ->
        |        substr('日月山川水火木金土人心手口目耳車門馬魚鳥',
        |          CAST((doc_id // 2 * 7 + i * 13 +
        |            CASE WHEN doc_id % 2 = 1 AND i = 15 THEN 3 ELSE 0 END)
        |            % 20 AS INT) + 1, 1)), '')
        |    ELSE text END AS text
        |  FROM documents),
        |cnt AS (
        |  SELECT doc_id, text,
        |    length(text) - length(regexp_replace(text,
        |      '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}\x{AC00}-\x{D7AF}]', '', 'g'))
        |      AS n_cjk
        |  FROM docs),
        |routed AS (
        |  SELECT doc_id, text,
        |    floor(CAST(n_cjk AS DOUBLE) / greatest(length(text), 1) * 10000)
        |      / 10000 >= 0.3 AS is_cjk
        |  FROM cnt),
        |toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM routed WHERE NOT is_cjk),
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
        |wscored AS (
        |  SELECT c.id_a, c.id_b, 'word' AS route,
        |    floor(CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE) /
        |      greatest(len(a.ngrams) + len(b.ngrams)
        |        - len(list_intersect(a.ngrams, b.ngrams)), 1) * 10000) / 10000 AS jaccard
        |  FROM cands c JOIN ng a ON c.id_a = a.doc_id JOIN ng b ON c.id_b = b.doc_id),
        |cnorm AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nm
        |  FROM routed WHERE is_cjk),
        |csh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(length(nm) - 2, 1) + 1),
        |    i -> substr(nm, CAST(i AS INT), 3))) AS sh
        |  FROM cnorm),
        |chp AS (
        |  SELECT doc_id, list_transform(sh, g -> {
        |    'h1': CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT),
        |    'h2': CAST(('0x' || substr(md5(g), 16, 10)) AS BIGINT)}) AS hs
        |  FROM csh),
        |csig AS (
        |  SELECT doc_id, list_transform(range(0, 16),
        |    s -> list_min(list_transform(hs, h ->
        |      xor(((h.h1 + s * h.h2) & 1073741823) << 30 | ((h.h1 + s * h.h2) >> 30),
        |          (((h.h1 + s * h.h2) & 1073741823) << 30 | ((h.h1 + s * h.h2) >> 30)) >> 15)))) AS sg
        |  FROM chp),
        |cbands AS (
        |  SELECT doc_id, b AS band_id,
        |    CAST(sg[b*2+1] AS VARCHAR) || '|' || CAST(sg[b*2+2] AS VARCHAR) AS band_hash
        |  FROM csig, range(0, 8) t(b)),
        |ccands AS (
        |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        |  FROM cbands l JOIN cbands r
        |    ON l.band_id = r.band_id AND l.band_hash = r.band_hash
        |    AND l.doc_id < r.doc_id),
        |cscored AS (
        |  SELECT c.id_a, c.id_b, 'cjk' AS route,
        |    floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      greatest(len(a.sh) + len(b.sh)
        |        - len(list_intersect(a.sh, b.sh)), 1) * 10000) / 10000 AS jaccard
        |  FROM ccands c JOIN csh a ON c.id_a = a.doc_id JOIN csh b ON c.id_b = b.doc_id)
        |SELECT id_a, id_b, route, jaccard FROM cscored WHERE jaccard >= 0.5
        |UNION ALL
        |SELECT id_a, id_b, route, jaccard FROM wscored WHERE jaccard >= 0.15
        |ORDER BY id_a, id_b""".stripMargin),

    Gate("dedup_simhash_hamming", (s, dir) =>
      // pigeonhole blocks: pairs within Hamming distance 3 of the
      // 60-bit portable simhash; the oracle replays blocks, xor and
      // bit_count exactly
      Dedup.simhashNearDups(t(s, dir, "documents"), "doc_id", "text",
        radius = 3)
        .orderBy(col("id_a"), col("id_b")),
      """WITH th AS (
        |  SELECT doc_id,
        |    list_transform(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs
        |  FROM documents),
        |sim AS (
        |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), b ->
        |    CASE WHEN list_sum(list_transform(hs,
        |        h -> CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) >= 0
        |      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sig
        |  FROM th),
        |bands AS (
        |  SELECT doc_id, sig, b AS block_id,
        |    (sig >> (b * 15)) & 32767 AS block_value
        |  FROM sim, range(0, 4) t(b)),
        |cands AS (
        |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
        |    CAST(bit_count(xor(l.sig, r.sig)) AS INT) AS hamming
        |  FROM bands l JOIN bands r
        |    ON l.block_id = r.block_id AND l.block_value = r.block_value
        |    AND l.doc_id < r.doc_id)
        |SELECT id_a, id_b, hamming FROM cands WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    Gate("dedup_simhash", (s, dir) =>
      // portable mode: per-token 60-bit md5-derived hash, bit-vote
      // signature — the oracle recomputes the identical simhash
      Dedup.simhashGroups(t(s, dir, "documents"), "doc_id", "text",
        portable = true)
        .orderBy(col("simhash")),
      """WITH th AS (
        |  SELECT doc_id,
        |    list_transform(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs
        |  FROM documents),
        |sim AS (
        |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), b ->
        |    CASE WHEN list_sum(list_transform(hs,
        |        h -> CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) >= 0
        |      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
        |  FROM th)
        |SELECT simhash, MIN(doc_id) AS keeper_id, COUNT(*) AS dup_count
        |FROM sim GROUP BY 1 ORDER BY 1""".stripMargin),

    Gate("dedup_embedding_cos", (s, dir) => {
      // the synthetic embeddings have no natural near-dups (max pair
      // cosine ≈0.51), so seed exact duplicates (vec_id+10000) — the
      // banded detector recovers exact dups with probability 1 (equal
      // vectors share every band), which the brute-force oracle
      // verifies independently of the LSH internals
      val emb = t(s, dir, "embeddings")
      val aug = emb.select(col("vec_id"), col("embedding"))
        .union(emb.select((col("vec_id") + 10000).as("vec_id"),
          col("embedding")))
      Dedup.embeddingNearDups(aug, "vec_id", "embedding",
        threshold = 0.95, bands = 4, rowsPerBand = 16)
        .select(col("id_a"), col("id_b"),
          TextAnalysis.q4(col("cos")).as("cos_sim"))
        .orderBy(col("id_a"), col("id_b"))
    },
      """WITH aug AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM aug a JOIN aug b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, floor(cos * 10000) / 10000 AS cos_sim
        |FROM pairs WHERE cos >= 0.95 ORDER BY id_a, id_b""".stripMargin),

    Gate("dedup_semantic", (s, dir) => {
      // SemDeDup: paraphrase twins planted in EMBEDDING space — every
      // vec_id % 20 == 0 gains a +50000 twin with dim 1 nudged by
      // +0.001 (cos ≈ 1−1e-8 vs natural max pair cos ≈ 0.51), the
      // "same meaning, different words" shape n-gram MinHash provably
      // misses (the twin shares no text). The within-cell restriction
      // is a no-op ON THIS FIXTURE (a 0.001 nudge never crosses a
      // cell boundary — twins co-assign with their origin), so the
      // brute-force oracle's pair list equals the cell-join's, and
      // the planted clusters are (origin, twin) cliques whose CC
      // label is min-over-neighbors. Quality vec_id % 7 makes the
      // kept representative vary per pair.
      val emb = t(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val twins = emb.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 50000).as("vec_id"),
          concat(array(element_at(col("embedding"), 1) + lit(0.001)),
            slice(col("embedding"), 2, 63)).as("embedding"))
      val aug = emb.union(twins)
        .withColumn("quality", (col("vec_id") % 7).cast("int"))
      val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16)
      Dedup.semanticDedup(aug, "vec_id", "embedding", "quality",
          cents, threshold = 0.9)
        .select(col("vec_id"), col("cluster_id"), col("quality"),
          col("kept"))
        .orderBy(col("vec_id"))
    },
      // brute-force ground truth over the planted-twin fixture: the
      // fixture guarantees every >=0.9 pair is a within-cell
      // (origin, twin) clique, so min-over-neighbors IS the CC label
      // and the oracle needs no iteration; winner per cluster by
      // (quality, -id) via a single max_by key
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |twins AS (
        |  SELECT vec_id + 50000 AS vec_id,
        |    list_concat([e[1] + 0.001], e[2:]) AS e
        |  FROM emb WHERE vec_id % 20 = 0),
        |aug AS (
        |  SELECT vec_id, e, CAST(vec_id % 7 AS INT) AS quality FROM emb
        |  UNION ALL
        |  SELECT vec_id, e, CAST(vec_id % 7 AS INT) AS quality FROM twins),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(range(1, len(a.e) + 1),
        |      i -> a.e[i] * b.e[i]))
        |    / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
        |     * sqrt(list_sum(list_transform(b.e, x -> x * x)))) >= 0.9),
        |nbrs AS (
        |  SELECT id_a AS id, id_b AS nb FROM pairs
        |  UNION ALL SELECT id_b AS id, id_a AS nb FROM pairs),
        |lab AS (
        |  SELECT id, least(id, min(nb)) AS cluster_id
        |  FROM nbrs GROUP BY id),
        |labeled AS (
        |  SELECT a.vec_id, COALESCE(l.cluster_id, a.vec_id) AS cluster_id,
        |    a.quality
        |  FROM aug a LEFT JOIN lab l ON a.vec_id = l.id),
        |win AS (
        |  SELECT cluster_id,
        |    max_by(vec_id, quality * 100000000 - vec_id) AS keep_id
        |  FROM labeled GROUP BY cluster_id)
        |SELECT f.vec_id, f.cluster_id, f.quality,
        |  f.vec_id = w.keep_id AS kept
        |FROM labeled f JOIN win w ON f.cluster_id = w.cluster_id
        |ORDER BY f.vec_id""".stripMargin),

    Gate("dedup_chunk_overlap", (s, dir) => {
      // blob-level near-dup via shared CDC chunks: every 10th doc
      // gets a prefix-edited twin planted — exact doc-hash dedup and
      // fixed chunking both miss it, but CDC boundaries resync after
      // the edit so the twin shares nearly all chunks; candidates are
      // an equi-join on the chunk hash behind a stop-chunk guard
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val twins = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("EDITED PREFIX "), col("text")).as("text"))
      graft.functions.Multimodal.chunkOverlapPairs(
        docs.unionByName(twins), "doc_id", "text", threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },
      // the CDC hash replay over the twinned corpus, then distinct
      // (doc, chunk-md5), stop-chunk guard, hash equi-join pairs,
      // overlap vs the smaller side
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    'EDITED PREFIX ' || text AS text
        |  FROM documents WHERE doc_id % 10 = 0),
        |cp AS (
        |  SELECT doc_id, text,
        |    generate_subscripts(regexp_split_to_array(text, ''), 1) AS pos,
        |    unnest(regexp_split_to_array(text, '')) AS ch
        |  FROM corpus),
        |vals AS (
        |  SELECT doc_id, text, pos, CAST(ord(ch) AS BIGINT) AS b FROM cp),
        |hs AS (
        |  SELECT doc_id, text, pos,
        |    (b * 1 + lag(b, 1) OVER w * 31 + lag(b, 2) OVER w * 961
        |     + lag(b, 3) OVER w * 29791 + lag(b, 4) OVER w * 923521
        |     + lag(b, 5) OVER w * 28629151
        |     + lag(b, 6) OVER w * 887503681
        |     + lag(b, 7) OVER w * 512613922
        |     + lag(b, 8) OVER w * 891031477
        |     + lag(b, 9) OVER w * 621975598
        |     + lag(b, 10) OVER w * 281243405
        |     + lag(b, 11) OVER w * 718545499
        |     + lag(b, 12) OVER w * 274910315
        |     + lag(b, 13) OVER w * 522219709
        |     + lag(b, 14) OVER w * 188810867
        |     + lag(b, 15) OVER w * 853136842) % 1000000007 AS h
        |  FROM vals WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |bounds AS (
        |  SELECT doc_id, text, pos FROM hs WHERE pos >= 16 AND h % 64 = 0
        |  UNION
        |  SELECT doc_id, text, length(text) AS pos FROM corpus
        |  WHERE length(text) >= 1),
        |spans AS (
        |  SELECT doc_id, text, pos AS e,
        |    COALESCE(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), 0)
        |      AS sprev
        |  FROM bounds),
        |chunks AS (
        |  SELECT DISTINCT doc_id,
        |    md5(substr(text, sprev + 1, e - sprev)) AS chunk_hash
        |  FROM spans),
        |sizes AS (
        |  SELECT doc_id, COUNT(*) AS n_chunks FROM chunks GROUP BY doc_id),
        |keep AS (
        |  SELECT chunk_hash FROM chunks GROUP BY chunk_hash
        |  HAVING COUNT(*) <= 100),
        |pruned AS (
        |  SELECT c.doc_id, c.chunk_hash FROM chunks c
        |  JOIN keep USING (chunk_hash)),
        |shared AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    COUNT(*) AS shared_chunks
        |  FROM pruned a JOIN pruned b ON a.chunk_hash = b.chunk_hash
        |    AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT s.id_a, s.id_b, s.shared_chunks,
        |  sa.n_chunks AS n_chunks_a, sb.n_chunks AS n_chunks_b,
        |  CAST(s.shared_chunks AS DOUBLE)
        |    / least(sa.n_chunks, sb.n_chunks) AS overlap
        |FROM shared s
        |JOIN sizes sa ON sa.doc_id = s.id_a
        |JOIN sizes sb ON sb.doc_id = s.id_b
        |WHERE CAST(s.shared_chunks AS DOUBLE)
        |    / least(sa.n_chunks, sb.n_chunks) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin),

    Gate("dedup_passage", (s, dir) =>
      // C4-style passage-level exact dedup: 8-token passages, global
      // first occurrence by (doc_id, idx) survives, documents
      // reassembled from surviving passages
      Dedup.passageDedup(t(s, dir, "documents"), "doc_id", "text",
        passageTokens = 8)
        .orderBy(col("doc_id")),
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |chunks AS (
        |  SELECT doc_id, CAST(i AS INT) AS idx,
        |    array_to_string(tk[(CAST(i AS INT) * 8 + 1):(CAST(i AS INT) * 8 + 8)], ' ')
        |      AS passage
        |  FROM toks,
        |    unnest(range(0, greatest(CAST(ceil(len(tk) / 8.0) AS BIGINT), 1)))
        |      AS t(i)),
        |kept AS (
        |  SELECT * FROM (
        |    SELECT doc_id, idx, passage,
        |      row_number() OVER (PARTITION BY passage ORDER BY doc_id, idx) AS rn
        |    FROM chunks) WHERE rn = 1),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(passage, ' ' ORDER BY idx) AS clean_text,
        |    COUNT(*) AS n_kept
        |  FROM kept GROUP BY doc_id),
        |totals AS (
        |  SELECT doc_id,
        |    greatest(CAST(ceil(len(tk) / 8.0) AS BIGINT), 1) AS n_passages
        |  FROM toks)
        |SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text,
        |  t.n_passages, coalesce(r.n_kept, 0) AS n_kept
        |FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
        |ORDER BY t.doc_id""".stripMargin),

    Gate("dedup_cluster_cc", (s, dir) => {
      // duplicate CLUSTERS from the pairwise LSH+Jaccard edges:
      // iterative min-label propagation to the unique fixpoint (min
      // doc_id per connected component) — the oracle recomputes it as
      // a recursive reachability CTE
      val edges = Dedup.ngramJaccardPairsLsh(t(s, dir, "documents"),
        "doc_id", "text", threshold = 0.15, n = 3, numHashes = 16,
        bands = 8, portable = true)
      Dedup.connectedComponents(edges, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))
    },
      // the pair pipeline is dedup_ngram_jaccard's; the cluster label is
      // min reachable id, computed as a recursive reachability CTE
      ccClusterOracle),

    Gate("dedup_cluster_cc_star_ckpt", (s, dir) => {
      // same clusters through the OTHER CC algorithm (large/small-star
      // contraction, O(log²) rounds regardless of diameter) AND the
      // round-16 reliable-checkpoint path: every per-round lineage cut
      // is a real checkpoint() into a job-scoped dir — the
      // executor-loss-safe configuration a long 100 TB CC job runs
      // with — proven here against the same recursive-CTE oracle as
      // dedup_cluster_cc, tri-SF
      val edges = Dedup.ngramJaccardPairsLsh(t(s, dir, "documents"),
        "doc_id", "text", threshold = 0.15, n = 3, numHashes = 16,
        bands = 8, portable = true)
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_cc_gate_ckpt")
      trackStreamTmp(ckpt)
      Dedup.connectedComponentsStar(edges, "id_a", "id_b",
          checkpointDir = Some(ckpt.toString))
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))
    },
      // identical labeling contract: star contraction reaches the same
      // unique fixpoint (min id per component) as min-label propagation
      ccClusterOracle),

    Gate("dedup_span_coverage", (s, dir) =>
      // char-level cross-doc duplicate-span coverage (30-char grams):
      // sliding grams explode map-side, ≥2-distinct-doc grams survive
      // a partial-agg'd groupBy, coverage = interval union via the
      // running-max-end window — no per-character explode
      Dedup.dupSpanStats(t(s, dir, "documents"), "doc_id", "text",
        gramChars = 30)
        .orderBy(col("doc_id")),
      // same gram slide, ≥2-doc filter, and running-max-end interval
      // union, in DuckDB window form
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
        |    greatest(0, pos + 30 - greatest(pos, coalesce(
        |      max(pos + 30) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0))) AS cov
        |  FROM h),
        |p AS (
        |  SELECT doc_id, count(*) AS n_dup_grams, sum(cov) AS dup_chars
        |  FROM c GROUP BY doc_id)
        |SELECT d0.doc_id,
        |  COALESCE(p.n_dup_grams, 0) AS n_dup_grams,
        |  CAST(COALESCE(p.dup_chars, 0) AS BIGINT) AS dup_chars,
        |  floor(CAST(COALESCE(p.dup_chars, 0) AS DOUBLE)
        |    / greatest(length(d0.text), 1) * 10000) / 10000 AS dup_frac
        |FROM documents d0 LEFT JOIN p ON d0.doc_id = p.doc_id
        |ORDER BY d0.doc_id""".stripMargin),

    Gate("dedup_span_extents", (s, dir) =>
      // maximal merged duplicate spans (the Lee et al. exact-substring
      // extents dedup_span_coverage only totals): overlapping/adjacent
      // duplicated-gram intervals union into per-doc maximal runs via
      // two window passes + a partial-agg'd groupBy — each span row
      // carries (start, end, len, n_grams)
      Dedup.dupSpans(t(s, dir, "documents"), "doc_id", "text",
        gramChars = 30)
        .orderBy(col("doc_id"), col("span_idx")),
      // same gram slide + ≥2-doc filter; then new-span flag (pos >
      // running max end), running-sum span index, per-span extents.
      // SUM window CAST to BIGINT (DuckDB SUM returns HUGEINT)
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
        |  FROM c)
        |SELECT doc_id, span_idx,
        |  MIN(pos) AS span_start,
        |  MAX(pos + 30) - 1 AS span_end,
        |  MAX(pos + 30) - MIN(pos) AS span_len,
        |  COUNT(*) AS n_grams
        |FROM s GROUP BY doc_id, span_idx
        |ORDER BY doc_id, span_idx""".stripMargin),

    Gate("dedup_span_partners", (s, dir) =>
      // span ATTRIBUTION: each maximal duplicated span row names the
      // partner document(s) sharing it and the partner-specific
      // sub-extent — the dup-gram table feeds both sides of ONE
      // bucketed equi-join on the gram; no document self-join
      Dedup.dupSpanPartners(t(s, dir, "documents"), "doc_id", "text",
        gramChars = 30)
        .orderBy(col("doc_id"), col("span_idx"), col("partner_id")),
      // the span-extents chain carrying the gram through, joined back
      // to the distinct (partner, gram) projection of the same
      // dup-gram table; per (doc, span, partner): shared gram count +
      // the partner-specific extent
      """WITH g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    substr(text, CAST(i AS INT), 30) AS gram
        |  FROM documents, unnest(range(1, length(text) - 30 + 2)) t(i)),
        |d AS (
        |  SELECT gram FROM g GROUP BY gram
        |  HAVING count(DISTINCT doc_id) >= 2),
        |h AS (SELECT g.* FROM g SEMI JOIN d USING (gram)),
        |c AS (
        |  SELECT doc_id, pos, gram,
        |    CASE WHEN pos > coalesce(max(pos + 30) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM h),
        |s AS (
        |  SELECT doc_id, pos, gram, CAST(SUM(is_new) OVER (
        |    PARTITION BY doc_id ORDER BY pos
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span_idx
        |  FROM c),
        |hp AS (SELECT DISTINCT doc_id AS partner_id, gram FROM h)
        |SELECT s.doc_id, s.span_idx, hp.partner_id,
        |  COUNT(*) AS shared_grams,
        |  MIN(s.pos) AS shared_start,
        |  MAX(s.pos + 30) - 1 AS shared_end
        |FROM s JOIN hp ON s.gram = hp.gram AND s.doc_id <> hp.partner_id
        |GROUP BY s.doc_id, s.span_idx, hp.partner_id
        |ORDER BY doc_id, span_idx, partner_id""".stripMargin),

    Gate("dedup_cluster_keep_best", (s, dir) => {
      // canonical selection on top of the cc clusters: keep the
      // longest member (n_chars, ties → min doc_id) of each near-dup
      // cluster; singleton docs keep themselves. Argmax is a
      // partial-agg'd struct max, never a per-cluster window.
      val docs = t(s, dir, "documents")
      val edges = Dedup.ngramJaccardPairsLsh(docs, "doc_id", "text",
        threshold = 0.15, n = 3, numHashes = 16, bands = 8,
        portable = true)
      val clusters = Dedup.connectedComponents(edges, "id_a", "id_b")
      Dedup.keepBestPerCluster(docs, "doc_id", clusters, "n_chars")
        .orderBy(col("doc_id"))
    },
      // cc reachability + singleton fill-in, winner = (max n_chars,
      // min doc_id) per cluster via row_number
      (ccReachSql + """,
        |cl AS (SELECT id AS doc_id, min(r) AS cluster_id
        |  FROM reach GROUP BY id),
        |lab AS (
        |  SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id,
        |    d.n_chars
        |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
        |win AS (
        |  SELECT cluster_id, doc_id AS keep_id FROM (
        |    SELECT cluster_id, doc_id, row_number() OVER (
        |      PARTITION BY cluster_id
        |      ORDER BY n_chars DESC, doc_id ASC) AS rn FROM lab) t
        |  WHERE rn = 1)
        |SELECT l.doc_id, l.cluster_id, l.n_chars,
        |  (l.doc_id = w.keep_id) AS kept
        |FROM lab l JOIN win w ON l.cluster_id = w.cluster_id
        |ORDER BY l.doc_id""".stripMargin))
  )
}
