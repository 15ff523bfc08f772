package graft.gates

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Similarity, TextAnalysis}
import Fixtures._

/** Vector-similarity gates (`sim_*`): ANN search over LSH, IVF and
  * graph indexes, and the vector store's lifecycle — ingest, remove,
  * compaction, snapshots and the change feed.
  */
object SimGates {

  /** Brute-force top-5 over naturals + the 5 planted near-copies per
    * query (portable integer-noise perturbation, replicated here
    * bit-for-bit) — the exact oracle both approximate ANN paths
    * (banded sign-LSH, IVF) must equal on this fixture.
    */
  private[gates] val plantedAnnOracle: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
      |  WHERE vec_id % 50 = 0),
      |planted AS (
      |  SELECT q.query_id + (k + 1) * 100000 AS vec_id,
      |    list_transform(range(1, 65), i -> CAST(qvec[i] AS DOUBLE)
      |      + CAST(k + 1 AS DOUBLE) * CAST(0.002 AS DOUBLE)
      |        * (CAST((q.query_id * 31 + (i - 1) * 17) % 19 - 9 AS DOUBLE)
      |           / CAST(9 AS DOUBLE))) AS emb
      |  FROM q, range(0, 5) t(k)),
      |corpus AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings
      |  UNION ALL SELECT vec_id, emb FROM planted),
      |scored AS (
      |  SELECT q.query_id, c.vec_id,
      |    list_sum(list_transform(range(1, 65),
      |      i -> c.emb[i] * CAST(q.qvec[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(c.emb, x -> x * x)))
      |     * sqrt(list_sum(list_transform(q.qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      |  FROM corpus c CROSS JOIN q
      |  WHERE c.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, vec_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, rank, vec_id AS neighbor_id
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** sim_store_snapshot oracle — pure planted arithmetic, no floats:
    * the pinned (pre-sync) store holds true twins of bands 1–3, whose
    * cosine ranking is band order (amp (k+1)·0.002 strictly orders
    * them), so pinned rank r → query_id + r·100000; the fresh
    * (post-sync) store deleted band 1 and inserted band 4, so fresh
    * rank r → query_id + (r+1)·100000.
    */
  private val storeSnapshotOracle: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id FROM embeddings WHERE vec_id % 50 = 0)
      |SELECT 'pinned' AS snap, query_id, r AS rank,
      |  query_id + r * 100000 AS neighbor_id
      |FROM q, range(1, 4) t(r)
      |UNION ALL
      |SELECT 'fresh' AS snap, query_id, r AS rank,
      |  query_id + (r + 1) * 100000 AS neighbor_id
      |FROM q, range(1, 4) t(r)
      |ORDER BY snap, query_id, rank""".stripMargin

  /** plantedAnnOracle minus the tombstoned twins: brute force over
    * the corpus with the (k+1)-band 2 and 4 planted ids removed
    * (vec_id // 100000 ∈ {2, 4} — exactly the Spark side's
    * floor(vec_id / 100000) tombstone set), top-3. Shared by the
    * graph and IVF remove gates.
    */
  private[gates] val plantedAnnRemoveOracle: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
      |  WHERE vec_id % 50 = 0),
      |planted AS (
      |  SELECT q.query_id + (k + 1) * 100000 AS vec_id,
      |    list_transform(range(1, 65), i -> CAST(qvec[i] AS DOUBLE)
      |      + CAST(k + 1 AS DOUBLE) * CAST(0.002 AS DOUBLE)
      |        * (CAST((q.query_id * 31 + (i - 1) * 17) % 19 - 9 AS DOUBLE)
      |           / CAST(9 AS DOUBLE))) AS emb
      |  FROM q, range(0, 5) t(k)),
      |corpus AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings
      |  UNION ALL SELECT vec_id, emb FROM planted),
      |survivors AS (
      |  SELECT * FROM corpus WHERE vec_id // 100000 NOT IN (2, 4)),
      |scored AS (
      |  SELECT q.query_id, c.vec_id,
      |    list_sum(list_transform(range(1, 65),
      |      i -> c.emb[i] * CAST(q.qvec[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(c.emb, x -> x * x)))
      |     * sqrt(list_sum(list_transform(q.qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      |  FROM survivors c CROSS JOIN q
      |  WHERE c.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, vec_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, rank, vec_id AS neighbor_id
      |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Shared by sim_lsh_recall and sim_ivf_recall. */
  private val annRecallOracle: String =
      """WITH p AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)
        |      + CAST(0.04 AS DOUBLE)
        |        * (CAST((vec_id * 31 + (i - 1) * 17) % 19 - 9 AS DOUBLE)
        |           / CAST(9 AS DOUBLE))) AS w
        |  FROM embeddings),
        |cosv AS (
        |  SELECT vec_id,
        |    list_sum(list_transform(range(1, 65), i -> v[i] * w[i]))
        |    / (sqrt(list_sum(list_transform(v, x -> x * x)))
        |     * sqrt(list_sum(list_transform(w, x -> x * x)))) AS cos
        |  FROM p)
        |SELECT COUNT(*) AS n_true,
        |  floor(MIN(cos) * 10000) / 10000 AS min_cos,
        |  floor(MAX(cos) * 10000) / 10000 AS max_cos,
        |  TRUE AS recall_ok
        |FROM cosv WHERE cos >= 0.9""".stripMargin

  val gates: Seq[Gate] = Seq(

    Gate("sim_store_changes", (s, dir) => {
      // ROW-LEVEL CHANGE FEED under the oracle (round 15 — the Delta
      // table_changes move, completing the store's operational triad
      // next to snapshot isolation and time travel): the embeddings
      // corpus lands in an IVF store as one committed batch, then a
      // tombstone batch deletes vec_id % 37 == 0. readChanges between
      // the two versions must report EXACTLY those rows as removes
      // and nothing else — the touched partitions were REWRITTEN
      // (survivors re-land byte-identical in a fresh segment), so
      // every survivor must cancel out of the feed, and untouched
      // partitions are never read at all (cost O(changed partitions),
      // the property that makes polling the feed cheaper than
      // re-scanning a 100 TB store).
      val (idxDir, vPre, vPost) =
        storeChangesDirs.computeIfAbsent(dir, _ => {
          val corpus = t(s, dir, "embeddings").select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double"))
              .as("embedding"))
          val cents = Similarity.ivfCentroids(corpus, "vec_id",
            "embedding", 16)
          val store = trackStreamTmp(
            java.nio.file.Files.createTempDirectory("graft_chg_idx"))
          graft.streaming.VectorIngest.ingestBatch(corpus, "vec_id",
            "embedding", cents, store.toString, batchId = 0L)
          val v1 = graft.streaming.VectorStore.version(s, store.toString)
          graft.streaming.VectorIngest.removeIvfBatch(
            corpus.filter(col("vec_id") % 37 === 0)
              .select(col("vec_id")),
            "vec_id", store.toString)
          (store.toString, v1,
            graft.streaming.VectorStore.version(s, store.toString))
        })
      graft.streaming.VectorStore.readChanges(s, idxDir, vPre, vPost)
        .select(col("_change_type").as("change_type"), col("vec_id"))
        .orderBy(col("vec_id"))
    },
      // the change feed between the ingest and tombstone versions is
      // exactly the tombstoned rows as removes: survivors of the
      // partition rewrites cancel (multiset diff), untouched partitions
      // are never read
      """SELECT 'remove' AS change_type, vec_id FROM embeddings
        |WHERE vec_id % 37 = 0 ORDER BY vec_id""".stripMargin),

    Gate("sim_store_snapshot", (s, dir) => {
      // SNAPSHOT ISOLATION under the oracle: pin the store's manifest
      // BEFORE a CDC sync, apply the sync, then run the SAME top-3
      // search over (a) the pinned entries and (b) a fresh read. The
      // base store holds the naturals + true twins of bands 1-3; the
      // sync deletes band 1 and inserts band 4 — so the pinned search
      // must return the OLD planted ranking (bands 1,2,3; the pinned
      // files were superseded, never rewritten) while the fresh read
      // returns the NEW one (bands 2,3,4). The oracle is closed-form
      // planted arithmetic: pinned rank r -> query+r*100000, fresh
      // rank r -> query+(r+1)*100000. This is the reader-races-writer
      // guarantee as a hash gate, not just a spec.
      val (pinnedEntries, schemaJson, idxDir) =
        storeSnapshotDirs.computeIfAbsent(dir, _ => {
          val (corpus, _) = plantedAnnFixture(s, dir)
          val cents = Similarity.ivfCentroids(corpus, "vec_id",
            "embedding", 16)
          val band = floor(col("vec_id") / 100000L)
          val base = corpus.filter(band <= 3)
          val idx = trackStreamTmp(
            java.nio.file.Files.createTempDirectory("graft_snap_idx"))
          Similarity.graphAnnBuild(base, "vec_id", "embedding", cents,
              degree = 8, efConstruction = 64)
            .write.mode("overwrite").partitionBy("cell")
            .parquet(idx.toString)
          val snap = graft.streaming.VectorStore
            .adopt(s, idx.toString).get
          // the sync commits AFTER the pin: delete band 1, insert the
          // true band-4 twins
          val cdc = corpus.filter(band === 1)
            .select(col("vec_id"), col("embedding"),
              lit("delete").as("op"))
            .unionByName(corpus.filter(band === 4)
              .select(col("vec_id"), col("embedding"),
                lit("upsert").as("op")))
          graft.streaming.VectorIngest.syncGraphBatch(cdc, "vec_id",
            "embedding", "op", cents, idx.toString, degree = 8,
            efConstruction = 64)
          (snap.entries, snap.schemaJson, idx.toString)
        })
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
        16)
      def topk(store: DataFrame, label: String) =
        Similarity.graphAnnTopKIndexed(store, "vec_id", "embedding",
            queries, "query_id", "qvec", k = 3, cents, nprobe = 4,
            ef = 1024)
          .select(lit(label).as("snap"), col("query_id"), col("rank"),
            col("vec_id").as("neighbor_id"))
      topk(graft.streaming.VectorStore.readEntries(s, idxDir,
          pinnedEntries, schemaJson), "pinned")
        .unionByName(topk(
          graft.streaming.VectorStore.read(s, idxDir), "fresh"))
        .orderBy(col("snap"), col("query_id"), col("rank"))
    },
      storeSnapshotOracle),

    // ---------------- extension operators: similarity search ----------
    Gate("sim_random_projection", (s, dir) => {
      // JL sign-matrix projection 64 → 8 dims: map-only nested folds,
      // md5-derived signs the oracle replays; the dimension-reduction
      // front end for every downstream ANN/near-dup shuffle
      val proj = Similarity.randomProject(col("embedding"), k = 8,
        dims = 64)
      t(s, dir, "embeddings")
        .select(col("vec_id"), proj.as("__p"))
        .select(col("vec_id") +: (0 until 8).map(j =>
          TextAnalysis.q4(element_at(col("__p"), j + 1)).as(s"p$j")): _*)
        .orderBy(col("vec_id"))
    },
      // same fold, same sign hash, same IEEE ops (left-to-right sum,
      // division by sqrt(k)) — bit-identical before quantization
      """WITH p AS (
        |  SELECT vec_id,
        |    list_transform(range(0, 8), j ->
        |      list_aggregate(list_transform(range(0, 64), i ->
        |        CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) *
        |        (CASE WHEN CAST(('0x' || substr(md5('rp|' || j || '|' || i),
        |          1, 15)) AS BIGINT) % 2 = 0
        |          THEN 1.0 ELSE -1.0 END)), 'sum') / sqrt(8)) AS pr
        |  FROM embeddings)
        |SELECT vec_id,
        |  floor(pr[1] * 10000) / 10000 AS p0,
        |  floor(pr[2] * 10000) / 10000 AS p1,
        |  floor(pr[3] * 10000) / 10000 AS p2,
        |  floor(pr[4] * 10000) / 10000 AS p3,
        |  floor(pr[5] * 10000) / 10000 AS p4,
        |  floor(pr[6] * 10000) / 10000 AS p5,
        |  floor(pr[7] * 10000) / 10000 AS p6,
        |  floor(pr[8] * 10000) / 10000 AS p7
        |FROM p ORDER BY vec_id""".stripMargin),

    Gate("sim_label_centroids", (s, dir) =>
      // per-label class prototypes: one (label, dim) partial-agg'd
      // shuffle, decimal accumulation for cross-engine determinism
      Similarity.labelCentroids(t(s, dir, "embeddings"),
        "label", "embedding")
        .orderBy(col("label"), col("dim")),
      // decimal accumulation on both sides: the sum is exact and
      // order-independent, so the quantized mean replays bit-for-bit
      """WITH ex AS (
        |  SELECT label, CAST(i AS INT) AS dim,
        |    CAST(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)
        |      AS DECIMAL(27,10)) AS x
        |  FROM embeddings, unnest(range(0, len(embedding))) AS t(i)),
        |agg AS (
        |  SELECT label, dim, COUNT(*) AS n_vectors, SUM(x) AS s
        |  FROM ex GROUP BY 1, 2)
        |SELECT label, dim, n_vectors,
        |  floor(CAST(s AS DOUBLE) / n_vectors * 10000) / 10000 AS centroid
        |FROM agg ORDER BY label, dim""".stripMargin),

    Gate("sim_perceptron_train", (s, dir) => {
      // distributed quality-classifier training: 3 full-batch
      // perceptron epochs on integer-quantized embeddings (labels
      // 0–4 = +1 vs 5–9 = −1) — all-integer arithmetic, so the
      // trained weights replay bit-for-bit in the oracle's 3
      // unrolled iterations
      val emb = t(s, dir, "embeddings")
        .select(when(col("label") < 5, lit(1L)).otherwise(lit(-1L)).as("y"),
          col("embedding"))
      Similarity.perceptronTrain(emb, "embedding", "y",
          dims = 64, iters = 3)
        .orderBy(col("dim"))
    },
      // 3 unrolled batch-perceptron epochs in exact integer
      // arithmetic: quantize features once, epoch 1 updates on every
      // row (w=0 ⇒ margin 0 ≤ 0), epochs 2–3 on rows with
      // y·(w·x) ≤ 0; every SUM cast to BIGINT (HUGEINT hash gotcha)
      """WITH e AS (
        |  SELECT vec_id,
        |    CASE WHEN label < 5 THEN 1 ELSE -1 END AS y,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS xq
        |  FROM embeddings),
        |dims AS (SELECT CAST(unnest(range(64)) AS INT) AS dim),
        |w1 AS (
        |  SELECT d.dim, CAST(SUM(e.y * e.xq[d.dim + 1]) AS BIGINT) AS w
        |  FROM e, dims d GROUP BY 1),
        |m2 AS (
        |  SELECT e.vec_id,
        |    e.y * CAST(SUM(w1.w * e.xq[w1.dim + 1]) AS BIGINT) AS m
        |  FROM e, w1 GROUP BY e.vec_id, e.y),
        |d2 AS (
        |  SELECT d.dim, CAST(SUM(e.y * e.xq[d.dim + 1]) AS BIGINT) AS dw
        |  FROM e, m2, dims d
        |  WHERE e.vec_id = m2.vec_id AND m2.m <= 0 GROUP BY 1),
        |w2 AS (
        |  SELECT w1.dim, w1.w + COALESCE(d2.dw, 0) AS w
        |  FROM w1 LEFT JOIN d2 ON w1.dim = d2.dim),
        |m3 AS (
        |  SELECT e.vec_id,
        |    e.y * CAST(SUM(w2.w * e.xq[w2.dim + 1]) AS BIGINT) AS m
        |  FROM e, w2 GROUP BY e.vec_id, e.y),
        |d3 AS (
        |  SELECT d.dim, CAST(SUM(e.y * e.xq[d.dim + 1]) AS BIGINT) AS dw
        |  FROM e, m3, dims d
        |  WHERE e.vec_id = m3.vec_id AND m3.m <= 0 GROUP BY 1),
        |w3 AS (
        |  SELECT w2.dim, w2.w + COALESCE(d3.dw, 0) AS w
        |  FROM w2 LEFT JOIN d3 ON w2.dim = d3.dim)
        |SELECT dim, CAST(w AS BIGINT) AS weight
        |FROM w3 ORDER BY dim""".stripMargin),

    Gate("sim_perceptron_classify", (s, dir) => {
      // end-to-end train→score: the trained weights broadcast back
      // over the corpus as a map-side integer dot product; per true
      // label, how many rows the classifier keeps (score > 0) — the
      // corpus-filtering pass of a quality classifier, all exact
      val emb = t(s, dir, "embeddings")
        .select(col("label"),
          when(col("label") < 5, lit(1L)).otherwise(lit(-1L)).as("y"),
          col("embedding"))
      val w = Similarity.perceptronTrain(emb, "embedding", "y",
        dims = 64, iters = 3)
      Similarity.scoreLinear(emb, "embedding", w, dims = 64)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("score") > 0, 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("label"))
    },
      // same 3 unrolled epochs, then one scoring pass: per true
      // label, rows with positive trained score (all exact integers)
      """WITH e AS (
        |  SELECT vec_id, label,
        |    CASE WHEN label < 5 THEN 1 ELSE -1 END AS y,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS xq
        |  FROM embeddings),
        |dims AS (SELECT CAST(unnest(range(64)) AS INT) AS dim),
        |w1 AS (
        |  SELECT d.dim, CAST(SUM(e.y * e.xq[d.dim + 1]) AS BIGINT) AS w
        |  FROM e, dims d GROUP BY 1),
        |m2 AS (
        |  SELECT e.vec_id,
        |    e.y * CAST(SUM(w1.w * e.xq[w1.dim + 1]) AS BIGINT) AS m
        |  FROM e, w1 GROUP BY e.vec_id, e.y),
        |d2 AS (
        |  SELECT d.dim, CAST(SUM(e.y * e.xq[d.dim + 1]) AS BIGINT) AS dw
        |  FROM e, m2, dims d
        |  WHERE e.vec_id = m2.vec_id AND m2.m <= 0 GROUP BY 1),
        |w2 AS (
        |  SELECT w1.dim, w1.w + COALESCE(d2.dw, 0) AS w
        |  FROM w1 LEFT JOIN d2 ON w1.dim = d2.dim),
        |m3 AS (
        |  SELECT e.vec_id,
        |    e.y * CAST(SUM(w2.w * e.xq[w2.dim + 1]) AS BIGINT) AS m
        |  FROM e, w2 GROUP BY e.vec_id, e.y),
        |d3 AS (
        |  SELECT d.dim, CAST(SUM(e.y * e.xq[d.dim + 1]) AS BIGINT) AS dw
        |  FROM e, m3, dims d
        |  WHERE e.vec_id = m3.vec_id AND m3.m <= 0 GROUP BY 1),
        |w3 AS (
        |  SELECT w2.dim, w2.w + COALESCE(d3.dw, 0) AS w
        |  FROM w2 LEFT JOIN d3 ON w2.dim = d3.dim),
        |scored AS (
        |  SELECT e.vec_id, e.label,
        |    CAST(SUM(w3.w * e.xq[w3.dim + 1]) AS BIGINT) AS score
        |  FROM e, w3 GROUP BY e.vec_id, e.label)
        |SELECT label, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept
        |FROM scored GROUP BY label ORDER BY label""".stripMargin),

    Gate("sim_nearest_centroid", (s, dir) => {
      // nearest-centroid classification composed from labelCentroids:
      // centroid vectors reassembled per label (tiny → broadcast), one
      // map-side cosine per (vector, label), argmax via a partial-agg'd
      // struct max — no window shuffle, no driver loop
      val emb = t(s, dir, "embeddings")
      val cvecs = Similarity.labelCentroids(emb, "label", "embedding")
        .groupBy(col("label").as("cand_label"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("centroid")))),
          c => c.getField("centroid")).as("cvec"))
      emb.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(cvecs))
        .select(col("vec_id"), col("cand_label"),
          TextAnalysis.q4(
            Similarity.cosine(col("embedding"), col("cvec"))).as("cos_q"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("cos_q"),
          (-col("cand_label")).as("__nl"),
          col("cand_label").as("__l"))).as("__m"))
        .select(col("vec_id"), col("__m.__l").as("pred_label"),
          col("__m.cos_q").as("cos_sim"))
        .orderBy(col("vec_id"))
    },
      // cosine against the q4-quantized centroids (exact decimals →
      // doubles), argmax = (cos desc, label asc) — replays the
      // struct-max tie-break exactly
      """WITH ex AS (
        |  SELECT label, CAST(i AS INT) AS dim,
        |    CAST(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)
        |      AS DECIMAL(27,10)) AS x
        |  FROM embeddings, unnest(range(0, len(embedding))) AS t(i)),
        |agg AS (
        |  SELECT label, dim, COUNT(*) AS n, SUM(x) AS s
        |  FROM ex GROUP BY 1, 2),
        |cent AS (
        |  SELECT label, dim,
        |    floor(CAST(s AS DOUBLE) / n * 10000) / 10000 AS c
        |  FROM agg),
        |cvec AS (
        |  SELECT label AS cand_label, array_agg(c ORDER BY dim) AS cv
        |  FROM cent GROUP BY label),
        |scored AS (
        |  SELECT e.vec_id, v.cand_label,
        |    list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * v.cv[i])) AS num,
        |    sqrt(list_sum(list_transform(e.embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |    * sqrt(list_sum(list_transform(v.cv, x -> x * x))) AS den
        |  FROM embeddings e CROSS JOIN cvec v),
        |q AS (
        |  SELECT vec_id, cand_label,
        |    floor((CASE WHEN den = 0 THEN 0.0 ELSE num / den END) * 10000)
        |      / 10000 AS cos_q
        |  FROM scored),
        |pred AS (
        |  SELECT vec_id, cand_label, cos_q,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos_q DESC, cand_label ASC) AS rn
        |  FROM q)
        |SELECT vec_id, cand_label AS pred_label, cos_q AS cos_sim
        |FROM pred WHERE rn = 1 ORDER BY vec_id""".stripMargin),

    Gate("sim_ann_bruteforce", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
          TextAnalysis.q4(col("cos")).as("cos_sim"))
        .orderBy(col("query_id"), col("rank"))
    },
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
        |  WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(q.qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, rank, vec_id AS neighbor_id,
        |  floor(cos * 10000) / 10000 AS cos_sim
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Gate("sim_ann_quantized", (s, dir) => {
      // int8-quantized cosine top-k: per-vector scales cancel in the
      // cosine, so candidate scoring is exact integer dot products over
      // 4×-smaller codes — bit-reproducible across engines, which float
      // cosine is not
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.quantizedTopK(emb, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
          TextAnalysis.q4(col("cos")).as("approx_cos"))
        .orderBy(col("query_id"), col("rank"))
    },
      // int8 codes are exact integral doubles on both engines, so the
      // integer dot products (and thus the ranking) replay bit-for-bit
      """WITH base AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |  FROM embeddings),
        |qz AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> 0.0)
        |         ELSE list_transform(embedding,
        |           x -> floor(CAST(x AS DOUBLE) * 127 / mx + 0.5)) END AS q
        |  FROM base),
        |n AS (
        |  SELECT vec_id, q,
        |    sqrt(list_sum(list_transform(q, x -> x * x))) AS qn
        |  FROM qz),
        |qs AS (
        |  SELECT vec_id AS query_id, q AS qq, qn AS qqn FROM n
        |  WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT qs.query_id, n.vec_id,
        |    CASE WHEN n.qn * qs.qqn = 0 THEN 0.0
        |         ELSE list_sum(list_transform(range(1, len(n.q) + 1),
        |           i -> n.q[i] * qs.qq[i])) / (n.qn * qs.qqn) END AS cos
        |  FROM n CROSS JOIN qs WHERE n.vec_id <> qs.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, rank, vec_id AS neighbor_id,
        |  floor(cos * 10000) / 10000 AS approx_cos
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Gate("sim_ann_pq", (s, dir) => {
      // product-quantization ADC top-5 (Jégou 2011): m=8 subspaces ×
      // k=16 id-stride codebooks over the 64-dim embeddings; corpus
      // scores as 8 integer table lookups over its codes — vectors are
      // never read at query time. Distances carried as nano-unit longs
      // so encode, LUT and totals replay exactly in the oracle.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val books = Similarity.pqBooks(emb, "vec_id", "embedding",
        m = 8, k = 16, dims = 64)
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.pqTopK(emb, "vec_id", "embedding",
          queries, "query_id", "qvec", books, k = 5)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"), col("dist_nano"))
        .orderBy(col("query_id"), col("rank"))
    },
      // replays id-stride codebooks, per-subspace argmin encode (tie →
      // smallest code), the query LUT, and the integer ADC total
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |books AS (
        |  SELECT vec_id // 11 AS code, v FROM emb
        |  WHERE vec_id % 11 = 0 AND vec_id < 16 * 11),
        |sub AS (SELECT * FROM range(0, 8) t(j)),
        |penc AS (
        |  SELECT e.vec_id, s.j, b.code,
        |    CAST(floor(list_sum(list_transform(range(1, 9), i ->
        |      pow(e.v[CAST(s.j*8+i AS INT)] - b.v[CAST(s.j*8+i AS INT)], 2)))
        |      * 1e9) AS BIGINT) AS d
        |  FROM emb e, sub s, books b),
        |codes AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
        |    FROM penc) WHERE rn = 1),
        |qlut AS (
        |  SELECT vec_id AS query_id, j, code, d FROM penc
        |  WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT l.query_id, c.vec_id,
        |    CAST(SUM(l.d) AS BIGINT) AS dist_nano
        |  FROM codes c JOIN qlut l ON c.j = l.j AND c.code = l.code
        |  WHERE l.query_id <> c.vec_id
        |  GROUP BY 1, 2),
        |r AS (SELECT query_id, vec_id, dist_nano, ROW_NUMBER() OVER (
        |  PARTITION BY query_id ORDER BY dist_nano, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank,
        |  vec_id AS neighbor_id, dist_nano
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Gate("sim_ann_lsh", (s, dir) => {
      // banded sign-LSH scale path. Fixture: plant 5 perturbed copies
      // per query (cos ≈0.9989–0.99996, portable integer-noise formula)
      // so the true top-5 is known and high-similarity; with 8 bands ×
      // 16 rows the per-neighbor miss probability is ~4e-6, so LSH
      // top-5 equals the brute-force oracle's top-5 deterministically.
      val (corpus, queries) = plantedAnnFixture(s, dir)
      Similarity.lshTopK(corpus, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5, bands = 8, rowsPerBand = 16)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    },
      plantedAnnOracle),

    Gate("sim_ann_ivf", (s, dir) => {
      // IVF scale path over the same planted fixture: coarse cells from
      // deterministically sampled centroids, queries probe their 4
      // nearest cells. The planted near-copies (cos ≥0.9989) land in
      // the query's own cell, so IVF top-5 equals the brute-force
      // oracle exactly.
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 16)
      Similarity.ivfTopK(corpus, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5, cents, nprobe = 4)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    },
      plantedAnnOracle),

    Gate("sim_ivf_hier", (s, dir) => {
      // two-level quantizer assignment (the IVF scale path's OWN
      // scale path: ~O(sqrt(nlist)) centroid dots per vector, for the
      // nlist ∝ corpus contract): centroids grouped under 4
      // super-centroids, corpus assigned at wprobe=2, search over the
      // two-level index. The planted ~0.002-perturbation copies
      // quantize like their query under ANY deterministic quantizer,
      // so top-5 must still equal the brute-force oracle — exactly
      // the sim_ann_ivf/sim_ivf_append contract. wprobe=2 (not 1):
      // at sf0.1 a handful of the 1000 queries' copies sat on a
      // supergroup knife edge at wprobe=1 and quantized into a cell
      // outside the query's flat nprobe=4 probe set — the exact
      // approximation mode the wprobe knob exists to buy back
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 16)
      val (supers, members) = Similarity.ivfGroups(cents, 4)
      val index = Similarity.ivfAssignmentsTwoLevel(corpus, "vec_id",
        "embedding", cents, supers, members, wprobe = 2)
      Similarity.ivfTopKIndexed(index, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5, cents, nprobe = 4)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    },
      plantedAnnOracle),

    Gate("sim_ann_graph", (s, dir) => {
      // graph-based ANN (NSW family), IVF-routed: cell-local
      // small-world graphs built and walked inside ONE cogroup on the
      // cell id; the high-recall/low-latency regime the flat scan
      // family doesn't cover. Gate runs the walk in its EXACTNESS
      // regime (ef ≥ any cell population → the best-first walk
      // provably visits the whole connected cell graph), so top-5
      // equals the brute-force oracle exactly — the
      // NearestCellTwoLevel full-probe convention; the approximate
      // small-ef regime is spec-pinned (recall on the planted
      // fixture).
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 16)
      Similarity.graphAnnTopK(corpus, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5, cents, nprobe = 4,
          degree = 8, ef = 1024)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    },
      plantedAnnOracle),

    Gate("sim_ann_graph_indexed", (s, dir) => {
      // the STORED-INDEX half: graphAnnBuild materializes the
      // cell-local NSW graphs as a table (localCheckpoint = the
      // stored-artifact seam), graphAnnTopKIndexed walks them with no
      // rebuild — the ivfAssignments/ivfTopKIndexed relationship,
      // graph edition. Same exactness regime as sim_ann_graph, same
      // brute-force oracle.
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 16)
      val index = Similarity.graphAnnBuild(corpus, "vec_id", "embedding",
        cents, degree = 8, efConstruction = 64).localCheckpoint()
      Similarity.graphAnnTopKIndexed(index, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5, cents, nprobe = 4,
          ef = 1024)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    },
      plantedAnnOracle),

    Gate("sim_ann_graph_append", (s, dir) => {
      // incremental graph-index ingest (the sim_ivf_append contract,
      // graph edition): the base index is built WITHOUT the planted
      // twins, which then arrive as a delta and INSERT into the
      // stored cell graphs via search-and-link against the frozen
      // quantizer — untouched cells pass through unchanged. The
      // search over the appended index must still equal brute force
      // over the full corpus (the exactness regime is insertion-order
      // independent), i.e. the appended twins are immediately
      // findable at their true ranks.
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 16)
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val delta = corpus.join(emb.select(col("vec_id")),
        Seq("vec_id"), "left_anti") // = the planted twins
      val base = Similarity.graphAnnBuild(emb, "vec_id", "embedding",
        cents, degree = 8, efConstruction = 64)
      val appended = Similarity.graphAnnAppend(base, delta, "vec_id",
        "embedding", cents, degree = 8, efConstruction = 64)
        .localCheckpoint()
      Similarity.graphAnnTopKIndexed(appended, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5, cents, nprobe = 4,
          ef = 1024)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    },
      plantedAnnOracle),

    Gate("sim_ann_graph_remove", (s, dir) => {
      // DELETE path of the stored graph index — the lifecycle op the
      // reference applies as a first-class sync action
      // (sqlserver2pgsql.pl:4645–4647 order_delete): tombstone two of
      // the five planted twins per query (the (k+1)-band 2 and 4
      // ids), graphAnnRemove rebuilds ONLY the touched cells over the
      // survivors in id order (≡ fresh build of all − set; the spec
      // pins the byte equality), and the top-3 search must equal
      // brute force over the survivors — ranks 1..3 become the twins
      // k = 0, 2, 4. Sensitive to the delete by construction: an
      // unapplied tombstone leaves k=1 at rank 2.
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 16)
      val index = Similarity.graphAnnBuild(corpus, "vec_id", "embedding",
        cents, degree = 8, efConstruction = 64)
      val dead = corpus
        .filter(floor(col("vec_id") / 100000L).isin(2, 4))
        .select(col("vec_id"))
      val removed = Similarity.graphAnnRemove(index, dead, "vec_id",
        "embedding", degree = 8, efConstruction = 64).localCheckpoint()
      Similarity.graphAnnTopKIndexed(removed, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 3, cents, nprobe = 4,
          ef = 1024)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    },
      plantedAnnRemoveOracle),

    Gate("sim_ivf_remove", (s, dir) => {
      // flat-index twin of sim_ann_graph_remove: ivfRemove drops the
      // tombstoned assignment rows (one broadcast anti-join — IVF
      // postings carry no inter-row links, so no rebuild), search
      // over the survivors equals brute force minus the removed set.
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 16)
      val index = Similarity.ivfAssignments(corpus, "vec_id", "embedding",
        cents)
      val dead = corpus
        .filter(floor(col("vec_id") / 100000L).isin(2, 4))
        .select(col("vec_id"))
      val removed = Similarity.ivfRemove(index, dead, "vec_id")
      Similarity.ivfTopKIndexed(removed, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 3, cents, nprobe = 4)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    },
      plantedAnnRemoveOracle),

    Gate("sim_ivf_compact", (s, dir) => {
      // STORE COMPACTION under the search oracle — the small-files
      // maintenance op for the streamed IVF store: the planted corpus
      // lands via 3 ingestBatch calls (3 ingest_batch=N partition
      // sets, exactly what a streaming ingest accumulates), then
      // compactIvfStore folds them into the canonical
      // ingest_batch=-1 cell-clustered base segment (one file per
      // cell; folded batch dirs deleted). The search over the
      // COMPACTED store must equal brute force — which holds iff
      // compaction lost no row, duplicated no row, and kept every
      // cell assignment intact. The file-count collapse itself is
      // asserted in the spec and measured in ScaleSmoke.
      val idxDir = ivfCompactStore(s, dir)
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
        16)
      Similarity.ivfTopKIndexed(graft.streaming.VectorStore.read(s, idxDir), "vec_id",
          "embedding", queries, "query_id", "qvec", k = 5, cents,
          nprobe = 4)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    },
      plantedAnnOracle),

    Gate("sim_ivf_probe_read", (s, dir) => {
      // the 10⁶-partition search path end-to-end: the query set's
      // probe cells are computed driver-side from the quantizer
      // (≤ nlist values), VectorStore.readPartitions serves ONLY those
      // cells — checkpoint-shard-pruned, O(probed shards) manifest
      // bytes, never a full entry-list resolution — and the search
      // over the slice must equal brute force. That holds iff the
      // probe listing is exactly the probed cells' live entries AND
      // probedCells agrees with the cells ivfTopKIndexed explodes
      // internally (same probeCells expression by construction).
      // Shares sim_ivf_compact's store: the slice read must see the
      // post-compaction manifest, not any folded batch dir.
      val idxDir = ivfCompactStore(s, dir)
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
        16)
      graft.streaming.VectorSearch.ivfTopK(s, idxDir, queries,
          "query_id", "qvec", k = 5, cents, nprobe = 4)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    },
      // probe-pruned store reads feeding the same searches — same oracle
      plantedAnnOracle),

    Gate("sim_ann_graph_probe", (s, dir) => {
      // the probe read composed with the STORED-GRAPH index (the
      // high-recall family): same slice discipline as
      // sim_ivf_probe_read but the per-cell answer comes from the
      // persisted NSW walk, so the gate fails if the probe listing
      // drops a cell the walk needs OR the stored neighbors column
      // doesn't survive the partition-pruned read. Shares
      // stream_graph_ingest's streamed store — the probe path must
      // work against a store built by a foreachBatch channel, not
      // just batch ingest.
      val idxDir = graphIngestStore(s, dir)
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
        16)
      graft.streaming.VectorSearch.graphAnnTopK(s, idxDir, queries,
          "query_id", "qvec", k = 5, cents, nprobe = 4, ef = 1024)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    },
      plantedAnnOracle),

    Gate("sim_ann_graph_refined", (s, dir) => {
      // graph ANN under a REFINED quantizer (the skew guard in the
      // oracle set): cells above 2× the mean population re-quantize
      // with Lloyd-trained sub-centroids (refineCentroids), and the
      // search runs against the refined centroid array. The planted
      // near-copies quantize with their query under ANY deterministic
      // quantizer (the fixture contract), so the top-5 must still
      // equal brute force — which holds iff assignment and probe both
      // use the refined quantizer consistently.
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
        16)
      val nCorpus = corpus.count()
      val refined = Similarity.refineCentroids(corpus, "vec_id",
        "embedding", cents, maxPop = math.max(2L * nCorpus / 16, 1L))
      Similarity.graphAnnTopK(corpus, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5, refined, nprobe = 4,
          degree = 8, ef = 1024)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    },
      plantedAnnOracle),

    Gate("sim_graph_lifecycle", (s, dir) => {
      // the WHOLE index lifecycle composed on ONE store directory —
      // integration seams, not any single operator, are what this
      // gate exists to catch: (1) graphAnnBuild writes the naturals;
      // (2) ingestGraphBatch appends ALL five twin bands; (3)
      // syncGraphBatch re-delivers band 5 (idempotent upsert of an
      // unchanged vector — must not duplicate or reshuffle survivors)
      // and deletes band 2; (4) removeGraphBatch tombstones band 4.
      // Net survivors = corpus minus bands 2/4, so the final search
      // must equal the remove oracle — a hash that only matches if
      // every stage left the store in exactly the state the next
      // stage assumed.
      val idxDir = graphLifecycleDirs.computeIfAbsent(dir, _ => {
        val (corpus, _) = plantedAnnFixture(s, dir)
        val cents = Similarity.ivfCentroids(corpus, "vec_id",
          "embedding", 16)
        val band = floor(col("vec_id") / 100000L)
        val idx = trackStreamTmp(
          java.nio.file.Files.createTempDirectory("graft_glife"))
        Similarity.graphAnnBuild(corpus.filter(band === 0), "vec_id",
            "embedding", cents, degree = 8, efConstruction = 64)
          .write.mode("overwrite").partitionBy("cell")
          .parquet(idx.toString)
        graft.streaming.VectorIngest.ingestGraphBatch(
          corpus.filter(band >= 1), "vec_id", "embedding", cents,
          idx.toString, degree = 8, efConstruction = 64)
        val cdc = corpus.filter(band === 5)
          .select(col("vec_id"), col("embedding"),
            lit("upsert").as("op"))
          .unionByName(corpus.filter(band === 2)
            .select(col("vec_id"), col("embedding"),
              lit("delete").as("op")))
        graft.streaming.VectorIngest.syncGraphBatch(cdc, "vec_id",
          "embedding", "op", cents, idx.toString, degree = 8,
          efConstruction = 64)
        graft.streaming.VectorIngest.removeGraphBatch(
          corpus.filter(band === 4).select(col("vec_id")), "vec_id",
          "embedding", idx.toString, degree = 8, efConstruction = 64)
        idx.toString
      })
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
        16)
      Similarity.graphAnnTopKIndexed(graft.streaming.VectorStore.read(s, idxDir), "vec_id",
          "embedding", queries, "query_id", "qvec", k = 3, cents,
          nprobe = 4, ef = 1024)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    },
      plantedAnnRemoveOracle),

    Gate("sim_ivf_store_remove", (s, dir) => {
      // store-level tombstone application for the IVF batch store —
      // the flat twin of removeGraphBatch's gate, completing the IVF
      // store lifecycle (ingest / remove / compact, each oracle-
      // gated): 3 ingest batches land the planted corpus, then
      // removeIvfBatch rewrites ONLY the (batch, cell) partitions
      // containing a band-2/4 twin (survivor-only rewrite, emptied
      // partition dirs deleted). Search over the store must equal
      // brute force minus the tombstoned set.
      val idxDir = ivfRemoveDirs.computeIfAbsent(dir, _ => {
        val (corpus, _) = plantedAnnFixture(s, dir)
        val cents = Similarity.ivfCentroids(corpus, "vec_id",
          "embedding", 16)
        val store = trackStreamTmp(
          java.nio.file.Files.createTempDirectory("graft_ivfr"))
        (0 until 3).foreach { b =>
          graft.streaming.VectorIngest.ingestBatch(
            corpus.filter(pmod(col("vec_id"), lit(3)) === b),
            "vec_id", "embedding", cents, store.toString, b.toLong)
        }
        graft.streaming.VectorIngest.removeIvfBatch(
          corpus.filter(floor(col("vec_id") / 100000L).isin(2, 4))
            .select(col("vec_id")),
          "vec_id", store.toString)
        store.toString
      })
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
        16)
      Similarity.ivfTopKIndexed(graft.streaming.VectorStore.read(s, idxDir), "vec_id",
          "embedding", queries, "query_id", "qvec", k = 3, cents,
          nprobe = 4)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    },
      plantedAnnRemoveOracle),

    Gate("sim_pq_occupancy", (s, dir) => {
      // PQ codebook health over the encoded corpus (the stored-index
      // artifact): per subspace, codes used / dead / occupancy
      // spread — the audit that catches a training sample missing a
      // subspace mode before recall quietly degrades
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val fine = Similarity.pqBooks(emb, "vec_id", "embedding",
        m = 8, k = 16, dims = 64, stride = 11L)
      // localCheckpoint = the stored-artifact seam made literal: the
      // operator contract is stats over the STORED codes table.
      // Without the cut the encode Project sits directly under the
      // Generate — OUTSIDE any whole-stage-codegen pipeline — and the
      // CodegenFallback HOF runs on the fully interpreted row path
      // (measured 11 s vs 1.5 s; the generator itself stays a plain
      // attribute, which is why PlanLint is rightly silent here)
      val encoded = emb.select(col("vec_id"),
        Similarity.pqEncodeNative(col("embedding"), fine).as("codes"))
        .localCheckpoint()
      Similarity.pqCodeStats(encoded, "codes", k = 16)
        .select(col("j").cast("int").as("j"), col("n_codes"),
          col("codes_used"), col("dead_codes"), col("max_occupancy"),
          col("mean_occupancy"), col("imbalance"))
    },
      // (j, code) counts from the sim_ann_pq codes replay, then dense
      // per-subspace health stats
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |fbooks AS (
        |  SELECT vec_id // 11 AS code, v FROM emb
        |  WHERE vec_id % 11 = 0 AND vec_id < 16 * 11),
        |fsub AS (SELECT * FROM range(0, 8) t(j)),
        |fenc AS (
        |  SELECT e.vec_id, s.j, b.code,
        |    CAST(floor(list_sum(list_transform(range(1, 9), i ->
        |      pow(e.v[CAST(s.j*8+i AS INT)] - b.v[CAST(s.j*8+i AS INT)], 2)))
        |      * 1e9) AS BIGINT) AS d
        |  FROM emb e, fsub s, fbooks b),
        |fcodes AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
        |    FROM fenc) WHERE rn = 1),
        |occ AS (
        |  SELECT j, code, COUNT(*) AS n FROM fcodes GROUP BY j, code)
        |SELECT CAST(j AS INT) AS j, 16 AS n_codes,
        |  COUNT(*) AS codes_used, 16 - COUNT(*) AS dead_codes,
        |  MAX(n) AS max_occupancy,
        |  CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_occupancy,
        |  CAST(MAX(n) AS DOUBLE) / (CAST(SUM(n) AS DOUBLE) / COUNT(*))
        |    AS imbalance
        |FROM occ GROUP BY j ORDER BY j""".stripMargin),

    Gate("sim_ivf_pq", (s, dir) => {
      // the COMPOSED billion-scale index under the oracle (previously
      // spec-only): IVF coarse cells prune, fine PQ codes ADC-score.
      // oversample=1 makes the quantizer itself SQL-replayable — the
      // hash-ordered TakeOrdered sample IS the centroid set (ORDER BY
      // md5(vec_id) LIMIT 16 in DuckDB), so cells, probe ranking
      // (normSq − 2·dot, ties to the lower cell), codes, LUT and
      // integer ADC totals all replay engine-exactly.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding",
        nlist = 16, oversample = 1)
      val fine = Similarity.pqBooks(emb, "vec_id", "embedding",
        m = 8, k = 16, dims = 64, stride = 11L)
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.ivfPqTopK(emb, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5, cents, fine, nprobe = 4)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"), col("dist_nano"))
        .orderBy(col("query_id"), col("rank"))
    },
      // full composed replay: hash-ordered centroid sample (ORDER BY
      // md5 LIMIT nlist — the oversample=1 quantizer), per-vector
      // argmin cells and per-query probe ranking via normSq − 2·dot
      // with (score, cell) ties, then the sim_ann_pq fine-code ADC
      // restricted to probed cells
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |cents AS (
        |  SELECT CAST(rn - 1 AS INT) AS cell, v FROM (
        |    SELECT v, ROW_NUMBER() OVER (
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |    FROM emb) WHERE rn <= 16),
        |cscore AS (
        |  SELECT e.vec_id, c.cell,
        |    list_sum(list_transform(c.v, x -> x * x)) -
        |    2 * list_sum(list_transform(range(1, 65), i ->
        |      e.v[CAST(i AS INT)] * c.v[CAST(i AS INT)])) AS score
        |  FROM emb e, cents c),
        |assign AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY score, cell) AS rn
        |    FROM cscore) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cell FROM (
        |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY score, cell) AS rn
        |    FROM cscore WHERE vec_id % 50 = 0) WHERE rn <= 4),
        |fbooks AS (
        |  SELECT vec_id // 11 AS code, v FROM emb
        |  WHERE vec_id % 11 = 0 AND vec_id < 16 * 11),
        |fsub AS (SELECT * FROM range(0, 8) t(j)),
        |fenc AS (
        |  SELECT e.vec_id, s.j, b.code,
        |    CAST(floor(list_sum(list_transform(range(1, 9), i ->
        |      pow(e.v[CAST(s.j*8+i AS INT)] - b.v[CAST(s.j*8+i AS INT)], 2)))
        |      * 1e9) AS BIGINT) AS d
        |  FROM emb e, fsub s, fbooks b),
        |fcodes AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
        |    FROM fenc) WHERE rn = 1),
        |qlut AS (
        |  SELECT vec_id AS query_id, j, code, d FROM fenc
        |  WHERE vec_id % 50 = 0),
        |cand AS (
        |  SELECT p.query_id, a.vec_id
        |  FROM probes p JOIN assign a ON a.cell = p.cell),
        |scored AS (
        |  SELECT cd.query_id, cd.vec_id,
        |    CAST(SUM(l.d) AS BIGINT) AS dist_nano
        |  FROM cand cd
        |  JOIN fcodes c ON c.vec_id = cd.vec_id
        |  JOIN qlut l ON l.query_id = cd.query_id
        |    AND c.j = l.j AND c.code = l.code
        |  WHERE cd.query_id <> cd.vec_id
        |  GROUP BY 1, 2),
        |r2 AS (SELECT query_id, vec_id, dist_nano, ROW_NUMBER() OVER (
        |  PARTITION BY query_id ORDER BY dist_nano, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank,
        |  vec_id AS neighbor_id, dist_nano
        |FROM r2 WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Gate("sim_ivf_pq_residual", (s, dir) => {
      // IVFADC — the composition the PQ paper ships: codes quantize
      // the RESIDUAL v − c(v) (fractional energy → finer quantization
      // for the same bits), the query's ADC table computes per probed
      // cell against q − c(cell). Same SQL-replayable oversample=1
      // quantizer as sim_ivf_pq; residual books from the id-stride
      // sample's residuals.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding",
        nlist = 16, oversample = 1)
      val books = Similarity.pqBooksResidual(emb, "vec_id", "embedding",
        cents, m = 8, k = 16, dims = 64, stride = 11L)
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.ivfPqResidualTopK(emb, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5, cents, books, nprobe = 4)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"), col("dist_nano"))
        .orderBy(col("query_id"), col("rank"))
    },
      // sim_ivf_pq's replay with residual encoding end to end:
      // rv = v − cent(cell) per corpus vector, residual books from the
      // stride sample's residuals, corpus codes over rv, and the
      // per-(query, probed-cell) LUT against q − cent(cell)
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |cents AS (
        |  SELECT CAST(rn - 1 AS INT) AS cell, v FROM (
        |    SELECT v, ROW_NUMBER() OVER (
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |    FROM emb) WHERE rn <= 16),
        |cscore AS (
        |  SELECT e.vec_id, c.cell,
        |    list_sum(list_transform(c.v, x -> x * x)) -
        |    2 * list_sum(list_transform(range(1, 65), i ->
        |      e.v[CAST(i AS INT)] * c.v[CAST(i AS INT)])) AS score
        |  FROM emb e, cents c),
        |assign AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY score, cell) AS rn
        |    FROM cscore) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cell FROM (
        |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY score, cell) AS rn
        |    FROM cscore WHERE vec_id % 50 = 0) WHERE rn <= 4),
        |rv AS (
        |  SELECT e.vec_id,
        |    list_transform(range(1, 65), i ->
        |      e.v[CAST(i AS INT)] - c.v[CAST(i AS INT)]) AS v
        |  FROM emb e
        |  JOIN assign a ON a.vec_id = e.vec_id
        |  JOIN cents c ON c.cell = a.cell),
        |rbooks AS (
        |  SELECT vec_id // 11 AS code, v FROM rv
        |  WHERE vec_id % 11 = 0 AND vec_id < 16 * 11),
        |fsub AS (SELECT * FROM range(0, 8) t(j)),
        |renc AS (
        |  SELECT r.vec_id, s.j, b.code,
        |    CAST(floor(list_sum(list_transform(range(1, 9), i ->
        |      pow(r.v[CAST(s.j*8+i AS INT)] - b.v[CAST(s.j*8+i AS INT)], 2)))
        |      * 1e9) AS BIGINT) AS d
        |  FROM rv r, fsub s, rbooks b),
        |rcodes AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
        |    FROM renc) WHERE rn = 1),
        |qrv AS (
        |  SELECT p.query_id, p.cell,
        |    list_transform(range(1, 65), i ->
        |      e.v[CAST(i AS INT)] - c.v[CAST(i AS INT)]) AS v
        |  FROM probes p
        |  JOIN emb e ON e.vec_id = p.query_id
        |  JOIN cents c ON c.cell = p.cell),
        |qlut AS (
        |  SELECT q.query_id, q.cell, s.j, b.code,
        |    CAST(floor(list_sum(list_transform(range(1, 9), i ->
        |      pow(q.v[CAST(s.j*8+i AS INT)] - b.v[CAST(s.j*8+i AS INT)], 2)))
        |      * 1e9) AS BIGINT) AS d
        |  FROM qrv q, fsub s, rbooks b),
        |cand AS (
        |  SELECT p.query_id, p.cell, a.vec_id
        |  FROM probes p JOIN assign a ON a.cell = p.cell),
        |scored AS (
        |  SELECT cd.query_id, cd.vec_id,
        |    CAST(SUM(l.d) AS BIGINT) AS dist_nano
        |  FROM cand cd
        |  JOIN rcodes c ON c.vec_id = cd.vec_id
        |  JOIN qlut l ON l.query_id = cd.query_id AND l.cell = cd.cell
        |    AND c.j = l.j AND c.code = l.code
        |  WHERE cd.query_id <> cd.vec_id
        |  GROUP BY 1, 2),
        |r2 AS (SELECT query_id, vec_id, dist_nano, ROW_NUMBER() OVER (
        |  PARTITION BY query_id ORDER BY dist_nano, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank,
        |  vec_id AS neighbor_id, dist_nano
        |FROM r2 WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Gate("sim_ann_imi", (s, dir) => {
      // inverted multi-index (Babenko & Lempitsky 2012): coarse cells
      // are PAIRS of per-half codes (K=8 per half → 64 cells from 16
      // centroids — the construction that reaches billion-scale cell
      // counts without nlist centroids); queries probe their 8 best
      // pairs by d0+d1 (2K half-distances, native kernel), fine PQ
      // codes ADC-score the probed cells. Every distance is a
      // nano-unit long, so cells, probes and scores replay exactly.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val coarse = Similarity.pqBooks(emb, "vec_id", "embedding",
        m = 2, k = 8, dims = 64, stride = 13L)
      val fine = Similarity.pqBooks(emb, "vec_id", "embedding",
        m = 8, k = 16, dims = 64, stride = 11L)
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.imiTopK(emb, "vec_id", "embedding",
          queries, "query_id", "qvec", coarse, fine, k = 5, nprobe = 8)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"), col("dist_nano"))
        .orderBy(col("query_id"), col("rank"))
    },
      // replays both coarse half-codebooks (id-stride 13), the per-half
      // argmin cells, the d0+d1 pair-probe ranking, and the fine-code
      // ADC scoring of sim_ann_pq restricted to the probed cells
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |fbooks AS (
        |  SELECT vec_id // 11 AS code, v FROM emb
        |  WHERE vec_id % 11 = 0 AND vec_id < 16 * 11),
        |fsub AS (SELECT * FROM range(0, 8) t(j)),
        |fenc AS (
        |  SELECT e.vec_id, s.j, b.code,
        |    CAST(floor(list_sum(list_transform(range(1, 9), i ->
        |      pow(e.v[CAST(s.j*8+i AS INT)] - b.v[CAST(s.j*8+i AS INT)], 2)))
        |      * 1e9) AS BIGINT) AS d
        |  FROM emb e, fsub s, fbooks b),
        |fcodes AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
        |    FROM fenc) WHERE rn = 1),
        |qlut AS (
        |  SELECT vec_id AS query_id, j, code, d FROM fenc
        |  WHERE vec_id % 50 = 0),
        |cbooks AS (
        |  SELECT vec_id // 13 AS code, v FROM emb
        |  WHERE vec_id % 13 = 0 AND vec_id < 8 * 13),
        |csub AS (SELECT * FROM range(0, 2) t(j)),
        |cenc AS (
        |  SELECT e.vec_id, s.j, b.code,
        |    CAST(floor(list_sum(list_transform(range(1, 33), i ->
        |      pow(e.v[CAST(s.j*32+i AS INT)] - b.v[CAST(s.j*32+i AS INT)], 2)))
        |      * 1e9) AS BIGINT) AS d
        |  FROM emb e, csub s, cbooks b),
        |ccodes AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
        |    FROM cenc) WHERE rn = 1),
        |cells AS (
        |  SELECT vec_id,
        |    8 * MAX(CASE WHEN j = 0 THEN code END) +
        |    MAX(CASE WHEN j = 1 THEN code END) AS cell
        |  FROM ccodes GROUP BY vec_id),
        |qpairs AS (
        |  SELECT q0.vec_id AS query_id,
        |    q0.code * 8 + q1.code AS cell, q0.d + q1.d AS dist
        |  FROM (SELECT * FROM cenc WHERE j = 0 AND vec_id % 50 = 0) q0
        |  JOIN (SELECT * FROM cenc WHERE j = 1 AND vec_id % 50 = 0) q1
        |    ON q0.vec_id = q1.vec_id),
        |probes AS (
        |  SELECT query_id, cell FROM (
        |    SELECT query_id, cell,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY dist, cell) AS rn
        |    FROM qpairs) WHERE rn <= 8),
        |cand AS (
        |  SELECT p.query_id, c.vec_id
        |  FROM probes p JOIN cells c ON c.cell = p.cell),
        |scored AS (
        |  SELECT cd.query_id, cd.vec_id,
        |    CAST(SUM(l.d) AS BIGINT) AS dist_nano
        |  FROM cand cd
        |  JOIN fcodes c ON c.vec_id = cd.vec_id
        |  JOIN qlut l ON l.query_id = cd.query_id
        |    AND c.j = l.j AND c.code = l.code
        |  WHERE cd.query_id <> cd.vec_id
        |  GROUP BY 1, 2),
        |r2 AS (SELECT query_id, vec_id, dist_nano, ROW_NUMBER() OVER (
        |  PARTITION BY query_id ORDER BY dist_nano, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank,
        |  vec_id AS neighbor_id, dist_nano
        |FROM r2 WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Gate("sim_ann_imi_lazy", (s, dir) => {
      // the BILLION-SCALE IMI probe path under the oracle: K=128 per
      // half → 128² = 16384 cells, so ImiProbeCells takes the lazy
      // multi-sequence branch (bigK² > 4096 — Babenko & Lempitsky
      // 2012's frontier walk, K·log K + nprobe·log nprobe) instead of
      // materializing the K² pair sort. The walk's exact-order
      // contract makes the oracle trivial: DuckDB replays the FULL
      // pair sort and the two must agree bit-for-bit, tie plateaus
      // included. nprobe=512 (3% of cells) keeps candidates non-empty
      // over the sparse gate-scale corpus; at production scale the
      // same ratio prunes 2²⁸ cells to a few thousand.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val coarse = Similarity.pqBooks(emb, "vec_id", "embedding",
        m = 2, k = 128, dims = 64, stride = 3L)
      val fine = Similarity.pqBooks(emb, "vec_id", "embedding",
        m = 8, k = 16, dims = 64, stride = 11L)
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.imiTopK(emb, "vec_id", "embedding",
          queries, "query_id", "qvec", coarse, fine, k = 5, nprobe = 512)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"), col("dist_nano"))
        .orderBy(col("query_id"), col("rank"))
    },
      // same replay as sim_ann_imi with K=128 half-codebooks
      // (id-stride 3) and nprobe=512 — DuckDB ranks ALL 16384 pair
      // sums per query; the Spark side's lazy multi-sequence walk
      // must produce the identical (dist, cell) prefix
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |fbooks AS (
        |  SELECT vec_id // 11 AS code, v FROM emb
        |  WHERE vec_id % 11 = 0 AND vec_id < 16 * 11),
        |fsub AS (SELECT * FROM range(0, 8) t(j)),
        |fenc AS (
        |  SELECT e.vec_id, s.j, b.code,
        |    CAST(floor(list_sum(list_transform(range(1, 9), i ->
        |      pow(e.v[CAST(s.j*8+i AS INT)] - b.v[CAST(s.j*8+i AS INT)], 2)))
        |      * 1e9) AS BIGINT) AS d
        |  FROM emb e, fsub s, fbooks b),
        |fcodes AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
        |    FROM fenc) WHERE rn = 1),
        |qlut AS (
        |  SELECT vec_id AS query_id, j, code, d FROM fenc
        |  WHERE vec_id % 50 = 0),
        |cbooks AS (
        |  SELECT vec_id // 3 AS code, v FROM emb
        |  WHERE vec_id % 3 = 0 AND vec_id < 128 * 3),
        |csub AS (SELECT * FROM range(0, 2) t(j)),
        |cenc AS (
        |  SELECT e.vec_id, s.j, b.code,
        |    CAST(floor(list_sum(list_transform(range(1, 33), i ->
        |      pow(e.v[CAST(s.j*32+i AS INT)] - b.v[CAST(s.j*32+i AS INT)], 2)))
        |      * 1e9) AS BIGINT) AS d
        |  FROM emb e, csub s, cbooks b),
        |ccodes AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
        |    FROM cenc) WHERE rn = 1),
        |cells AS (
        |  SELECT vec_id,
        |    128 * MAX(CASE WHEN j = 0 THEN code END) +
        |    MAX(CASE WHEN j = 1 THEN code END) AS cell
        |  FROM ccodes GROUP BY vec_id),
        |qpairs AS (
        |  SELECT q0.vec_id AS query_id,
        |    q0.code * 128 + q1.code AS cell, q0.d + q1.d AS dist
        |  FROM (SELECT * FROM cenc WHERE j = 0 AND vec_id % 50 = 0) q0
        |  JOIN (SELECT * FROM cenc WHERE j = 1 AND vec_id % 50 = 0) q1
        |    ON q0.vec_id = q1.vec_id),
        |probes AS (
        |  SELECT query_id, cell FROM (
        |    SELECT query_id, cell,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY dist, cell) AS rn
        |    FROM qpairs) WHERE rn <= 512),
        |cand AS (
        |  SELECT p.query_id, c.vec_id
        |  FROM probes p JOIN cells c ON c.cell = p.cell),
        |scored AS (
        |  SELECT cd.query_id, cd.vec_id,
        |    CAST(SUM(l.d) AS BIGINT) AS dist_nano
        |  FROM cand cd
        |  JOIN fcodes c ON c.vec_id = cd.vec_id
        |  JOIN qlut l ON l.query_id = cd.query_id
        |    AND c.j = l.j AND c.code = l.code
        |  WHERE cd.query_id <> cd.vec_id
        |  GROUP BY 1, 2),
        |r2 AS (SELECT query_id, vec_id, dist_nano, ROW_NUMBER() OVER (
        |  PARTITION BY query_id ORDER BY dist_nano, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank,
        |  vec_id AS neighbor_id, dist_nano
        |FROM r2 WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Gate("sim_ivf_tree", (s, dir) => {
      // LOG-DEPTH tree assignment (the deepening of sim_ivf_hier's
      // two-level path: beam-searched descent, O(log nlist) per
      // vector) over the planted fixture — the ~0.002-perturbation
      // copies quantize like their query under the deterministic
      // tree, so top-5 must equal the brute-force oracle exactly.
      // beam=2 is the approximation mode; fanout=4 over nlist=16
      // gives a depth-2 tree (the shape, not the scale — at
      // production nlist the same walk is 8-way and log-deep).
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 16)
      val tree = Similarity.ivfTree(cents, fanout = 4)
      val index = Similarity.ivfAssignmentsTree(corpus, "vec_id",
        "embedding", cents, tree, beam = 2)
      Similarity.ivfTopKIndexed(index, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5, cents, nprobe = 4)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    },
      plantedAnnOracle),

    Gate("sim_margin_mine", (s, dir) => {
      // ratio-margin bitext mining: German-doc vectors query the
      // English-doc slice; a pair is mined only when the best match
      // beats the runner-up by ≥ 1.05× — the hubness-suppressing
      // criterion of margin scoring (a raw cosine threshold admits
      // hub vectors that are everyone's neighbor)
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val byLang = emb.join(docs, emb("vec_id") === docs("doc_id"))
      val src = byLang.filter(col("lang") === "de")
        .select(col("vec_id").as("src_id"), col("embedding").as("qvec"))
      val tgt = byLang.filter(col("lang") === "en")
        .select(col("vec_id"), col("embedding"))
      Similarity.marginTopPairs(tgt, "vec_id", "embedding",
          src, "src_id", "qvec", marginThreshold = 1.05)
        .orderBy(col("src_id"))
    },
      """WITH emb AS (
        |  SELECT e.vec_id,
        |    list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    d.lang
        |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
        |src AS (SELECT vec_id AS src_id, v AS q FROM emb WHERE lang = 'de'),
        |tgt AS (SELECT vec_id, v FROM emb WHERE lang = 'en'),
        |scored AS (
        |  SELECT s.src_id, t.vec_id,
        |    list_sum(list_transform(range(1, 65), i -> t.v[i] * s.q[i]))
        |    / (sqrt(list_sum(list_transform(t.v, x -> x * x)))
        |     * sqrt(list_sum(list_transform(s.q, x -> x * x)))) AS cos
        |  FROM src s CROSS JOIN tgt t),
        |ranked AS (
        |  SELECT src_id, vec_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY src_id
        |      ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM scored),
        |agg AS (
        |  SELECT src_id,
        |    max(CASE WHEN rank = 1 THEN vec_id END) AS tgt_id,
        |    max(CASE WHEN rank = 1 THEN cos END) AS c1,
        |    max(CASE WHEN rank = 2 THEN cos END) AS c2
        |  FROM ranked WHERE rank <= 2 GROUP BY src_id)
        |SELECT src_id, tgt_id,
        |  floor(c1 * 10000) / 10000 AS cos_top,
        |  floor(c1 / greatest(c2, 1e-9) * 10000) / 10000 AS margin,
        |  floor(c1 / greatest(c2, 1e-9) * 10000) / 10000 >= 1.05 AS mined
        |FROM agg ORDER BY src_id""".stripMargin),

    Gate("sim_mean_pool", (s, dir) => {
      // chunk-then-embed pooling: groups of 4 consecutive vectors
      // mean-pool into one parent vector (exact decimal per-dim sums;
      // declarative sorted reassembly). The gate re-explodes the
      // pooled array so the oracle also pins the dim ORDER of the
      // assembly, not just the values.
      val emb = t(s, dir, "embeddings")
        .select(expr("vec_id div 4").as("parent_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      Similarity.meanPool(emb, "parent_id", "embedding")
        .select(col("parent_id"), col("n_chunks"),
          posexplode(col("pooled")))
        .select(col("parent_id"), col("n_chunks"),
          col("pos").cast("long").as("dim"),
          TextAnalysis.q4(col("col")).as("pooled"))
        .orderBy(col("parent_id"), col("dim"))
    },
      """WITH p AS (
        |  SELECT vec_id // 4 AS parent_id, embedding FROM embeddings),
        |x AS (
        |  SELECT parent_id, d - 1 AS dim,
        |    CAST(embedding[d] AS DOUBLE) AS v
        |  FROM p, range(1, 65) t(d))
        |SELECT parent_id,
        |  count(*) AS n_chunks, dim,
        |  floor(CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / count(*)
        |    * 10000) / 10000 AS pooled
        |FROM x GROUP BY parent_id, dim ORDER BY parent_id, dim""".stripMargin),

    Gate("sim_ivf_append", (s, dir) => {
      // IVF index-as-tables append path: the quantizer is trained on
      // the BASE corpus only and frozen; base assignments form the
      // stored index; the planted near-copies arrive later as a DELTA
      // that assigns against the frozen centroids (map-only on the
      // delta) and unions in — history never recomputes. Search reads
      // the stored cell ids (ivfTopKIndexed — no corpus-wide argmin).
      // The planted copies are ~0.002-amplitude perturbations of
      // their query, so they assign into the query's own probe set
      // and the top-5 equals the brute-force oracle — if and only if
      // the appended assignments are correct.
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val base = corpus.filter(col("vec_id") < 100000L)
      val delta = corpus.filter(col("vec_id") >= 100000L)
      val cents = Similarity.ivfCentroids(base, "vec_id", "embedding", 16)
      val index = Similarity.ivfAssignments(base, "vec_id", "embedding", cents)
        .union(Similarity.ivfAssignments(delta, "vec_id", "embedding", cents))
      Similarity.ivfTopKIndexed(index, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5, cents, nprobe = 4)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    },
      plantedAnnOracle),

    Gate("sim_lsh_recall", (s, dir) => {
      // recall gate on PERTURBED near-duplicates (cos ≈0.98, not
      // copies): every vector gets a noised twin; banded sign-LSH must
      // recover ≥90% of the true pairs found by the exact cosine
      // (which the oracle recomputes independently). Expected recall
      // with 8×16 bands at cos 0.98 ≈ 0.98.
      val emb = t(s, dir, "embeddings")
      val noised = emb.select((col("vec_id") + 700000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x.cast("double") + lit(0.04) *
            (((col("vec_id") * 31 + i * 17) % 19 - 9).cast("double") /
              lit(9.0))).as("embedding"))
      val naturals = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val aug = naturals.union(noised)
      // truth: per-seed exact cosine against its twin (linear, no join)
      val truth = emb.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"),
          transform(col("embedding"), (x, i) =>
            x.cast("double") + lit(0.04) *
              (((col("vec_id") * 31 + i * 17) % 19 - 9).cast("double") /
                lit(9.0))).as("w"))
        .select(col("vec_id"),
          (Similarity.dot(col("v"), col("w")) /
            (Similarity.norm(col("v")) * Similarity.norm(col("w")))).as("cos"))
        .filter(col("cos") >= 0.9)
      val bands = Similarity.signBands(aug, "vec_id", "embedding",
        bands = 8, rowsPerBand = 16)
      val l = bands.alias("l"); val r = bands.alias("r")
      val recovered = l.join(r,
          col("l.band_id") === col("r.band_id") &&
          col("l.band_sig") === col("r.band_sig") &&
          col("r.vec_id") === col("l.vec_id") + 700000L)
        .select(col("l.vec_id").as("vec_id")).distinct()
      val truthAgg = truth.agg(
        count(lit(1)).as("n_true"),
        TextAnalysis.q4(min(col("cos"))).as("min_cos"),
        TextAnalysis.q4(max(col("cos"))).as("max_cos"))
      val recAgg = recovered.join(truth, "vec_id")
        .agg(count(lit(1)).as("n_rec"))
      truthAgg.crossJoin(recAgg)
        .select(col("n_true"), col("min_cos"), col("max_cos"),
          (col("n_rec").cast("double") >=
            lit(0.9) * col("n_true").cast("double")).as("recall_ok"))
    },
      // the truth side (exact cosine of every seed against its noised
      // twin) is fully portable; recall_ok is the assertion the Spark
      // side must satisfy for the hashes to match
      annRecallOracle),

    Gate("sim_ivf_recall", (s, dir) => {
      // IVF twin of sim_lsh_recall: same noised-twin fixture (cos
      // ≈0.98), every natural queries the augmented corpus through the
      // coarse quantizer at the DEFAULT nprobe (4 of nlist=16). The
      // twin is each natural's true nearest by a wide margin (natural
      // max pair cos ≈0.51), so recall = fraction of rank-1 hits —
      // measuring the probe-miss rate at nprobe < nlist, which the
      // planted sim_ann_ivf fixture never exercises.
      val emb = t(s, dir, "embeddings")
      val noised = emb.select((col("vec_id") + 700000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x.cast("double") + lit(0.04) *
            (((col("vec_id") * 31 + i * 17) % 19 - 9).cast("double") /
              lit(9.0))).as("embedding"))
      val naturals = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val aug = naturals.union(noised)
      val truth = emb.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"),
          transform(col("embedding"), (x, i) =>
            x.cast("double") + lit(0.04) *
              (((col("vec_id") * 31 + i * 17) % 19 - 9).cast("double") /
                lit(9.0))).as("w"))
        .select(col("vec_id"),
          (Similarity.dot(col("v"), col("w")) /
            (Similarity.norm(col("v")) * Similarity.norm(col("w")))).as("cos"))
        .filter(col("cos") >= 0.9)
      val queries = naturals
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val cents = Similarity.ivfCentroids(aug, "vec_id", "embedding", 16)
      val recovered = Similarity.ivfTopK(aug, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 1, cents, nprobe = 4)
        .filter(col("vec_id") === col("query_id") + 700000L)
        .select(col("query_id").as("vec_id"))
      val truthAgg = truth.agg(
        count(lit(1)).as("n_true"),
        TextAnalysis.q4(min(col("cos"))).as("min_cos"),
        TextAnalysis.q4(max(col("cos"))).as("max_cos"))
      val recAgg = recovered.join(truth, "vec_id")
        .agg(count(lit(1)).as("n_rec"))
      truthAgg.crossJoin(recAgg)
        .select(col("n_true"), col("min_cos"), col("max_cos"),
          (col("n_rec").cast("double") >=
            lit(0.9) * col("n_true").cast("double")).as("recall_ok"))
    },
      // identical truth side to sim_lsh_recall (exact per-seed twin
      // cosine, fully portable); recall_ok is the assertion the IVF
      // probe path must satisfy for the hashes to match
      annRecallOracle),

    Gate("sim_projection_recall", (s, dir) => {
      // does ANN survive JL compression? Same noised-twin fixture as
      // sim_ivf_recall, but the search runs entirely in the 16-dim
      // randomProject space (4× fewer bytes through every shuffle);
      // recall of the rank-1 twin against full-dim truth must stay
      // ≥ 0.9 for the oracle hash to match
      val emb = t(s, dir, "embeddings")
      val noise = (x: Column, i: Column) =>
        x.cast("double") + lit(0.04) *
          (((col("vec_id") * 31 + i * 17) % 19 - 9).cast("double") /
            lit(9.0))
      val noised = emb.select((col("vec_id") + 700000L).as("vec_id"),
        transform(col("embedding"), noise).as("embedding"))
      val naturals = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val aug = naturals.union(noised)
      val projCorpus = aug.select(col("vec_id"),
        Similarity.randomProject(col("embedding"), 16, 64).as("embedding"))
      // ~500 query vectors regardless of scale (the corpus stays
      // full-size): the brute-force probe is |queries|×|corpus| pairs,
      // so a fixed modulus would grow the probe QUADRATICALLY with SF
      // (5000 queries × 100k corpus = 500M pairs at sf0.1). The
      // modulus is n/500, floored at 10 — exactly 10 at sf0.01, which
      // pins the oracle's `vec_id % 10 = 0` slice; the count() is a
      // parquet metadata-only job.
      val qMod = math.max(10L, emb.count() / 500L)
      val projQueries = naturals.filter(col("vec_id") % qMod === 0)
        .select(col("vec_id").as("query_id"),
          Similarity.randomProject(col("embedding"), 16, 64).as("qvec"))
      val truth = emb.filter(col("vec_id") % qMod === 0)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"),
          transform(col("embedding"), noise).as("w"))
        .select(col("vec_id"),
          (Similarity.dot(col("v"), col("w")) /
            (Similarity.norm(col("v")) * Similarity.norm(col("w"))))
            .as("cos"))
        .filter(col("cos") >= 0.9)
      val recovered = Similarity.bruteForceTopK(projCorpus, "vec_id",
          "embedding", projQueries, "query_id", "qvec", k = 1)
        .filter(col("vec_id") === col("query_id") + 700000L)
        .select(col("query_id").as("vec_id"))
      val truthAgg = truth.agg(
        count(lit(1)).as("n_true"),
        TextAnalysis.q4(min(col("cos"))).as("min_cos"),
        TextAnalysis.q4(max(col("cos"))).as("max_cos"))
      val recAgg = recovered.join(truth, "vec_id")
        .agg(count(lit(1)).as("n_rec"))
      truthAgg.crossJoin(recAgg)
        .select(col("n_true"), col("min_cos"), col("max_cos"),
          (col("n_rec").cast("double") >=
            lit(0.9) * col("n_true").cast("double")).as("recall_ok"))
    },
      // truth side = sim_ivf_recall's restricted to the every-10th
      // query slice; recall_ok asserts the 16-dim projected search
      // still recovers ≥90% of those twins
      """WITH p AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)
        |      + CAST(0.04 AS DOUBLE)
        |        * (CAST((vec_id * 31 + (i - 1) * 17) % 19 - 9 AS DOUBLE)
        |           / CAST(9 AS DOUBLE))) AS w
        |  FROM embeddings WHERE vec_id % 10 = 0),
        |cosv AS (
        |  SELECT vec_id,
        |    list_sum(list_transform(range(1, 65), i -> v[i] * w[i]))
        |    / (sqrt(list_sum(list_transform(v, x -> x * x)))
        |     * sqrt(list_sum(list_transform(w, x -> x * x)))) AS cos
        |  FROM p)
        |SELECT COUNT(*) AS n_true,
        |  floor(MIN(cos) * 10000) / 10000 AS min_cos,
        |  floor(MAX(cos) * 10000) / 10000 AS max_cos,
        |  TRUE AS recall_ok
        |FROM cosv WHERE cos >= 0.9""".stripMargin),

    Gate("sim_rbo_pq", (s, dir) => {
      // the ANN-quality audit the recall gates can't give: RBO@20
      // between exact cosine ranking and the PQ ADC ranking — a
      // ranked-overlap number per query instead of rank-1 recall.
      // Both rankings replay in the oracle (brute-force cosine;
      // id-stride codebooks + integer ADC), and the RBO weights are
      // the same frozen 12-decimal literals as txt_rbo_lists.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val books = Similarity.pqBooks(emb, "vec_id", "embedding",
        m = 8, k = 16, dims = 64)
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 20)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      val pq = Similarity.pqTopK(emb, "vec_id", "embedding",
          queries, "query_id", "qvec", books, k = 20)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      graft.functions.TextAnalysis.rboOverlap(exact, pq,
          "query_id", "doc_id", "rank", p = 0.9, k = 20)
        .orderBy(col("query_id"))
    },
      // exact brute-force top-20 (as txt_rbo_lists) vs the PQ ADC
      // top-20 (as sim_ann_pq), joined through the same frozen
      // 12-decimal RBO weight table
      s"""WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |eqs AS (SELECT vec_id AS query_id, v AS qv FROM emb
        |  WHERE vec_id % 50 = 0),
        |escored AS (
        |  SELECT e.query_id, d.vec_id,
        |    list_sum(list_transform(range(1, len(d.v) + 1),
        |      i -> d.v[i] * e.qv[i]))
        |    / (sqrt(list_sum(list_transform(d.v, x -> x * x)))
        |     * sqrt(list_sum(list_transform(e.qv, x -> x * x)))) AS cos
        |  FROM emb d CROSS JOIN eqs e WHERE d.vec_id <> e.query_id),
        |elist AS (SELECT query_id, vec_id, rank FROM (
        |  SELECT query_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM escored) WHERE rank <= 20),
        |books AS (
        |  SELECT vec_id // 11 AS code, v FROM emb
        |  WHERE vec_id % 11 = 0 AND vec_id < 16 * 11),
        |sub AS (SELECT * FROM range(0, 8) t(j)),
        |penc AS (
        |  SELECT e.vec_id, s.j, b.code,
        |    CAST(floor(list_sum(list_transform(range(1, 9), i ->
        |      pow(e.v[CAST(s.j*8+i AS INT)] - b.v[CAST(s.j*8+i AS INT)], 2)))
        |      * 1e9) AS BIGINT) AS d
        |  FROM emb e, sub s, books b),
        |codes AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
        |    FROM penc) WHERE rn = 1),
        |qlut AS (
        |  SELECT vec_id AS query_id, j, code, d FROM penc
        |  WHERE vec_id % 50 = 0),
        |pscored AS (
        |  SELECT l.query_id, c.vec_id,
        |    CAST(SUM(l.d) AS BIGINT) AS dist_nano
        |  FROM codes c JOIN qlut l ON c.j = l.j AND c.code = l.code
        |  WHERE l.query_id <> c.vec_id
        |  GROUP BY 1, 2),
        |plist AS (SELECT query_id, vec_id, rank FROM (
        |  SELECT query_id, vec_id, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY dist_nano, vec_id) AS rank
        |  FROM pscored) WHERE rank <= 20),
        |w(m, wt) AS (VALUES ${graft.functions.TextAnalysis
          .rboWeights(0.9, 20).zipWithIndex
          .map { case (s0, i) => s"(${i + 1}, '$s0')" }.mkString(", ")}),
        |joint AS (
        |  SELECT e.query_id, e.vec_id,
        |    greatest(e.rank, q.rank) AS m
        |  FROM elist e JOIN plist q USING (query_id, vec_id)),
        |per AS (
        |  SELECT query_id, COUNT(*) AS n_joint,
        |    SUM(CAST(w.wt AS DECIMAL(16,12))) AS s
        |  FROM joint JOIN w ON joint.m = w.m GROUP BY query_id)
        |SELECT query_id, n_joint,
        |  floor(CAST(s AS DOUBLE) * ${1.0 - 0.9} * 10000) / 10000 AS rbo
        |FROM per ORDER BY query_id""".stripMargin)
  )
}
