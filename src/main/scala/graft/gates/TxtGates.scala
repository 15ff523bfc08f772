package graft.gates

import org.apache.spark.sql.functions._
import graft.functions.{Similarity, TextAnalysis}
import Fixtures._

/** Text-analysis gates (`txt_*`): tokenizers (BPE, WordPiece, unigram
  * LM) with their unrolled DuckDB replays, lexical and hybrid ranking,
  * classification and quality signals.
  */
object TxtGates {

  /** Shared oracle prefix: the lexical BM25 top-20 (`llist`) and
    * dense cosine top-20 (`dlist`) retrieval lists of the hybrid
    * gates — txt_hybrid_rrf fuses them, txt_rbo_lists compares them.
    */
  private val hybridListsSqlPrefix: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
      |  FROM documents),
      |tfc AS (
      |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
      |    SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM toks)
      |  GROUP BY 1, 2, 3),
      |dft AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY 1),
      |stats AS (SELECT COUNT(*) AS n, SUM(len(tk)) AS sumdl FROM toks),
      |q AS (SELECT DISTINCT query_id, term FROM (
      |  SELECT query_id,
      |    unnest(regexp_split_to_array(trim(qtext), '\s+')) AS term
      |  FROM (VALUES (10000001, 'spark window agg'),
      |    (10000002, 'fast hash join'),
      |    (10000003, 'customer query table')) AS v(query_id, qtext))),
      |sc AS (
      |  SELECT q.query_id, tfc.doc_id,
      |    CAST(floor(
      |      ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5)) *
      |      (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
      |      (tf + CAST(1.2 AS DOUBLE) *
      |        (0.25 + CAST(0.75 AS DOUBLE) * dl * n
      |          / CAST(sumdl AS DOUBLE)))
      |      * 1e9) / 1e9 AS DECIMAL(28,9)) AS s
      |  FROM tfc JOIN q USING (term) JOIN dft USING (term)
      |  CROSS JOIN stats),
      |agg AS (SELECT query_id, doc_id, SUM(s) AS t FROM sc GROUP BY 1, 2),
      |llist AS (SELECT query_id, doc_id, rank FROM (
      |  SELECT query_id, doc_id, row_number() OVER (
      |    PARTITION BY query_id ORDER BY t DESC, doc_id) AS rank FROM agg)
      |  WHERE rank <= 20),
      |aq AS (SELECT * FROM (VALUES (10000001, 10), (10000002, 20),
      |  (10000003, 30)) v(query_id, anchor)),
      |dq AS (SELECT aq.query_id, e.embedding AS qvec
      |  FROM aq JOIN embeddings e ON e.vec_id = aq.anchor),
      |dscored AS (
      |  SELECT dq.query_id, e.vec_id AS doc_id,
      |    list_sum(list_transform(range(1, len(e.embedding) + 1),
      |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(dq.qvec[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(e.embedding,
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(dq.qvec,
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      |  FROM embeddings e CROSS JOIN dq),
      |dlist AS (SELECT query_id, doc_id, rank FROM (
      |  SELECT query_id, doc_id, ROW_NUMBER() OVER (
      |    PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rank
      |  FROM dscored) WHERE rank <= 20)""".stripMargin

  /** Shared by txt_bpe_merges and its driver-side twin
    * txt_bpe_local (bpeTrainLocal is parity-pinned to bpeTrain,
    * so the 8-round unroll gates both).
    */
  private val bpeMergesOracle: String = {
      // 8 unrolled BPE rounds (the shared bpeUnrollWith prefix); each
      // round: pair stats (x/p), argmax with the same (count desc,
      // pair asc) tie rule as the operator (m), greedy-match selection
      // via the run-parity rule (st/g/c — within a run of consecutive
      // match starts, every other start from the first; exactly
      // BpeMergePair's left-to-right scan), drop the consumed b's (d),
      // reassemble (v). Final select = the merge table m1..m8.
      val finalSel = (1 to 8).map(k =>
        s"SELECT $k AS rank, a AS sym_a, b AS sym_b, n FROM m$k")
        .mkString("\nUNION ALL ")
      s"""$bpeUnrollWith
         |$finalSel
         |ORDER BY rank""".stripMargin
    }

  /** The WITH prefix shared by the BPE oracles: word-freq table, v0 =
    * char symbols, then 8 unrolled merge rounds ending at v8 (the
    * segmentation state) and m1..m8 (the merge table rows).
    * EXHAUSTION-SAFE: st_k joins m_k with LEFT JOIN ON TRUE — when
    * training exhausts early, m_k is empty, every st is 0 and v_k
    * carries v_{k-1} forward unchanged (a cross join would empty
    * v_k..v8 and the segmentation oracle would return zero rows
    * while the Spark side still emits every word).
    */
  private def bpeUnrollWith: String = {
      val rounds = (1 to 8).map { k =>
        val prev = k - 1
        s"""e$k AS (
           |  SELECT w, f, generate_subscripts(s, 1) AS pos, unnest(s) AS sym
           |  FROM v$prev),
           |x$k AS (
           |  SELECT w, f, pos, sym,
           |    lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
           |  FROM e$k),
           |p$k AS (
           |  SELECT sym || ' ' || nxt AS pr, CAST(SUM(f) AS BIGINT) AS n
           |  FROM x$k WHERE nxt IS NOT NULL GROUP BY 1),
           |m$k AS (
           |  SELECT string_split(pr, ' ')[1] AS a,
           |    string_split(pr, ' ')[2] AS b, n
           |  FROM p$k ORDER BY n DESC, pr ASC LIMIT 1),
           |st$k AS (
           |  SELECT x.w, x.f, x.pos, x.sym, x.nxt,
           |    CASE WHEN x.sym = m.a AND x.nxt = m.b THEN 1 ELSE 0 END AS st
           |  FROM x$k x LEFT JOIN m$k m ON TRUE),
           |g$k AS (
           |  SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY w, st
           |    ORDER BY pos) AS grp
           |  FROM st$k),
           |c$k AS (
           |  SELECT *, CASE WHEN st = 1 AND
           |      (pos - MIN(pos) OVER (PARTITION BY w, grp, st)) % 2 = 0
           |    THEN 1 ELSE 0 END AS chosen
           |  FROM g$k),
           |d$k AS (
           |  SELECT *, COALESCE(LAG(chosen) OVER (PARTITION BY w
           |    ORDER BY pos), 0) AS dropme
           |  FROM c$k),
           |v$k AS (
           |  SELECT w, f, list(CASE WHEN chosen = 1 THEN sym || nxt
           |    ELSE sym END ORDER BY pos) AS s
           |  FROM d$k WHERE dropme = 0 GROUP BY w, f)""".stripMargin
      }.mkString(",\n")
      s"""WITH words AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
         |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
         |    FROM documents) GROUP BY w),
         |v0 AS (
         |  SELECT w, f, list_transform(range(1, len(w) + 1),
         |    i -> w[CAST(i AS INT)]) AS s
         |  FROM words),
         |$rounds""".stripMargin
  }

  /** Oracle for txt_bpe_segment: the SEGMENTATION after the 8 trained
    * merges — v8's symbol lists per distinct word (the encoder output
    * the merge table exists to produce).
    */
  private val bpeSegmentOracle: String =
    s"""$bpeUnrollWith
       |SELECT w AS word, array_to_string(s, ' ') AS syms,
       |  CAST(len(s) AS INT) AS n_syms, f AS word_freq
       |FROM v8 ORDER BY w""".stripMargin

  /** Oracle for txt_wordpiece_train: 8 unrolled WordPiece merge
    * rounds — the bpeUnrollWith chain with two differences: the
    * argmax ranks by likelihood gain (double(pn)/(double(an)·
    * double(bn)) — each count converts BEFORE the multiply, exactly
    * mirroring the Scala side's overflow-safe operation order, so the
    * correctly-rounded IEEE multiply+divide are bit-identical
    * cross-engine; ties (a ASC, b ASC)) and the merge concat
    * strips the continuation marker. v0 segments first-char plain +
    * '##'-marked continuations. MATERIALIZED checkpoints (the
    * unigram-oracle lesson: un-materialized CTE chains re-execute
    * upstream per reference).
    */
  private def wordpieceTrainOracle: String = {
    val rounds = (1 to 8).map { k =>
      val p = k - 1
      s"""e$k AS MATERIALIZED (
         |  SELECT w, f, generate_subscripts(s, 1) AS pos, unnest(s) AS sym
         |  FROM v$p),
         |x$k AS MATERIALIZED (
         |  SELECT w, f, pos, sym,
         |    lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
         |  FROM e$k),
         |p$k AS MATERIALIZED (
         |  SELECT sym AS a, nxt AS b, CAST(SUM(f) AS BIGINT) AS n
         |  FROM x$k WHERE nxt IS NOT NULL GROUP BY 1, 2),
         |sy$k AS MATERIALIZED (
         |  SELECT sym, CAST(SUM(f) AS BIGINT) AS n FROM e$k GROUP BY sym),
         |m$k AS MATERIALIZED (
         |  SELECT p.a, p.b, p.n AS pn, sa.n AS an, sb.n AS bn
         |  FROM p$k p JOIN sy$k sa ON p.a = sa.sym
         |    JOIN sy$k sb ON p.b = sb.sym
         |  ORDER BY CAST(p.n AS DOUBLE) /
         |      (CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE)) DESC,
         |    p.a ASC, p.b ASC LIMIT 1),
         |st$k AS MATERIALIZED (
         |  SELECT x.w, x.f, x.pos, x.sym, x.nxt,
         |    CASE WHEN x.sym = m.a AND x.nxt = m.b THEN 1 ELSE 0 END AS st
         |  FROM x$k x LEFT JOIN m$k m ON TRUE),
         |g$k AS (
         |  SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY w, st
         |    ORDER BY pos) AS grp
         |  FROM st$k),
         |c$k AS (
         |  SELECT *, CASE WHEN st = 1 AND
         |      (pos - MIN(pos) OVER (PARTITION BY w, grp, st)) % 2 = 0
         |    THEN 1 ELSE 0 END AS chosen
         |  FROM g$k),
         |d$k AS (
         |  SELECT *, COALESCE(LAG(chosen) OVER (PARTITION BY w
         |    ORDER BY pos), 0) AS dropme
         |  FROM c$k),
         |v$k AS MATERIALIZED (
         |  SELECT w, f, list(CASE WHEN chosen = 1 THEN sym ||
         |      (CASE WHEN nxt LIKE '##%' THEN nxt[3:] ELSE nxt END)
         |    ELSE sym END ORDER BY pos) AS s
         |  FROM d$k WHERE dropme = 0 GROUP BY w, f)""".stripMargin
    }.mkString(",\n")
    val finalSel = (1 to 8).map(k =>
      s"SELECT $k AS rank, a AS sym_a, b AS sym_b, pn AS n_pair, " +
        s"an AS n_a, bn AS n_b FROM m$k").mkString("\nUNION ALL ")
    s"""WITH words AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |    FROM documents) GROUP BY w),
       |v0 AS MATERIALIZED (
       |  SELECT w, f, list_transform(range(1, len(w) + 1), i ->
       |    CASE WHEN i = 1 THEN w[1:1]
       |      ELSE '##' || w[CAST(i AS INT):CAST(i AS INT)] END) AS s
       |  FROM words),
       |$rounds
       |$finalSel
       |ORDER BY rank""".stripMargin
  }

  // ---- unigram-LM tokenizer oracle (txt_unigram_train/_segment) ----
  // Replays TextAnalysis.unigramTrainLocal exactly: seed substring
  // counts → 2 hard-EM rounds (recursive-CTE Viterbi + recount) →
  // count-ranked prune → nano-quantized ln probabilities. Every
  // Viterbi is a forward DP whose per-word state rides as LISTS
  // (bests/backs) through a recursive CTE, then a second recursive
  // CTE backtracks the chosen pieces. Checkpoint CTEs are
  // MATERIALIZED — without it DuckDB inlines each reference and the
  // upstream chain re-executes per row/iteration (measured: >120 s
  // vs 0.5 s at sf0.01). Params pinned to the operator defaults:
  // maxPieceLen 3, seedMulti 60, targetMulti 12, UNK −1e15 nano.

  /** One Viterbi pass (forward DP + backtrack) as recursive CTEs
    * `dp$n`/`bt$n` over CTE `words`, scoring with piece-map CTE
    * `$pm`. Tie rule: (score DESC, k DESC) via struct sort — equal
    * score prefers the LONGER piece, matching
    * expressions.UnigramSegment.viterbi.
    */
  private def unigramViterbiCte(n: Int, pm: String): String =
    s"""dp$n AS (
       |  SELECT w, f, [0::BIGINT] AS bests, [0] AS backs, 1 AS t FROM words
       |  UNION ALL
       |  SELECT w, f, list_append(bests, c.best.s),
       |    list_append(backs, c.best.k), t + 1
       |  FROM (
       |    SELECT w, f, bests, backs, t,
       |      list_sort(list_filter(
       |        list_transform(range(1, least(3, t) + 1), k -> struct_pack(
       |          s := bests[t - k + 1] + CASE WHEN k = 1 THEN
       |              coalesce(m[w[t-k+1:t]][1], -1000000000000000::BIGINT)
       |            ELSE m[w[t-k+1:t]][1] END,
       |          k := k)),
       |        c -> c.s IS NOT NULL), 'DESC')[1] AS best
       |    FROM dp$n, $pm WHERE t <= len(w)
       |  ) c
       |),
       |bt$n AS (
       |  SELECT w, f, backs, len(w) AS pos, []::VARCHAR[] AS segs
       |  FROM dp$n WHERE t = len(w) + 1
       |  UNION ALL
       |  SELECT w, f, backs, pos - backs[pos + 1],
       |    list_prepend(w[pos - backs[pos + 1] + 1 : pos], segs)
       |  FROM bt$n WHERE pos > 0
       |)""".stripMargin

  /** Nano log-prob table + lookup map over count CTE `$s`:
    * lp = floor(ln(cnt/Σcnt)·1e9) as BIGINT.
    */
  private def unigramLogpCte(n: Int, s: String): String =
    s"""p$n AS MATERIALIZED (
       |  SELECT p, CAST(floor(ln(CAST(cnt AS DOUBLE) /
       |    (SELECT CAST(SUM(cnt) AS DOUBLE) FROM $s)) * 1e9) AS BIGINT) AS lp
       |  FROM $s),
       |pm$n AS MATERIALIZED (
       |  SELECT map_from_entries(list((p, lp))) AS m FROM p$n)""".stripMargin

  /** One hard-EM round: Viterbi under pm$${r-1}, recount by word
    * freq; multi-char pieces keep only count > 0, single chars floor
    * at 1 (coverage guarantee — must survive pruning of the longer
    * pieces that absorbed them).
    */
  private def unigramEmRound(r: Int): String =
    s"""${unigramViterbiCte(r, s"pm${r - 1}")},
       |c${r}raw AS MATERIALIZED (
       |  SELECT piece, CAST(SUM(f) AS BIGINT) AS cnt FROM (
       |    SELECT f, unnest(segs) AS piece FROM bt$r WHERE pos = 0)
       |  GROUP BY piece),
       |s$r AS MATERIALIZED (
       |  SELECT piece AS p, cnt FROM c${r}raw WHERE len(piece) > 1
       |  UNION ALL
       |  SELECT chars.p, GREATEST(COALESCE(c.cnt, 0::BIGINT), 1::BIGINT)
       |  FROM chars LEFT JOIN c${r}raw c ON chars.p = c.piece),
       |${unigramLogpCte(r, s"s$r")}""".stripMargin

  /** Shared WITH prefix of both unigram oracles: word freq → chars →
    * seed substrings → seed selection (ALL single chars + top-60
    * multi by (cnt DESC, p ASC)) → EM rounds 1,2 → prune (chars +
    * top-12 multi) → final probabilities pfin/pmfin.
    */
  private def unigramUnrollWith: String =
    s"""WITH RECURSIVE words AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |    FROM documents) GROUP BY w),
       |chars AS MATERIALIZED (
       |  SELECT DISTINCT unnest(list_transform(range(1, len(w) + 1),
       |    i -> w[CAST(i AS INT):CAST(i AS INT)])) AS p FROM words),
       |sub AS MATERIALIZED (
       |  SELECT p, CAST(SUM(f) AS BIGINT) AS cnt FROM (
       |    SELECT f, unnest(flatten(list_transform(range(1, len(w) + 1), i ->
       |      list_transform(range(1, least(3, len(w) - i + 1) + 1), k ->
       |        w[CAST(i AS INT):CAST(i + k - 1 AS INT)])))) AS p
       |    FROM words) GROUP BY p),
       |s0 AS MATERIALIZED (
       |  SELECT sub.p, sub.cnt FROM sub JOIN chars ON sub.p = chars.p
       |  UNION ALL
       |  (SELECT p, cnt FROM sub WHERE len(p) > 1
       |   ORDER BY cnt DESC, p ASC LIMIT 60)),
       |${unigramLogpCte(0, "s0")},
       |${unigramEmRound(1)},
       |${unigramEmRound(2)},
       |pruned AS MATERIALIZED (
       |  SELECT chars.p, s2.cnt FROM chars JOIN s2 ON chars.p = s2.p
       |  UNION ALL
       |  (SELECT p, cnt FROM s2 WHERE len(p) > 1
       |   ORDER BY cnt DESC, p ASC LIMIT 12)),
       |pfin AS MATERIALIZED (
       |  SELECT p, cnt, CAST(floor(ln(CAST(cnt AS DOUBLE) /
       |    (SELECT CAST(SUM(cnt) AS DOUBLE) FROM pruned)) * 1e9) AS BIGINT)
       |    AS lp
       |  FROM pruned),
       |pmfin AS MATERIALIZED (
       |  SELECT map_from_entries(list((p, lp))) AS m FROM pfin)""".stripMargin

  /** Oracle for txt_unigram_soft: ONE quantized soft-EM round
    * replayed in SQL. α and β lattices ride as DOUBLE lists through
    * recursive CTEs whose step expression mirrors the Scala side's
    * EXACT IEEE operation order — k-ascending ((t₁+t₂)+t₃) sums,
    * alpha·p and p·beta product orders, probabilities from one
    * BIGINT/BIGINT double division — so every double is bit-identical
    * cross-engine (no log/exp anywhere). Posterior contributions
    * floor-quantize to nano BIGINTs per (word, piece) BEFORE the
    * SUM, making the aggregation exact and order-free. Then the same
    * char-floor (1e9 nano = one occurrence), zero-drop and top-12
    * count-ranked prune as the Scala side.
    */
  /** Shared WITH-prefix of the soft-EM oracles: word freq → seed →
    * ONE quantized forward–backward EM round, ending at `s1` (the
    * post-EM nano counts BEFORE any pruning). Used by
    * txt_unigram_soft (count-ranked prune) and txt_unigram_prune
    * (exact-loss prune).
    */
  private def unigramSoftCore: String =
    s"""WITH RECURSIVE words AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |    FROM documents) GROUP BY w),
       |chars AS MATERIALIZED (
       |  SELECT DISTINCT unnest(list_transform(range(1, len(w) + 1),
       |    i -> w[CAST(i AS INT):CAST(i AS INT)])) AS p FROM words),
       |sub AS MATERIALIZED (
       |  SELECT p, CAST(SUM(f) AS BIGINT) AS cnt FROM (
       |    SELECT f, unnest(flatten(list_transform(range(1, len(w) + 1), i ->
       |      list_transform(range(1, least(3, len(w) - i + 1) + 1), k ->
       |        w[CAST(i AS INT):CAST(i + k - 1 AS INT)])))) AS p
       |    FROM words) GROUP BY p),
       |s0 AS MATERIALIZED (
       |  SELECT sub.p, sub.cnt FROM sub JOIN chars ON sub.p = chars.p
       |  UNION ALL
       |  (SELECT p, cnt FROM sub WHERE len(p) > 1
       |   ORDER BY cnt DESC, p ASC LIMIT 60)),
       |pr0 AS MATERIALIZED (
       |  SELECT p, CAST(cnt AS DOUBLE) /
       |    (SELECT CAST(SUM(cnt) AS DOUBLE) FROM s0) AS pv
       |  FROM s0),
       |prm AS MATERIALIZED (
       |  SELECT map_from_entries(list((p, pv))) AS m FROM pr0),
       |dpf AS (
       |  SELECT w, f, [CAST(1.0 AS DOUBLE)] AS al, 1 AS t FROM words
       |  UNION ALL
       |  SELECT w, f, list_append(al,
       |    (CASE WHEN t >= 1 THEN al[t] * COALESCE(m[w[t:t]][1], 0.0)
       |       ELSE 0.0 END
       |     + CASE WHEN t >= 2 THEN al[t-1] * COALESCE(m[w[t-1:t]][1], 0.0)
       |       ELSE 0.0 END)
       |     + CASE WHEN t >= 3 THEN al[t-2] * COALESCE(m[w[t-2:t]][1], 0.0)
       |       ELSE 0.0 END),
       |    t + 1
       |  FROM dpf, prm WHERE t <= len(w)),
       |fwd AS MATERIALIZED (SELECT w, f, al FROM dpf WHERE t = len(w) + 1),
       |dpb AS (
       |  SELECT w, f, [CAST(1.0 AS DOUBLE)] AS bl, 1 AS u FROM words
       |  UNION ALL
       |  SELECT w, f, list_append(bl,
       |    (CASE WHEN u >= 1 THEN
       |        COALESCE(m[w[len(w)-u+1 : len(w)-u+1]][1], 0.0) * bl[u]
       |       ELSE 0.0 END
       |     + CASE WHEN u >= 2 THEN
       |        COALESCE(m[w[len(w)-u+1 : len(w)-u+2]][1], 0.0) * bl[u-1]
       |       ELSE 0.0 END)
       |     + CASE WHEN u >= 3 THEN
       |        COALESCE(m[w[len(w)-u+1 : len(w)-u+3]][1], 0.0) * bl[u-2]
       |       ELSE 0.0 END),
       |    u + 1
       |  FROM dpb, prm WHERE u <= len(w)),
       |bwd AS MATERIALIZED (SELECT w, bl FROM dpb WHERE u = len(w) + 1),
       |ps AS (
       |  SELECT fw.w, fw.f, fw.al, b.bl, len(fw.w) AS wl,
       |    unnest(range(0, len(fw.w))) AS s
       |  FROM fwd fw JOIN bwd b ON fw.w = b.w
       |  WHERE fw.al[len(fw.w) + 1] > 0),
       |pk AS (
       |  SELECT w, f, al, bl, wl, s,
       |    unnest(range(1, least(3, wl - s) + 1)) AS k
       |  FROM ps),
       |contrib AS MATERIALIZED (
       |  SELECT w[CAST(s + 1 AS INT):CAST(s + k AS INT)] AS piece,
       |    CAST(floor(((((al[CAST(s + 1 AS INT)] *
       |        COALESCE(m[w[CAST(s + 1 AS INT):CAST(s + k AS INT)]][1],
       |          0.0)) *
       |        bl[CAST(wl - s - k + 1 AS INT)]) / al[CAST(wl + 1 AS INT)]
       |        * CAST(f AS DOUBLE)) * 1e9)) AS BIGINT) AS c
       |  FROM pk, prm),
       |cexp AS MATERIALIZED (
       |  SELECT piece, CAST(SUM(c) AS BIGINT) AS cnt FROM contrib
       |  GROUP BY piece),
       |s1 AS MATERIALIZED (
       |  SELECT piece AS p, cnt FROM cexp WHERE len(piece) > 1 AND cnt > 0
       |  UNION ALL
       |  SELECT chars.p, GREATEST(COALESCE(c.cnt, CAST(0 AS BIGINT)),
       |    CAST(1000000000 AS BIGINT))
       |  FROM chars LEFT JOIN cexp c ON chars.p = c.piece)""".stripMargin

  private def unigramSoftOracle: String =
    s"""$unigramSoftCore,
       |pruneds AS (
       |  SELECT chars.p, s1.cnt FROM chars JOIN s1 ON chars.p = s1.p
       |  UNION ALL
       |  (SELECT p, cnt FROM s1 WHERE len(p) > 1
       |   ORDER BY cnt DESC, p ASC LIMIT 12))
       |SELECT p AS piece, cnt AS exp_cnt_nano FROM pruneds
       |ORDER BY piece""".stripMargin

  /** Oracle for txt_unigram_prune: the exact-loss prune replayed in
    * SQL on top of [[unigramSoftCore]]'s post-EM counts. Per
    * (word, candidate) pair (candidate = top-24 count-ranked
    * multi-char piece, pair kept only when the word contains it), a
    * second forward lattice runs with the candidate's probability
    * zeroed — the recursion mirrors the Scala α's exact IEEE
    * operation order (k ascending, ((t₁+t₂)+t₃)), so the lost-mass
    * fraction (1 − α^{¬x}/α) is bit-identical cross-engine; it
    * floor-quantizes to nano per pair BEFORE the order-free BIGINT
    * sum. Keep chars + top-12 candidates by (loss DESC, piece ASC).
    */
  private def unigramPruneOracle: String =
    s"""$unigramSoftCore,
       |pr1 AS MATERIALIZED (
       |  SELECT p, CAST(cnt AS DOUBLE) /
       |    (SELECT CAST(SUM(cnt) AS DOUBLE) FROM s1) AS pv
       |  FROM s1),
       |prm1 AS MATERIALIZED (
       |  SELECT map_from_entries(list((p, pv))) AS m FROM pr1),
       |cands AS MATERIALIZED (
       |  SELECT p AS x FROM s1 WHERE len(p) > 1
       |  ORDER BY cnt DESC, p ASC LIMIT 24),
       |dpf2 AS (
       |  SELECT w, f, [CAST(1.0 AS DOUBLE)] AS al, 1 AS t FROM words
       |  UNION ALL
       |  SELECT w, f, list_append(al,
       |    (CASE WHEN t >= 1 THEN al[t] * COALESCE(m[w[t:t]][1], 0.0)
       |       ELSE 0.0 END
       |     + CASE WHEN t >= 2 THEN al[t-1] * COALESCE(m[w[t-1:t]][1], 0.0)
       |       ELSE 0.0 END)
       |     + CASE WHEN t >= 3 THEN al[t-2] * COALESCE(m[w[t-2:t]][1], 0.0)
       |       ELSE 0.0 END),
       |    t + 1
       |  FROM dpf2, prm1 WHERE t <= len(w)),
       |fwd2 AS MATERIALIZED (
       |  SELECT w, f, al[len(w) + 1] AS alf FROM dpf2
       |  WHERE t = len(w) + 1),
       |wx AS MATERIALIZED (
       |  SELECT fw.w, fw.f, fw.alf, c.x FROM fwd2 fw, cands c
       |  WHERE fw.alf > 0 AND contains(fw.w, c.x)),
       |dpx AS (
       |  SELECT w, f, alf, x, [CAST(1.0 AS DOUBLE)] AS al, 1 AS t
       |  FROM wx
       |  UNION ALL
       |  SELECT w, f, alf, x, list_append(al,
       |    (CASE WHEN t >= 1 THEN al[t] *
       |        (CASE WHEN w[t:t] = x THEN 0.0
       |          ELSE COALESCE(m[w[t:t]][1], 0.0) END)
       |       ELSE 0.0 END
       |     + CASE WHEN t >= 2 THEN al[t-1] *
       |        (CASE WHEN w[t-1:t] = x THEN 0.0
       |          ELSE COALESCE(m[w[t-1:t]][1], 0.0) END)
       |       ELSE 0.0 END)
       |     + CASE WHEN t >= 3 THEN al[t-2] *
       |        (CASE WHEN w[t-2:t] = x THEN 0.0
       |          ELSE COALESCE(m[w[t-2:t]][1], 0.0) END)
       |       ELSE 0.0 END),
       |    t + 1
       |  FROM dpx, prm1 WHERE t <= len(w)),
       |lossc AS MATERIALIZED (
       |  SELECT x, CAST(floor(((1.0 - al[len(w) + 1] / alf)
       |      * CAST(f AS DOUBLE)) * 1e9) AS BIGINT) AS c
       |  FROM dpx WHERE t = len(w) + 1),
       |lossagg AS MATERIALIZED (
       |  SELECT x, CAST(SUM(c) AS BIGINT) AS loss FROM lossc
       |  WHERE c > 0 GROUP BY x),
       |keptm AS (
       |  SELECT cands.x AS p,
       |    COALESCE(lossagg.loss, CAST(0 AS BIGINT)) AS loss
       |  FROM cands LEFT JOIN lossagg ON cands.x = lossagg.x
       |  ORDER BY loss DESC, p ASC LIMIT 12),
       |outp AS (
       |  SELECT chars.p, s1.cnt, CAST(0 AS BIGINT) AS loss
       |  FROM chars JOIN s1 ON chars.p = s1.p
       |  UNION ALL
       |  SELECT keptm.p, s1.cnt, keptm.loss
       |  FROM keptm JOIN s1 ON keptm.p = s1.p)
       |SELECT p AS piece, cnt AS exp_cnt_nano, loss AS loss_nano
       |FROM outp ORDER BY piece""".stripMargin

  private def unigramTrainOracle: String =
    s"""$unigramUnrollWith
       |SELECT p AS piece, cnt, lp AS logp_nano FROM pfin ORDER BY piece""".stripMargin

  private def unigramSegmentOracle: String =
    s"""$unigramUnrollWith,
       |${unigramViterbiCte(3, "pmfin")}
       |SELECT w AS word, array_to_string(segs, ' ') AS syms,
       |  CAST(len(segs) AS INT) AS n_syms, f AS word_freq
       |FROM bt3 WHERE pos = 0 ORDER BY word""".stripMargin

  val gates: Seq[Gate] = Seq(

    // ---------------- extension operators: text analysis --------------
    Gate("txt_token_count", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.subwordCountEstimate(col("text")).as("n_subwords"),
        length(col("text")).as("n_chars_measured"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |    + (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) AS n_subwords,
        |  length(text) AS n_chars_measured
        |FROM documents ORDER BY doc_id""".stripMargin),

    Gate("txt_wordpiece", (s, dir) => {
      // REAL greedy longest-match WordPiece (expressions.WordpieceTokenize,
      // codegen'd, vocab as one per-partition reference object) over the
      // structured vocab above; per-doc piece counts. Map-only until the
      // per-doc partial-agg'd groupBy — the 100 TB tokenization pass
      // shape. The UNK count is a pinned invariant (a-z words can never
      // fail against a vocab containing every single letter).
      val words = t(s, dir, "documents").select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
          .as("word"))
      words
        .withColumn("p",
          TextAnalysis.wordpiecePieces(col("word"), wordpieceVocab))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_words"),
          sum(size(col("p")).cast("long")).as("n_pieces"),
          sum(when(size(col("p")) === 1, 1L).otherwise(0L)).as("n_single"),
          sum(when(col("p") === array(lit("[UNK]")), 1L).otherwise(0L))
            .as("n_unk"))
        .orderBy(col("doc_id"))
    },
      // Greedy WordPiece closed form: the start piece is the longest
      // whole-word vocab prefix (else one letter); the tail consumes
      // "##ing" exactly where leftmost non-overlapping regexp
      // replacement finds 'ing' (greedy char-scan ≡ leftmost-nonoverlap
      // because both resume AFTER each 3-char hit) and one letter
      // everywhere else, so tail pieces = length after collapsing each
      // 'ing' to one char.
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
        |  FROM pref)
        |SELECT doc_id,
        |  count(*) AS n_words,
        |  CAST(sum(n) AS BIGINT) AS n_pieces,
        |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_single,
        |  CAST(0 AS BIGINT) AS n_unk
        |FROM np GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Gate("txt_wordpiece_train", (s, dir) =>
      // the TRAIN side of WordPiece (encode + fertility were already
      // gated): 8 likelihood-gain merges — score = n_pair/(n_a·n_b),
      // the rule that separates WordPiece from BPE (rare-symbol pairs
      // merge first). Driver-side over the word-freq table (the
      // bpeTrainLocal scale contract); the oracle unrolls all 8
      // rounds in SQL, including the ##-aware greedy merge
      // application and the bit-identical IEEE score division.
      TextAnalysis.wordpieceTrainLocal(t(s, dir, "documents"), "text",
          nMerges = 8)
        .orderBy(col("rank")),
      wordpieceTrainOracle),

    Gate("txt_chunk_tokens", (s, dir) =>
      // RAG chunking: 64-token windows, stride 48 (16-token overlap);
      // map-only explode from the scan, md5 fingerprints key
      // chunk-level dedup/embedding joins downstream
      TextAnalysis.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
        size = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_id")),
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |nz AS (
        |  SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0),
        |ch AS (
        |  SELECT doc_id, tk, n,
        |    unnest(range(0, CASE WHEN n > 16 THEN (n - 16 + 47) // 48
        |      ELSE 1 END)) AS chunk_id
        |  FROM nz)
        |SELECT doc_id, chunk_id,
        |  chunk_id * 48 AS start_token,
        |  CAST(len(tk[chunk_id * 48 + 1 : chunk_id * 48 + 64]) AS BIGINT)
        |    AS chunk_tokens,
        |  md5(array_to_string(tk[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' '))
        |    AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin),

    Gate("txt_wordpiece_fertility", (s, dir) => {
      // per-language subword fertility (pieces per word) — THE metric
      // for how well a tokenizer's vocab fits each language slice of
      // a corpus (high fertility = wasted sequence length). Exact
      // integer counts per language; one double division at the end.
      val words = t(s, dir, "documents").select(col("lang"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
          .as("word"))
      words
        .withColumn("np",
          size(TextAnalysis.wordpiecePieces(col("word"), wordpieceVocab))
            .cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"))
        .select(col("lang"), col("n_words"), col("n_pieces"),
          TextAnalysis.q4(col("n_pieces").cast("double") /
            col("n_words").cast("double")).as("fertility"))
        .orderBy(col("lang"))
    },
      s"""WITH wv(piece) AS (VALUES ${wordpieceWholeWords
            .map(w => s"('$w')").mkString(", ")}),
        |toks AS (
        |  SELECT lang,
        |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |  FROM documents),
        |pref AS (
        |  SELECT lang, word,
        |    coalesce((SELECT max(length(v.piece)) FROM wv v
        |              WHERE starts_with(t.word, v.piece)), 1) AS p
        |  FROM toks t),
        |np AS (
        |  SELECT lang,
        |    1 + length(regexp_replace(substr(word, p + 1), 'ing', '#', 'g'))
        |      AS n
        |  FROM pref)
        |SELECT lang,
        |  count(*) AS n_words,
        |  CAST(sum(n) AS BIGINT) AS n_pieces,
        |  floor(CAST(CAST(sum(n) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) * 10000) / 10000 AS fertility
        |FROM np GROUP BY lang ORDER BY lang""".stripMargin),

    Gate("txt_quality", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id")),
      """WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |    ' ' || lower(text) || ' ' AS padded
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
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
        |  FROM base)
        |SELECT doc_id, punct_ratio, stopword_ratio,
        |  floor(greatest(least((len_score + least(stopword_ratio * 5, 1.0)
        |    - least(punct_ratio * 5, 1.0)) / 2, 1.0), 0.0) * 10000) / 10000 AS quality
        |FROM m ORDER BY doc_id""".stripMargin),

    Gate("txt_lang_id", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id")),
      """WITH v AS (
        |  SELECT doc_id,
        |    (length(p) - length(replace(p, ' der ', ''))) / 5
        |      + (length(p) - length(replace(p, ' die ', ''))) / 5
        |      + (length(p) - length(replace(p, ' und ', ''))) / 5
        |      + (length(p) - length(replace(p, ' ist ', ''))) / 5
        |      + (length(p) - length(replace(p, ' nicht ', ''))) / 7 AS de,
        |    (length(p) - length(replace(p, ' the ', ''))) / 5
        |      + (length(p) - length(replace(p, ' and ', ''))) / 5
        |      + (length(p) - length(replace(p, ' is ', ''))) / 4
        |      + (length(p) - length(replace(p, ' of ', ''))) / 4
        |      + (length(p) - length(replace(p, ' to ', ''))) / 4 AS en,
        |    (length(p) - length(replace(p, ' el ', ''))) / 4
        |      + (length(p) - length(replace(p, ' la ', ''))) / 4
        |      + (length(p) - length(replace(p, ' que ', ''))) / 5
        |      + (length(p) - length(replace(p, ' los ', ''))) / 5
        |      + (length(p) - length(replace(p, ' es ', ''))) / 4 AS es,
        |    (length(p) - length(replace(p, ' le ', ''))) / 4
        |      + (length(p) - length(replace(p, ' la ', ''))) / 4
        |      + (length(p) - length(replace(p, ' les ', ''))) / 5
        |      + (length(p) - length(replace(p, ' est ', ''))) / 5
        |      + (length(p) - length(replace(p, ' une ', ''))) / 5 AS fr,
        |    (length(p) - length(replace(p, ' 的 ', ''))) / 3
        |      + (length(p) - length(replace(p, ' 是 ', ''))) / 3
        |      + (length(p) - length(replace(p, ' 了 ', ''))) / 3
        |      + (length(p) - length(replace(p, ' 在 ', ''))) / 3
        |      + (length(p) - length(replace(p, ' 我 ', ''))) / 3 AS zh
        |  FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents))
        |SELECT doc_id,
        |  CASE WHEN de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de'
        |       WHEN en >= es AND en >= fr AND en >= zh THEN 'en'
        |       WHEN es >= fr AND es >= zh THEN 'es'
        |       WHEN fr >= zh THEN 'fr'
        |       ELSE 'zh' END AS lang_pred
        |FROM v ORDER BY doc_id""".stripMargin),

    Gate("txt_fingerprint", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),

    Gate("txt_shingle_fp", (s, dir) =>
      // winnowing-style rolling-hash sketch: min md5 over 8-char
      // shingles of normalized text (staged select: normalization
      // materializes once, not once per shingle)
      t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("__norm"))
        .select(col("doc_id"),
          TextAnalysis.shingleFingerprintFromNorm(col("__norm"), 8).as("sfp"))
        .orderBy(col("doc_id")),
      """WITH n AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents)
        |SELECT doc_id,
        |  list_min(list_transform(
        |    range(1, greatest(length(norm) - 7, 1) + 1),
        |    i -> md5(substr(norm, i, 8)))) AS sfp
        |FROM n ORDER BY doc_id""".stripMargin),

    Gate("txt_top_tokens", (s, dir) =>
      // corpus-level heavy hitters: partial-agg'd counts, TakeOrdered
      // top-20 (ties break on the token)
      graft.functions.Curation.topTokens(t(s, dir, "documents"), "text", 20),
      """SELECT token, cnt FROM (
        |  SELECT token, COUNT(*) AS cnt FROM (
        |    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        |    FROM documents) u
        |  WHERE token <> ''
        |  GROUP BY token)
        |ORDER BY cnt DESC, token LIMIT 20""".stripMargin),

    Gate("txt_bpe_pairs", (s, dir) =>
      // BPE training round-1 statistics: adjacent char-pair counts
      // over the word-frequency table (the corpus is scanned once;
      // pair work is vocab-sized), top-20 with deterministic ties
      TextAnalysis.bpePairCounts(t(s, dir, "documents"), "text",
        topK = 20),
      """WITH words AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |    FROM documents) GROUP BY w),
        |v0 AS (
        |  SELECT w, f, list_transform(range(1, len(w) + 1),
        |    i -> w[CAST(i AS INT)]) AS s
        |  FROM words),
        |e0 AS (
        |  SELECT w, f, generate_subscripts(s, 1) AS pos, unnest(s) AS sym
        |  FROM v0),
        |x0 AS (
        |  SELECT w, f, pos, sym,
        |    lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
        |  FROM e0),
        |p0 AS (
        |  SELECT sym || ' ' || nxt AS pr, CAST(SUM(f) AS BIGINT) AS n
        |  FROM x0 WHERE nxt IS NOT NULL GROUP BY 1)
        |SELECT string_split(pr, ' ')[1] AS sym_a,
        |  string_split(pr, ' ')[2] AS sym_b, n
        |FROM p0 ORDER BY n DESC, pr ASC LIMIT 20""".stripMargin),

    Gate("txt_bpe_merges", (s, dir) =>
      // full BPE merge training, 8 rounds: per round one vocab-sized
      // partial-agg'd pair count + a 1-row TakeOrdered to the driver
      // + a map-side greedy merge (native kernel). The oracle unrolls
      // all 8 rounds in SQL, reproducing the left-to-right greedy
      // pairing with the run-parity rule — so the hash match proves
      // pair stats, argmax ties AND merge application round by round
      TextAnalysis.bpeTrain(t(s, dir, "documents"), "text", nMerges = 8)
        .orderBy(col("rank")),
      bpeMergesOracle),

    Gate("txt_bpe_local", (s, dir) =>
      // the DRIVER-SIDE trainer (the 32k-vocab scale path: one
      // distributed word count, then incremental merges over the
      // MB-sized vocab — ~0.4 ms/merge vs the per-round-distributed
      // loop's ~0.1 s/merge scheduling floor, ScaleSmoke `bpe` mode)
      // under the same 8-round oracle as txt_bpe_merges: the two
      // trainers are parity-pinned
      TextAnalysis.bpeTrainLocal(t(s, dir, "documents"), "text",
          nMerges = 8)
        .orderBy(col("rank")),
      bpeMergesOracle),

    Gate("txt_bpe_segment", (s, dir) => {
      // the ENCODER half: train 8 merges (driver-side trainer), apply
      // them in rank order to every distinct word. Sequential
      // application is training's own replay, so the segmentation
      // must equal the oracle unroll's final v8 vocabulary state —
      // train→encode round-trip consistency under the hash.
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis.bpeTrainLocal(docs, "text", nMerges = 8)
        .collect().sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeSegmentWords(docs, "text", merges)
        .orderBy(col("word"))
    },
      bpeSegmentOracle),

    Gate("txt_unigram_train", (s, dir) =>
      // unigram-LM (SentencePiece-style) tokenizer training, hard-EM
      // variant: seed substrings → 2 Viterbi-EM rounds → count-ranked
      // prune. Driver-side over the word-freq table (one distributed
      // corpus scan — the bpeTrainLocal scale contract). The oracle
      // replays ALL of it in SQL: recursive-CTE Viterbi (list-carried
      // DP + backtrack), the longer-piece tie rule, the single-char
      // count floor, and the nano-quantized ln probabilities.
      TextAnalysis.unigramTrainLocal(t(s, dir, "documents"), "text")
        .orderBy(col("piece")),
      unigramTrainOracle),

    Gate("txt_unigram_soft", (s, dir) =>
      // SOFT-EM unigram training under the oracle — the full
      // forward–backward E-step (Kudo 2018 §3.2), previously
      // spec-only behind the float-honesty boundary, made
      // hash-gateable by probability-space α/β (single
      // correctly-rounded IEEE ops in a pinned order — no log-sum-exp
      // anywhere) and nano-quantized per-(word,piece) posterior
      // contributions summed as exact longs. The oracle replays the
      // α and β lattices as list-carried recursive CTEs mirroring the
      // exact operation order, then the same quantize→sum→floor→prune
      // pipeline.
      TextAnalysis.unigramTrainSoftQuantLocal(t(s, dir, "documents"),
          "text")
        .orderBy(col("piece")),
      unigramSoftOracle),

    Gate("txt_unigram_prune", (s, dir) =>
      // EXACT-LOSS pruning (Kudo 2018 §3.2 step 3) under the oracle —
      // the stretch left open by round 13: after one quantized
      // soft-EM round, each count-ranked candidate is scored by the
      // exact segmentation mass its removal destroys (a second
      // forward lattice per (word, candidate) with the candidate
      // zeroed), the lost-mass fraction floor-quantized to nano longs
      // per pair before the order-free sum. The published criterion's
      // ln is transcendental (not cross-engine bit-stable); lost-mass
      // is pure ÷ × − in pinned IEEE order — standing rule 7.
      TextAnalysis.unigramTrainPruneLocal(t(s, dir, "documents"),
          "text")
        .orderBy(col("piece")),
      unigramPruneOracle),

    Gate("txt_unigram_segment", (s, dir) => {
      // the ENCODER half: train, then Viterbi-encode every distinct
      // word under the pruned table (native kernel). The oracle runs
      // a third recursive-CTE Viterbi pass under its own replayed
      // final table — train→encode round-trip consistency under the
      // hash, exactly the txt_bpe_segment pattern.
      val docs = t(s, dir, "documents")
      val pieces = TextAnalysis.unigramTrainLocal(docs, "text")
        .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
      TextAnalysis.unigramSegmentWords(docs, "text", pieces)
        .orderBy(col("word"))
    },
      unigramSegmentOracle),

    Gate("txt_repetition", (s, dir) =>
      graft.functions.Curation.repetitionStats(
        t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents)
        |SELECT doc_id, len(tk) AS n_tokens,
        |  len(list_distinct(tk)) AS n_distinct,
        |  floor(CAST(len(list_distinct(tk)) AS DOUBLE)
        |    / greatest(len(tk), 1) * 10000) / 10000 AS ttr,
        |  list_max(list_transform(list_distinct(tk),
        |    t -> len(list_filter(tk, x -> x = t)))) AS max_tok_freq
        |FROM toks ORDER BY doc_id""".stripMargin),

    Gate("txt_script_profile", (s, dir) => {
      // script router over deterministically mixed text: every 4th doc
      // gains a CJK block, every 4th+2 a Cyrillic block, sized by
      // doc_id so dominance flips for some docs and not others
      val mixed = concat(col("text"),
        when(col("doc_id") % 4 === 1,
          repeat(lit("文"), (pmod(col("doc_id"), lit(50)) * 10)
            .cast("int"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 2,
          repeat(lit("д"), (pmod(col("doc_id"), lit(40)) * 12)
            .cast("int"))).otherwise(lit("")))
      graft.functions.TextAnalysis.scriptProfile(
        t(s, dir, "documents").select(col("doc_id"), mixed.as("text")),
        "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // same construction (repeat+chr), same RE2 \x{...} classes, 'g'
      // flag for replace-all, same tie-break CASE chain
      """WITH m AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 1
        |      THEN repeat('文', CAST(doc_id % 50 AS INT) * 10)
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 2
        |      THEN repeat('д', CAST(doc_id % 40 AS INT) * 12)
        |      ELSE '' END AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(length(t) - length(regexp_replace(t,
        |      '[A-Za-z\x{00C0}-\x{024F}]', '', 'g')) AS BIGINT) AS n_latin,
        |    CAST(length(t) - length(regexp_replace(t,
        |      '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}\x{AC00}-\x{D7AF}]',
        |      '', 'g')) AS BIGINT) AS n_cjk,
        |    CAST(length(t) - length(regexp_replace(t,
        |      '[\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS n_cyrillic,
        |    CAST(length(t) - length(regexp_replace(t,
        |      '[\x{0600}-\x{06FF}]', '', 'g')) AS BIGINT) AS n_arabic
        |  FROM m)
        |SELECT doc_id, n_latin, n_cjk, n_cyrillic, n_arabic,
        |  floor(n_latin / greatest(n_latin + n_cjk + n_cyrillic
        |    + n_arabic, 1) * 10000) / 10000 AS frac_latin,
        |  floor(n_cjk / greatest(n_latin + n_cjk + n_cyrillic
        |    + n_arabic, 1) * 10000) / 10000 AS frac_cjk,
        |  CASE WHEN n_latin >= n_cjk AND n_latin >= n_cyrillic
        |      AND n_latin >= n_arabic THEN 'latin'
        |    WHEN n_cjk >= n_cyrillic AND n_cjk >= n_arabic THEN 'cjk'
        |    WHEN n_cyrillic >= n_arabic THEN 'cyrillic'
        |    ELSE 'arabic' END AS dominant
        |FROM c ORDER BY doc_id""".stripMargin),

    Gate("txt_gopher_quality", (s, dir) => {
      // Gopher filter battery over a deterministically constructed
      // multiline doc (the corpus text is single-line): even doc_ids
      // get their body duplicated (nonzero dup-line fractions), every
      // doc gains a bullet line and an ellipsis line, and the ≥50-word
      // gate splits the 10–99-word corpus — so every metric and the
      // final conjunction take both branches
      val doc = concat(col("text"),
        when(col("doc_id") % 2 === 0,
          concat(lit("\n"), col("text"))).otherwise(lit("")),
        lit("\n"), substring(col("text"), 1, 20),
        lit("\n- bullet item\ntrailing dots..."))
      graft.functions.TextAnalysis.gopherQualityStats(
        t(s, dir, "documents").select(col("doc_id"), doc.as("text")),
        "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // replays the doc construction, then every Gopher metric with
      // DuckDB list folds; thresholds apply to the QUANTIZED values,
      // matching the Spark side
      """WITH d AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 2 = 0 THEN chr(10) || text
        |      ELSE '' END
        |    || chr(10) || substr(text, 1, 20)
        |    || chr(10) || '- bullet item' || chr(10) || 'trailing dots...'
        |    AS doc
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, doc,
        |    list_filter(string_split(doc, chr(10)),
        |      l -> length(l) > 0) AS lines,
        |    list_filter(string_split_regex(doc, '\s+'),
        |      w -> length(w) > 0) AS words
        |  FROM d),
        |a AS (
        |  SELECT doc_id,
        |    CAST(len(words) AS BIGINT) AS n_words,
        |    greatest(CAST(len(words) AS DOUBLE), 1.0) AS wd,
        |    greatest(CAST(len(lines) AS DOUBLE), 1.0) AS ld,
        |    CAST(list_aggregate(list_transform(words,
        |      w -> CAST(length(w) AS BIGINT)), 'sum') AS DOUBLE) AS wchars,
        |    CAST(CAST(length(doc) - length(replace(doc, '#', ''))
        |      AS INT) + CAST((length(doc)
        |        - length(replace(doc, '...', ''))) / 3 AS INT)
        |      AS DOUBLE) AS symbols,
        |    CAST(len(list_filter(words,
        |      w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) AS alpha_w,
        |    CAST(len(list_filter(lines, l -> l LIKE '-%' OR l LIKE '*%'
        |      OR l LIKE '•%')) AS DOUBLE) AS bullet_l,
        |    CAST(len(list_filter(lines, l -> l LIKE '%...' OR l LIKE '%…'))
        |      AS DOUBLE) AS ell_l,
        |    CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) AS dup_l,
        |    CAST(list_aggregate(list_transform(lines,
        |      l -> CAST(length(l) AS BIGINT)), 'sum') AS DOUBLE) AS chars_all,
        |    CAST(list_aggregate(list_transform(list_distinct(lines),
        |      l -> CAST(length(l) AS BIGINT)), 'sum') AS DOUBLE) AS chars_dist
        |  FROM m),
        |q AS (
        |  SELECT doc_id, n_words,
        |    floor(wchars / wd * 10000) / 10000 AS mean_word_len,
        |    floor(symbols / wd * 10000) / 10000 AS symbol_word_ratio,
        |    floor(alpha_w / wd * 10000) / 10000 AS frac_alpha_words,
        |    floor(bullet_l / ld * 10000) / 10000 AS frac_bullet_lines,
        |    floor(ell_l / ld * 10000) / 10000 AS frac_ellipsis_lines,
        |    floor(dup_l / ld * 10000) / 10000 AS dup_line_frac,
        |    floor((chars_all - chars_dist) / greatest(chars_all, 1.0)
        |      * 10000) / 10000 AS dup_line_char_frac
        |  FROM a)
        |SELECT *,
        |  (n_words >= 50 AND n_words <= 100000
        |    AND mean_word_len >= 3 AND mean_word_len <= 10
        |    AND symbol_word_ratio < 0.1 AND frac_alpha_words > 0.8
        |    AND frac_bullet_lines < 0.9 AND frac_ellipsis_lines < 0.3
        |    AND dup_line_frac < 0.3) AS passes
        |FROM q ORDER BY doc_id""".stripMargin),

    Gate("txt_lm_score", (s, dir) =>
      // corpus-trained bigram LM score: mean ln P(w2|w1) per doc —
      // per-bigram log-probs floor-quantized then decimal-summed so
      // the distributed mean is order-independent
      graft.functions.TextAnalysis.bigramLmScore(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text")
        .orderBy(col("doc_id")),
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    tk[CAST(i AS INT)] || ' ' || tk[CAST(i + 1 AS INT)] AS b,
        |    tk[CAST(i AS INT)] AS w1
        |  FROM toks, unnest(range(1, len(tk))) AS t(i)),
        |c12 AS (SELECT b, COUNT(*) AS c12 FROM bg GROUP BY 1),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
        |lp AS (
        |  SELECT bg.doc_id,
        |    CAST(floor(ln(CAST(c12.c12 AS DOUBLE) / c1.c1) * 1e9) / 1e9
        |      AS DECIMAL(28,9)) AS lp
        |  FROM bg JOIN c12 ON bg.b = c12.b JOIN c1 ON bg.w1 = c1.w1),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_bigrams, SUM(lp) AS s
        |  FROM lp GROUP BY 1)
        |SELECT t.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
        |  floor(coalesce(CAST(a.s AS DOUBLE) / a.n_bigrams, 0.0) * 10000)
        |    / 10000 AS lm_score
        |FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id
        |ORDER BY t.doc_id""".stripMargin),

    Gate("txt_char_entropy", (s, dir) =>
      // compression-proxy quality signal: per-doc Shannon entropy in
      // bits over the code-point distribution — ONE native map-only
      // kernel (no explode, no shuffle); nano-bit integer sum for
      // engine-exact replay; the oracle replays the explode+groupBy
      // formulation and must agree bit-for-bit
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.charEntropy(col("text")).as("__ce"))
        .select(col("doc_id"),
          col("__ce.n_chars").as("n_chars_used"),
          col("__ce.n_distinct").as("n_distinct_chars"),
          (col("__ce.entropy_nanos").cast("double") / 1e9).as("entropy_bits"))
        .orderBy(col("doc_id")),
      // explode+groupBy replay of the native per-row kernel: same
      // operation order ((p*ln p)/ln 2)*1e9, floored per char, BIGINT
      // sum — so agreement is exact, not approximate
      """WITH chars AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS ch
        |  FROM documents),
        |cc AS (
        |  SELECT doc_id, ch, COUNT(*) AS cnt FROM chars WHERE ch <> ''
        |  GROUP BY doc_id, ch),
        |tot AS (
        |  SELECT doc_id, SUM(cnt) AS n, COUNT(*) AS k FROM cc
        |  GROUP BY doc_id),
        |terms AS (
        |  SELECT c.doc_id,
        |    CAST(floor((c.cnt / t.n) * ln(c.cnt / t.n) / ln(2) * 1e9)
        |      AS BIGINT) AS term
        |  FROM cc c JOIN tot t USING (doc_id)),
        |sums AS (
        |  SELECT doc_id, SUM(term) AS s FROM terms GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(t.n, 0) AS BIGINT) AS n_chars_used,
        |  CAST(COALESCE(t.k, 0) AS BIGINT) AS n_distinct_chars,
        |  CAST(-COALESCE(s.s, 0) AS DOUBLE) / 1e9 AS entropy_bits
        |FROM documents d
        |LEFT JOIN tot t ON t.doc_id = d.doc_id
        |LEFT JOIN sums s ON s.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    Gate("txt_nb_train", (s, dir) =>
      // multinomial NB trained distributed on the even-id half of the
      // corpus (lang as the label): the dense smoothed (term × label)
      // log-likelihood model — one partial-agg'd wordcount exchange,
      // model join forced to shuffle (vocab-sized side)
      TextAnalysis.naiveBayesTrain(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0),
        "lang", "text")
        .orderBy(col("label"), col("term")),
      // dense Laplace-smoothed multinomial NB model replayed from the
      // same wordcount: every (term, label) cell, observed or not
      """WITH toks AS (
        |  SELECT lang AS label,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents WHERE doc_id % 2 = 0),
        |counts AS (
        |  SELECT label, term, COUNT(*) AS cnt FROM toks WHERE term <> ''
        |  GROUP BY label, term),
        |lt AS (SELECT label, SUM(cnt) AS lt FROM counts GROUP BY label),
        |v AS (SELECT COUNT(DISTINCT term) AS v FROM counts)
        |SELECT l.label, tm.term, COALESCE(c.cnt, 0) AS cnt,
        |  floor(ln((COALESCE(c.cnt, 0) + 1.0) / (l.lt + v.v)) * 1e9)
        |    / 1e9 AS logp
        |FROM (SELECT DISTINCT term FROM counts) tm
        |CROSS JOIN lt l CROSS JOIN v
        |LEFT JOIN counts c ON c.label = l.label AND c.term = tm.term
        |ORDER BY l.label, tm.term""".stripMargin),

    Gate("txt_nb_classify", (s, dir) => {
      // the trained model classifying the held-out odd-id half:
      // per-term contributions floor-quantized and DECIMAL-summed
      // (order-independent), OOV terms on the per-label smoothed
      // default, argmax ties on the label — fully engine-replayable
      val train = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
      val test = t(s, dir, "documents").filter(col("doc_id") % 2 === 1)
      TextAnalysis.naiveBayesClassify(test, "doc_id", "text",
        TextAnalysis.naiveBayesTrain(train, "lang", "text"),
        TextAnalysis.naiveBayesPriors(train, "lang", "text"))
        .orderBy(col("doc_id"))
    },
      // full replay: model + priors + OOV defaults from the train
      // half, quantized-DECIMAL score sum, argmax with label tie-break
      """WITH train AS (
        |  SELECT * FROM documents WHERE doc_id % 2 = 0),
        |toks AS (
        |  SELECT lang AS label,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM train),
        |counts AS (
        |  SELECT label, term, COUNT(*) AS cnt FROM toks WHERE term <> ''
        |  GROUP BY label, term),
        |lt AS (SELECT label, SUM(cnt) AS lt FROM counts GROUP BY label),
        |v AS (SELECT COUNT(DISTINCT term) AS v FROM counts),
        |model AS (
        |  SELECT l.label, tm.term,
        |    floor(ln((COALESCE(c.cnt, 0) + 1.0) / (l.lt + v.v)) * 1e9)
        |      / 1e9 AS logp
        |  FROM (SELECT DISTINCT term FROM counts) tm
        |  CROSS JOIN lt l CROSS JOIN v
        |  LEFT JOIN counts c ON c.label = l.label AND c.term = tm.term),
        |nd AS (SELECT lang AS label, COUNT(*) AS nd FROM train
        |  GROUP BY lang),
        |n AS (SELECT COUNT(*) AS n FROM train),
        |priors AS (
        |  SELECT l.label,
        |    CAST(floor(ln(CAST(nd.nd AS DOUBLE) / n.n) * 1e9) AS BIGINT)
        |      AS prior_nanos,
        |    floor(ln(1.0 / (l.lt + v.v)) * 1e9) / 1e9 AS oov_logp
        |  FROM lt l JOIN nd ON nd.label = l.label
        |  CROSS JOIN v CROSS JOIN n),
        |test AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |    FROM test) u
        |  WHERE term <> '' GROUP BY doc_id, term),
        |contrib AS (
        |  SELECT tf.doc_id, p.label,
        |    SUM(CAST(floor(tf.tf * COALESCE(m.logp, p.oov_logp) * 1e9)
        |      AS BIGINT)) AS s
        |  FROM tf CROSS JOIN priors p
        |  LEFT JOIN model m ON m.term = tf.term AND m.label = p.label
        |  GROUP BY tf.doc_id, p.label),
        |scored AS (
        |  SELECT d.doc_id, p.label,
        |    p.prior_nanos + COALESCE(c.s, 0) AS nanos
        |  FROM test d CROSS JOIN priors p
        |  LEFT JOIN contrib c ON c.doc_id = d.doc_id AND c.label = p.label)
        |SELECT doc_id, label AS pred_label,
        |  CAST(nanos AS DOUBLE) / 1e9 AS score
        |FROM (
        |  SELECT doc_id, label, nanos,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY nanos DESC, label ASC) AS rnk
        |  FROM scored) WHERE rnk = 1
        |ORDER BY doc_id""".stripMargin),

    Gate("txt_nb_char", (s, dir) => {
      // NB with CHAR 3-gram features (the fastText/CCNet subword
      // shape — language ID by morphology, robust to OOV words): the
      // native CharNgramsAll kernel over the ws-normalized lowercase
      // text, same train/test split and nano-unit replay as
      // txt_nb_classify; the oracle fans grams out with
      // unnest(range(...)) + substr over the same normalization.
      val train = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
      val test = t(s, dir, "documents").filter(col("doc_id") % 2 === 1)
      val feats = TextAnalysis.nbCharNgramFeatures(3)
      TextAnalysis.naiveBayesClassify(test, "doc_id", "text",
        TextAnalysis.naiveBayesTrain(train, "lang", "text", feats),
        TextAnalysis.naiveBayesPriors(train, "lang", "text", feats),
        feats)
        .orderBy(col("doc_id"))
    },
      // the txt_nb_classify replay with the char-3-gram stream:
      // grams = substr(norm, i, 3) for i in 1..len-2 over
      // norm = regexp_replace(lower(trim(text)), '\s+', ' ', 'g') —
      // the CharNgramsAll normalization, code-point offsets
      """WITH train AS (
        |  SELECT * FROM documents WHERE doc_id % 2 = 0),
        |normd AS (
        |  SELECT lang AS label,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nm
        |  FROM train),
        |toks AS (
        |  SELECT label, substr(nm, CAST(i AS INT), 3) AS term
        |  FROM (SELECT label, nm,
        |          unnest(range(1, greatest(len(nm) - 1, 1))) AS i
        |        FROM normd) u),
        |counts AS (
        |  SELECT label, term, COUNT(*) AS cnt FROM toks WHERE term <> ''
        |  GROUP BY label, term),
        |lt AS (SELECT label, SUM(cnt) AS lt FROM counts GROUP BY label),
        |v AS (SELECT COUNT(DISTINCT term) AS v FROM counts),
        |model AS (
        |  SELECT l.label, tm.term,
        |    floor(ln((COALESCE(c.cnt, 0) + 1.0) / (l.lt + v.v)) * 1e9)
        |      / 1e9 AS logp
        |  FROM (SELECT DISTINCT term FROM counts) tm
        |  CROSS JOIN lt l CROSS JOIN v
        |  LEFT JOIN counts c ON c.label = l.label AND c.term = tm.term),
        |nd AS (SELECT lang AS label, COUNT(*) AS nd FROM train
        |  GROUP BY lang),
        |n AS (SELECT COUNT(*) AS n FROM train),
        |priors AS (
        |  SELECT l.label,
        |    CAST(floor(ln(CAST(nd.nd AS DOUBLE) / n.n) * 1e9) AS BIGINT)
        |      AS prior_nanos,
        |    floor(ln(1.0 / (l.lt + v.v)) * 1e9) / 1e9 AS oov_logp
        |  FROM lt l JOIN nd ON nd.label = l.label
        |  CROSS JOIN v CROSS JOIN n),
        |test AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
        |qnorm AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nm
        |  FROM test),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM (
        |    SELECT doc_id, substr(nm, CAST(i AS INT), 3) AS term
        |    FROM (SELECT doc_id, nm,
        |            unnest(range(1, greatest(len(nm) - 1, 1))) AS i
        |          FROM qnorm) u) q
        |  WHERE term <> '' GROUP BY doc_id, term),
        |contrib AS (
        |  SELECT tf.doc_id, p.label,
        |    SUM(CAST(floor(tf.tf * COALESCE(m.logp, p.oov_logp) * 1e9)
        |      AS BIGINT)) AS s
        |  FROM tf CROSS JOIN priors p
        |  LEFT JOIN model m ON m.term = tf.term AND m.label = p.label
        |  GROUP BY tf.doc_id, p.label),
        |scored AS (
        |  SELECT d.doc_id, p.label,
        |    p.prior_nanos + COALESCE(c.s, 0) AS nanos
        |  FROM test d CROSS JOIN priors p
        |  LEFT JOIN contrib c ON c.doc_id = d.doc_id AND c.label = p.label)
        |SELECT doc_id, label AS pred_label,
        |  CAST(nanos AS DOUBLE) / 1e9 AS score
        |FROM (
        |  SELECT doc_id, label, nanos,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY nanos DESC, label ASC) AS rnk
        |  FROM scored) WHERE rnk = 1
        |ORDER BY doc_id""".stripMargin),

    Gate("txt_nb_ngram", (s, dir) => {
      // NB with the fastText feature shape (unigrams + word bigrams)
      // on planted docs ONLY n-gram features can classify: label 'f'
      // is a doc's own token stream, label 'r' the SAME tokens
      // reversed — unigram bags are identical between the labels BY
      // CONSTRUCTION (a bag erases order), so a unigram model scores
      // every test doc to a tie and the prior decides; bigrams encode
      // order and separate the two. Same nano-unit replay discipline
      // as txt_nb_classify; the bigram stream is the native
      // WordNgramsAll kernel (never an interpreted-Generate lambda).
      val docs = t(s, dir, "documents").filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), col("text"))
      val revText = concat_ws(" ",
        reverse(split(trim(col("text")), "\\s+")))
      val train = docs.select(col("doc_id"), lit("f").as("lbl"),
          col("text"))
        .unionByName(docs.select(col("doc_id"), lit("r").as("lbl"),
          revText.as("text")))
      val test = t(s, dir, "documents").filter(col("doc_id") % 4 === 1)
        .select(col("doc_id"), col("text"))
      val testBoth = test.select((col("doc_id") * 2).as("test_id"),
          col("text"))
        .unionByName(test.select((col("doc_id") * 2 + 1).as("test_id"),
          revText.as("text")))
      val feats = TextAnalysis.nbUnionFeatures(Seq(
        TextAnalysis.nbUnigramFeatures,
        TextAnalysis.nbWordNgramFeatures(2)))
      TextAnalysis.naiveBayesClassify(testBoth, "test_id", "text",
        TextAnalysis.naiveBayesTrain(train, "lbl", "text", feats),
        TextAnalysis.naiveBayesPriors(train, "lbl", "text", feats),
        feats)
        .orderBy(col("test_id"))
    },
      // full replay of the unigram+bigram NB on the planted
      // reversed-token corpus: the bigram stream is arr[i]||' '||arr[i+1]
      // over generate_subscripts (the lateral-free DuckDB fan-out);
      // reversed text via string_agg(tok ORDER BY i DESC) — no
      // list_reverse dependency
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
        |rev AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY i DESC) AS text
        |  FROM (
        |    SELECT doc_id, generate_subscripts(arr, 1) AS i,
        |      unnest(arr) AS tok
        |    FROM (SELECT doc_id,
        |            regexp_split_to_array(trim(text), '\s+') AS arr
        |          FROM base)) u
        |  GROUP BY doc_id),
        |train AS (
        |  SELECT doc_id, 'f' AS label, text FROM base
        |  UNION ALL
        |  SELECT doc_id, 'r' AS label, text FROM rev),
        |tarr AS (
        |  SELECT label,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS arr
        |  FROM train),
        |feats AS (
        |  SELECT label, term FROM (
        |    SELECT label, unnest(arr) AS term FROM tarr) u
        |  WHERE term <> ''
        |  UNION ALL
        |  SELECT label, arr[i] || ' ' || arr[i + 1] AS term FROM (
        |    SELECT label, arr, generate_subscripts(arr, 1) AS i
        |    FROM tarr) b
        |  WHERE i < len(arr)),
        |counts AS (
        |  SELECT label, term, COUNT(*) AS cnt FROM feats
        |  GROUP BY label, term),
        |lt AS (SELECT label, SUM(cnt) AS lt FROM counts GROUP BY label),
        |v AS (SELECT COUNT(DISTINCT term) AS v FROM counts),
        |model AS (
        |  SELECT l.label, tm.term,
        |    floor(ln((COALESCE(c.cnt, 0) + 1.0) / (l.lt + v.v)) * 1e9)
        |      / 1e9 AS logp
        |  FROM (SELECT DISTINCT term FROM counts) tm
        |  CROSS JOIN lt l CROSS JOIN v
        |  LEFT JOIN counts c ON c.label = l.label AND c.term = tm.term),
        |nd AS (SELECT label, COUNT(*) AS nd FROM train GROUP BY label),
        |n AS (SELECT COUNT(*) AS n FROM train),
        |priors AS (
        |  SELECT l.label,
        |    CAST(floor(ln(CAST(nd.nd AS DOUBLE) / n.n) * 1e9) AS BIGINT)
        |      AS prior_nanos,
        |    floor(ln(1.0 / (l.lt + v.v)) * 1e9) / 1e9 AS oov_logp
        |  FROM lt l JOIN nd ON nd.label = l.label
        |  CROSS JOIN v CROSS JOIN n),
        |tbase AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1),
        |trev AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY i DESC) AS text
        |  FROM (
        |    SELECT doc_id, generate_subscripts(arr, 1) AS i,
        |      unnest(arr) AS tok
        |    FROM (SELECT doc_id,
        |            regexp_split_to_array(trim(text), '\s+') AS arr
        |          FROM tbase)) u
        |  GROUP BY doc_id),
        |test AS (
        |  SELECT doc_id * 2 AS test_id, text FROM tbase
        |  UNION ALL
        |  SELECT doc_id * 2 + 1 AS test_id, text FROM trev),
        |qarr AS (
        |  SELECT test_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS arr
        |  FROM test),
        |qfeats AS (
        |  SELECT test_id, term FROM (
        |    SELECT test_id, unnest(arr) AS term FROM qarr) u
        |  WHERE term <> ''
        |  UNION ALL
        |  SELECT test_id, arr[i] || ' ' || arr[i + 1] AS term FROM (
        |    SELECT test_id, arr, generate_subscripts(arr, 1) AS i
        |    FROM qarr) b
        |  WHERE i < len(arr)),
        |tf AS (
        |  SELECT test_id, term, COUNT(*) AS tf FROM qfeats
        |  GROUP BY test_id, term),
        |contrib AS (
        |  SELECT tf.test_id, p.label,
        |    SUM(CAST(floor(tf.tf * COALESCE(m.logp, p.oov_logp) * 1e9)
        |      AS BIGINT)) AS s
        |  FROM tf CROSS JOIN priors p
        |  LEFT JOIN model m ON m.term = tf.term AND m.label = p.label
        |  GROUP BY tf.test_id, p.label),
        |scored AS (
        |  SELECT d.test_id, p.label,
        |    p.prior_nanos + COALESCE(c.s, 0) AS nanos
        |  FROM test d CROSS JOIN priors p
        |  LEFT JOIN contrib c ON c.test_id = d.test_id
        |    AND c.label = p.label)
        |SELECT test_id, label AS pred_label,
        |  CAST(nanos AS DOUBLE) / 1e9 AS score
        |FROM (
        |  SELECT test_id, label, nanos,
        |    ROW_NUMBER() OVER (PARTITION BY test_id
        |      ORDER BY nanos DESC, label ASC) AS rnk
        |  FROM scored) WHERE rnk = 1
        |ORDER BY test_id""".stripMargin),

    Gate("txt_tfidf_top", (s, dir) =>
      // per-doc top-3 TF-IDF terms: df from a partial-agg'd groupBy of
      // the tf table, shuffle-joined back (never broadcast — the df
      // table spans the whole corpus vocabulary), corpus size via a
      // 1-row broadcast; ranking on the floor-quantized score with a
      // term tie-break
      graft.functions.TextAnalysis.tfidfTopTerms(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rank")),
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf,
        |    COUNT(*) OVER (PARTITION BY term) AS df
        |  FROM tf),
        |fin AS (
        |  SELECT s.doc_id, s.term, s.tf, s.df,
        |    floor(s.tf * ln((n.n + 1.0) / (s.df + 1.0)) * 1000000) / 1000000
        |      AS tfidf
        |  FROM scored s, n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS rank FROM fin)
        |SELECT doc_id, term, tf, df, tfidf, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    Gate("txt_bm25_rank", (s, dir) => {
      // Okapi BM25 top-10 per query over an inverted-index-shaped plan:
      // postings in one partial-agg'd groupBy, query side broadcast,
      // per-term vocabulary stats semi-joined down to the query's terms
      // before broadcasting; per-term scores decimal-summed so the
      // total is order-independent
      import s.implicits._
      val queries = Seq((1L, "spark window agg"), (2L, "fast hash join"),
        (3L, "customer query table")).toDF("query_id", "qtext")
      graft.functions.TextAnalysis.bm25Rank(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", queries, "query_id", "qtext", k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
      // double-literal discipline: every inexact constant (1.2, its
      // +1.0) is CAST to DOUBLE BEFORE arithmetic so DuckDB computes
      // in IEEE doubles like Spark, not in exact DECIMALs (decimal
      // 1.2+1.0 = 2.2 converts to a DIFFERENT double than double
      // 1.2+1.0); 0.25/0.75/0.5 are binary-exact either way
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |tfc AS (
        |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
        |    SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM toks)
        |  GROUP BY 1, 2, 3),
        |dft AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY 1),
        |stats AS (SELECT COUNT(*) AS n, SUM(len(tk)) AS sumdl FROM toks),
        |q AS (SELECT DISTINCT query_id, term FROM (
        |  SELECT query_id,
        |    unnest(regexp_split_to_array(trim(qtext), '\s+')) AS term
        |  FROM (VALUES (1, 'spark window agg'), (2, 'fast hash join'),
        |    (3, 'customer query table')) AS v(query_id, qtext))),
        |sc AS (
        |  SELECT q.query_id, tfc.doc_id,
        |    CAST(floor(
        |      ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5)) *
        |      (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
        |      (tf + CAST(1.2 AS DOUBLE) *
        |        (0.25 + CAST(0.75 AS DOUBLE) * dl * n
        |          / CAST(sumdl AS DOUBLE)))
        |      * 1e9) / 1e9 AS DECIMAL(28,9)) AS s
        |  FROM tfc JOIN q USING (term) JOIN dft USING (term)
        |  CROSS JOIN stats),
        |agg AS (SELECT query_id, doc_id, SUM(s) AS t FROM sc GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, t, row_number() OVER (
        |  PARTITION BY query_id ORDER BY t DESC, doc_id) AS rank FROM agg)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
        |  floor(CAST(t AS DOUBLE) * 10000) / 10000 AS score,
        |  CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),

    Gate("txt_hybrid_rrf", (s, dir) => {
      // hybrid retrieval: BM25 lexical top-20 fused with dense-ANN
      // cosine top-20 by reciprocal-rank fusion (k=60). Query ids are
      // >= 10_000_000 — outside EVERY fixture's vec_id range (sf0.1
      // reaches vec_id 1999) and clear of the planted-ANN +k*100000
      // ids, so the dense self-match filter never fires at any SF;
      // dense query vectors are anchor-document embeddings
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val emb = t(s, dir, "embeddings")
      val queries = Seq((10000001L, "spark window agg"),
        (10000002L, "fast hash join"),
        (10000003L, "customer query table")).toDF("query_id", "qtext")
      val lex = graft.functions.TextAnalysis.bm25Rank(
        docs, "doc_id", "text", queries, "query_id", "qtext", k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val anchors = Seq((10000001L, 10L), (10000002L, 20L), (10000003L, 30L))
        .toDF("query_id", "anchor")
      val qvecs = anchors.join(emb, col("anchor") === col("vec_id"))
        .select(col("query_id"), col("embedding").as("qvec"))
      val dense = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        qvecs, "query_id", "qvec", k = 20)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      graft.functions.TextAnalysis.rrfFuse(Seq(lex, dense),
          "query_id", "doc_id", "rank", kConst = 60, topK = 10)
        .orderBy(col("query_id"), col("rank"))
    },
      // lexical leg = the txt_bm25_rank chain at k=20; dense leg = the
      // sim_ann_bruteforce cosine rank with anchor-embedding queries;
      // fusion = floor-quantized 1/(60+rank) summed as DECIMAL(28,9)
      (hybridListsSqlPrefix + """,
        |u AS (SELECT * FROM llist UNION ALL SELECT * FROM dlist),
        |f AS (
        |  SELECT query_id, doc_id,
        |    SUM(CAST(floor(1.0 / CAST(60 + rank AS DOUBLE) * 1e9) / 1e9
        |      AS DECIMAL(28,9))) AS s,
        |    COUNT(*) AS n_lists
        |  FROM u GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, s, n_lists, ROW_NUMBER() OVER (
        |  PARTITION BY query_id ORDER BY s DESC, doc_id) AS rank FROM f)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
        |  floor(CAST(s AS DOUBLE) * 1e9) / 1e9 AS rrf_score,
        |  n_lists, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    Gate("txt_rbo_lists", (s, dir) => {
      // rank-biased overlap between the EXACT cosine top-20 and its
      // int8-QUANTIZED top-20 for the same queries — RBO as the
      // rank-damage meter of quantization (overlap is structurally
      // high at any SF, so the gate never degenerates to 0 rows):
      // one (query, doc) equi-join + frozen-decimal weight lookups
      val emb = t(s, dir, "embeddings")
      val embD = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val queries = embD.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val exact = Similarity.bruteForceTopK(embD, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 20)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      val quant = Similarity.quantizedTopK(emb, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 20)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      graft.functions.TextAnalysis.rboOverlap(exact, quant,
          "query_id", "doc_id", "rank", p = 0.9, k = 20)
        .orderBy(col("query_id"))
    },
      // exact vs int8-quantized dense rankings compared by RBO: weight
      // literals come from TextAnalysis.rboWeights — the SAME frozen
      // 12-decimal strings the Spark side sums (IEEE pow is not
      // cross-engine reproducible; frozen constants are)
      s"""WITH base AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |  FROM embeddings),
        |qz AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> 0.0)
        |         ELSE list_transform(embedding,
        |           x -> floor(CAST(x AS DOUBLE) * 127 / mx + 0.5)) END AS q
        |  FROM base),
        |nq AS (
        |  SELECT vec_id, q,
        |    sqrt(list_sum(list_transform(q, x -> x * x))) AS qn
        |  FROM qz),
        |qqueries AS (
        |  SELECT vec_id AS query_id, q AS qq, qn AS qqn FROM nq
        |  WHERE vec_id % 50 = 0),
        |qscored AS (
        |  SELECT qs.query_id, nq.vec_id,
        |    CASE WHEN nq.qn * qs.qqn = 0 THEN 0.0
        |         ELSE list_sum(list_transform(range(1, len(nq.q) + 1),
        |           i -> nq.q[i] * qs.qq[i])) / (nq.qn * qs.qqn) END AS cos
        |  FROM nq CROSS JOIN qqueries qs WHERE nq.vec_id <> qs.query_id),
        |qlist AS (SELECT query_id, vec_id, rank FROM (
        |  SELECT query_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM qscored) WHERE rank <= 20),
        |dbase AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |eqs AS (SELECT vec_id AS query_id, v AS qv FROM dbase
        |  WHERE vec_id % 50 = 0),
        |escored AS (
        |  SELECT e.query_id, d.vec_id,
        |    list_sum(list_transform(range(1, len(d.v) + 1),
        |      i -> d.v[i] * e.qv[i]))
        |    / (sqrt(list_sum(list_transform(d.v, x -> x * x)))
        |     * sqrt(list_sum(list_transform(e.qv, x -> x * x)))) AS cos
        |  FROM dbase d CROSS JOIN eqs e WHERE d.vec_id <> e.query_id),
        |elist AS (SELECT query_id, vec_id, rank FROM (
        |  SELECT query_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM escored) WHERE rank <= 20),
        |w(m, wt) AS (VALUES ${graft.functions.TextAnalysis
          .rboWeights(0.9, 20).zipWithIndex
          .map { case (s0, i) => s"(${i + 1}, '$s0')" }.mkString(", ")}),
        |joint AS (
        |  SELECT e.query_id, e.vec_id,
        |    greatest(e.rank, q.rank) AS m
        |  FROM elist e JOIN qlist q USING (query_id, vec_id)),
        |per AS (
        |  SELECT query_id, COUNT(*) AS n_joint,
        |    SUM(CAST(w.wt AS DECIMAL(16,12))) AS s
        |  FROM joint JOIN w ON joint.m = w.m GROUP BY query_id)
        |SELECT query_id, n_joint,
        |  floor(CAST(s AS DOUBLE) * ${1.0 - 0.9} * 10000) / 10000 AS rbo
        |FROM per ORDER BY query_id""".stripMargin)
  )
}
