package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.DiffSync
import graft.functions.Similarity
import Fixtures._

/** Streaming twins (`stream_*`): each runs a real Structured Streaming
  * query over a deterministic multi-batch replay of a fixture (see
  * [[Fixtures.streamPrefix]]) and must equal its batch twin's oracle.
  */
object StreamGates {

  /** stream_scd2_apply's end state: folds the classified CDC stream
    * micro-batch by micro-batch into the versioned dimension and returns
    * the final folded frame.
    */
  private def buildScd2Stream(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
    var dim = ord.filter(col("o_orderkey") % 10 =!= 3)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        lit("2025-01-01").as("valid_from"),
        lit(null).cast("string").as("valid_to"),
        lit(true).as("is_current"))
      .localCheckpoint()
    val changes = DiffSync.diff(
        diffSrc(s, dir).drop("o_custkey"),
        diffTgt(s, dir).drop("o_custkey"), Seq("o_orderkey"))
      .filter(col(DiffSync.FlagCol) =!= "identical")
    val stream = streamPrefixBy(s, changes,
      pmod(col("o_orderkey"), lit(3)).cast("int"), 3,
      Some(s"$dir|cdc-scd2"))
    val chk = trackStreamTmp(
      java.nio.file.Files.createTempDirectory("graft_scd2_chk"))
    val q = stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", chk.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // localCheckpoint per fold: cuts the lineage (the plan
        // would otherwise double per batch) and makes the fold
        // durable for the next micro-batch
        dim = graft.operators.Scd2.applyCdc(dim, batch,
            "o_orderkey", Seq("o_totalprice"), DiffSync.FlagCol,
            lit("2026-01-01"))
          .localCheckpoint()
      }
      .start()
    q.awaitTermination()
    dim
  }

  /** stream_sync_apply's end state: seeds a new in-memory Derby target
    * with the diff fixture's target state, streams the classified CDC
    * diff through continuousSyncWriter in 3 micro-batches, and returns
    * the target's JDBC URL.
    */
  private def buildSyncTarget(s: SparkSession, dir: String): String = {
    val u = "jdbc:derby:memory:graft_sync_" +
      java.util.UUID.randomUUID().toString.replace("-", "") +
      ";create=true"
    // DDL-create with UNQUOTED identifiers (Derby uppercases them
    // — what applyToJdbc's unquoted SQL expects); Spark's append
    // writer then resolves names against the existing table
    // case-insensitively (the SyncDemo pattern)
    val conn = java.sql.DriverManager.getConnection(u)
    try conn.createStatement().executeUpdate(
      "CREATE TABLE SYNC_TARGET (o_orderkey BIGINT NOT NULL " +
        "PRIMARY KEY, o_custkey BIGINT, o_totalprice DOUBLE)")
    finally conn.close()
    graft.operators.JdbcSink.write(diffTgt(s, dir),
      graft.operators.JdbcSink.Spec(u, "SYNC_TARGET", "", "",
        numPartitions = 4, truncate = false,
        relaxDurability = false, rewriteBatchedInserts = false))
    val changes = DiffSync.diff(diffSrc(s, dir), diffTgt(s, dir),
        Seq("o_orderkey"))
      .filter(col(DiffSync.FlagCol) =!= "identical")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        when(col(DiffSync.FlagCol) === "deleted", lit("delete"))
          .otherwise(lit("upsert")).as("op"))
    val stream = streamPrefixBy(s, changes,
      pmod(col("o_orderkey"), lit(3)).cast("int"), 3,
      Some(s"$dir|cdc-sync"))
    val chk = trackStreamTmp(
      java.nio.file.Files.createTempDirectory("graft_sync_chk"))
    val q = graft.streaming.EventStream.continuousSyncWriter(
        stream, Seq("o_orderkey"),
        DiffSync.SyncTarget(u, "SYNC_TARGET", "", "",
          dialect = "generic"),
        chk.toString, opCol = Some("op"),
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    u
  }

  /** stream_vector_sync's end state: builds the corrupted-twin base
    * store, streams the CDC upsert/delete batches through
    * streamingVectorSync, and returns the synced store's dir.
    */
  private def buildVectorSyncStore(s: SparkSession, dir: String): String = {
    val (corpus, _) = plantedAnnFixture(s, dir)
    val cents = Similarity.ivfCentroids(corpus, "vec_id",
      "embedding", 16)
    val band = floor(col("vec_id") / 100000L)
    val corrupted = corpus.filter(band.between(1, 3))
      .select(col("vec_id"),
        transform(col("embedding"), x => x * lit(-1.0))
          .as("embedding"))
    // naturals = everything OUTSIDE the planted-twin bands 1–5
    // (not just band 0): with the fixture assert this is
    // equivalent, but it stays correct if naturals ever grow past
    // vec_id 600000
    val base = corpus.filter(!band.between(1, 5))
      .unionByName(corrupted)
    val idx = trackStreamTmp(
      java.nio.file.Files.createTempDirectory("graft_vsync_idx"))
    Similarity.graphAnnBuild(base, "vec_id", "embedding", cents,
        degree = 8, efConstruction = 64)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(idx.toString)
    val changes = corpus.filter(band.isin(1, 3, 5))
      .select(col("vec_id"), col("embedding"),
        lit("upsert").as("op"))
      .unionByName(corpus.filter(band.isin(2, 4))
        .select(col("vec_id"), col("embedding"),
          lit("delete").as("op")))
    val stream = streamPrefixBy(s, changes,
      pmod(col("vec_id"), lit(3)).cast("int"), 3,
      Some(s"$dir|vec-sync"))
    val chk = trackStreamTmp(
      java.nio.file.Files.createTempDirectory("graft_vsync_chk"))
    val q = graft.streaming.VectorIngest.streamingVectorSync(
        stream, "vec_id", "embedding", "op", cents, idx.toString,
        chk.toString, degree = 8, efConstruction = 64,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    idx.toString
  }

  /** Shared oracle of the streaming exact-dedup twins (NoTimeout +
    * TTL): keeper per fingerprint = min-id row of the earliest slice
    * (doc_id % 3) containing it — the operator's first-batch min-id
    * rule under the deterministic stream-prefix fixture.
    */
  private val dedupExactStreamOracle: String =
    """SELECT doc_id, text, fp FROM (
      |  SELECT doc_id, text,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |    ROW_NUMBER() OVER (
      |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
      |      ORDER BY doc_id % 3, doc_id) AS rn
      |  FROM documents) t
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Shared oracle of the streaming A-ES sampler twins (NoTimeout +
    * TTL): the batch weightedSample replayed bit-for-bit.
    */
  private val weightedSampleStreamOracle: String =
    """SELECT doc_id, w FROM (
      |  SELECT doc_id, strlen(text) AS w,
      |    pow((CAST(('0x' || substr(md5('wsample|' ||
      |        CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 0.5)
      |      / 1152921504606846976.0,
      |      1.0 / strlen(text)) AS k
      |  FROM documents
      |  ORDER BY k DESC, doc_id LIMIT 200) t
      |ORDER BY doc_id""".stripMargin

  /** Shared oracle of the streaming quota sampler twins (NoTimeout +
    * TTL): the batch quotaSample replayed verbatim.
    */
  private val quotaSampleStreamOracle: String =
    """WITH r AS (
      |  SELECT doc_id, source,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY md5('quota|' || CAST(doc_id AS VARCHAR)), doc_id)
      |      AS BIGINT) AS pick_rank
      |  FROM documents)
      |SELECT doc_id, source, pick_rank FROM r
      |WHERE pick_rank <= 20 ORDER BY doc_id""".stripMargin

  /** stream_pattern_multi oracle: the per-pattern journey counts,
    * one labeled block per pattern.
    */
  private val patternMultiOracle: String = """WITH j AS (
        |  SELECT user_id, string_agg(CASE event_type WHEN 'view' THEN 'v'
        |      WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
        |      WHEN 'signup' THEN 's' ELSE 'e' END, ''
        |      ORDER BY ts, event_id) AS journey
        |  FROM events GROUP BY user_id),
        |c AS (
        |  SELECT user_id, 'vp_run' AS pattern,
        |    CAST(len(journey) AS INT) AS n_events,
        |    CAST(len(regexp_extract_all(journey, 'v[ce]*p')) AS INT)
        |      AS n_matches
        |  FROM j
        |  UNION ALL
        |  SELECT user_id, 'sp_run',
        |    CAST(len(journey) AS INT),
        |    CAST(len(regexp_extract_all(journey, 's[vce]*p')) AS INT)
        |  FROM j)
        |SELECT user_id, pattern, n_events, n_matches FROM c
        |WHERE n_matches > 0
        |ORDER BY user_id, pattern""".stripMargin

  val gates: Seq[Gate] = Seq(

    Gate("stream_pattern_multi", (s, dir) => {
      // k journey patterns matched in ONE streaming pass: the chars
      // decode once per event and feed k independent Pike engines
      // riding together in keyed state (O(Σ automaton sizes) per
      // user). Patterns: the funnel run and the signup-to-purchase
      // run. Latest row per (user, pattern) by n_events; must equal
      // the per-pattern batch oracles exactly.
      val stream = eventsTertileStream(s, dir,
        Seq("user_id", "ts", "event_type", "event_id"))
      val emitted = runToMemory(
        graft.streaming.EventStream.streamingSequencePatternMulti(
          stream, "user_id", "event_type", "ts", "event_id",
          (t: String) => t match {
            case "view" => "v"; case "click" => "c"
            case "purchase" => "p"; case "signup" => "s"
            case _ => "e"
          }, Seq(("vp_run", "v[ce]*p"), ("sp_run", "s[vce]*p"))),
        "append")
      val w = Window.partitionBy(col("user_id"), col("pattern"))
        .orderBy(col("n_events").desc)
      emitted.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && col("n_matches") > 0)
        .select(col("user_id"), col("pattern"), col("n_events"),
          col("n_matches"))
        .orderBy(col("user_id"), col("pattern"))
    },
      patternMultiOracle),

    Gate("stream_pattern_multi_ttl", (s, dir) => {
      // TTL-evicting k-pattern matcher: one shared char decode, k Pike
      // engines per user, sliding event-time TTL on the whole state.
      // The 100-year horizon exceeds the fixture span, so the result
      // must equal stream_pattern_multi's batch oracle verbatim.
      val stream = eventsTertileStream(s, dir,
        Seq("user_id", "ts", "event_type", "event_id"))
      val emitted = runToMemory(
        graft.streaming.EventStream.streamingSequencePatternMultiTtl(
          stream, "user_id", "event_type", "ts", "event_id",
          (t: String) => t match {
            case "view" => "v"; case "click" => "c"
            case "purchase" => "p"; case "signup" => "s"
            case _ => "e"
          }, Seq(("vp_run", "v[ce]*p"), ("sp_run", "s[vce]*p")),
          ttlMs = 3155760000000L), "append")
      val w = Window.partitionBy(col("user_id"), col("pattern"))
        .orderBy(col("n_events").desc)
      emitted.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && col("n_matches") > 0)
        .select(col("user_id"), col("pattern"), col("n_events"),
          col("n_matches"))
        .orderBy(col("user_id"), col("pattern"))
    },
      patternMultiOracle),

    Gate("stream_neardup_lsh", (s, dir) => {
      // the STREAMING near-dup twin under the batch oracle: the corpus
      // replays as 3 deterministic micro-batches (stream-prefix
      // fixture), the band index accumulates as keyed state, and the
      // cumulative pair set must equal dedup_minhash_lsh's batch
      // self-join EXACTLY — pair sets are arrival-order independent,
      // which is what makes this twin oracle-gateable. Portable md5
      // signatures (the oracle's replay path); maxBucket uncapped so
      // cap semantics can't fork the comparison.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val stream = streamPrefix(s, docs, "doc_id", 3,
        Some(s"$dir|docs3|full"))
      runToMemory(graft.streaming.EventStream.streamingNearDupCandidates(
          stream, "doc_id", "text", numHashes = 16, bands = 4,
          ngramN = 3, maxBucket = Int.MaxValue, portable = true),
        "append")
        .select(col("id_a"), col("id_b")).distinct()
        .orderBy(col("id_a"), col("id_b"))
    },
      // the streaming band index accumulates the same buckets, so the
      // cumulative pair set replays with the batch self-join oracle
      DedupGates.minhashLshOracle),

    Gate("stream_neardup_ttl", (s, dir) => {
      // the TTL-evicting near-dup candidate index (round 15): band
      // buckets idle past the horizon leave the state store — the
      // NoTimeout twin's total state grows with every distinct bucket
      // ever seen, forever, on a content-churning corpus. Horizon
      // past the synthetic event-time span + a watermark delay
      // spanning the id range (slices are id-mod) → nothing evicts,
      // nothing is late, and the pair set must equal the batch LSH
      // self-join verbatim (the shared oracle).
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          timestamp_seconds(col("doc_id") + 1).as("ts"))
      val stream = streamPrefix(s, docs, "doc_id", 3,
        Some(s"$dir|docs3|full_ts"))
      runToMemory(graft.streaming.EventStream.streamingNearDupCandidatesTtl(
          stream, "doc_id", "text", "ts", ttlMs = 3155760000000L,
          numHashes = 16, bands = 4, ngramN = 3,
          maxBucket = Int.MaxValue, portable = true,
          watermarkDelay = "36500 days"),
        "append")
        .select(col("id_a"), col("id_b")).distinct()
        .orderBy(col("id_a"), col("id_b"))
    },
      DedupGates.minhashLshOracle),

    Gate("stream_dedup_exact", (s, dir) => {
      // streaming exact dedup under the oracle: kept = per
      // fingerprint, the min-id row of the EARLIEST micro-batch
      // containing it (the operator keeps min-id within the first
      // batch; slices are doc_id % 3, so the keep rule is
      // argmin(batch_idx, doc_id) — fully deterministic and
      // SQL-replayable because the fixture's batch assignment is a
      // pure function of doc_id).
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val stream = streamPrefix(s, docs, "doc_id", 3,
        Some(s"$dir|docs3|full"))
      runToMemory(graft.streaming.EventStream.streamingExactDedup(
          stream, "doc_id", "text"), "append")
        .select(col("doc_id"), col("text"), col("fp"))
        .orderBy(col("doc_id"))
    },
      dedupExactStreamOracle),

    Gate("stream_dedup_ttl", (s, dir) => {
      // the TTL-evicting dedup under the SAME oracle: with a horizon
      // past the synthetic event-time span (and a watermark delay
      // spanning the whole id range — slices are id-mod, not
      // time-contiguous) nothing expires and nothing is late, so the
      // keeper rule must equal streamingExactDedup exactly. The
      // within-horizon/re-admission semantics are spec-driven
      // (EventStreamSpec "TTL dedup").
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          timestamp_seconds(col("doc_id") + 1).as("ts"))
      val stream = streamPrefix(s, docs, "doc_id", 3,
        Some(s"$dir|docs3|full_ts"))
      runToMemory(graft.streaming.EventStream.streamingExactDedupTtl(
          stream, "doc_id", "text", "ts", ttlMs = 3155760000000L,
          watermarkDelay = "36500 days"), "append")
        .select(col("doc_id"), col("text"), col("fp"))
        .orderBy(col("doc_id"))
    },
      // the TTL twin under a horizon past the fixture span is
      // bit-identical to the NoTimeout dedup by contract
      dedupExactStreamOracle),

    Gate("stream_window_agg", (s, dir) => {
      // watermarked append-mode windowed aggregation under the
      // oracle: the events table streams in 3 slices, tumbling 1-hour
      // windows FINALIZE (and only then emit) when the 2-hour
      // watermark passes their end — so the emitted set is exactly
      // the windows with end <= max(ts) − 2h. Deterministic
      // regardless of slicing: the final watermark is the global max
      // event time, and a window emits in whichever batch first
      // crosses it. The tail windows above the watermark are the
      // documented append-mode loss — the oracle models it, which is
      // the point: watermark semantics themselves are gated.
      // time-contiguous tertile slices (exact integer arithmetic):
      // batch i's rows are all newer than batch i−1's, so nothing is
      // late and the watermark advances like a real in-order stream
      val stream = eventsTertileStream(s, dir,
          Seq("event_id", "ts", "event_type", "value"))
        .withWatermark("ts", "2 hours")
      runToMemory(graft.streaming.EventStream.windowedAgg(
          stream, "1 hour"), "append")
        .withColumn("window_start",
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss"))
        .withColumn("sum_value", col("sum_value").cast("double"))
        .orderBy(col("window_start"), col("event_type"))
    },
      // the batch window aggregate RESTRICTED to finalized windows:
      // end <= max(ts) − 2h (the final watermark) — append-mode
      // emission semantics modeled exactly
      """WITH wm AS (
        |  SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
        |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |    AS window_start,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DECIMAL(18,3))
        |    AS DOUBLE) AS sum_value
        |FROM events, wm
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Gate("stream_session_window", (s, dir) => {
      // watermarked session windows under the oracle: gap sessions
      // merge across micro-batches in state and FINALIZE when the
      // watermark passes session end (= last event + gap). With
      // time-contiguous slices the emitted set is exactly the batch
      // sessions with end <= max(ts) − 2h: a session old enough to
      // finalize at a batch boundary cannot have a merging
      // continuation (the next batch's events are ≥ 2.5h past its
      // last event — far beyond the 30-minute gap), so cross-batch
      // merging and finalization never disagree with batch.
      val stream = eventsTertileStream(s, dir,
          Seq("event_id", "ts", "user_id", "value"))
        .withWatermark("ts", "2 hours")
      runToMemory(graft.streaming.EventStream.sessionWindowAgg(
          stream, "30 minutes"), "append")
        .select(col("user_id"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("n_events"), col("sum_value").cast("double").as("sum_value"))
        .orderBy(col("user_id"), col("start_us"))
    },
      // the events_session_window replay restricted to FINALIZED
      // sessions: end (= last event + gap) <= max(ts) − 2h
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        |  FROM events),
        |wm AS (SELECT epoch_us(max(ts)) - 7200000000 AS w FROM events),
        |b AS (
        |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |      OR ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1 ELSE 0
        |    END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (
        |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY
        |    ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM b),
        |sess AS (
        |  SELECT user_id, MIN(ts_us) AS start_us,
        |    MAX(ts_us) + 1800000000 AS end_us, COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |  FROM s GROUP BY user_id, sid)
        |SELECT sess.* FROM sess, wm WHERE sess.end_us <= wm.w
        |ORDER BY user_id, start_us""".stripMargin),

    Gate("stream_token_drift", (s, dir) => {
      // streaming token counts → batch drift scorer, end to end under
      // the oracle: the odd-doc half streams in 3 micro-batches
      // through cumulative keyed state (one UPDATE row per touched
      // token per batch); the LATEST count per token (max — counts
      // are monotone) must equal the batch wordcount, so scoring
      // against the even-half reference equals profile_top_movers'
      // batch operator exactly.
      val docs = t(s, dir, "documents")
      val live = streamPrefix(s,
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("text")), "doc_id", 3,
        Some(s"$dir|docs3|odd"))
      val counts = runToMemory(
          graft.streaming.EventStream.streamingTokenCounts(live, "text"),
          "update")
        .groupBy(col("token")).agg(max(col("cnt")).as("cnt"))
      val ref = graft.operators.Profile.tokenCounts(
        docs.filter(col("doc_id") % 2 === 0), "text")
      graft.operators.Profile.scoreDriftCounts(ref, counts, k = 20)
    },
      // the streaming twin's cumulative counts equal the batch
      // wordcount, so the SAME oracle gates both
      ProfileGates.topMoversOracle),

    Gate("stream_quota_sample", (s, dir) => {
      // the quota-curation loop as a CONTINUOUS job: documents stream
      // in 3 micro-batches; per-source keyed state keeps the cap
      // smallest (salted-md5, id) pairs (O(cap) per stratum) and each
      // batch emits the stratum's current pick set with its running
      // seen count. The latest emission per stratum (max seen) must
      // equal the batch quotaSample over the whole corpus — including
      // cross-batch evictions (a later smaller hash displaces an
      // earlier pick exactly as the batch rank filter would). Oracle:
      // curate_quota_sample's SQL verbatim.
      val docs = t(s, dir, "documents")
      val live = streamPrefix(s,
        docs.select(col("doc_id"), col("source")), "doc_id", 3,
        Some(s"$dir|docs3|quota"))
      val emitted = runToMemory(
        graft.streaming.EventStream.streamingQuotaSample(
          live, "doc_id", "source", cap = 20), "append")
      val w = Window.partitionBy(col("stratum"))
        .orderBy(col("seen").desc)
      emitted.withColumn("__dr", dense_rank().over(w))
        .filter(col("__dr") === 1)
        .select(col("id").as("doc_id"), col("stratum").as("source"),
          col("pick_rank"))
        .orderBy(col("doc_id"))
    },
      // streaming quota sampling: the latest per-stratum emission must
      // equal the batch quotaSample verbatim (TTL twin likewise)
      quotaSampleStreamOracle),

    Gate("stream_quota_ttl", (s, dir) => {
      // TTL-evicting quota sampler (round 15): per-stratum state ages
      // out `ttlMs` after the stratum's last sighting — TOTAL state
      // bounded under stratum churn (per-domain quotas over a crawl's
      // long-tail source column). Event time here is synthetic
      // (timestamp_seconds(doc_id)) and the id-sliced batches are NOT
      // time-contiguous, so the watermark delay spans the whole id
      // range — no row is late, nothing evicts, and the final reduce
      // must equal the batch quotaSample verbatim (the op's documented
      // within-horizon contract; EventStreamSpec drives real
      // evictions).
      val docs = t(s, dir, "documents")
      val live = streamPrefix(s,
        // +1: doc_id 0 would land exactly ON the initial watermark
        // (epoch 0) and be dropped as late by the stateful operator
        docs.select(col("doc_id"), col("source"),
          timestamp_seconds(col("doc_id") + 1).as("ts")), "doc_id", 3,
        Some(s"$dir|docs3|quota_ts"))
      val emitted = runToMemory(
        graft.streaming.EventStream.streamingQuotaSampleTtl(
          live, "doc_id", "source", "ts", cap = 20,
          ttlMs = 3155760000000L, watermarkDelay = "36500 days"),
        "append")
      val w = Window.partitionBy(col("stratum"))
        .orderBy(col("seen").desc)
      emitted.withColumn("__dr", dense_rank().over(w))
        .filter(col("__dr") === 1)
        .select(col("id").as("doc_id"), col("stratum").as("source"),
          col("pick_rank"))
        .orderBy(col("doc_id"))
    },
      quotaSampleStreamOracle),

    Gate("stream_weighted_sample", (s, dir) => {
      // continuous A-ES weighted sampling: documents stream in 3
      // micro-batches across 8 deterministic shards whose keyed state
      // keeps per-shard top-200 by the batch operator's exact rank
      // key (state O(shards*k)). Latest emission per shard, then the
      // global top-200 by (key DESC, id) — must equal the batch
      // weightedSample verbatim (the per-shard union necessarily
      // contains the global top-k). Oracle: curate_weighted_sample's
      // SQL verbatim.
      val docs = t(s, dir, "documents")
      val live = streamPrefix(s,
        docs.select(col("doc_id"),
          octet_length(col("text")).as("w")), "doc_id", 3,
        Some(s"$dir|docs3|wsample"))
      val emitted = runToMemory(
        graft.streaming.EventStream.streamingWeightedSample(
          live, "doc_id", "w", k = 200, shards = 8), "append")
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("seen").desc)
      emitted.withColumn("__dr", dense_rank().over(w))
        .filter(col("__dr") === 1)
        .orderBy(col("wkey").desc, col("id"))
        .limit(200)
        .select(col("id").as("doc_id"), col("w").cast("int").as("w"))
        .orderBy(col("doc_id"))
    },
      // streaming A-ES weighted sampling: latest per-shard top-k, global
      // reduce = the batch sample verbatim — and the TTL twin under a
      // horizon longer than the fixture is bit-identical by contract
      weightedSampleStreamOracle),

    Gate("stream_weighted_ttl", (s, dir) => {
      // TTL variant of the sharded A-ES sampler: a shard idle past the
      // TTL finalizes and resets (a sample-horizon contract — the
      // shard key space is already bounded). Horizon exceeds the
      // synthetic event-time span, so the reduce must equal the batch
      // weightedSample verbatim, same as the NoTimeout twin.
      val docs = t(s, dir, "documents")
      val live = streamPrefix(s,
        // +1: see stream_quota_ttl — epoch-0 event time is late
        docs.select(col("doc_id"),
          octet_length(col("text")).as("w"),
          timestamp_seconds(col("doc_id") + 1).as("ts")), "doc_id", 3,
        Some(s"$dir|docs3|wsample_ts"))
      val emitted = runToMemory(
        graft.streaming.EventStream.streamingWeightedSampleTtl(
          live, "doc_id", "w", "ts", k = 200,
          ttlMs = 3155760000000L, shards = 8,
          watermarkDelay = "36500 days"), "append")
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("seen").desc)
      emitted.withColumn("__dr", dense_rank().over(w))
        .filter(col("__dr") === 1)
        .orderBy(col("wkey").desc, col("id"))
        .limit(200)
        .select(col("id").as("doc_id"), col("w").cast("int").as("w"))
        .orderBy(col("doc_id"))
    },
      weightedSampleStreamOracle),

    Gate("stream_sync_apply", (s, dir) => {
      // CONTINUOUS CDC SYNC end to end under the batch oracle — the
      // streaming twin of c16_sync_apply and the reference's third
      // capability (the incremental Kettle job, pl:4269–5032): the
      // classified diff (new/changed/deleted) streams as CDC rows in
      // 3 micro-batches into continuousSyncWriter's foreachBatch
      // upsert/delete loop against a real JDBC target (in-memory
      // Derby, generic dialect) seeded with the diff fixture's target
      // state. Batch assignment is pmod(pk, 3) — each key changes at
      // most once, and upserts/deletes are keyed, so arrival order
      // across batches cannot fork the final state. The final target
      // table must equal the source table — c16's own oracle SQL,
      // verbatim. Insert, update AND delete tombstones are all
      // exercised by construction (keys %10==3 are new, %7==0 are
      // changed, %10==4 are deleted).
      val url = buildSyncTarget(s, dir)
      s.read.format("jdbc").option("url", url)
        .option("dbtable", "SYNC_TARGET").load()
        // Derby uppercases unquoted identifiers on read-back
        .select(col("O_ORDERKEY").as("o_orderkey"),
          col("O_CUSTKEY").as("o_custkey"),
          col("O_TOTALPRICE").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },
      // the continuous CDC sync must converge to the batch apply's
      // state — c16's oracle, verbatim
      MigrationGates.syncApplyOracle),

    Gate("stream_scd2_apply", (s, dir) => {
      // STREAMING SCD2: the classified CDC stream folds micro-batch
      // by micro-batch into the versioned dimension via
      // Scd2.applyCdc (delta semantics: absence = no news; deletes
      // are explicit tombstones) — foreachBatch + merge, the
      // production MERGE-INTO shape. Each key changes at most once
      // across the stream, so the folded result must equal ONE batch
      // apply2 of the full snapshot — c20_scd2_apply's own oracle,
      // verbatim. Exercises close-reopen (changed), insert (new) and
      // close-only (deleted tombstone) version chaining.
      buildScd2Stream(s, dir)
        .orderBy(col("o_orderkey"), col("valid_from"), col("is_current"))
    },
      // the streaming CDC fold must converge to the batch apply —
      // c20's oracle, verbatim
      MigrationGates.scd2ApplyOracle),

    Gate("stream_graph_ingest", (s, dir) => {
      // STREAMING GRAPH-INDEX INGEST end to end under the brute-force
      // oracle — the stream_sync_apply pattern for the vector store:
      // the planted ANN corpus streams in 3 micro-batches (pmod(id,3)
      // slices; the exactness contract is insertion-order
      // independent, so slice assignment is free to be arbitrary)
      // through streamingGraphIngest's foreachBatch into the parquet
      // cell store — each batch probes only its touched cells, builds
      // via search-and-link against the FROZEN quantizer, and
      // dynamic-overwrites those partitions. The search over the
      // STREAMED store at full-probe exactness (ef ≥ any cell
      // population) must equal brute force over the whole corpus —
      // the same plantedAnnOracle every batch ANN gate runs, which
      // passes iff every streamed vector landed in the right cell
      // with a walkable graph.
      val idxDir = graphIngestStore(s, dir)
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
        16)
      Similarity.graphAnnTopKIndexed(graft.streaming.VectorStore.read(s, idxDir), "vec_id",
          "embedding", queries, "query_id", "qvec", k = 5, cents,
          nprobe = 4, ef = 1024)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    },
      SimGates.plantedAnnOracle),

    Gate("stream_vector_sync", (s, dir) => {
      // FULL CDC LOOP on the vector store — continuousSyncWriter's
      // shape aimed at the graph index: the base store holds the
      // naturals plus CORRUPTED (negated, rank-bottom) twins for
      // bands 1–3 and no twins for bands 4–5; the CDC stream then
      // upserts the TRUE vectors of bands 1, 3, 5 (1 and 3 are
      // UPDATES that must move the node across cells — the negated
      // vector sits in a different quantizer cell — and 5 is an
      // INSERT) and deletes bands 2 and 4 (2 removes an existing
      // node, 4 is a tombstone for an id that never existed → no-op).
      // Final store = naturals + true twins of bands 1/3/5, so the
      // top-3 search equals the remove oracle (brute force minus
      // bands 2/4) — which holds iff all four CDC paths applied.
      val idxDir = buildVectorSyncStore(s, dir)
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
      // the CDC sync stream's net survivors == the remove oracle's
      SimGates.plantedAnnRemoveOracle),

    Gate("stream_pattern_match", (s, dir) => {
      // order-contracted streaming twin of events_pattern_match with
      // BOUNDED keyed state: per-user state is the incremental Pike-VM
      // automaton state (graft.streaming.PikeRegex — O(NFA states)
      // per user, independent of journey length), fed each batch's
      // chars once in (ts, event_id) order; pattern runs spanning
      // micro-batch boundaries count exactly once because the threads
      // carry across the boundary (time-contiguous tertile slices
      // satisfy the arrival contract). The cumulative append sink
      // reduces to the final state by argmax(n_events); must equal
      // the batch oracle verbatim.
      val stream = eventsTertileStream(s, dir,
        Seq("user_id", "ts", "event_type", "event_id"))
      val emitted = runToMemory(
        graft.streaming.EventStream.streamingSequencePattern(
          stream, "user_id", "event_type", "ts", "event_id",
          (t: String) => t match {
            case "view" => "v"; case "click" => "c"
            case "purchase" => "p"; case "signup" => "s"
            case _ => "e"
          }, "v[ce]*p"), "append")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("n_events").desc)
      emitted.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && col("n_matches") > 0)
        .select(col("user_id"), col("n_events"), col("n_matches"))
        .orderBy(col("user_id"))
    },
      // the streaming journey fold must converge to the batch result;
      // the TTL twins are bit-identical when the horizon outlives the
      // fixture (their own gates pin exactly that, tri-SF)
      EventGates.patternMatchOracle),

    Gate("stream_pattern_ttl", (s, dir) => {
      // the TTL-EVICTING pattern matcher (round 15): identical
      // semantics to stream_pattern_match WITHIN the TTL horizon —
      // here the horizon (100 years) exceeds the fixture span, so no
      // key evicts and the result must be bit-identical to the
      // NoTimeout twin under the same batch oracle. TOTAL state is
      // bounded by keys active inside one horizon (the NoTimeout twin
      // accumulates dormant users forever — EventStreamSpec drives
      // real evictions; ScaleSmoke's churn column measures flatness).
      val stream = eventsTertileStream(s, dir,
        Seq("user_id", "ts", "event_type", "event_id"))
      val emitted = runToMemory(
        graft.streaming.EventStream.streamingSequencePatternTtl(
          stream, "user_id", "event_type", "ts", "event_id",
          (t: String) => t match {
            case "view" => "v"; case "click" => "c"
            case "purchase" => "p"; case "signup" => "s"
            case _ => "e"
          }, "v[ce]*p", ttlMs = 3155760000000L), "append")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("n_events").desc)
      emitted.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && col("n_matches") > 0)
        .select(col("user_id"), col("n_events"), col("n_matches"))
        .orderBy(col("user_id"))
    },
      EventGates.patternMatchOracle),

    Gate("stream_funnel", (s, dir) => {
      // the ORDER-CONTRACTED streaming funnel under the batch oracle:
      // the in-order-arrival contract (streamingFunnel's scaladoc) is
      // satisfied by the same time-contiguous tertile slices as the
      // watermarked gates — batch i's events are all newer than batch
      // i−1's, so per-user arrival is event-time-ordered and a tie
      // can never split across a boundary (equal ts → same slice).
      // Per user the emitted max_step strictly increases (in-order
      // arrival means steps only ever FILL upward), so the cumulative
      // append sink reduces to the final state by argmax(max_step) —
      // which must equal the batch funnel (events_funnel's oracle
      // verbatim).
      val stream = eventsTertileStream(s, dir,
        Seq("user_id", "ts", "event_type"))
      val emitted = runToMemory(
        graft.streaming.EventStream.streamingFunnel(
          stream.withColumn("ts_us", unix_micros(col("ts"))),
          "user_id", "event_type", "ts_us",
          Seq("view", "click", "purchase")), "append")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("max_step").desc)
      emitted.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"),
          element_at(col("steps_us"), 1).as("step1_us"),
          element_at(col("steps_us"), 2).as("step2_us"),
          element_at(col("steps_us"), 3).as("step3_us"),
          col("max_step"))
        .orderBy(col("user_id"))
    },
      // the order-contracted twins share their batch oracles verbatim:
      // time-contiguous slices make the stream's final keyed state equal
      // the batch computation (see the gate comments)
      EventGates.funnelOracle),

    Gate("stream_funnel_ttl", (s, dir) => {
      // TTL twin of stream_funnel: dormant users re-emit their final
      // (steps, max_step) row on eviction and leave the state store;
      // horizon past the fixture span → equals the batch funnel
      // oracle verbatim. Takes the raw ts column (the TTL variant
      // derives step microseconds itself — the watermark needs the
      // event-time column).
      val stream = eventsTertileStream(s, dir,
        Seq("user_id", "ts", "event_type"))
      val emitted = runToMemory(
        graft.streaming.EventStream.streamingFunnelTtl(
          stream, "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"),
          ttlMs = 3155760000000L), "append")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("max_step").desc)
      emitted.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"),
          element_at(col("steps_us"), 1).as("step1_us"),
          element_at(col("steps_us"), 2).as("step2_us"),
          element_at(col("steps_us"), 3).as("step3_us"),
          col("max_step"))
        .orderBy(col("user_id"))
    },
      // the round-15 TTL twins share the batch oracles verbatim: with a
      // horizon past the fixture span they are bit-identical to the
      // NoTimeout twins by contract (eviction semantics are spec-driven)
      EventGates.funnelOracle),

    Gate("stream_cohort_retention", (s, dir) => {
      // streaming cohort twin under the batch oracle: per-user keyed
      // state emits one delta row per first (user, period-offset)
      // sighting; in-order arrival (time-contiguous slices) fixes the
      // cohort at the user's true first event. The downstream
      // retention matrix is the documented additive consumer — count
      // of deltas per cell — and must equal the batch
      // events_cohort_retention oracle verbatim (periodDays=1, the
      // dense ~450-cell daily matrix).
      val stream = eventsTertileStream(s, dir, Seq("user_id", "ts"))
      // localCheckpoint: the retention matrix SELF-JOINS the delta
      // table (cells ⋈ sizes) and a MemoryPlan view reuses the same
      // attribute ids on both sides — the analyzer dies with
      // "conflicting references". The cut also matches the consumer
      // contract (the matrix reads the STORED delta log).
      val deltas = runToMemory(
        graft.streaming.EventStream.streamingCohortActivity(
          stream, "user_id", "ts", periodDays = 1), "append")
        .localCheckpoint()
      val cells = deltas
        .groupBy(col("cohort_period"), col("period_offset"))
        .agg(count(lit(1)).as("n_active"))
      val sizes = cells.filter(col("period_offset") === 0)
        .select(col("cohort_period"), col("n_active").as("n_cohort"))
      cells.join(broadcast(sizes), "cohort_period")
        .select(col("cohort_period"), col("period_offset"),
          col("n_active"), col("n_cohort"),
          (col("n_active").cast("double") / col("n_cohort"))
            .as("retention_rate"))
        .orderBy(col("cohort_period"), col("period_offset"))
    },
      EventGates.cohortOracle),

    Gate("stream_cohort_ttl", (s, dir) => {
      // TTL twin of stream_cohort_retention: dormant users' (cohort,
      // offsets) state evicts silently (re-emitting deltas would
      // double-count the additive matrix); horizon past the fixture
      // span → equals the batch cohort oracle verbatim.
      val stream = eventsTertileStream(s, dir, Seq("user_id", "ts"))
      val deltas = runToMemory(
        graft.streaming.EventStream.streamingCohortActivityTtl(
          stream, "user_id", "ts", ttlMs = 3155760000000L,
          periodDays = 1), "append")
        .localCheckpoint()
      val cells = deltas
        .groupBy(col("cohort_period"), col("period_offset"))
        .agg(count(lit(1)).as("n_active"))
      val sizes = cells.filter(col("period_offset") === 0)
        .select(col("cohort_period"), col("n_active").as("n_cohort"))
      cells.join(broadcast(sizes), "cohort_period")
        .select(col("cohort_period"), col("period_offset"),
          col("n_active"), col("n_cohort"),
          (col("n_active").cast("double") / col("n_cohort"))
            .as("retention_rate"))
        .orderBy(col("cohort_period"), col("period_offset"))
    },
      EventGates.cohortOracle),

    Gate("stream_transitions", (s, dir) => {
      // the keyed last-event-state transition twin under the batch
      // oracle: time-contiguous slices give per-user (ts, event_id)
      // arrival order globally (equal ts → same slice; within a batch
      // the operator sorts by (ts, eid) itself), so the cumulative
      // emitted pairs are exactly the batch lag-1 pairs; the matrix
      // aggregation downstream is transitionMatrix's own.
      val stream = eventsTertileStream(s, dir,
        Seq("event_id", "ts", "user_id", "event_type"))
      // localCheckpoint: totals self-joins the delta-derived cells
      // (the MemoryPlan conflicting-references trap, as in the cohort
      // gate) and the matrix reads the STORED pair log by contract
      val pairs = runToMemory(
        graft.streaming.EventStream.streamingTransitions(
          stream, "user_id", "event_type", "ts", "event_id"), "append")
        .localCheckpoint()
      val cells = pairs.groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = cells.groupBy(col("from_type"))
        .agg(sum(col("n")).as("__tot"))
      cells.join(broadcast(totals), "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          (floor(col("n").cast("double") / col("__tot").cast("double")
            * 10000) / 10000).as("p"))
        .orderBy(col("from_type"), col("to_type"))
    },
      EventGates.transitionsOracle),

    Gate("stream_transitions_ttl", (s, dir) => {
      // TTL twin of stream_transitions (round 15): dormant users
      // leave the state store; horizon past the fixture span → the
      // cumulative pairs equal the batch lag-1 pairs verbatim under
      // the same oracle. Same tertile fixture, same reduce.
      val stream = eventsTertileStream(s, dir,
        Seq("event_id", "ts", "user_id", "event_type"))
      val pairs = runToMemory(
        graft.streaming.EventStream.streamingTransitionsTtl(
          stream, "user_id", "event_type", "ts", "event_id",
          ttlMs = 3155760000000L), "append")
        .localCheckpoint()
      val cells = pairs.groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = cells.groupBy(col("from_type"))
        .agg(sum(col("n")).as("__tot"))
      cells.join(broadcast(totals), "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          (floor(col("n").cast("double") / col("__tot").cast("double")
            * 10000) / 10000).as("p"))
        .orderBy(col("from_type"), col("to_type"))
    },
      EventGates.transitionsOracle),

    Gate("stream_path_ngrams", (s, dir) => {
      // the bounded last-(n−1)-types keyed-state path twin under the
      // batch top-paths oracle — same arrival-order argument as
      // stream_transitions; the additive counter + TakeOrdered k is
      // the documented downstream consumer
      val stream = eventsTertileStream(s, dir,
        Seq("event_id", "ts", "user_id", "event_type"))
      runToMemory(
        graft.streaming.EventStream.streamingPathNgrams(
          stream, "user_id", "event_type", "ts", "event_id", n = 3),
        "append")
        .groupBy(col("path")).agg(count(lit(1)).as("n_paths"))
        .orderBy(col("n_paths").desc, col("path").asc)
        .limit(10)
    },
      EventGates.topPathsOracle),

    Gate("stream_path_ngrams_ttl", (s, dir) => {
      // TTL twin of stream_path_ngrams: dormant users' type windows
      // evict (nothing re-emits — the path log is a delta stream and
      // a re-emission would double the additive counter); horizon
      // past the fixture span → equals the batch top-paths oracle.
      val stream = eventsTertileStream(s, dir,
        Seq("event_id", "ts", "user_id", "event_type"))
      runToMemory(
        graft.streaming.EventStream.streamingPathNgramsTtl(
          stream, "user_id", "event_type", "ts", "event_id",
          ttlMs = 3155760000000L, n = 3), "append")
        .groupBy(col("path")).agg(count(lit(1)).as("n_paths"))
        .orderBy(col("n_paths").desc, col("path").asc)
        .limit(10)
    },
      EventGates.topPathsOracle)
  )
}
