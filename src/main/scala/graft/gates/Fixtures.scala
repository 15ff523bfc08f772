package graft.gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Similarity

/** Inputs the gates share: table readers, the diff fixture, the
  * stream-prefix replay, the planted ANN corpus, and the once-per-JVM
  * fixture and store memos. The per-dir memos decide which work a rerun
  * of a gate repeats, so they are part of what a bench sample measures.
  */
object Fixtures {

  private[gates] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events with ns-long ts converted to a timestamp column. */
  private[gates] def events(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // `div` (integral) — `/` is double division, and ns epochs
        // (~1.7e18) exceed a double's 53-bit mantissa: the rounded
        // quotient drifts ±1 µs, which the µs-exact oracles catch
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        // TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet loads as
        // NTZ; every downstream operator (unix_micros, session_window,
        // range joins) wants an instant. The session timezone is
        // pinned to UTC, so this cast maps wall-clock to the identical
        // instant the old INT64-nanos fixtures produced — and the
        // DuckDB oracles (naive timestamps throughout) stay exact.
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** Exact decimal sum of a double column, surfaced as double.
    * Scale 4 because price×(1−discount) products are true 4-decimal
    * rationals: scale 3 would round at .0005 ties where engines'
    * double→decimal tie-breaking differs; at scale 4 nothing rounds.
    */
  private[gates] def dsum(c: Column): Column =
    sum(c.cast("decimal(18,4)")).cast("double")

  // ---- diff/sync fixture: deterministic source/target derived from
  // orders (keys %10==4 deleted from source; %10==3 missing from
  // target; %7==0 perturbed in target) ----
  private[gates] def diffSrc(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") % 10 =!= 4)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
  private[gates] def diffTgt(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") % 10 =!= 3)
      .select(col("o_orderkey"), col("o_custkey"),
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")).as("o_totalprice"))

  // ---- stream-prefix-as-batch fixture (round 8; completed round
  // 11): the driver-facing oracle regime for the streaming twins. The
  // table is written as `slices` deterministic parquet files and
  // re-read as a file-source STREAM at one file per micro-batch — a
  // deterministic multi-batch replay, so a streaming operator's
  // cumulative output is hash-comparable against batch SQL over the
  // same rows. Arrival-order-independent operators (pair sets,
  // monotone counts) slice by id; ORDER-CONTRACTED and watermarked
  // twins (funnel, cohort, transitions, path n-grams, windows) slice
  // by TIME-CONTIGUOUS tertiles, which satisfies both the watermark
  // monotonicity and the in-order-arrival contract (equal timestamps
  // land in the same slice, so a boundary can never split a tie).
  // As of round 11 EVERY EventStream operator has a driver gate.

  /** Write `df` as `slices` files to a temp dir; open as a stream. */
  private[gates] def streamPrefix(s: SparkSession, df: DataFrame,
      sliceCol: String, slices: Int,
      cacheKey: Option[String] = None): DataFrame =
    streamPrefixBy(s, df, pmod(col(sliceCol), lit(slices)), slices,
      cacheKey)

  /** Temp dirs created by the streaming fixtures, deleted on JVM exit
    * (a shutdown hook — deleteOnExit can't remove non-empty dirs).
    * Keeps bench/verify reruns from accumulating parquet + checkpoint
    * dirs in /tmp; within one run the dirs must outlive their stream.
    */
  private val streamTmpDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val streamTmpHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      streamTmpDirs.forEach(deleteRecursively(_))))
  private[gates] def trackStreamTmp(p: java.nio.file.Path): java.nio.file.Path = {
    streamTmpHook; streamTmpDirs.add(p); p
  }
  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(
          java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally walk.close() // Files.walk holds directory fds until closed
    }

  /** Fixture memo: `cacheKey` (when given) identifies a DETERMINISTIC
    * (input dir, projection, slicing) triple, so the sliced parquet is
    * written once per JVM and every later gate/rerun re-opens it —
    * bench reruns and the six event-stream gates previously each paid
    * 3 parquet writes + the min/max slice-bound agg per invocation.
    */
  private val streamFixtureDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]

  /** stream_graph_ingest memo: per input dir, the parquet dir of the
    * STREAMED graph index store — the vector stream runs once per
    * JVM; bench/verify reruns re-read (and re-search) the store.
    */
  private val graphIngestDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** The [[graphIngestDirs]] builder, shared by every gate that reads
    * the streamed graph store (stream_graph_ingest,
    * sim_ann_graph_probe) — ONE definition so the store's shape can
    * never depend on which gate ran first.
    */
  private[gates] def graphIngestStore(s: SparkSession, dir: String): String =
    graphIngestDirs.computeIfAbsent(dir, _ => {
      val (corpus, _) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id",
        "embedding", 16)
      val stream = streamPrefixBy(s, corpus,
        pmod(col("vec_id"), lit(3)).cast("int"), 3,
        Some(s"$dir|gann-ingest"))
      val idx = trackStreamTmp(
        java.nio.file.Files.createTempDirectory("graft_gann_idx"))
      val chk = trackStreamTmp(
        java.nio.file.Files.createTempDirectory("graft_gann_chk"))
      val q = graft.streaming.VectorIngest.streamingGraphIngest(
          stream, "vec_id", "embedding", cents, idx.toString,
          chk.toString, degree = 8, efConstruction = 64,
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      idx.toString
    })

  /** sim_ivf_compact memo: per input dir, the COMPACTED IVF batch
    * store (built once per JVM: 3 ingest batches, then offline
    * compaction folds them into the canonical base segment).
    */
  private val ivfCompactDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** The [[ivfCompactDirs]] builder, shared by sim_ivf_compact and
    * sim_ivf_probe_read — ONE definition, same reason as
    * [[graphIngestStore]].
    */
  private[gates] def ivfCompactStore(s: SparkSession, dir: String): String =
    ivfCompactDirs.computeIfAbsent(dir, _ => {
      val (corpus, _) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id",
        "embedding", 16)
      val store = trackStreamTmp(
        java.nio.file.Files.createTempDirectory("graft_ivfc"))
      (0 until 3).foreach { b =>
        graft.streaming.VectorIngest.ingestBatch(
          corpus.filter(pmod(col("vec_id"), lit(3)) === b),
          "vec_id", "embedding", cents, store.toString, b.toLong)
      }
      graft.streaming.VectorIngest.compactIvfStore(s, store.toString,
        protectLast = 0)
      store.toString
    })

  /** sim_ivf_store_remove memo: per input dir, the IVF batch store
    * after tombstone application (3 ingest batches, then
    * removeIvfBatch of the band-2/4 twins) — once per JVM.
    */
  private[gates] val ivfRemoveDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** sim_graph_lifecycle memo: per input dir, the graph store after
    * the full lifecycle chain (build → batch ingest → CDC sync →
    * tombstone removal) — once per JVM.
    */
  private[gates] val graphLifecycleDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** Once-per-dir fixture-contract check for [[plantedAnnFixture]]:
    * natural vec_ids must sit below the planted-twin band range.
    */
  private val annFixtureChecked =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]

  /** sim_store_snapshot memo: per input dir, (the manifest entries
    * pinned BEFORE the sync, their schema json, the store dir whose
    * latest version is the post-sync state).
    */
  private[gates] val storeSnapshotDirs = new java.util.concurrent
    .ConcurrentHashMap[String, (Seq[String], String, String)]

  /** sim_store_changes memo: per input dir, (IVF store dir, version
    * before the tombstone batch, version after).
    */
  private[gates] val storeChangesDirs = new java.util.concurrent
    .ConcurrentHashMap[String, (String, Long, Long)]

  /** [[streamPrefix]] with a caller-supplied slice index column
    * (0 until slices). Watermarked gates need TIME-CONTIGUOUS slices:
    * id-sliced batches each span the whole time range, so the
    * watermark jumps to ~max after batch 1 and every later batch's
    * rows arrive LATE and drop — the id fixture is only valid for
    * operators without event-time semantics.
    */
  // `sliceIdx` is BY-NAME: it is only evaluated inside the memo's
  // build closure, so a slice expression whose construction costs a
  // full scan (the tertile bounds agg) runs atomically once-per-JVM
  // with the parquet write — two concurrent first callers can no
  // longer both pay the scan with one result silently discarded.
  private[gates] def streamPrefixBy(s: SparkSession, df: DataFrame,
      sliceIdx: => Column, slices: Int,
      cacheKey: Option[String] = None): DataFrame = {
    def build(): java.nio.file.Path = {
      val tmp = trackStreamTmp(
        java.nio.file.Files.createTempDirectory("graft_stream_gate"))
      val sliced = df.withColumn("__slice", sliceIdx)
      (0 until slices).foreach { i =>
        sliced.filter(col("__slice") === i).drop("__slice")
          .coalesce(1).write.parquet(tmp.resolve(s"b$i").toString)
      }
      tmp
    }
    val tmp = cacheKey match {
      case Some(k) => streamFixtureDirs.computeIfAbsent(k, _ => build())
      case None => build()
    }
    s.readStream.schema(df.schema).option("maxFilesPerTrigger", "1")
      .parquet(tmp.toString + "/*")
  }

  /** The 3 time-contiguous tertile slices of the events table (exact
    * integer arithmetic; see stream_window_agg) projected to `cols`,
    * as a one-file-per-trigger stream — memoized per (dir, cols), so
    * the slice-bound agg and parquet writes run once per JVM for all
    * six event-stream gates.
    */
  private[gates] def eventsTertileStream(s: SparkSession, dir: String,
      cols: Seq[String]): DataFrame = {
    val ev = events(s, dir).select(cols.map(col): _*)
    val key = s"$dir|events-tertile|${cols.mkString(",")}"
    // the slice bounds cost a full scan and are part of the fixture:
    // the by-name argument defers them into the memo's build closure,
    // so scan + parquet write happen atomically once-per-JVM
    streamPrefixBy(s, ev, {
      val b = ev.agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi")).collect().head
      val lo = b.getLong(0); val span = b.getLong(1) - lo + 1
      expr(s"((unix_micros(ts) - ${lo}L) * 3) div ${span}L").cast("int")
    }, 3, Some(key))
  }

  /** Run a streaming frame to completion into a memory sink; return
    * the sink table. Blocking; the query name is unique per call so
    * bench reruns don't collide.
    */
  private[gates] def runToMemory(df: DataFrame, mode: String): DataFrame = {
    val name = "mem_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val chk = java.nio.file.Files.createTempDirectory("graft_stream_chk")
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode)
      .option("checkpointLocation", chk.toString).start()
    // stop BEFORE deleting: if processAllAvailable throws and the
    // query were left running, removing its checkpoint would wedge
    // the still-live query (and the shared session) mid-bench
    try q.processAllAvailable()
    finally {
      try q.stop()
      finally deleteRecursively(chk)
    }
    df.sparkSession.table(name)
  }

  /** Shared ANN fixture: every 50th embedding is a query; 5 perturbed
    * near-copies per query (amps 0.002k → cos ≈0.9989–0.99996, portable
    * integer-noise formula the oracle replays) are planted into the
    * corpus, so the true top-5 is known, high-similarity, and
    * uniquely ordered.
    */
  private[gates] def plantedAnnFixture(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val emb = t(s, dir, "embeddings")
    // fixture contract, asserted once per dir (1-row aggregate): the
    // planted twins occupy vec_id ∈ [100000, 600000) (bands 1–5), so
    // natural ids must stay below band 1 or every band-keyed gate
    // (remove/sync/lifecycle) would silently misclassify naturals as
    // twins
    annFixtureChecked.computeIfAbsent(dir, _ => {
      val mx = emb.agg(max(col("vec_id"))).collect()(0).getLong(0)
      require(mx < 100000L,
        s"plantedAnnFixture: natural vec_id $mx collides with the " +
          "planted-twin band range [100000, 600000)")
      java.lang.Boolean.TRUE
    })
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val planted = queries
      .select(col("query_id"), col("qvec"),
        explode(array((0 until 5).map(k => lit(k)): _*)).as("k"))
      .select((col("query_id") + (col("k") + 1) * 100000L).as("vec_id"),
        transform(col("qvec"), (x, i) =>
          x.cast("double") + (col("k") + 1).cast("double") * lit(0.002) *
            (((col("query_id") * 31 + i * 17) % 19 - 9).cast("double") /
              lit(9.0))).as("embedding"))
    // fixture-only repartition: the tiny single-split parquet would
    // otherwise run all per-row scoring (sign bits / cell argmin) on
    // one core; production corpora arrive already multi-split, and
    // library operators never force a shuffle themselves
    val corpus = emb
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      .union(planted)
      .repartition(col("vec_id"))
    (corpus, queries)
  }

  /** Structured WordPiece vocab whose greedy longest-match result has a
    * closed form the DuckDB oracle replays exactly: whole words (beat
    * letterwise starts at position 0 by longest-match), all single
    * letters as start AND continuation pieces (so no a–z word ever
    * UNKs), plus "##ing" (so greedy mid-word matching is observable —
    * leftmost non-overlapping 'ing' consumption ≡ regexp_replace 'g').
    * No 1-letter whole words, so the oracle's max-prefix-length rule
    * is unambiguous.
    */
  private[gates] val wordpieceWholeWords: Seq[String] = Seq(
    "the", "and", "of", "to", "in", "is", "that", "for", "it", "with",
    "as", "on", "be", "by", "this", "are", "or", "from", "at", "not",
    "ing")
  private[gates] val wordpieceVocab: Seq[String] = {
    val letters = ('a' to 'z').map(_.toString)
    wordpieceWholeWords ++ letters ++ letters.map("##" + _) :+ "##ing"
  }
}
