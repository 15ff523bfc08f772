package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import java.nio.file.Files

/** RocksDB state-store certification (round 16). The TTL twins bound
  * TOTAL keyed state long-run, but the default
  * HDFSBackedStateStoreProvider keeps every live key ON-HEAP per
  * executor and uploads full snapshots per batch — at the
  * millions-of-live-keys scale the TTL twins exist for, the standard
  * production move is
  * `spark.sql.streaming.stateStore.providerClass=RocksDBStateStoreProvider`
  * (off-heap, incremental snapshots). Provider parity is NOT free:
  * encoder layouts and timeout semantics differ enough between the
  * providers that "expected identical" needs proving — this suite
  * pins every stateful streaming gate BIT-IDENTICAL under both
  * providers at sf0.001, and re-proves the two provider-sensitive
  * behaviors (checkpoint restore of versioned keyed state; event-time
  * TTL eviction with exact final emission) under RocksDB directly.
  *
  * A checkpoint is provider-OWNED: state written by one provider does
  * not restore under the other (Spark rejects the mismatch) — flip
  * the provider only with fresh checkpoints, like any state-schema
  * change (see the keyed-state versioning notes in KeyedState).
  */
class RocksDbStateSpec extends AnyFunSuite with SparkTestBase {

  private val Rocks = "org.apache.spark.sql.execution.streaming.state." +
    "RocksDBStateStoreProvider"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  private def withProvider[A](p: Option[String])(f: => A): A = {
    val old = spark.conf.getOption(ProviderKey)
    p.fold(spark.conf.unset(ProviderKey))(v =>
      spark.conf.set(ProviderKey, v))
    try f
    finally old.fold(spark.conf.unset(ProviderKey))(v =>
      spark.conf.set(ProviderKey, v))
  }

  private val sfDir = "/root/testdata/sf0.001"

  private def gateBuild(name: String) =
    graft.SparkEntry.gates.find(_.name == name).get.build

  /** Every stateful streaming gate: the whole keyed-state family
    * (flatMapGroupsWithState ops and their TTL twins) plus the
    * built-in stateful operators (streaming dedup, windowed/session
    * aggregation, token drift) — the exact surface the round-15
    * verdict asked to certify.
    */
  private val gates = Seq(
    "stream_dedup_exact", "stream_dedup_ttl",
    "stream_transitions", "stream_transitions_ttl",
    "stream_funnel", "stream_funnel_ttl",
    "stream_path_ngrams", "stream_path_ngrams_ttl",
    "stream_pattern_match", "stream_pattern_ttl",
    "stream_pattern_multi", "stream_pattern_multi_ttl",
    "stream_quota_sample", "stream_quota_ttl",
    "stream_weighted_sample", "stream_weighted_ttl",
    "stream_cohort_retention", "stream_cohort_ttl",
    "stream_neardup_lsh", "stream_neardup_ttl",
    "stream_session_window", "stream_window_agg", "stream_token_drift")

  gates.foreach { g =>
    test(s"$g is bit-identical under RocksDB and the default provider") {
      val fn = gateBuild(g)
      def run(p: Option[String]): Seq[String] = withProvider(p) {
        fn(spark, sfDir).collect().map(_.toString).sorted.toSeq
      }
      val default = run(None)
      val rocks = run(Some(Rocks))
      assert(rocks === default, s"$g diverged under RocksDB")
      assert(default.nonEmpty, s"$g produced no rows — vacuous parity")
    }
  }

  private val ChangelogKey = "spark.sql.streaming.stateStore.rocksdb." +
    "changelogCheckpointing.enabled"

  /** Changelog checkpointing is the production RocksDB commit mode
    * (per-batch changelog upload instead of full snapshot sync) —
    * different persistence path, same contract. Certified on a
    * representative slice: one op per state shape (built-in dedup,
    * plain tuple state, versioned Pike state, heap-merge state, TTL
    * eviction timer).
    */
  private val changelogGates = Seq("stream_dedup_exact",
    "stream_transitions", "stream_pattern_match", "stream_quota_sample",
    "stream_pattern_ttl")

  changelogGates.foreach { g =>
    test(s"$g is bit-identical under RocksDB changelog checkpointing") {
      val fn = gateBuild(g)
      def run(p: Option[String], changelog: Boolean): Seq[String] = {
        val old = spark.conf.getOption(ChangelogKey)
        if (changelog) spark.conf.set(ChangelogKey, "true")
        try withProvider(p) {
          fn(spark, sfDir).collect().map(_.toString).sorted.toSeq
        } finally old.fold(spark.conf.unset(ChangelogKey))(v =>
          spark.conf.set(ChangelogKey, v))
      }
      val default = run(None, changelog = false)
      val rocksChangelog = run(Some(Rocks), changelog = true)
      assert(rocksChangelog === default,
        s"$g diverged under RocksDB changelog checkpointing")
    }
  }

  test("versioned keyed state restores from a RocksDB checkpoint across a query restart") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_rdb_res").toFile
    val chk = Files.createTempDirectory("graft_rdb_res_chk").toFile
    def ts(sec: Int) =
      java.sql.Timestamp.valueOf(f"2026-01-01 10:00:$sec%02d")
    val charOf = (t: String) => t match {
      case "view" => "v"; case "click" => "c"; case "purchase" => "p"
      case _ => "e"
    }
    try withProvider(Some(Rocks)) {
      Seq((1L, 1L, ts(1), "view"), (1L, 2L, ts(2), "click"))
        .toDF("user_id", "event_id", "ts", "event_type")
        .coalesce(1).write.parquet(dir.getAbsolutePath + "/b1")
      val schema = spark.read.parquet(dir.getAbsolutePath + "/b1").schema
      val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]
      def runOnce(): Unit = {
        val stream = spark.readStream.schema(schema)
          .parquet(dir.getAbsolutePath + "/*")
        val q = EventStream.streamingSequencePattern(
            stream, "user_id", "event_type", "ts", "event_id",
            charOf, "vc*p")
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", chk.getAbsolutePath)
          .foreachBatch {
            (b: org.apache.spark.sql.DataFrame, _: Long) =>
              b.collect().foreach(r =>
                emitted.add((r.getInt(1), r.getInt(2))))
          }
          .start()
        q.processAllAvailable()
        q.stop()
      }
      runOnce()
      assert(emitted.toArray.toSeq === Seq((2, 0)))
      emitted.clear()
      Seq((1L, 3L, ts(3), "purchase"))
        .toDF("user_id", "event_id", "ts", "event_type")
        .coalesce(1).write.parquet(dir.getAbsolutePath + "/b2")
      runOnce()
      // the restarted query processed only b2 (1 event) but the
      // RocksDB-restored state carries b1's 2: 3 total, 1 match —
      // including the KeyedState version check passing on read
      assert(emitted.toArray.toSeq === Seq((3, 1)),
        s"RocksDB-restored state must continue the journey, got " +
          s"${emitted.toArray.toSeq}")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir); rm(chk)
    }
  }

  test("event-time TTL evicts with exact final emission under RocksDB") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_rdb_ttl").toFile
    val chk = Files.createTempDirectory("graft_rdb_ttl_chk").toFile
    def ts(m: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $m:00")
    val charOf = (t: String) => t match {
      case "view" => "v"; case "click" => "c"; case "purchase" => "p"
      case _ => "e"
    }
    try withProvider(Some(Rocks)) {
      Seq((1L, 1L, ts("10:00"), "view"), (1L, 2L, ts("10:01"), "click"),
          (1L, 3L, ts("10:02"), "purchase"), (2L, 4L, ts("10:02"), "view"))
        .toDF("user_id", "event_id", "ts", "event_type")
        .coalesce(1).write.parquet(dir.getAbsolutePath + "/b1")
      val schema = spark.read.parquet(dir.getAbsolutePath + "/b1").schema
      val stream = spark.readStream.schema(schema)
        .parquet(dir.getAbsolutePath + "/*")
      val q = EventStream.streamingSequencePatternTtl(
          stream, "user_id", "event_type", "ts", "event_id",
          charOf, "vc*p", ttlMs = 30L * 60 * 1000,
          watermarkDelay = "1 minute")
        .writeStream.format("memory").queryName("rdb_pttl")
        .outputMode("append")
        .option("checkpointLocation", chk.getAbsolutePath)
        .start()
      q.processAllAvailable()
      // advance the watermark past user 1's timeout, then one more
      // batch so the timeout fires under the advanced watermark
      Seq((2L, 5L, ts("12:00"), "purchase"))
        .toDF("user_id", "event_id", "ts", "event_type")
        .coalesce(1).write.parquet(dir.getAbsolutePath + "/b2")
      q.processAllAvailable()
      Seq((2L, 6L, ts("12:05"), "view"))
        .toDF("user_id", "event_id", "ts", "event_type")
        .coalesce(1).write.parquet(dir.getAbsolutePath + "/b3")
      q.processAllAvailable()
      q.stop()
      val u1 = spark.table("rdb_pttl").collect()
        .filter(_.getLong(0) == 1L).map(r => (r.getInt(1), r.getInt(2)))
      // batch emission + the RocksDB-timed-out eviction re-emission,
      // identical — same semantics the default provider pins
      assert(u1.toSeq.sorted === Seq((3, 1), (3, 1)),
        s"expected eviction re-emission under RocksDB, got ${u1.toSeq}")
    } finally {
      spark.sql("DROP VIEW IF EXISTS rdb_pttl")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir); rm(chk)
    }
  }
}
