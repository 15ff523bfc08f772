package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

class OperatorsSpec extends AnyFunSuite with SparkTestBase {

  private def sf = "/root/testdata/sf0.001"

  test("C5: NUL scrub removes U+0000 from string columns only") {
    import spark.implicits._
    val df = Seq((1, "a\u0000b", 2.5), (2, "clean", 3.5))
      .toDF("id", "s", "v")
    val out = CopyPipeline.scrubNulBytes(df).collect()
    assert(out.map(_.getString(1)).toSet === Set("ab", "clean"))
    assert(out.map(_.getDouble(2)).toSet === Set(2.5, 3.5))
  }

  test("B4: read-side normalization per source type") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-03-01 12:34:56.123456")
    val day = java.sql.Date.valueOf("2024-03-01")
    val df = Seq(("ABC-DEF", "<x>hello</x>", "<2ch", ts, day))
      .toDF("u", "x1", "x2", "ts", "d")
    val out = df.select(
      CopyPipeline.readSideExpr("u", "uniqueidentifier"),
      CopyPipeline.readSideExpr("x1", "xml"),
      CopyPipeline.readSideExpr("x2", "xml"),
      CopyPipeline.readSideExpr("ts", "datetime2"),
      CopyPipeline.readSideExpr("d", "date")).collect()(0)
    assert(out.getString(0) === "abc-def")
    assert(out.getString(1) === "<x>hello</x>")
    assert(out.isNullAt(2)) // effectively-empty xml → NULL (pl:452)
    // temporal values pass through typed, microseconds intact
    assert(out.getTimestamp(3) === ts)
    assert(out.getTimestamp(3).getNanos === 123456000)
    assert(out.getDate(4) === day)
  }

  test("C3: modulo buckets partition completely and disjointly") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val n = orders.count()
    val bucketed = orders.withColumn("b",
      CopyPipeline.moduloBucket("o_orderkey", 8))
    assert(bucketed.groupBy("b").count().agg(sum("count")).head.getLong(0) === n)
    assert(bucketed.select("b").distinct().count() === 8)
  }

  test("C15: diff classification covers all four states") {
    import spark.implicits._
    val src = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    val tgt = Seq((2, "b"), (3, "CHANGED"), (4, "d")).toDF("id", "v")
    val d = DiffSync.diff(src, tgt, Seq("id"))
      .collect().map(r => r.getInt(0) -> r.getString(2)).toMap
    assert(d === Map(1 -> "new", 2 -> "identical", 3 -> "changed",
      4 -> "deleted"))
  }

  test("C16: applying the diff reproduces the source") {
    import spark.implicits._
    val src = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    val tgt = Seq((2, "x"), (4, "d")).toDF("id", "v")
    val applied = DiffSync.applyDiff(DiffSync.diff(src, tgt, Seq("id")))
    assert(applied.exceptAll(src).isEmpty && src.exceptAll(applied).isEmpty)
  }

  test("C15: diff handles NULL values null-safely") {
    import spark.implicits._
    val src = Seq((1, Option.empty[String]), (2, Some("b")))
      .toDF("id", "v")
    val tgt = Seq((1, Option.empty[String]), (2, Option.empty[String]))
      .toDF("id", "v")
    val d = DiffSync.diff(src, tgt, Seq("id"))
      .collect().map(r => r.getInt(0) -> r.getString(2)).toMap
    assert(d === Map(1 -> "identical", 2 -> "changed"))
  }

  test("salted join/agg equal their unsalted twins on skewed keys") {
    import spark.implicits._
    // 90% of rows share one key — the classic skew shape
    val big = (1L to 2000L).map(i =>
      (if (i <= 1800) 1L else i, i, i * 1.5)).toDF("k", "row_id", "v")
    val dim = Seq((1L, "hot"), (1900L, "cold"), (3000L, "absent"))
      .toDF("k", "label")
    val plain = big.join(dim, Seq("k")).select(col("row_id"), col("label"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val salted = Skew.saltedJoin(big, dim, Seq("k"),
      saltSource = "row_id", buckets = 8)
      .select(col("row_id"), col("label"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(salted === plain && plain.size === 1801)
    val agg = Skew.saltedSumCount(big, Seq("k"), "v",
      saltSource = "row_id", buckets = 8)
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    assert(agg(1L)._2 === 1800L)
    assert(math.abs(agg(1L)._1 - (1L to 1800L).map(_ * 1.5).sum) < 1e-6)
  }

  test("saltedSumCount plans two aggregate phases over the salted key") {
    import spark.implicits._
    val big = (1L to 100L).map(i => (1L, i, i * 1.0)).toDF("k", "row_id", "v")
    val df = Skew.saltedSumCount(big, Seq("k"), "v",
      saltSource = "row_id", buckets = 8)
    val plan = df.queryExecution.optimizedPlan.toString
    // phase 1 groups on (k, __salt__), phase 2 on k — the hot key is
    // spread over `buckets` reducers before the final combine
    assert(plan.contains("__salt__"), plan)
    assert("Aggregate \\[".r.findAllIn(plan).length == 2, plan)
    val phys = df.queryExecution.executedPlan.toString
    // the salted partial shuffles on (k, __salt__), not on k alone
    assert(phys.contains("__salt__"), phys)
  }

  test("C16: upsert SQL shape") {
    assert(DiffSync.upsertSql("t", Seq("id"), Seq("a", "b")) ===
      "INSERT INTO t (id, a, b) VALUES (?, ?, ?) " +
        "ON CONFLICT (id) DO UPDATE SET a = EXCLUDED.a, b = EXCLUDED.b")
    assert(DiffSync.upsertSql("t", Seq("id"), Nil).endsWith("DO NOTHING"))
  }

  test("B5: canonicalization aligns uuid case") {
    import spark.implicits._
    val df = Seq(("A-B-C")).toDF("u")
    val out = DiffSync.canonicalize(df, Map("u" -> "uniqueidentifier"))
    assert(out.head.getString(0) === "a-b-c")
  }

  test("A22: FK orphan detection via anti join") {
    import spark.implicits._
    val child = Seq((1, 10), (2, 99)).toDF("id", "fk")
    val parent = Seq(10, 20).toDF("pk")
    val orphans = Validation.fkOrphans(child, Seq("fk"), parent, Seq("pk"),
      broadcastParent = true).collect()
    assert(orphans.map(_.getInt(0)).toSeq === Seq(2))
  }

  test("A23: CHECK violations treat NULL predicate as pass") {
    import spark.implicits._
    val df = Seq(Some(5), Some(-1), None).toDF("v")
    val bad = Validation.checkViolations(df, col("v") >= 0)
    assert(bad.count() === 1)
  }

  test("PK duplicate and null-count validators") {
    import spark.implicits._
    val df = Seq((1, Some("a")), (1, None), (2, Some("c")))
      .toDF("id", "v")
    assert(Validation.pkDuplicates(df, Seq("id")).head.getLong(1) === 2)
    val nc = Validation.nullCounts(df, Seq("v")).head
    assert(nc.getLong(0) === 3 && nc.getLong(1) === 1)
  }

  test("bloom semi/anti joins equal their exact twins, nulls included") {
    import spark.implicits._
    val big = Seq(Some(1L), Some(2L), Some(3L), Some(4L), None)
      .toDF("k")
    val small = Seq(2L, 4L, 99L).toDF("k")
    val semi = BloomJoin.semi(big, small, "k", 1000L, 10000L)
      .collect().map(_.getLong(0)).toSet
    assert(semi === Set(2L, 4L))
    val anti = BloomJoin.anti(big, small, "k", 1000L, 10000L)
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSet
    // left_anti semantics: null keys never match → kept
    assert(anti === Set(1L, 3L, -1L))
  }

  test("zValue interleaves bits in column-major order") {
    import spark.implicits._
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (1023L, 1023L))
      .toDF("x", "y")
    val out = df.select(col("x"), col("y"),
      Layout.zValue(Seq(col("x"), col("y")), 10).as("z")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((0L, 0L)) === 0L)
    assert(out((1L, 0L)) === 1L) // x holds even bit positions
    assert(out((0L, 1L)) === 2L) // y holds odd bit positions
    // x=3 (bits 0,1 → z bits 0,2), y=5 (bits 0,2 → z bits 1,5):
    // 1 + 4 + 2 + 32 = 39
    assert(out((3L, 5L)) === 39L)
    assert(out((1023L, 1023L)) === (1L << 20) - 1)
  }

  test("zOrderBy clusters both dimensions into tight per-partition ranges") {
    import spark.implicits._
    // full 64×64 grid → 8 range partitions on the z-value; every
    // partition must cover a small hypercube: both dimensions' spans
    // well under the full 0..63 range (an x-sorted layout would leave
    // the y span at 63 in every partition)
    val grid = spark.range(64 * 64).select(
      (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
    def spans(df: org.apache.spark.sql.DataFrame): Array[(Long, Long)] =
      df.withColumn("pid", spark_partition_id())
        .groupBy(col("pid"))
        .agg((max(col("x")) - min(col("x"))).as("xspan"),
          (max(col("y")) - min(col("y"))).as("yspan"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
    val zSpans = spans(Layout.zOrderBy(grid, Seq(col("x"), col("y")), 6, 8))
    val xSorted = spans(grid.repartitionByRange(8, col("x")))
    assert(zSpans.length === 8)
    def avg(xs: Array[Long]) = xs.sum.toDouble / xs.length
    // x-sorted baseline: y is unclustered — every partition spans ~the
    // full 0..63 range
    assert(avg(xSorted.map(_._2)) > 60.0)
    // z-order: 512 consecutive z codes cover ~a 32×16 block (a range
    // boundary can straddle blocks, so assert the average, with slack)
    assert(avg(zSpans.map(_._1)) < 44.0, s"x spans ${zSpans.map(_._1).toSeq}")
    assert(avg(zSpans.map(_._2)) < 44.0, s"y spans ${zSpans.map(_._2).toSeq}")
  }

  test("minMaxStats + canPrune: envelope-miss skips, overlap keeps, all-null never prunes") {
    import spark.implicits._
    // files 0/1/2 hold v in [0,9]/[10,19]/[20,29]; w is NULL in file 2
    val df = (0 until 30).map(i => (i / 10, i.toLong,
      if (i < 20) Some(i.toLong) else None)).toDF("f", "v", "w")
    val stats = Layout.minMaxStats(df, col("f"), Seq("v", "w"))
    val pruned = stats.select(col("file_id"),
        Layout.canPrune("v", lit(12L), lit(15L)).as("pv"),
        Layout.canPrune("w", lit(100L), lit(200L)).as("pw"))
      .collect().map(r => r.getInt(0) -> (r.getBoolean(1), r.getBoolean(2)))
      .toMap
    assert(pruned(0) === ((true, true)))   // v:[0,9] misses [12,15]
    assert(pruned(1) === ((false, true)))  // v:[10,19] overlaps
    assert(pruned(2) === ((true, false)))  // w all-null → never prunes
    val n = stats.filter(col("file_id") === 1).head()
    assert(n.getAs[Long]("n_rows") === 10L &&
      n.getAs[Long]("min_v") === 10L && n.getAs[Long]("max_v") === 19L)
  }

  test("compactionPlan: bins fill to target per partition, partitions independent") {
    import spark.implicits._
    // part a: sizes 3,3,3,3 at target 6 → bins 0,0,1,1 (starts 0,3,6,9)
    // part b: sizes 5,2,5 at target 6 → starts 0,5,7 → bins 0,0,1
    val files = Seq(("a", 1L, 3L), ("a", 2L, 3L), ("a", 3L, 3L),
      ("a", 4L, 3L), ("b", 1L, 5L), ("b", 2L, 2L), ("b", 3L, 5L))
      .toDF("part", "file_id", "size_bytes")
    val plan = Layout.compactionPlan(files, Seq("part"), "file_id",
        "size_bytes", 6L).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(plan === Map(("a", 1L) -> 0L, ("a", 2L) -> 0L,
      ("a", 3L) -> 1L, ("a", 4L) -> 1L,
      ("b", 1L) -> 0L, ("b", 2L) -> 0L, ("b", 3L) -> 1L))
  }

  test("incremental: combine(state, delta) == full rescan; latestByKey") {
    import spark.implicits._
    val full = Seq((1L, 10.0), (1L, 20.0), (2L, 5.0), (3L, 7.0),
      (2L, -1.0), (4L, 0.0)).zipWithIndex
      .map { case ((k, v), i) => (i.toLong, k, v) }
      .toDF("id", "k", "v")
    val hist = full.filter(col("id") < 3)   // keys 1, 1, 2
    val delta = full.filter(col("id") >= 3) // keys 3, 2, 4 (new + update)
    val got = Incremental.combine(
      Incremental.aggState(hist, "k", Seq("v")),
      Incremental.aggState(delta, "k", Seq("v")), "k", Seq("v"))
    val want = Incremental.aggState(full, "k", Seq("v"))
    assert(got.orderBy("k").collect().toSeq ===
      want.orderBy("k").collect().toSeq)
    // latestByKey: ts ties break on the id column
    val cdc = Seq((1L, 100L, 7L, "a"), (1L, 100L, 9L, "b"),
      (1L, 50L, 99L, "c"), (2L, 10L, 1L, "d"))
      .toDF("k", "ts", "id", "payload")
    val latest = Incremental.latestByKey(cdc, "k", "ts", "id",
      Seq("payload")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3))).toMap
    assert(latest === Map(1L -> ((100L, 9L, "b")),
      2L -> ((10L, 1L, "d"))))
  }

  test("joinDelta: append equals full re-join; deltas broadcast") {
    import spark.implicits._
    val a = Seq((1L, "a1"), (2L, "a2"), (3L, "a3"), (4L, "a4"))
      .toDF("k", "av")
    val b = Seq((1L, "b1"), (2L, "b2"), (3L, "b3"), (5L, "b5"))
      .toDF("k", "bv")
    val (aOld, aDelta) = (a.filter(col("k") <= 2), a.filter(col("k") > 2))
    val (bOld, bDelta) = (b.filter(col("k") <= 1), b.filter(col("k") > 1))
    val delta = Incremental.joinDelta(aOld, aDelta, bOld, bDelta, Seq("k"))
    val stored = aOld.join(bOld, Seq("k")).unionByName(delta)
    val want = a.join(b, Seq("k"))
    assert(stored.orderBy("k").collect().toSeq ===
      want.orderBy("k").collect().toSeq)
    // k=3 exercises ΔA⋈ΔB, k=2 exercises A₀⋈ΔB, and ΔA⋈B₀ is empty
    // here — flip the split to hit it too
    val delta2 = Incremental.joinDelta(
      a.filter(col("k") > 2), a.filter(col("k") <= 2), bOld, bDelta,
      Seq("k"))
    assert(a.filter(col("k") > 2).join(bOld, Seq("k"))
      .unionByName(delta2).orderBy("k").collect().toSeq ===
      want.orderBy("k").collect().toSeq)
    // scale contract: every term is a broadcast join, nothing sort-merges
    val plan = delta.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), s"delta join shuffled:\n$plan")
  }

  test("zscore outliers: flags the planted point, single-row group z=0") {
    import spark.implicits._
    val df = (Seq.fill(20)(10.0) ++ Seq(10.5, 9.5, 100.0))
      .zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }
      .toDF("grp", "id", "v")
      .union(Seq(("solo", 99L, 42.0)).toDF("grp", "id", "v"))
    val out = Profile.zscoreOutliers(df, "grp", "v")
      .collect().map(r => r.getLong(1) ->
        (r.getAs[Double]("zscore"), r.getAs[Boolean]("is_outlier"))).toMap
    assert(out(22L)._2, "planted 100.0 must flag")   // the outlier
    assert(!out(0L)._2 && !out(20L)._2)
    assert(out(99L) === ((0.0, false)))              // single-row group
    assert(out.count(_._2._2) === 1)
  }

  test("funnel: order constraint, null tail, max_step prefers highest") {
    import spark.implicits._
    val ev = Seq(
      // user 1: full in-order funnel
      (1L, 100L, "view"), (1L, 200L, "click"), (1L, 300L, "purchase"),
      // user 2: purchase BEFORE click → step3 must not count
      (2L, 100L, "view"), (2L, 300L, "click"), (2L, 200L, "purchase"),
      // user 3: view only
      (3L, 50L, "view"),
      // user 4: click/purchase but never view → excluded entirely
      (4L, 10L, "click"), (4L, 20L, "purchase"))
      .toDF("user_id", "ts_us", "event_type")
    val out = Sessionize.funnel(ev, "user_id", col("ts_us"),
      "event_type", Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
          r.getLong(4))).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(1L) === ((Some(100L), Some(200L), Some(300L), 3L)))
    assert(out(2L) === ((Some(100L), Some(300L), None, 2L)))
    assert(out(3L) === ((Some(50L), None, None, 1L)))
  }

  test("pageRankFixedPoint: cycle is a fixed point, star leaks dangling") {
    import spark.implicits._
    // 3-cycle at scale 300: pr0 = 100, base = 15, next = 15 + 85 = 100
    val cycle = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("s", "d")
    val prCycle = graft.operators.Graph
      .pageRankFixedPoint(cycle, "s", "d", iters = 3, scale = 300L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prCycle === Map(0L -> 100L, 1L -> 100L, 2L -> 100L))
    // star a→{b,c}: pr1 = (15, 57, 57); pr2 = (15, 20, 20) — hand math
    // with truncating division; sinks keep only base + damped inflow,
    // dangling mass leaks by design
    val star = Seq((0L, 1L), (0L, 2L)).toDF("s", "d")
    def ranks(iters: Int) = graft.operators.Graph
      .pageRankFixedPoint(star, "s", "d", iters, scale = 300L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks(1) === Map(0L -> 15L, 1L -> 57L, 2L -> 57L))
    assert(ranks(2) === Map(0L -> 15L, 1L -> 20L, 2L -> 20L))
  }

  test("triangleCounts: K4, path, star; co-occurrence cap drops big baskets") {
    import spark.implicits._
    // K4 on {1,2,3,4}: C(4,3)=4 triangles, each node in exactly 3
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("u", "v")
    val tk4 = graft.operators.Graph.triangleCounts(k4, "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tk4 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // path 1-2-3-4 and star 1->{2,3,4}: triangle-free -> empty result
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    assert(graft.operators.Graph.triangleCounts(path, "u", "v")
      .count() === 0L)
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("u", "v")
    assert(graft.operators.Graph.triangleCounts(star, "u", "v")
      .count() === 0L)
    // co-occurrence: basket (g=10) of {1,2,3} -> 3 edges; oversized
    // basket (g=20, 4 items > cap 3) contributes NOTHING; duplicate
    // item rows collapse before pairing
    val baskets = Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 3L),
      (20L, 5L), (20L, 6L), (20L, 7L), (20L, 8L)).toDF("g", "i")
    val edges = graft.operators.Graph
      .coOccurrenceEdges(baskets, "g", "i", maxGroupSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("labelPropagate: multiplicity votes, ties, clamped seeds, 2-hop reach") {
    import spark.implicits._
    // 1(seed A=10) =2 edges= 3;  2(seed B=20) -1 edge- 3 : node 3 takes A
    // 4(seed A=10) -1- 5; 2 -1- 5 : tie at node 5 -> smaller label 10
    // 3 -1- 6 : node 6 unlabeled after round 1 (3 had no label yet),
    //           labeled in round 2 (2-hop reach)
    // 7 -1- 8 : no seed anywhere -> both stay null
    val edges = Seq((1L, 3L), (1L, 3L), (2L, 3L), (4L, 5L), (2L, 5L),
      (3L, 6L), (7L, 8L)).toDF("s", "d")
    val seeds = Seq((1L, 10L), (2L, 20L), (4L, 10L)).toDF("n", "lbl")
    def run(iters: Int) = graft.operators.Graph
      .labelPropagate(edges, "s", "d", seeds, "n", "lbl", iters)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val r1 = run(1)
    assert(r1(3L) === Some(10L)) // 2 votes A beat 1 vote B
    assert(r1(5L) === Some(10L)) // 1-1 tie -> smaller label
    assert(r1(6L) === None)      // neighbor 3 was unlabeled at round 0
    assert(r1(7L) === None && r1(8L) === None)
    assert(r1(1L) === Some(10L) && r1(2L) === Some(20L)) // seeds clamp
    val r2 = run(2)
    assert(r2(6L) === Some(10L)) // 2-hop reach via node 3
    assert(r2(3L) === Some(10L) && r2(5L) === Some(10L))
    // seeds stay clamped even with contrary neighbor votes: node 2's
    // only neighbors vote A after round 1, but 2 keeps B
    assert(r2(2L) === Some(20L))
  }

  test("labelPropagate: duplicate/conflicting seed rows do not skew votes") {
    import spark.implicits._
    // node 1 seeded A, node 2 seeded B; both vote at node 3. Node 1's
    // seed row is TRIPLED — without seed dedup the left join fans node
    // 1 out 3×, its vote outweighs 2's, and node 3 flips from B to A.
    val edges = Seq((1L, 3L), (2L, 3L), (2L, 3L)).toDF("s", "d")
    val seeds = Seq((1L, 10L), (1L, 10L), (1L, 10L), (2L, 20L))
      .toDF("n", "lbl")
    val r = graft.operators.Graph
      .labelPropagate(edges, "s", "d", seeds, "n", "lbl", 1)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(r(3L) === Some(20L)) // 2 real votes B beat 1 real vote A
    // conflicting seeds for one node resolve deterministically to min
    val seeds2 = Seq((1L, 30L), (1L, 10L)).toDF("n", "lbl")
    val r2 = graft.operators.Graph
      .labelPropagate(edges, "s", "d", seeds2, "n", "lbl", 1)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(r2(1L) === Some(10L))
  }

  test("labelPropagateConverged: early stop equals any larger fixed iters") {
    import spark.implicits._
    // chain 1(seed A) - 2 - 3 - 4: converges in 3 rounds
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    val seeds = Seq((1L, 10L)).toDF("n", "lbl")
    val (labels, stats) = graft.operators.Graph.labelPropagateConverged(
      edges, "s", "d", seeds, "n", "lbl", maxIters = 50)
    val got = labels.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // converged well before maxIters; last round changed 0
    assert(stats.length < 50 && stats.last.changed === 0L)
    assert(stats.head.changed > 0L)
    // fixed-point labeling == plain fixed-iteration labeling at any
    // count >= convergence
    val fixed = graft.operators.Graph
      .labelPropagate(edges, "s", "d", seeds, "n", "lbl",
        iters = stats.length + 3)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got === fixed)
    assert(got(4L) === Some(10L)) // the chain fully labeled
  }

  test("labelPropagateConverged: reliable checkpointDir — identical labels, files on disk, survives a block wipe") {
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft_lpa_ck").toFile
    try {
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("s", "d")
      val seeds = Seq((1L, 10L), (7L, 20L)).toDF("n", "lbl")
      def collect(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      val (plain, _) = graft.operators.Graph.labelPropagateConverged(
        edges, "s", "d", seeds, "n", "lbl", maxIters = 20)
      val (rel, stats) = graft.operators.Graph.labelPropagateConverged(
        edges, "s", "d", seeds, "n", "lbl", maxIters = 20,
        checkpointDir = Some(ckpt.getAbsolutePath))
      val plainMap = collect(plain)
      assert(collect(rel) === plainMap, "reliable cuts must not change labels")
      assert(stats.last.changed === 0L)
      // real reliable checkpoints materialized on disk (one rdd-* dir
      // per cut round)
      def rddDirs(f: java.io.File): Int =
        Option(f.listFiles).map(_.map(c =>
          (if (c.getName.startsWith("rdd-")) 1 else 0) + rddDirs(c)).sum)
          .getOrElse(0)
      assert(rddDirs(ckpt) >= stats.length,
        "every round's frame must be a reliable checkpoint")
      // same delta result through the reliable path (before the wipe:
      // `plain` is locally checkpointed and will not survive it)
      val delta = Seq((4L, 7L)).toDF("s", "d")
      val full = edges.unionByName(delta)
      val (incPlain, _) = graft.operators.Graph.labelPropagateDelta(
        plain, full, "s", "d", delta, seeds, "n", "lbl", rounds = 3)
      val (incRel, _) = graft.operators.Graph.labelPropagateDelta(
        plain, full, "s", "d", delta, seeds, "n", "lbl", rounds = 3,
        checkpointDir = Some(ckpt.getAbsolutePath))
      assert(collect(incRel) === collect(incPlain))
      // the executor-loss story in miniature: wipe EVERY cached block
      // (what losing all executors does to localCheckpoint state) —
      // the reliable result recomputes from the checkpoint FILES,
      // while the locally-checkpointed `plain` is now unrecoverable
      // (re-collecting it throws the missing-checkpoint-block error)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      assert(collect(rel) === plainMap,
        "reliable result must re-read from checkpoint files after a block wipe")
      val lost = intercept[org.apache.spark.SparkException](collect(plain))
      assert(lost.getMessage.toLowerCase.contains("checkpoint"),
        s"expected the local-checkpoint block loss failure, got: ${lost.getMessage.take(120)}")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(ckpt)
    }
  }

  test("withJobScopedCheckpointDir: concurrent sharers both complete; reclaim fires only after the last leaves") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_jobck").toFile
    val dir = new java.io.File(root, "scratch")
    try {
      val bothIn = new java.util.concurrent.CountDownLatch(2)
      val release1 = new java.util.concurrent.CountDownLatch(1)
      val release2 = new java.util.concurrent.CountDownLatch(1)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val counts = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
      def worker(release: java.util.concurrent.CountDownLatch) =
        new Thread(() => {
          try graft.operators.Iterate.withJobScopedCheckpointDir(
            spark, dir.getAbsolutePath) {
            // a real reliable cut inside the scope — files land under
            // the shared dir and must survive the OTHER sharer leaving
            val cut = spark.range(10).toDF("id").checkpoint()
            bothIn.countDown()
            release.await()
            counts.add(cut.count())
            ()
          } catch { case t: Throwable => errs.add(t); () }
        })
      val t1 = worker(release1)
      val t2 = worker(release2)
      t1.start(); t2.start()
      assert(bothIn.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(dir.isDirectory, "scratch dir must exist while in use")
      // first sharer leaves: the dir is still the second's — NO reclaim
      release1.countDown(); t1.join(60000)
      assert(dir.isDirectory,
        "reclaim must wait for the last concurrent user, not the first")
      // second leaves: the scope reclaims the whole scratch dir
      release2.countDown(); t2.join(60000)
      assert(errs.isEmpty, s"both sharers must complete: $errs")
      assert(counts.toArray.toSeq === Seq(10L, 10L))
      assert(!dir.exists(),
        "the last user's exit must delete the job-scoped scratch dir")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(root)
    }
  }

  test("withJobScopedCheckpointDir: a joiner racing the last leaver never has the dir reclaimed under it") {
    // round-18 ADVICE (medium): the old exit decremented OUTSIDE the
    // map's per-key lock, so a joiner could enter between the last
    // leaver's decrementAndGet()==0 and its recursive delete and have
    // its scratch deleted under it. Enter/exit now both run inside
    // users.compute(dir, …); this stress arm hammers one dir with
    // overlapping short scopes and asserts the invariant the API
    // promises: while ANY thread is inside, the dir (and that
    // thread's own marker file) exists.
    val root = java.nio.file.Files.createTempDirectory("graft_jobck2").toFile
    val dir = new java.io.File(root, "scratch")
    try {
      val threads = 8
      val iters = 40
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val pool = (0 until threads).map { tid =>
        new Thread(() => {
          var i = 0
          while (i < iters && errs.isEmpty) {
            try graft.operators.Iterate.withJobScopedCheckpointDir(
              spark, dir.getAbsolutePath) {
              val marker = new java.io.File(dir, s"m_${tid}_$i")
              dir.mkdirs() // setCheckpointDir created it; belt
              if (!marker.createNewFile())
                errs.add(s"marker create failed $tid/$i")
              if (tid % 2 == 0) Thread.`yield`()
              else Thread.sleep(0, 50000)
              if (!marker.exists())
                errs.add(s"dir reclaimed under live scope $tid/$i")
              marker.delete()
              ()
            } catch {
              case t: Throwable => errs.add(s"$tid/$i: $t")
            }
            i += 1
          }
        })
      }
      pool.foreach(_.start()); pool.foreach(_.join(120000))
      assert(errs.isEmpty, s"race violations: ${errs.toArray.mkString("; ")}")
      assert(!dir.exists(),
        "after every scope exits, the last leaver must have reclaimed")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(root)
    }
  }

  test("checkpoint-dir takeover warning: fires via withJobScopedCheckpointDir and respects path-component boundaries") {
    val base = java.nio.file.Files.createTempDirectory("graft_ckwarn")
    val df = spark.range(1).toDF("id")
    def configure(root: String): Unit =
      graft.operators.Iterate.configure(df, Some(root))
    try {
      val ck2 = base.resolve("ck2").toString
      val ck = base.resolve("ck").toString
      configure(ck2) // whatever dir was set before: establish ck2
      val before = graft.operators.Iterate.takeoverWarns.get()
      // same root re-configure: prev is ck2/<uuid> — NO warn
      configure(ck2)
      assert(graft.operators.Iterate.takeoverWarns.get() === before,
        "re-configuring the same root must not warn")
      // ADVICE boundary case: prev ck2/<uuid> vs new root ck — raw
      // startsWith would call this 'same root' and stay silent
      configure(ck)
      assert(graft.operators.Iterate.takeoverWarns.get() === before + 1,
        "ck2 -> ck is a takeover and must warn despite the shared prefix")
      // round-18 verdict item 6: the helper routes through the same
      // warning (it used to call setCheckpointDir directly)
      graft.operators.Iterate.withJobScopedCheckpointDir(
        spark, base.resolve("ck3").toString) { () }
      assert(graft.operators.Iterate.takeoverWarns.get() === before + 2,
        "withJobScopedCheckpointDir taking over a session dir set " +
          "elsewhere must fire the takeover warning")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(base.toFile)
    }
  }

  test("labelPropagateConverged: empty graph returns empty, no NPE") {
    import spark.implicits._
    val edges = Seq.empty[(Long, Long)].toDF("s", "d")
    val seeds = Seq((1L, 10L)).toDF("n", "lbl")
    val (labels, stats) = graft.operators.Graph.labelPropagateConverged(
      edges, "s", "d", seeds, "n", "lbl", maxIters = 3)
    assert(labels.count() === 0L)
    assert(stats.nonEmpty && stats.head.changed === 0L)
  }

  test("labelPropagateDelta: frontier rounds equal unrestricted warm start") {
    import spark.implicits._
    // base: two components, both converged after labelPropagateConverged
    //   1(seed A) - 2 - 3        and      7(seed B) - 8
    // delta: edge 3 - 7 bridges them; also brand-new node 9 hangs off 8
    val base = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("s", "d")
    val delta = Seq((3L, 7L), (8L, 9L)).toDF("s", "d")
    val full = base.unionByName(delta)
    val seeds = Seq((1L, 10L), (7L, 20L)).toDF("n", "lbl")
    val (stored, _) = graft.operators.Graph.labelPropagateConverged(
      base, "s", "d", seeds, "n", "lbl", maxIters = 20)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // the contract: frontier-restricted rounds == the SAME warm-start
    // rounds with frontier = every edge (unrestricted re-evaluation)
    Seq(1, 2, 3).foreach { n =>
      val (inc, _) = graft.operators.Graph.labelPropagateDelta(
        stored, full, "s", "d", delta, seeds, "n", "lbl", rounds = n)
      val (unrestricted, _) = graft.operators.Graph.labelPropagateDelta(
        stored, full, "s", "d", full, seeds, "n", "lbl", rounds = n)
      assert(collect(inc) === collect(unrestricted),
        s"frontier restriction diverged at rounds=$n")
    }
    // and the repair does what it should: new node 9 reached via 8,
    // stored labels elsewhere preserved
    val (r2, stats) = graft.operators.Graph.labelPropagateDelta(
      stored, full, "s", "d", delta, seeds, "n", "lbl", rounds = 4)
    val m = collect(r2)
    assert(m(9L) === Some(20L)) // labeled through the delta edge
    assert(m(1L) === Some(10L) && m(2L) === Some(10L))
    assert(m(7L) === Some(20L)) // seed stays clamped
    // empty delta: nothing to do, one round, zero changes
    val (same, st0) = graft.operators.Graph.labelPropagateDelta(
      stored, base, "s", "d", base.limit(0), seeds, "n", "lbl",
      rounds = 5)
    assert(st0.length === 1 && st0.head.changed === 0L)
    assert(collect(same) === collect(stored))
  }

  test("cohortRetention: cohort by first period, distinct actives, rate") {
    import spark.implicits._
    // period = 7 days; day d lands in bucket floor(d/7)
    def ts(day: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(1970, 1, 1).plusDays(day.toLong)
        .atStartOfDay())
    val ev = Seq(
      // cohort 0 (days 0–6): users 1, 2
      (1L, ts(0)), (1L, ts(1)),          // duplicate week-0 activity
      (1L, ts(8)),                       // active in offset 1
      (2L, ts(3)),                       // never returns
      // cohort 1 (days 7–13): user 3, returns offset 2
      (3L, ts(9)), (3L, ts(22)))
      .toDF("user_id", "ts")
    val out = Sessionize.cohortRetention(ev, "user_id", col("ts"), 7)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out((0, 0)) === ((2L, 2L, 1.0)))     // dup activity counts once
    assert(out((0, 1)) === ((1L, 2L, 0.5)))
    assert(out((1, 0)) === ((1L, 1L, 1.0)))
    assert(out((1, 2)) === ((1L, 1L, 1.0)))
    assert(out.size === 4)                      // no empty cells invented
    // cohort-size lookup is a broadcast join, not a shuffle
    val plan = Sessionize.cohortRetention(ev, "user_id", col("ts"), 7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("sampledDiff: same slice both sides, disjoint slots cover all") {
    import spark.implicits._
    val src = (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v")
    val tgt = (1L to 200L).filter(_ % 5 != 0)
      .map(i => (i, if (i % 7 == 0) s"x$i" else s"v$i")).toDF("id", "v")
    val all = (0 until 4).map(slot =>
      DiffSync.sampledDiff(src, tgt, Seq("id"), modulus = 4, slot = slot)
        .filter(col(DiffSync.FlagCol) =!= "identical")
        .collect().map(r => (r.getLong(0), r.getString(2))).toSet)
    // slots are disjoint and union to the full unsampled diff
    assert(all.map(_.size).sum === all.reduce(_ ++ _).size)
    val full = DiffSync.diff(src, tgt, Seq("id"))
      .filter(col(DiffSync.FlagCol) =!= "identical")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(all.reduce(_ ++ _) === full)
  }

  test("scd2: change, insert, delete, unchanged, history passthrough") {
    import spark.implicits._
    val dim = Seq(
      // closed history row must pass through untouched
      (1L, "old", "2024-01-01", Some("2025-01-01"), false),
      (1L, "a", "2025-01-01", None, true),    // will change to "a2"
      (2L, "b", "2025-01-01", None, true),    // unchanged
      (3L, "c", "2025-01-01", None, true))    // vanishes from snapshot
      .toDF("id", "v", "valid_from", "valid_to", "is_current")
    val snap = Seq((1L, "a2"), (2L, "b"), (4L, "d")) // 4 is new
      .toDF("id", "v")
    val out = Scd2.apply2(dim, snap, "id", Seq("v"), lit("2026-01-01"))
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2), Option(r.getString(3)), r.getBoolean(4))).toSet
    assert(rows === Set(
      (1L, "old", "2024-01-01", Some("2025-01-01"), false), // history
      (1L, "a", "2025-01-01", Some("2026-01-01"), false),   // closed
      (1L, "a2", "2026-01-01", None, true),                 // reopened
      (2L, "b", "2025-01-01", None, true),                  // unchanged
      (3L, "c", "2025-01-01", Some("2026-01-01"), false),   // deleted
      (4L, "d", "2026-01-01", None, true)))                 // inserted
    // applying the same snapshot again only closes the vanished key's
    // already-closed chain nothing further: current slice now equals
    // the snapshot → fixpoint
    val again = Scd2.apply2(out, snap, "id", Seq("v"), lit("2027-01-01"))
    assert(again.filter(col("is_current")).count() === 3)
    assert(again.count() === out.count())
  }

  test("scd2 applyCdc: delta semantics — absence is no news, tombstones delete") {
    import spark.implicits._
    val none: Option[String] = None // a pure-None literal infers None.type
    val dim = Seq(
      (1L, "a", "2025-01-01", none, true),  // changed upsert arrives
      (2L, "b", "2025-01-01", none, true),  // NO change row → untouched
      (3L, "c", "2025-01-01", none, true),  // explicit delete tombstone
      (5L, "e", "2025-01-01", none, true))  // no-op upsert (same value)
      .toDF("id", "v", "valid_from", "valid_to", "is_current")
    val changes = Seq(
      (1L, "a2", "changed"),
      (3L, "c", "deleted"),
      (4L, "d", "new"),      // brand-new key
      (5L, "e", "changed"),  // redelivered identical value → no-op
      (9L, "x", "deleted"))  // tombstone for an UNKNOWN key → no-op
      .toDF("id", "v", "flag")
    val out = Scd2.applyCdc(dim, changes, "id", Seq("v"), "flag",
      lit("2026-01-01"))
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2), Option(r.getString(3)), r.getBoolean(4))).toSet
    assert(rows === Set(
      (1L, "a", "2025-01-01", Some("2026-01-01"), false), // closed
      (1L, "a2", "2026-01-01", None, true),               // reopened
      (2L, "b", "2025-01-01", None, true),                // untouched!
      (3L, "c", "2025-01-01", Some("2026-01-01"), false), // tombstoned
      (4L, "d", "2026-01-01", None, true),                // inserted
      (5L, "e", "2025-01-01", None, true)))               // no-op upsert
    // CDC redelivery idempotence: the same batch applied again does
    // nothing new (values already match / key already closed / new
    // key now a no-op upsert); only the key-3 tombstone... which has
    // no current version left → no-op too
    val again = Scd2.applyCdc(out, changes, "id", Seq("v"), "flag",
      lit("2027-01-01"))
    assert(again.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2), Option(r.getString(3)), r.getBoolean(4))).toSet
      === rows)
    // folding the classified full diff batch-by-batch equals one
    // apply2 of the snapshot (the stream_scd2_apply contract)
    val snap = Seq((1L, "a2"), (2L, "b"), (4L, "d"), (5L, "e"))
      .toDF("id", "v")
    val diffed = graft.operators.DiffSync.diff(snap, dim
        .filter(col("is_current")).select(col("id"), col("v")), Seq("id"))
      .filter(col(graft.operators.DiffSync.FlagCol) =!= "identical")
      .withColumnRenamed(graft.operators.DiffSync.FlagCol, "flag")
    var folded = dim
    diffed.withColumn("b", pmod(col("id"), lit(2))).collect()
    Seq(0, 1).foreach { b =>
      folded = Scd2.applyCdc(folded,
        diffed.filter(pmod(col("id"), lit(2)) === b),
        "id", Seq("v"), "flag", lit("2026-01-01")).localCheckpoint()
    }
    val oneShot = Scd2.apply2(dim, snap, "id", Seq("v"), lit("2026-01-01"))
    assert(folded.collect().map(_.toSeq).toSet ===
      oneShot.collect().map(_.toSeq).toSet)
  }

  test("sequencePattern: journey encoding, non-overlapping greedy matches, partition invariance") {
    import spark.implicits._
    // user 1: v c c p v p  -> 'vc*p' matches twice (vccp, vp)
    // user 2: p v c        -> purchase BEFORE view: no match
    // user 3: v c v c p    -> ONE match: greedy leftmost vcvcp?
    //   'vc*p': at pos 0 'vc' then needs p but sees v -> backtrack to
    //   'vc', no p -> no match at 0... regex engines try 'v' 'c*'=cc?
    //   chars are v,c,v,c,p: v + c* consumes 'c', then 'p' needed but
    //   'v' -> fail; retry at the second v: v c p -> match. 1 match.
    val rows = Seq(
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "click"),
      (1L, 4L, "purchase"), (1L, 5L, "view"), (1L, 6L, "purchase"),
      (2L, 1L, "purchase"), (2L, 2L, "view"), (2L, 3L, "click"),
      (3L, 1L, "view"), (3L, 2L, "click"), (3L, 3L, "view"),
      (3L, 4L, "click"), (3L, 5L, "purchase"))
      .map { case (u, i, t) =>
        (u, i, java.sql.Timestamp.valueOf(f"2026-01-01 10:00:$i%02d"), t) }
      .toDF("user_id", "event_id", "ts", "event_type")
    val charOf = when(col("event_type") === "view", lit("v"))
      .when(col("event_type") === "click", lit("c"))
      .when(col("event_type") === "purchase", lit("p"))
      .otherwise(lit("e"))
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Sessionize.sequencePattern(df, "user_id",
        charOf, col("ts"), "event_id", "vc*p")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
        .toSet
    val got = run(rows)
    assert(got === Set((1L, 6, 2), (3L, 5, 1))) // user 2 filtered out
    // deterministic under any partitioning/arrival order: shuffled
    // input produces the identical journeys (array_sort on the
    // (ts, id, char) struct)
    assert(run(rows.repartition(7).sortWithinPartitions(col("event_type")))
      === got)
    // quote/backslash-bearing patterns are safe: the regex rides as a
    // literal, never spliced into SQL text (round-13 ADVICE)
    val quoted = graft.operators.Sessionize.sequencePattern(rows,
        "user_id", charOf, col("ts"), "event_id", "v[c'\\\\]*p")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .toSet
    assert(quoted === got) // [c'\] ⊇ {c} on these journeys
  }

  test("scd2 collapseCdc: last change per key, insert-update-delete in one batch") {
    import spark.implicits._
    val none: Option[String] = None
    // the adversarial shape: ONE key runs insert → update → delete
    // inside a single batch; another runs insert → update; a third is
    // a lone delete; untouched keys pass through applyCdc unchanged
    val feed = Seq(
      (1L, "a1", "new", 10L),
      (1L, "a2", "changed", 11L),
      (1L, "a2", "deleted", 12L),   // net effect on an absent key: nothing
      (2L, "b1", "new", 20L),
      (2L, "b2", "changed", 21L),   // net: insert b2
      (3L, "zz", "deleted", 30L),   // net: close key 3
      (4L, "d9", "changed", 40L))   // single change passes through
      .toDF("id", "v", "flag", "seq")
    val collapsed = Scd2.collapseCdc(feed, "id", "seq")
    assert(collapsed.columns.toSeq === Seq("id", "v", "flag", "seq"))
    val got = collapsed.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(got === Set(
      (1L, "a2", "deleted", 12L),
      (2L, "b2", "changed", 21L),
      (3L, "zz", "deleted", 30L),
      (4L, "d9", "changed", 40L)))
    // collapse → applyCdc: the delete of the never-inserted key 1 is
    // a no-op; key 2 inserts its FINAL value only (the intermediate
    // b1 version never existed as far as the snapshot is concerned)
    val dim = Seq(
      (3L, "c", "2025-01-01", none, true),
      (4L, "d", "2025-01-01", none, true),
      (5L, "e", "2025-01-01", none, true))
      .toDF("id", "v", "valid_from", "valid_to", "is_current")
    val out = Scd2.applyCdc(dim, collapsed.drop("seq"), "id", Seq("v"),
      "flag", lit("2026-01-01"))
    assert(out.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2), Option(r.getString(3)), r.getBoolean(4))).toSet
      === Set(
        (2L, "b2", "2026-01-01", None, true),
        (3L, "c", "2025-01-01", Some("2026-01-01"), false),
        (4L, "d", "2025-01-01", Some("2026-01-01"), false),
        (4L, "d9", "2026-01-01", None, true),
        (5L, "e", "2025-01-01", None, true)))
    // seq ties break deterministically by the remaining columns'
    // struct order (here: v DESC wins via max), not arbitrarily
    val tied = Scd2.collapseCdc(Seq(
        (7L, "p", "changed", 1L), (7L, "q", "changed", 1L))
      .toDF("id", "v", "flag", "seq"), "id", "seq")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(tied === Set((7L, "q")))
    // partial aggregation: the collapse must be ONE aggregate with a
    // map-side partial_max (struct max plans as SortAggregate — sort
    // within each partition, still combined BEFORE the shuffle), not
    // a window sort shuffling every change row
    val plan = collapsed.queryExecution.executedPlan.toString
    assert(plan.contains("partial_max") && !plan.contains("Window"))
  }

  test("scd2 lookup: picks the containing version, equi-keyed plan") {
    import spark.implicits._
    val dim = Seq(
      (1L, "v1", 100L, Some(200L)),
      (1L, "v2", 200L, None),
      (2L, "w1", 100L, None))
      .toDF("id", "v", "valid_from", "valid_to")
    val facts = Seq(
      (10L, 1L, 150L),  // inside v1
      (11L, 1L, 200L),  // boundary: valid_from inclusive → v2
      (12L, 1L, 199L),  // last tick of v1
      (13L, 2L, 500L),  // open-ended current version
      (14L, 1L, 50L),   // before all versions → dropped
      (15L, 9L, 100L))  // unknown key → dropped
      .toDF("fid", "id", "ts")
    val out = Scd2.lookup(dim, facts, "id", "ts").collect()
      .map(r => r.getAs[Long]("fid") -> r.getAs[String]("v")).toMap
    assert(out === Map(10L -> "v1", 11L -> "v2", 12L -> "v1",
      13L -> "w1"))
    // the join must be keyed on the equality, not a nested-loop range
    val plan = Scd2.lookup(dim, facts, "id", "ts")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"range-join degenerated:\n$plan")
  }

  test("resample interpolation: line between observations, flat edges") {
    import spark.implicits._
    // key k: observations at buckets 0 (v=10) and 30 (v=40); buckets
    // 10 and 20 are empty → interpolated; key m: single observation at
    // 20 → its spine is exactly that one bucket (per-key bounds)
    val df = Seq(
      ("k", 5L, 10.0), ("k", 35L, 40.0),
      ("m", 25L, 7.0)).toDF("key", "ts_us", "value")
    val out = Resample.interpolated(df, "key", col("ts_us"), 10L, "value")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(out(("k", 0L)) === 10.0)
    assert(out(("k", 10L)) === 20.0)
    assert(out(("k", 20L)) === 30.0)
    assert(out(("k", 30L)) === 40.0)
    // m's grid spans m's own observations only — no rows padded out to
    // k's range
    assert(out(("m", 20L)) === 7.0)
    assert(out.keys.count(_._1 == "m") == 1)
  }

  test("joinDeltaCdc: mixed insert/update/delete equals full rejoin") {
    import spark.implicits._
    val a0 = Seq((1L, 10L, 5.0), (1L, 11L, 6.0), (2L, 12L, 7.0),
      (3L, 13L, 8.0)).toDF("k", "aid", "av")
    val b0 = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "bv")
    val j0 = a0.join(b0, Seq("k"))
    // A: update aid 10 (new value + key move 1→2), delete aid 12,
    // insert new aid 14; delete of a nonexistent aid is a no-op row
    val aCdc = Seq(
      ("upsert", 2L, 10L, 50.0), ("delete", 0L, 12L, 0.0),
      ("upsert", 3L, 14L, 9.0), ("delete", 0L, 99L, 0.0))
      .toDF("op", "k", "aid", "av")
    // B: update k=3's payload, delete k=2, insert new k=4 (no A match)
    val bCdc = Seq(("upsert", 3L, "z2"), ("delete", 2L, "y"),
      ("upsert", 4L, "w")).toDF("op", "k", "bv")
    val out = Incremental.joinDeltaCdc(j0, a0, b0, aCdc, bCdc,
      Seq("k"), "aid", "k", "op")
    // ground truth: full rejoin of the CDC-applied sides
    val a1 = Seq((2L, 10L, 50.0), (1L, 11L, 6.0), (3L, 13L, 8.0),
      (3L, 14L, 9.0)).toDF("k", "aid", "av")
    val b1 = Seq((1L, "x"), (3L, "z2"), (4L, "w")).toDF("k", "bv")
    val expected = a1.join(b1, Seq("k"))
    assert(out.exceptAll(expected).isEmpty && expected.exceptAll(out).isEmpty,
      s"got ${out.collect().mkString(",")} " +
        s"want ${expected.collect().mkString(",")}")
    // the stored join and historical sides must never reshuffle: every
    // join in the plan is broadcast-built (anti on touched keys,
    // re-derive on broadcast upserts)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("aggStateCdc: deletes fix min/max, key moves rebuild both keys") {
    import spark.implicits._
    val data = Seq(
      (10L, 1L, 5.0), (11L, 1L, 9.0), (12L, 1L, 7.0), // key 1
      (20L, 2L, 4.0), (21L, 2L, 6.0),                 // key 2
      (30L, 3L, 8.0)                                   // key 3 (untouched)
    ).toDF("rid", "k", "v")
    val I = Incremental
    val state0 = I.aggState(data, "k", Seq("v"))
    // delete the MAX of key 1 (min/max must recompute, not fold);
    // move rid 20 from key 2 to key 4 with a new value; delete rid 21
    // so key 2 disappears entirely
    val cdc = Seq(
      ("delete", 11L, 1L, 0.0),
      ("upsert", 20L, 4L, 4.5),
      ("delete", 21L, 2L, 0.0)).toDF("op", "rid", "k", "v")
    val out = I.aggStateCdc(data, state0, cdc, "k", "rid", Seq("v"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDecimal(2).doubleValue(), r.getDouble(3),
          r.getDouble(4))).toMap
    // ground truth: full re-aggregation of the CDC-applied rows
    assert(out(1L) === ((2L, 12.0, 5.0, 7.0)), "max must drop to 7")
    assert(!out.contains(2L), "emptied key must vanish")
    assert(out(3L) === ((1L, 8.0, 8.0, 8.0)), "untouched key intact")
    assert(out(4L) === ((1L, 4.5, 4.5, 4.5)), "moved row creates key")
    // history must never reshuffle: all maintenance joins broadcast
    val plan = I.aggStateCdc(data, state0, cdc, "k", "rid", Seq("v"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("resample spine is per-key bounded, not keys x global range") {
    import spark.implicits._
    // one long-lived key (buckets 0..999) plus 200 single-bucket keys:
    // a global-bounds spine would be 201 x 1000 = 201,000 rows; the
    // per-key spine must stay O(sum of per-key spans) = 1000 + 200
    val longLived = (0L until 1000L).map(b => ("hot", b * 10L, 1.0))
    val shortLived = (0 until 200).map(i => (s"k$i", 40L, 2.0))
    val df = (longLived ++ shortLived).toDF("key", "ts_us", "value")
    val out = Resample.resample(df, "key", col("ts_us"), 10L, "value")
    assert(out.count() == 1200L)
    // short-lived keys contribute exactly their own observed bucket
    assert(out.filter(col("key") === "k7").count() == 1L)
    assert(out.filter(col("key") === "hot").count() == 1000L)
  }
}
