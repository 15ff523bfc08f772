package migbench

/** Benchmark entry: `Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --state <dir>`.
  *
  * Sets the workload up `SetupPasses` times (set-up time is the median),
  * runs untimed warm-up iterations, then timed iterations in a closed
  * loop with one client until `--seconds` of timed work are done (at
  * least `MinIterations`). Every iteration is reset and checked outside
  * its timing. The last stdout line is the result JSON; `--trace 1`
  * reports the per-layer metrics, alternating untraced and traced
  * iterations to price the tracing.
  */
object Main {
  val SetupPasses = 5
  val MinIterations = 3

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val state = java.nio.file.Paths.get(a("state"))
    val cores = Runtime.getRuntime.availableProcessors
    System.err.println("MIGBENCH_VERSIONS " + Versions.json)
    val w: Workload = name match {
      case "convert_schema" => new ConvertSchema(seed, 5000, 200, state)
      case "migrate_sync" => new MigrateSync(seed, 0.01, work, cores, traced)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setupS = (1 to SetupPasses).map { i =>
      val t0 = System.nanoTime(); w.setup()
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[migbench] $name setup$i $s%.3f s")
      s
    }
    // warm-up: untimed but checked iterations (JIT, codegen, caches)
    var attempted = 0L; var failed = 0L
    (1 to w.warmUps).foreach { i =>
      w.reset(Tracer.off)
      val warm = w.iterate(Tracer.off)
      val (att, bad) = w.check()
      attempted += att; failed += bad
      System.err.println(f"[migbench] $name warm-up$i $warm%.3f s")
    }
    val tr = new Tracer(s"$name-$seed")
    final case class Iter(wall: Double, heapMb: Double, traced: Boolean,
        counts: Map[String, Double])
    val iters = Vector.newBuilder[Iter]
    var timed = 0.0; var k = 0
    // traced runs alternate untraced and traced iterations, two of each
    // at least
    val minIterations = if (traced) 4 else MinIterations
    while (k < minIterations || timed < seconds) {
      val spansOn = traced && k % 2 == 1
      tr.beginIteration(s"iter$k")
      tr.recording = spansOn
      w.reset(tr)
      HeapWatch.reset()
      val wall = tr.span("iteration")(w.iterate(tr))
      val heap = HeapWatch.peakMb
      tr.recording = false
      val (att, bad) = w.check()
      attempted += att; failed += bad
      iters += Iter(wall, heap, spansOn, w.counts)
      System.err.println(f"[migbench] $name iter$k wall=$wall%.3f s heap=$heap%.1f MB " +
        s"traced=$spansOn checked=$att failed=$bad")
      timed += wall; k += 1
    }
    val all = iters.result()
    val untracedIt = all.filterNot(_.traced)
    val wall = median(untracedIt.map(_.wall))

    def metric(n: String, v: Double, unit: String): String =
      s""""$n":{"value":$v,"unit":"$unit"}"""
    val metrics: Seq[String] = if (!traced) Seq(
      metric("setup_s", median(setupS), "s"),
      metric("wall_s", wall, "s"),
      metric("rows_per_s", w.rows / wall, "1/s"),
      metric("lines_per_s", w.lines / wall, "1/s"),
      metric("live_heap_mb", median(untracedIt.map(_.heapMb)), "MB"))
    else {
      val tracedIt = all.filter(_.traced)
      val self = tr.selfSeconds
      val runs = tracedIt.indices.map(i => s"${tr.runId}/iter${2 * i + 1}")
      def spanMetric(span: String): Double =
        median(runs.map(r => self.getOrElse(r, Map.empty).getOrElse(span, 0.0)))
      val timesFromSpans = Seq(
        "parser.clean_s" -> "parser.clean", "parser.parse_s" -> "parser.parse",
        "emit.pg_ddl_s" -> "emit.pg_ddl", "emit.kettle_s" -> "emit.kettle",
        "runner.run_all_s" -> "runner.run_all",
        "runner.copy_plan_s" -> "runner.copy_plan", "sink.write_s" -> "sink.write",
        "target.before_ddl_s" -> "target.before_ddl",
        "target.after_ddl_s" -> "target.after_ddl",
        "sources.jdbc_scan_s" -> "sources.jdbc_scan",
        "diffsync.classify_s" -> "diffsync.classify",
        "diffsync.apply_s" -> "diffsync.apply")
      val counted = PerLayer.counts.map { case (n, unit) =>
        val v = median(tracedIt.map(_.counts.getOrElse(PerLayer.source(n), 0.0)))
        metric(n, PerLayer.scale(n, v), unit)
      }
      timesFromSpans.map { case (n, s) => metric(n, spanMetric(s), "s") } ++ counted ++ Seq(
        metric("trace.wall_s", median(tracedIt.map(_.wall)), "s"),
        metric("trace.overhead_s", median(tracedIt.map(_.wall)) - wall, "s"))
    }
    w.close()
    if (traced) tr.writeJsonl(state.resolve("traces").resolve(s"$name-s$seed.jsonl"))
    val correct = failed == 0
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${metrics.mkString(",")}}}""")
    System.out.flush()
    sys.exit(0)
  }
}

/** The per-layer counters reported by a traced run: name → unit. Counter
  * values come from the workload's `counts` (Spark times are kept in
  * their listener units and scaled here to seconds).
  */
object PerLayer {
  val counts: Seq[(String, String)] = Seq(
    "phase.copy_s" -> "s", "phase.sync_s" -> "s",
    "parser.lines" -> "count", "catalog.tables" -> "count",
    "catalog.columns" -> "count", "catalog.indexes" -> "count",
    "catalog.views" -> "count", "catalog.renames" -> "count",
    "emit.pg_ddl_bytes" -> "bytes", "emit.kettle_bytes" -> "bytes",
    "emit.kettle_files" -> "count", "runner.table_s_max" -> "s",
    "sink.rows" -> "count", "sources.rows" -> "count",
    "diffsync.rows_new" -> "count", "diffsync.rows_changed" -> "count",
    "diffsync.rows_deleted" -> "count", "diffsync.useful_ratio" -> "ratio",
    "spark.planning_s" -> "s", "spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_failures" -> "count", "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.jvm_gc_s" -> "s",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.cache_entries_end" -> "count")

  def source(n: String): String = n match {
    case "spark.planning_s" => "spark.planning_ms"
    case "spark.executor_run_s" => "spark.executor_run_ms"
    case "spark.executor_cpu_s" => "spark.executor_cpu_ns"
    case "spark.jvm_gc_s" => "spark.jvm_gc_ms"
    case other => other
  }

  def scale(n: String, v: Double): Double = n match {
    case "spark.executor_cpu_s" => v / 1e9
    case "spark.planning_s" | "spark.executor_run_s" | "spark.jvm_gc_s" => v / 1e3
    case _ => v
  }
}

/** JDK, Spark and Derby versions, for the run's diagnostics. */
object Versions {
  def json: String = {
    val derby = try org.apache.derby.tools.sysinfo.getVersionString()
      catch { case _: Throwable => "unknown" }
    s"""{"jdk":"${System.getProperty("java.version")}",""" +
      s""""spark":"${org.apache.spark.SPARK_VERSION}","derby":"$derby"}"""
  }
}
