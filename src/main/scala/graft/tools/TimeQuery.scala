package graft.tools

/** Time individual gates standalone (perf iteration aid).
  * Usage: runMain graft.tools.TimeQuery <sfDir> <query>[ <query>…]
  * Each query runs twice; the second run is reported (first absorbs
  * JIT/codegen warmup, like Bench's session warmup but per-query).
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val gates = graft.SparkEntry.gates.map(g => g.name -> g.build).toMap
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = graft.GraftSession.local()
    // SPARK_GRAFT_WARM_DIR: optionally pre-run each query against a
    // different (smaller) SF first — reproduces Bench's warmup regime
    sys.env.get("SPARK_GRAFT_WARM_DIR").foreach { wd =>
      names.foreach { name =>
        // NonFatal only: a broken warm dir must be visible, and fatal
        // errors (OOM, dying JVM) must propagate, not silently produce
        // cold timings
        try gates(name)(spark, wd).count()
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[time] warmup $name failed: ${e.getMessage}")
        }
        finally { graft.CachePool.releaseAll(); () }
      }
    }
    names.foreach { name =>
      val fn = gates(name)
      (1 to 2).foreach { run =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        // Bench convention: cleanup inside the timed region
        graft.CachePool.releaseAll()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[time] $name%-26s run$run $secs%8.2f s  ($n rows)")
      }
    }
    spark.stop()
    sys.exit(0)
  }
}
