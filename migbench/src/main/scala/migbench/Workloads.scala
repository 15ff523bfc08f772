package migbench

import graft.catalog.{Catalog, TableDef}
import graft.convert.Config
import graft.emit.{KettleEmitter, PgDdlEmitter}
import graft.operators.{DiffSync, JdbcSink, MigrationRunner}
import graft.parser.{LineCleaner, TsqlParser}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, TimestampNTZType, TimestampType}

/** One benchmark workload. The harness calls `setup` a few times (the
  * last set-up is the one measured against), then alternates `reset`
  * (untimed), `iterate` (timed) and `check` (untimed).
  */
trait Workload {
  /** Work units of one iteration: rows moved and dump lines converted. */
  def rows: Long
  def lines: Long
  def setup(): Unit
  /** Untimed, checked iterations run before the timed ones. */
  def warmUps: Int
  def reset(tr: Tracer): Unit = ()
  /** Runs the timed work; returns its timed seconds. */
  def iterate(tr: Tracer): Double
  /** (operations attempted, operations failed) of the last iteration. */
  def check(): (Long, Long)
  /** Per-layer counts of the last iteration. */
  def counts: Map[String, Double]
  def close(): Unit
}

/** Front half only: clean → parse → PG DDL → Kettle, in memory. */
final class ConvertSchema(seed: Long, nTables: Int, nViews: Int,
    stateDir: java.nio.file.Path) extends Workload {
  private val conf = Config()
  private var dump: DumpGen.Dump = _
  private var out: PgDdlEmitter.Output = _
  private var kettle: Map[String, String] = Map.empty
  private var cat: Catalog = _
  private var firstDigests: Option[Map[String, String]] = None

  def rows: Long = dump.manifest.tables.map(_.cols.size + 1L).sum
  def lines: Long = dump.lines.size

  private def convert(lines: Seq[String], tr: Tracer): Unit = {
    val cleaned = tr.span("parser.clean")(LineCleaner.clean(lines))
    cat = tr.span("parser.parse")(new TsqlParser(conf).parse(cleaned))
    out = tr.span("emit.pg_ddl")(new PgDdlEmitter(conf).emit(cat))
    kettle = tr.span("emit.kettle")(new KettleEmitter(conf).emit(cat, "kettle"))
  }

  /** Generates the dump, saves it as SSMS does (UTF-16LE with a BOM) and
    * reads it back through the product's decoder.
    */
  def setup(): Unit = {
    val d = DumpGen.convertDump(nTables, nViews, seed)
    val file = java.nio.file.Files.createTempFile("convert_schema", ".sql")
    try {
      java.nio.file.Files.write(file, ("\uFEFF" + d.lines.mkString("\r\n"))
        .getBytes(java.nio.charset.StandardCharsets.UTF_16LE))
      dump = d.copy(lines = LineCleaner.readFile(file))
    } finally java.nio.file.Files.delete(file)
  }

  /** The regex-heavy parser settles over two passes (measured on a
    * 4-core host: 9.5, then 6.7, 5.9, 5.1 s after one warm-up).
    */
  def warmUps: Int = 2


  def iterate(tr: Tracer): Double = {
    val t0 = System.nanoTime()
    convert(dump.lines, tr)
    (System.nanoTime() - t0) / 1e9
  }

  def check(): (Long, Long) = {
    val m = dump.manifest
    val digests = Checks.convertDigests(out.before, out.after, out.unsure,
      out.colMap, kettle)
    if (firstDigests.isEmpty) firstDigests = Some(digests)
    // the same seed must give byte-identical output, in this run and
    // in every earlier run of this checkout
    val stored = stateDir.resolve(s"convert_schema-$seed-$nTables-$nViews.digests")
    val line = digests.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n")
    if (!java.nio.file.Files.exists(stored)) {
      java.nio.file.Files.createDirectories(stateDir)
      java.nio.file.Files.writeString(stored, line)
    }
    val sameAsBefore = java.nio.file.Files.readString(stored) == line &&
      firstDigests.contains(digests)
    val failed = Checks.missingInBefore(m, out.before) +
      Checks.missingInColMap(m, out.colMap) + Checks.badViews(m, out.unsure) +
      (if (sameAsBefore) 0 else 1)
    (m.tables.size + m.views.size.toLong, failed.toLong)
  }

  def counts: Map[String, Double] = {
    val tables = cat.allTables
    Map("parser.lines" -> dump.lines.size,
      "catalog.tables" -> tables.size,
      "catalog.columns" -> tables.map(_._2.cols.size).sum,
      "catalog.indexes" -> tables.map(_._2.indexes.size).sum,
      "catalog.views" -> cat.schemas.values.map(_.views.size).sum,
      "catalog.renames" -> out.warnings.count(_.contains(" renamed to ")),
      "emit.pg_ddl_bytes" -> Seq(out.before, out.after, out.unsure, out.colMap)
        .map(_.length.toDouble).sum,
      "emit.kettle_bytes" -> kettle.values.map(_.length.toDouble).sum,
      "emit.kettle_files" -> kettle.size)
  }

  def close(): Unit = ()
}

/** The migration path on one Derby target, timed in two phases per
  * iteration:
  *  1. copy: parse the dump → `before` tables → `MigrationRunner.runAll`
  *     (copy plans over parquet reads, `JdbcSink.write` at the `Config`
  *     defaults) → primary keys (the `after` step);
  *  2. sync: after an untimed seeded perturbation of the loaded target,
  *     read it back (`Tables.jdbc`), `DiffSync.canonicalize` + `diff`
  *     against the source and `DiffSync.applyToJdbc` (generic dialect),
  *     for every table with a primary key.
  * The load runs before the keys exist: 4 concurrent writers into a
  * Derby table that already has its key can die in a lock deadlock.
  */
final class MigrateSync(seed: Long, sf: Double, workDir: String, cores: Int,
    traced: Boolean) extends Workload {
  private val conf = Config()
  private val url = "jdbc:derby:memory:migbench"
  private var spark: SparkSession = _
  private var derby: Derby = _
  private val dumpLines = DumpGen.tablesDump(withLineitem = true)
  private val catalog = new TsqlParser(conf).parse(dumpLines)
  private val tables = catalog.allTables.map(_._2)
  private val keyed = tables.filter(_.pk.isDefined)
  private val dataDir = s"$workDir/data"
  private val sourceRows = DataGen.rowCounts(sf)
  private def source(t: TableDef): DataFrame =
    spark.read.parquet(s"$dataDir/${t.name}.parquet")

  /** Engine listeners, installed in traced runs only. */
  private var counters: Option[SparkCounters] = None
  private var copyCounts: Map[String, Long] = Map.empty
  private var syncCounts: Map[String, Long] = Map.empty

  private var expected: Map[String, (Long, Long, Long)] = Map.empty
  private var results: Seq[MigrationRunner.TableResult] = Nil
  private var copyBad = Set.empty[String]
  private var flagBad = Set.empty[String]
  private var flags: Map[String, Long] = Map.empty
  private var iterations = 0
  private var phases = (0.0, 0.0)

  def rows: Long = tables.map(t => sourceRows(t.name)).sum +
    keyed.map(t => sourceRows(t.name) + extraKeys(t).size).sum
  def lines: Long = dumpLines.size

  /** Fresh Derby database and generated source tables; the Spark session
    * is started by the first set-up.
    */
  def setup(): Unit = {
    if (spark == null) bootSpark()
    if (derby != null) derby.close()
    derby = new Derby(url)
    DataGen.write(spark, dataDir, tables.map(_.name), sf, seed)
    expected = Map.empty
    iterations = 0
  }

  private def bootSpark(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    counters = if (traced) Some(new SparkCounters(spark)) else None
    counters.foreach(_.install())
  }

  /** Spark codegen, JIT and Derby settle over two passes (measured on a
    * 4-core host: 12.2, 7.2, 6.3, then 5.3 s per iteration).
    */
  def warmUps: Int = 2

  override def reset(tr: Tracer): Unit = derby.dropTables(catalog)

  /** Seconds of `body` and the engine counters it moved. */
  private def timed(c: Option[SparkCounters])(body: => Unit): (Double, Map[String, Long]) = {
    val before = c.map(_.snapshot()).getOrElse(Map.empty)
    val t0 = System.nanoTime()
    body
    val s = (System.nanoTime() - t0) / 1e9
    val after = c.map(_.snapshot()).getOrElse(Map.empty)
    (s, after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) })
  }

  def iterate(tr: Tracer): Double = {
    var cat: Catalog = null
    val (copyS, cc) = timed(counters)(tr.span("phase.copy") {
      cat = tr.span("parser.parse")(new TsqlParser(conf).parse(
        tr.span("parser.clean")(LineCleaner.clean(dumpLines))))
      copy(cat, tr)
    })
    // untimed: check the load, then perturb the target for the sync
    copyBad = checkCopy()
    perturb()
    if (iterations == 0 || tr.recording) classify(tr)
    iterations += 1
    val (syncS, sc) = timed(counters)(tr.span("phase.sync")(sync(cat, tr)))
    copyCounts = cc; syncCounts = sc
    phases = (copyS, syncS)
    copyS + syncS
  }

  private def copy(cat: Catalog, tr: Tracer): Unit = {
    val ts = cat.allTables.map(_._2)
    tr.span("target.before_ddl")(ts.foreach(derby.createBefore))
    val readEnd = new ThreadLocal[Long]
    var runAll = 0
    results = tr.span("runner.run_all") {
      runAll = tr.currentId
      MigrationRunner.runAll(spark, cat,
        read = (_, t) => {
          val df = tr.span("sources.parquet", runAll)(source(t))
          readEnd.set(System.nanoTime()); Some(df)
        },
        sink = (_, t, df) => {
          // runAll builds the copy plan between our read and our sink
          tr.record("runner.copy_plan", runAll, readEnd.get, System.nanoTime())
          tr.span("sink.write", runAll)(JdbcSink.write(df,
            JdbcSink.Spec(url, t.name, "", "", numPartitions = conf.parallelismOut,
              relaxDurability = false, rewriteBatchedInserts = false)))
          sourceRows(t.name)
        })
    }
    tr.span("target.after_ddl")(ts.foreach(derby.addPrimaryKey))
  }

  /** Tables whose sync threw; like a failed copy, a failed operation. */
  private var syncErrors = Set.empty[String]

  private def sync(cat: Catalog, tr: Tracer): Unit =
    syncErrors = cat.allTables.map(_._2).filter(_.pk.isDefined).filter { t =>
      try {
        val d = diffed(t, tr)
        tr.span("diffsync.apply")(DiffSync.applyToJdbc(d, Seq(pkCol(t)),
          DiffSync.SyncTarget(url, t.name, "", "", dialect = "generic")))
        false
      } catch {
        case e: Exception =>
          System.err.println(s"[migbench] sync of ${t.name} failed: ${e.getMessage}")
          true
      }
    }.map(_.name).toSet

  // ---- the seeded perturbation ---------------------------------------

  private def pkCol(t: TableDef): String = t.pk.get.cols.head

  /** PK-hash buckets of the source keys: < 100 of 10000 are changed in
    * the target (flag `changed`), 100–149 removed from it (flag `new`).
    */
  private def bucket(t: TableDef, k: Long): Int =
    (scala.util.hashing.MurmurHash3.productHash((seed, t.name, k)) & 0x7fffffff) % 10000
  private def keysIn(t: TableDef, lo: Int, hi: Int): Seq[Long] =
    (0L until sourceRows(t.name)).filter { k => val b = bucket(t, k); b >= lo && b < hi }
  /** 0.5% extra target rows under new keys (flag `deleted`). */
  private def extraKeys(t: TableDef): Seq[Long] = {
    val n = sourceRows(t.name)
    (0L until math.round(n * 0.005)).map(n + 1000000L + _)
  }

  /** The column the perturbation changes: the first numeric non-key
    * column, else the first text one.
    */
  private def mutation(t: TableDef): String = {
    val cs = t.cols.sortBy(_.pos).filterNot(_.name == pkCol(t))
    cs.find(c => Set("float", "int", "bigint").contains(c.sqlType.name))
      .map(c => s"${c.name} = ${c.name} + 1")
      .getOrElse { val c = cs.head.name; s"$c = $c || '~'" }
  }

  private def perturb(): Unit = keyed.foreach { t =>
    val k = pkCol(t)
    val others = t.cols.sortBy(_.pos).map(_.name).filterNot(_ == k)
    def batch(sql: String, args: Seq[Seq[Long]]): Unit = {
      val ps = derby.conn.prepareStatement(sql)
      try {
        args.foreach { a =>
          a.zipWithIndex.foreach { case (v, i) => ps.setLong(i + 1, v) }
          ps.addBatch()
        }
        ps.executeBatch()
      } finally ps.close()
    }
    val n = sourceRows(t.name)
    // extra rows copy an existing row's values under a new key
    batch(s"INSERT INTO ${t.name} ($k, ${others.mkString(", ")}) SELECT " +
      s"CAST(? AS BIGINT), ${others.mkString(", ")} FROM ${t.name} WHERE $k = ?",
      extraKeys(t).zipWithIndex.map { case (nk, i) => Seq(nk, (i * 7L) % n) })
    batch(s"UPDATE ${t.name} SET ${mutation(t)} WHERE $k = ?",
      keysIn(t, 0, 100).map(Seq(_)))
    batch(s"DELETE FROM ${t.name} WHERE $k = ?", keysIn(t, 100, 150).map(Seq(_)))
  }

  private def colTypes(t: TableDef): Map[String, String] =
    t.cols.map(c => c.name -> c.sqlType.name).toMap

  private def readTarget(t: TableDef): DataFrame =
    Tables.jdbc(spark, Tables.JdbcSpec(url, t.name, "", ""))

  /** Target table read back with the source's column names and types. */
  private def aligned(read: DataFrame, like: DataFrame): DataFrame = {
    val byLower = read.schema.fields.map(f => f.name.toLowerCase -> f).toMap
    read.select(like.schema.fields.toIndexedSeq.map { f =>
      val g = byLower(f.name.toLowerCase)
      val c = col(g.name)
      ((f.dataType, g.dataType) match {
        case (StringType, TimestampType | TimestampNTZType) =>
          date_format(c, "yyyy-MM-dd HH:mm:ss")
        case (a, b) if a != b => c.cast(a)
        case _ => c
      }).as(f.name)
    }: _*)
  }

  private def diffed(t: TableDef, tr: Tracer): DataFrame = {
    val src = DiffSync.canonicalize(MigrationRunner.copyPlan(t, source(t)),
      colTypes(t))
    val read = tr.span("sources.jdbc")(readTarget(t))
    val tgt = DiffSync.canonicalize(aligned(read, src), colTypes(t))
    tr.span("diffsync.diff")(DiffSync.diff(src, tgt, Seq(pkCol(t))))
  }

  // ---- checks (untimed) ------------------------------------------------

  private def columns(t: TableDef): Seq[String] = t.cols.sortBy(_.pos).map(_.name)

  /** Fingerprint of the target table, read over the harness's connection. */
  private def targetPrint(t: TableDef): (Long, Long, Long) = {
    val cs = columns(t)
    val st = derby.conn.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT ${cs.mkString(", ")} FROM ${t.name}")
      Checks.fingerprint(Iterator.continually(rs).takeWhile(_.next())
        .map(r => cs.indices.map(i => r.getObject(i + 1))))
    } finally st.close()
  }

  /** Tables whose target differs from the copy plan over the source
    * (count and order-independent content hash), or whose copy failed.
    */
  private def checkCopy(): Set[String] = {
    if (expected.isEmpty) expected = tables.map { t =>
      val plan = MigrationRunner.copyPlan(t, source(t)).select(columns(t).map(col): _*)
      t.name -> Checks.fingerprint(plan.collect().iterator.map(_.toSeq))
    }.toMap
    tables.filter { t =>
      results.find(_.table == t.name).forall(_.error.nonEmpty) ||
        targetPrint(t) != expected(t.name)
    }.map(_.name).toSet
  }

  /** The flag counts of the perturbed target must equal the perturbation
    * exactly (checked on the first iteration of a set-up and in traced
    * ones, where it is the classify_s span; the perturbation is the same
    * every time).
    */
  private def classify(tr: Tracer): Unit = {
    flags = Map.empty
    flagBad = keyed.filter { t =>
      if (tr.recording) tr.span("sources.jdbc_scan")(
        flags += s"rows.${t.name}" -> (flags.getOrElse(s"rows.${t.name}", 0L) + readTarget(t).count()))
      val byFlag = tr.span("diffsync.classify")(diffed(t, Tracer.off)
        .groupBy(DiffSync.FlagCol).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
      val changed = keysIn(t, 0, 100).size.toLong
      val gone = keysIn(t, 100, 150).size.toLong
      val want = Map("new" -> gone, "changed" -> changed,
        "deleted" -> extraKeys(t).size.toLong,
        "identical" -> (sourceRows(t.name) - changed - gone))
      byFlag.foreach { case (f, n) => flags += f -> (flags.getOrElse(f, 0L) + n) }
      want.exists { case (f, n) => byFlag.getOrElse(f, 0L) != n }
    }.map(_.name).toSet
  }

  /** Operations: each table copied plus each table synced. A synced
    * table fails if its sync threw, its flag counts were wrong or the
    * target does not equal the source afterwards.
    */
  def check(): (Long, Long) = {
    val syncBad = keyed.count(t => flagBad(t.name) || syncErrors(t.name) ||
      targetPrint(t) != expected(t.name))
    (tables.size + keyed.size.toLong, copyBad.size.toLong + syncBad)
  }

  def counts: Map[String, Double] = {
    val compared = flags.filter(kv => !kv._1.startsWith("rows.")).values.sum
    val useful = Seq("new", "changed", "deleted").map(flags.getOrElse(_, 0L)).sum
    val cache = if (this.spark == null) 0.0
      else this.spark.sparkContext.getPersistentRDDs.size.toDouble
    val engine = (copyCounts.keySet ++ syncCounts.keySet).map { k =>
      k -> (copyCounts.getOrElse(k, 0L) + syncCounts.getOrElse(k, 0L)).toDouble
    }.toMap
    engine ++ Map(
      "phase.copy_s" -> phases._1, "phase.sync_s" -> phases._2,
      "spark.cache_entries_end" -> cache,
      "runner.table_s_max" -> results.map(_.seconds).maxOption.getOrElse(0.0),
      "sink.rows" -> copyCounts.getOrElse("spark.records_written", 0L).toDouble,
      "diffsync.rows_new" -> flags.getOrElse("new", 0L).toDouble,
      "diffsync.rows_changed" -> flags.getOrElse("changed", 0L).toDouble,
      "diffsync.rows_deleted" -> flags.getOrElse("deleted", 0L).toDouble,
      "diffsync.useful_ratio" -> (if (compared > 0) useful.toDouble / compared else 0.0),
      "sources.rows" -> flags.filter(_._1.startsWith("rows.")).values.sum.toDouble,
      "parser.lines" -> dumpLines.size.toDouble,
      "catalog.tables" -> tables.size.toDouble,
      "catalog.columns" -> tables.map(_.cols.size).sum.toDouble)
  }

  def close(): Unit = if (spark != null) { spark.stop(); derby.close(); spark = null }
}
