package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog._
import graft.convert.{Config, Identifiers}
import graft.sources.Tables
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** C8–C10 + P6/P10: the migration job — the Spark-native expression of
  * the reference's generated Kettle job (`migration.kjb`,
  * sqlserver2pgsql.pl:1176–1351).
  *
  * The reference runs tables strictly sequentially (pl:1206–1279), with
  * a SQL-script prologue (create casts, disable triggers) and epilogue
  * (re-enable triggers, drop casts). Here the per-table copies are
  * independent Spark jobs, so the runner schedules them CONCURRENTLY on
  * the scheduler pool (P10 — the deliberate improvement the reference
  * itself couldn't make); the prologue/epilogue stay driver-side JDBC.
  */
object MigrationRunner {

  /** Per-table copy plan derived from the catalog: read → B4 projection
    * → NUL scrub. `read` abstracts the source (JDBC in production, the
    * driver's parquet in tests).
    */
  def copyPlan(table: TableDef, read: DataFrame): DataFrame = {
    val colTypes = table.cols.sortBy(_.pos)
      .filter(c => read.columns.contains(c.name))
      .map(c => c.name -> c.sqlType.name)
    CopyPipeline.copyPlan(read, colTypes)
  }

  /** Prologue statements (C8, pl:1283–1318): implicit casts + trigger
    * disabling for every table. Returned as SQL for a driver-side
    * connection; Spark never needs the casts (it ships typed values —
    * P14), so only the trigger half matters when the sink is PG.
    */
  def prologueSql(cat: Catalog, conf: Config): Seq[String] =
    cat.allTables.map { case (sn, t) =>
      val (tn, _) = Identifiers.format(t.name, conf)
      s"ALTER TABLE ${Identifiers.format(sn, conf)._1}.$tn DISABLE TRIGGER ALL"
    }

  /** Epilogue (C10): re-enable triggers. */
  def epilogueSql(cat: Catalog, conf: Config): Seq[String] =
    cat.allTables.map { case (sn, t) =>
      val (tn, _) = Identifiers.format(t.name, conf)
      s"ALTER TABLE ${Identifiers.format(sn, conf)._1}.$tn ENABLE TRIGGER ALL"
    }

  final case class TableResult(schema: String, table: String, rows: Long,
      seconds: Double, error: Option[String])

  /** Per-table JDBC read PLAN — the automatic template choice the
    * reference makes per table (pl:949–963): consult
    * `Tables.partitionHint` (single integral PK + LOB payload or
    * `-use_pk_if_possible` opt-in); eligible tables read
    * range-partitioned on the PK with `-pi` slices (Spark's native
    * equivalent of the modulo-sliced parallel TableInput), everything
    * else reads as one stream. LOB tables also drop the JDBC fetch
    * size 10× — their rows are fat, and a 10k-row fetch buffer of
    * multi-MB LOBs is an executor OOM, the same reasoning behind the
    * reference's dedicated LOB template.
    *
    * `boundsOf` abstracts the min/max(pk) scalar probe (a 1-row JDBC
    * query in production; the spec drives it from the fixture) — the
    * bounds must come from the SOURCE, not a guess, or Spark puts
    * everything outside [lower, upper] into the two edge partitions.
    */
  def plannedRead(spark: SparkSession, job: graft.convert.ConfFile.Job,
      table: TableDef,
      boundsOf: (TableDef, String) => Option[(Long, Long)],
      specOverride: Option[Tables.JdbcSpec] = None): DataFrame = {
    // bracket-quote the MSSQL identifiers (reference convention,
    // KettleEmitter parity): an unquoted name with a space or reserved
    // word would make the generated SELECT invalid T-SQL
    val base = specOverride.getOrElse(Tables.specFromJob(job,
      s"[${table.origSchema}].[${table.name}]"))
    val spec0 = if (table.hasLobs)
      base.copy(fetchSize = math.max(1, base.fetchSize / 10)) else base
    val spec = Tables.partitionHint(table, job.config) match {
      case Some(pkCol) if job.config.parallelismIn > 1 =>
        boundsOf(table, pkCol) match {
          case Some((lo, hi)) if hi >= lo =>
            spec0.copy(partitionColumn = Some(pkCol),
              numPartitions = job.config.parallelismIn,
              lowerBound = Some(lo), upperBound = Some(hi))
          case _ => spec0
        }
      case _ => spec0
    }
    Tables.jdbc(spark, spec)
  }

  /** Run every table's copy as a Spark job. `parallelism` > 1 submits
    * jobs concurrently (each job still uses all executors for its own
    * stages; concurrency fills scheduler gaps — small tables overlap
    * big ones). `sink` receives the finished DataFrame (JDBC write,
    * parquet write, …).
    */
  def runAll(spark: SparkSession, cat: Catalog,
      read: (String, TableDef) => Option[DataFrame],
      sink: (String, TableDef, DataFrame) => Long,
      parallelism: Int = 4): Seq[TableResult] = {
    // Daemon threads + explicit shutdown: a leaked non-daemon pool keeps
    // the JVM alive after main returns (it cost round 1 its bench number).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, parallelism),
      (r: Runnable) => {
        val t = new Thread(r, "graft-migration")
        t.setDaemon(true)
        t
      })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = cat.allTables.map { case (sn, t) =>
        Future {
          val t0 = System.nanoTime()
          try {
            read(sn, t) match {
              case Some(df) =>
                val rows = sink(sn, t, copyPlan(t, df))
                TableResult(sn, t.name, rows, (System.nanoTime() - t0) / 1e9, None)
              case None =>
                TableResult(sn, t.name, 0L, 0.0, Some("source not found"))
            }
          } catch {
            case e: Exception =>
              TableResult(sn, t.name, -1L, (System.nanoTime() - t0) / 1e9,
                Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
          }
        }
      }
      Await.result(Future.sequence(futures), Duration.Inf)
    } finally pool.shutdown()
  }

  /** C-report (kettle_report.pl:26–67): per-table duration + rows/s
    * throughput, sorted by duration descending — identical surface,
    * fed by the runner's own measurements instead of log scraping.
    */
  def report(results: Seq[TableResult]): String = {
    val lines = results.sortBy(-_.seconds).map { r =>
      val rate = if (r.seconds > 0 && r.rows > 0)
        f"${r.rows / r.seconds}%.0f rows/s" else "-"
      f"${r.schema}.${r.table}%-40s ${r.seconds}%8.2f s ${r.rows}%12d rows  $rate%s" +
        r.error.map(e => s"  ERROR: $e").getOrElse("")
    }
    lines.mkString("\n")
  }
}
