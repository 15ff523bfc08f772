package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** C1–C7: the full-copy dataflow, Spark-first.
  *
  * The reference generates a Kettle pipeline per table: truncate →
  * `SELECT <rewritten cols> WITH(NOLOCK)` → NUL scrub (embedded Java
  * UDF, pl:3585–3642) → batched parallel INSERT (pl:3362–3723). In
  * Spark the whole thing is one declarative plan: read-side projection
  * (B4), a codegen'd `regexp_replace` scrub (no UDF), and a JDBC/parquet
  * sink. Catalyst pushes the projection into the scan.
  */
object CopyPipeline {

  /** C5: NUL-byte scrub. PostgreSQL rejects U+0000 inside text; the
    * reference strips it with an embedded Java class over every STRING
    * field. Pure Catalyst `regexp_replace` keeps this inside
    * whole-stage codegen — no UDF boundary, fully distributed.
    */
  def scrubNulBytes(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map {
      case f if f.dataType == StringType =>
        regexp_replace(col(f.name), "\u0000", "").as(f.name)
      case f => col(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** B4: read-side normalization projection — `sql_convert_column`
    * (pl:436–460) re-expressed as Catalyst columns: uuid → lower, xml →
    * NULL when effectively empty. Applied per declared source type.
    * Date and time columns pass through typed: Spark ships typed values
    * to the sink (P14), so fractional seconds survive and a PG
    * `timestamp` column receives a timestamp, not text.
    */
  def readSideExpr(colName: String, sourceType: String): Column = {
    val c = col(colName)
    sourceType.toLowerCase match {
      case "uniqueidentifier" => lower(c).as(colName)
      case "xml" =>
        when(length(c) > 5, c).otherwise(lit(null)).as(colName)
      case _ => c.as(colName)
    }
  }

  /** Full read-side projection for a table: declared (column, sourceType)
    * pairs → normalized select (pl:984–1001).
    */
  def project(df: DataFrame, colTypes: Seq[(String, String)]): DataFrame =
    df.select(colTypes.map { case (n, t) => readSideExpr(n, t) }: _*)

  /** C3: modulo bucketing — the reference's LOB-table parallel scan
    * (`WHERE pk % N = copy#`, pl:4028). In Spark the same split is a
    * partitioning expression; exposed as a column so plans can filter
    * or repartition by it. At scale, prefer JDBC range partitioning
    * (Tables.JdbcSpec) — this exact-modulo variant exists for parity
    * and for skew-free bucketing of integer keys.
    */
  def moduloBucket(pkCol: String, buckets: Int): Column =
    pmod(col(pkCol), lit(buckets))

  /** The full copy plan: projection → scrub. Sinks attach downstream
    * (`.write.parquet` / `.write.jdbc(truncate=true)` — C1/C6).
    */
  def copyPlan(df: DataFrame, colTypes: Seq[(String, String)]): DataFrame =
    scrubNulBytes(project(df, colTypes))
}
