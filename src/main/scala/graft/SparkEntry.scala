package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.gates._
import graft.gates.QueryGates.q1PricingSummary

/** `entry` is the smoke-checked flagship query, and `gates` holds one
  * [[Gate]] per implemented operator from SURVEY.md §2, each carrying
  * its DuckDB oracle.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * TPC-H Q1-shaped pricing summary over lineitem.
    */
  def entry(spark: SparkSession): DataFrame =
    q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** Every gate, one family object per file under graft/gates. */
  val gates: Seq[Gate] = {
    val all = QueryGates.gates ++ MigrationGates.gates ++
      ProfileGates.gates ++ EventGates.gates ++ TxtGates.gates ++
      DedupGates.gates ++ SimGates.gates ++ CurateGates.gates ++
      MmGates.gates ++ StreamGates.gates
    val dups = all.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate names: ${dups.mkString(", ")}")
    all
  }
}
