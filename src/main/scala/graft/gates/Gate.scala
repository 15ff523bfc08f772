package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-gated query path: `build(spark, sfDir)` is the Spark
  * query over the parquet tables in `sfDir`, and `oracleSql` is the
  * DuckDB query over the same tables whose result it must equal
  * (columns and rows compared sorted, values hashed).
  *
  * Conventions keeping Spark and DuckDB hash-identical:
  *  - every query ends in a total ORDER BY on a unique key;
  *  - double aggregation goes through DECIMAL (exact, engine-independent
  *    summation) and is cast back to double;
  *  - only portable hashes (md5 hex) appear in oracle-checked output;
  *  - timestamps are formatted/truncated to second precision or coarser
  *    (events.parquet is ns; Spark reads it as long via nanosAsLong).
  *
  * DuckDB portability notes: DuckDB regexp_replace needs the 'g' flag
  * to replace all; `%` is mod; strftime for date formatting;
  * list_transform/list_min/list_distinct for array ops; md5 hex
  * matches Spark's.
  *
  * The family object a gate is declared in (`QueryGates`,
  * `StreamGates`, …) is its family; [[graft.SparkEntry.gates]] is the
  * registry of all of them.
  */
final case class Gate(name: String,
    build: (SparkSession, String) => DataFrame, oracleSql: String)
