package migbench

import graft.catalog.{Catalog, ColumnDef, TableDef}
import java.sql.{Connection, DriverManager}
import org.apache.spark.sql.types._

/** The in-memory Derby target: DDL in the `before` shape (columns only),
  * the `after` step (primary keys), and the harness's own connection.
  * Derby folds unquoted names to upper case; the product's writers use
  * unquoted names, so the catalog's lower-case names resolve.
  */
final class Derby(val url: String) {
  val conn: Connection = DriverManager.getConnection(url + ";create=true")

  def exec(sql: String): Unit = {
    val st = conn.createStatement()
    try st.executeUpdate(sql) finally st.close()
  }

  def tableExists(name: String): Boolean = {
    val rs = conn.getMetaData.getTables(null, null, name.toUpperCase, null)
    try rs.next() finally rs.close()
  }

  def createBefore(t: TableDef): Unit =
    exec(s"CREATE TABLE ${t.name} (" + t.cols.sortBy(_.pos).map { c =>
      s"${c.name} ${Derby.sqlType(c)}" + (if (c.notNull) " NOT NULL" else "")
    }.mkString(", ") + ")")

  def addPrimaryKey(t: TableDef): Unit = t.pk.foreach { pk =>
    exec(s"ALTER TABLE ${t.name} ADD CONSTRAINT pk_${t.name} " +
      s"PRIMARY KEY (${pk.cols.mkString(", ")})")
  }

  def dropTables(cat: Catalog): Unit =
    cat.allTables.foreach { case (_, t) =>
      if (tableExists(t.name)) exec(s"DROP TABLE ${t.name}")
    }

  def close(): Unit = {
    conn.close()
    try DriverManager.getConnection(url + ";drop=true")
    catch { case _: java.sql.SQLException => () } // drop reports by exception
  }
}

object Derby {
  /** Derby column type for a catalog column, from its Spark type. */
  def sqlType(c: ColumnDef): String = c.sparkType match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case ShortType | ByteType => "SMALLINT"
    case DoubleType => "DOUBLE"
    case FloatType => "REAL"
    case BooleanType => "BOOLEAN"
    case DateType => "DATE"
    case TimestampType | TimestampNTZType => "TIMESTAMP"
    case d: DecimalType => s"DECIMAL(${d.precision}, ${d.scale})"
    case BinaryType => "BLOB"
    case _ => s"VARCHAR(${c.sqlType.arg1.filter(_ => !c.sqlType.isMax).getOrElse(32672)})"
  }
}
