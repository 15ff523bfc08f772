package graft.tools

import graft.convert.ConfFile
import graft.parser.{ParseException, TsqlParser}
import java.nio.file.Paths

/** CLI: parse a SQL Server DDL dump and print the catalog summary.
  * Mirrors the reference's front half (sqlserver2pgsql.pl -f) — the DDL
  * emitters hang off the same Catalog (see graft.emit). Options are
  * [[Main]]'s (conf file included); the dump is `-f <dump>` or the
  * first argument.
  *
  * Usage: runMain graft.tools.ParseDump <dump.sql> [Main options]
  */
object ParseDump {
  def main(args: Array[String]): Unit = {
    val opts = args.headOption match {
      case Some(a) if !a.startsWith("-") => "-f" +: args.toSeq
      case _ => args.toSeq
    }
    val job =
      try Main.buildJob(opts)
      catch {
        case e: ConfFile.ConfException =>
          System.err.println(e.msg); sys.exit(2); return
      }
    val file = job.dumpFile.getOrElse {
      System.err.println("usage: ParseDump <dump.sql> [options]"); sys.exit(2); return
    }
    val cat =
      try new TsqlParser(job.config).parseFile(Paths.get(file))
      catch {
        case e: ParseException =>
          System.err.println(s"parse error: ${e.getMessage}"); sys.exit(1)
          return
      }
    println(s"schemas: ${cat.schemas.keySet.toSeq.sorted.mkString(", ")}")
    cat.allTables.foreach { case (s, t) =>
      println(f"table $s.${t.name}: ${t.cols.size} cols, " +
        s"pk=${t.pk.map(_.cols.mkString("+")).getOrElse("-")}, " +
        s"lobs=${t.hasLobs}, indexes=${t.indexes.size}, " +
        s"constraints=${t.constraints.size}")
    }
    cat.schemas.toSeq.sortBy(_._1).foreach { case (sn, sd) =>
      sd.sequences.keys.toSeq.sorted.foreach(q => println(s"sequence $sn.$q"))
      sd.viewOrder.foreach(v => println(s"view $sn.$v"))
      sd.domains.toSeq.sortBy(_._1).foreach { case (d, ty) =>
        println(s"domain $sn.$d -> $ty") }
    }
    cat.warnings.foreach(w => println(s"WARNING: $w"))
  }
}
