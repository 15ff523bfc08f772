package graft.convert

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Conf-file + CLI option binding — the reference's parse_conf_file
  * (sqlserver2pgsql.pl:80–151) and GetOptions matrix (pl:3272–3312),
  * including a conf file that sets every known key.
  */
class ConfFileSpec extends AnyFunSuite {

  test("conf lines: comments, spaces around =, unknown key dies") {
    val entries = ConfFile.parseConfLines(Seq(
      "# full-line comment",
      "sql server dump filename = /tmp/dump   # trailing comment",
      "case insensitive         = 1",
      "",
      "relabel schemas          = dbo=>foo;s1=>bar"))
    val m = ConfFile.merge(entries)
    assert(m("f") === "/tmp/dump")
    assert(m("i") === "1")
    assert(m("relabel_schemas") === "dbo=>foo;s1=>bar")
    intercept[ConfFile.ConfException] {
      ConfFile.parseConfLines(Seq("no such parameter = 1"))
    }
    intercept[ConfFile.ConfException] {
      ConfFile.parseConfLines(Seq("just some text"))
    }
  }

  test("CLI wins over conf; first conf occurrence wins") {
    val cli = ConfFile.parseCli(Seq("-f", "/cli/dump", "-num"))
    val conf = ConfFile.parseConfLines(Seq(
      "sql server dump filename = /conf/dump",
      "before file = /conf/before",
      "before file = /conf/before2"))
    val m = ConfFile.merge(cli ++ conf)
    assert(m("f") === "/cli/dump")     // CLI precedence (pl:143-146)
    assert(m("b") === "/conf/before")  // first occurrence wins
    assert(m("num") === "1")
  }

  test("CLI forms: -opt value, -opt=value, switches, unknown dies") {
    val m = ConfFile.merge(ConfFile.parseCli(Seq(
      "-f=/d.sql", "-po", "16", "-validate_constraints=after", "-i", "-nr")))
    assert(m("f") === "/d.sql")
    assert(m("po") === "16")
    assert(m("validate_constraints") === "after")
    assert(m("i") === "1" && m("nr") === "1")
    assert(!ConfFile.toJob(ConfFile.merge(ConfFile.parseCli(Seq(
      "-use_identity_column=0")))).config.useIdentityColumn)
    intercept[ConfFile.ConfException] { ConfFile.parseCli(Seq("-bogus")) }
    intercept[ConfFile.ConfException] { ConfFile.parseCli(Seq("-f")) }
  }

  test("toJob binds the full Config surface") {
    val job = ConfFile.toJob(ConfFile.merge(ConfFile.parseCli(Seq(
      "-f", "/d.sql", "-b", "/b.sql", "-a", "/a.sql", "-u", "/u.sql",
      "-i", "-num", "-camel_to_snake", "-drop_rowversion", "-nr",
      "-validate_constraints", "after", "-pi", "4", "-po", "16",
      "-sort_size", "50000", "-ignore_errors", "-skip_citext_length_check",
      "-stringtype_unspecified", "-use_pk_if_possible", "*",
      "-relabel_schemas", "dbo=>app;x=>y",
      "-sd", "db1", "-sh", "host1", "-su", "sa", "-sw", "pw1",
      "-pd", "db2", "-ph", "host2", "-pu", "pg", "-pw", "pw2"))))
    val c = job.config
    assert(c.caseInsensitive && c.convertNumericToInt && c.dropRowversion)
    assert(c.identifierCase === IdentifierCase.CamelToSnake)
    assert(!c.relabelDbo)
    assert(c.validateConstraints === "after")
    assert(c.parallelismIn === 4 && c.parallelismOut === 16)
    assert(c.sortSize === 50000 && c.ignoreErrors)
    assert(c.skipCitextLengthCheck && c.stringtypeUnspecified)
    assert(c.usePkIfPossible === "*")
    assert(c.relabelSchemas === Map("dbo" -> "app", "x" -> "y"))
    assert(job.sqlServer === Map("sd" -> "db1", "sh" -> "host1",
      "su" -> "sa", "sw" -> "pw1"))
    assert(job.postgres === Map("pd" -> "db2", "ph" -> "host2",
      "pu" -> "pg", "pw" -> "pw2"))
  }

  test("connection params bind to JDBC read/write specs") {
    val job = ConfFile.toJob(ConfFile.merge(ConfFile.parseCli(Seq(
      "-sd", "srcdb", "-sh", "mssql.example", "-sp", "1433", "-si", "INST",
      "-su", "sa", "-sw", "s3c", "-sforce_ssl",
      "-pd", "tgtdb", "-ph", "pg.example", "-pp", "5433", "-pu", "pg",
      "-pw", "p4s", "-stringtype_unspecified", "-pforce_ssl",
      "-pi", "6", "-po", "12"))))
    assert(job.sqlServerUrl === Some("jdbc:sqlserver://mssql.example:1433" +
      ";instanceName=INST;databaseName=srcdb;encrypt=true;trustServerCertificate=true"))
    assert(job.postgresUrl === Some(
      "jdbc:postgresql://pg.example:5433/tgtdb?stringtype=unspecified&sslmode=require"))
    val read = graft.sources.Tables.specFromJob(job, "dbo.T",
      partitionColumn = Some("id"), bounds = Some((0L, 100L)))
    assert(read.numPartitions === 6 && read.user === "sa")
    val write = graft.operators.JdbcSink.specFromJob(job, "public.t")
    assert(write.numPartitions === 12 && write.user === "pg")
    assert(write.url.startsWith("jdbc:postgresql://pg.example:5433/tgtdb"))
    assert(kettleXml(job).contains("EXTRA_OPTION_MSSQL.ssl"))
    assert(kettleXml(job).contains("EXTRA_OPTION_POSTGRESQL.ssl"))

    // a switch set to 0 is off, in both the CLI and the conf-file form
    val cliOff = ConfFile.toJob(ConfFile.merge(ConfFile.parseCli(Seq(
      "-sd", "srcdb", "-sforce_ssl=0", "-pd", "tgtdb", "-pforce_ssl=0"))))
    val confOff = ConfFile.toJob(ConfFile.merge(ConfFile.parseConfLines(Seq(
      "sql server database = srcdb", "sql server force ssl = 0",
      "postgresql database = tgtdb", "postgresql force ssl = 0"))))
    for (off <- Seq(cliOff, confOff)) {
      assert(!off.sqlServerUrl.get.contains("encrypt"))
      assert(!off.postgresUrl.get.contains("sslmode"))
      val xml = kettleXml(off)
      assert(!xml.contains("EXTRA_OPTION_MSSQL.ssl"))
      assert(!xml.contains("EXTRA_OPTION_POSTGRESQL.ssl"))
    }
  }

  /** The Kettle copy transformation of a one-table dump, emitted with
    * the job's connection params.
    */
  private def kettleXml(job: ConfFile.Job): String = {
    val cat = new graft.parser.TsqlParser(job.config).parse(Seq(
      "CREATE TABLE [dbo].[t](", "\t[id] [int] NOT NULL", ") ON [PRIMARY]",
      "GO"))
    new graft.emit.KettleEmitter(job.config, job.sqlServer, job.postgres)
      .emit(cat, "/tmp/kettle").values.head
  }

  test("bad option values die: validate_constraints, pi, po, sort_size") {
    def job(args: String*) =
      ConfFile.toJob(ConfFile.merge(ConfFile.parseCli(args)))
    for (bad <- Seq(Seq("-validate_constraints=afetr"), Seq("-po", "abc"),
        Seq("-pi", "0"), Seq("-po", "-3"), Seq("-sort_size", "1.5"))) {
      val e = intercept[ConfFile.ConfException](job(bad: _*))
      assert(e.msg.contains(bad.head.drop(1).takeWhile(_ != '=')), e.msg)
    }
    assert(job("-validate_constraints", "no").config.validateConstraints === "no")
    assert(job("-pi", " 3 ").config.parallelismIn === 3)
    // Main turns the ConfException into the usage text and exit code 2
    // (see Main.main); buildJob is where it surfaces
    intercept[ConfFile.ConfException] {
      graft.tools.Main.buildJob(Seq("-po", "abc"))
    }
  }

  test("buildJob is embeddable: -h does not exit the JVM") {
    // -h parses as a plain boolean flag; only Main.main() exits on it
    val job = graft.tools.Main.buildJob(Seq("-h", "-f", "/d.sql"))
    assert(job.dumpFile === Some("/d.sql"))
  }

  test("keep_identifier_case + camel_to_snake is rejected") {
    intercept[ConfFile.ConfException] {
      ConfFile.toJob(Map("keep_identifier_case" -> "1",
        "camel_to_snake" -> "1"))
    }
  }

  test("skip citext length check drops the generated CHECK") {
    val base = Config(caseInsensitive = true)
    val t = graft.catalog.SqlType("varchar", arg1 = Some(50))
    assert(TypeMapper.convert(t, base).generatedCheck.isDefined)
    assert(TypeMapper.convert(t,
      base.copy(skipCitextLengthCheck = true)).generatedCheck.isEmpty)
  }

  test("a conf file setting every key parses and binds") {
    val lines = scala.io.Source.fromResource("conf/example.conf")
      .getLines().toSeq
    val keys = lines.map(_.replaceAll("#.*", "")).filter(_.contains("="))
      .map(_.takeWhile(_ != '=').trim)
    assert(keys.toSet === ConfFile.keyToParam.keySet)
    val job = ConfFile.toJob(ConfFile.merge(ConfFile.parseConfLines(lines)))
    assert(job.dumpFile === Some("/data/sales/schema.sql"))
    assert(job.beforeFile === Some("/data/sales/out/before.sql"))
    assert(job.afterFile === Some("/data/sales/out/after.sql"))
    assert(job.unsureFile === Some("/data/sales/out/unsure.sql"))
    assert(job.kettleDir === Some("/data/sales/kettle"))
    assert(job.colMapFile === Some("/data/sales/out/colmap.csv"))
    assert(job.colMapHeader && job.colMapDelimiter === ";")
    val c = job.config
    assert(c.caseInsensitive && c.relabelDbo)
    assert(c.relabelSchemas === Map("dbo" -> "app", "staging" -> "stage"))
    assert(c.identifierCase === IdentifierCase.CamelToSnake)
    assert(c.convertNumericToInt && c.dropRowversion)
    assert(c.validateConstraints === "after")
    assert(c.skipCitextLengthCheck && !c.useIdentityColumn)
    assert(c.parallelismIn === 2 && c.parallelismOut === 6)
    assert(c.sortSize === 20000 && c.ignoreErrors)
    assert(c.usePkIfPossible === "app.orders,order_lines")
    assert(c.stringtypeUnspecified)
    assert(job.sqlServerUrl === Some("jdbc:sqlserver://mssql.internal:1433" +
      ";instanceName=SQLEXPRESS;databaseName=sales_src" +
      ";encrypt=true;trustServerCertificate=true"))
    assert(job.sqlServer("su") === "migrator" && job.sqlServer("sw") === "src-secret")
    assert(job.postgresUrl === Some(
      "jdbc:postgresql://pg.internal:5433/sales?stringtype=unspecified"))
    assert(job.postgres("pu") === "loader" && job.postgres("pw") === "pg-secret")
  }

  test("Main converts a dump end-to-end from a conf file") {
    val dir = Files.createTempDirectory("graft_conf")
    val dump = dir.resolve("dump.sql")
    val in = getClass.getResourceAsStream("/tsql/colmap_lineage.sql")
    try Files.copy(in, dump) finally in.close()
    val conf = dir.resolve("job.conf")
    Files.writeString(conf,
      s"""# graft job conf
         |sql server dump filename = $dump
         |before file              = $dir/before.sql
         |after file               = $dir/after.sql
         |unsure file              = $dir/unsure.sql
         |col map file             = $dir/colmap.txt
         |col map file header      = 1
         |convert numeric to int   = 1
         |""".stripMargin)
    try {
      val job = graft.tools.Main.buildJob(Seq("-conf", conf.toString))
      assert(job.config.convertNumericToInt)
      graft.tools.Main.main(Array("-conf", conf.toString))
      assert(Files.readString(dir.resolve("before.sql")).contains("CREATE TABLE"))
      assert(Files.readString(dir.resolve("colmap.txt")).startsWith("source"))
    } finally {
      val files = Files.list(dir)
      try files.forEach(f => Files.delete(f)) finally files.close()
      Files.delete(dir)
    }
  }
}
