package graft.emit

import org.scalatest.funsuite.AnyFunSuite
import graft.parser.TsqlParser
import graft.convert._
import java.nio.file.{Files, Paths}

/** Option-matrix conversion smoke — parity with the reference's
  * t/test_convert.t:19–61 (runs the converter over every regression
  * dump under combinations of -i, -num, -keep_identifier_case,
  * -camel_to_snake, -validate_constraints=after, -drop_rowversion,
  * -use_identity_column and asserts it doesn't die).
  */
class OptionMatrixSpec extends AnyFunSuite {

  private val corpus = Seq("reg_tests.sql", "issue_59.sql", "issues.sql",
    "issue_112.sql", "basic_test/views.sql")

  private val configs: Seq[(String, Config)] = Seq(
    "default" -> Config(),
    "-i" -> Config(caseInsensitive = true),
    "-num" -> Config(convertNumericToInt = true),
    "-keep_identifier_case" -> Config(identifierCase = IdentifierCase.Keep),
    "-camel_to_snake" -> Config(identifierCase = IdentifierCase.CamelToSnake),
    "-validate_constraints=after" -> Config(validateConstraints = "after"),
    "-drop_rowversion" -> Config(dropRowversion = true),
    "-use_identity_column=0" -> Config(useIdentityColumn = false),
    "-i -num -camel_to_snake" -> Config(caseInsensitive = true,
      convertNumericToInt = true,
      identifierCase = IdentifierCase.CamelToSnake),
    "-nr" -> Config(relabelDbo = false)
  )

  for ((optName, conf) <- configs; file <- corpus) {
    test(s"convert $file with $optName") {
      val p = Paths.get("/root/reference/regression").resolve(file)
      assume(Files.exists(p))
      val cat = new TsqlParser(conf).parseFile(p)
      val out = new PgDdlEmitter(conf).emit(cat)
      assert(out.before.contains("CREATE TABLE"), s"$file/$optName: no tables")
      assert(out.before.trim.endsWith("COMMIT;"))
      assert(out.after.trim.endsWith("COMMIT;"))
      assert(out.unsure.trim.endsWith("COMMIT;"))
      // basic structural invariants under every option set
      if (conf.caseInsensitive)
        assert(out.before.contains("citext"))
      if (conf.relabelDbo)
        assert(!out.before.contains("CREATE SCHEMA dbo"))
      if (!conf.useIdentityColumn && file == "issue_112.sql")
        assert(out.after.contains("CREATE SEQUENCE"))
      if (conf.dropRowversion && file == "issue_112.sql")
        assert(!out.before.toLowerCase.contains(" rowversion bytea"))
    }
  }

  test("colmap lineage covers every table under every policy") {
    // hand-written fixture: dbo plus a second schema, a camelCase table,
    // a bracketed name with a space, reserved-word columns and a
    // >63-byte column
    val in = getClass.getResourceAsStream("/tsql/colmap_lineage.sql")
    assert(in != null, "colmap_lineage.sql missing from the test classpath")
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    for ((optName, conf) <- configs.take(5)) {
      val cat = new TsqlParser(conf).parse(lines)
      assert(cat.allTables.size === 3, optName)
      assert(cat.allTables.map(_._2.origSchema).toSet === Set("dbo", "sales"))
      val out = new PgDdlEmitter(conf).emit(cat)
      cat.allTables.foreach { case (_, t) =>
        assert(out.colMap.contains(s".${t.name}\t"),
          s"$optName: colmap missing ${t.name}")
        t.cols.foreach(c => assert(
          out.colMap.contains(s"${t.origSchema}.${t.name}.${c.name}\t"),
          s"$optName: colmap missing ${t.name}.${c.name}"))
      }
    }
  }
}
