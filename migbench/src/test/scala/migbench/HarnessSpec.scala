package migbench

import graft.catalog.{Check, ForeignKey}
import graft.convert.Config
import graft.emit.{KettleEmitter, PgDdlEmitter}
import graft.parser.TsqlParser
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark: its generator emits only constructs the
  * parser accepts, and every output check fails on a corrupted output.
  */
class HarnessSpec extends AnyFunSuite {
  private val dump = DumpGen.convertDump(40, 10, seed = 7)
  private val cat = new TsqlParser(Config()).parse(dump.lines)
  private val out = new PgDdlEmitter(Config()).emit(cat)

  test("every construct the convert_schema generator emits parses") {
    val tables = cat.allTables.map(_._2)
    assert(tables.size == 40)
    assert(cat.schemas.values.map(_.views.size).sum == 10)
    assert(cat.schemas.values.map(_.sequences.count(_._2.ownerTable.isEmpty)).sum == 4)
    assert(cat.schemas.values.map(_.domains.size).sum == 2)
    assert(tables.forall(_.pk.isDefined))
    assert(tables.count(_.constraints.exists(_.isInstanceOf[ForeignKey])) == 38)
    assert(tables.forall(_.constraints.exists(_.isInstanceOf[Check])))
    val ix = tables.flatMap(_.indexes.values)
    assert(ix.exists(i => i.include.nonEmpty && i.where.isDefined))
    // the shared index name is renamed on all but one table per schema
    assert(out.warnings.count(_.contains(" renamed to ")) == 38)
    assert(tables.exists(_.cols.exists(_.comment.isDefined)))
  }

  test("the sf tables dump parses; lineitem alone has no PK") {
    val c = new TsqlParser(Config()).parse(DumpGen.tablesDump(withLineitem = true))
    val ts = c.allTables.map(_._2)
    assert(ts.map(_.name).toSet == Set("region", "nation", "customer",
      "supplier", "part", "orders", "lineitem", "events", "documents"))
    assert(ts.filter(_.pk.isEmpty).map(_.name) == Seq("lineitem"))
  }

  test("the generator is seeded") {
    assert(DumpGen.convertDump(40, 10, seed = 7).lines == dump.lines)
    assert(DumpGen.convertDump(40, 10, seed = 8).lines != dump.lines)
  }

  test("convert checks pass on the converter's output") {
    val m = dump.manifest
    assert(Checks.missingInBefore(m, out.before) == 0)
    assert(Checks.missingInColMap(m, out.colMap) == 0)
    assert(Checks.badViews(m, out.unsure) == 0)
    val k = new KettleEmitter(Config()).emit(cat, "k")
    assert(Checks.convertDigests(out.before, out.after, out.unsure, out.colMap, k) ==
      Checks.convertDigests(out.before, out.after, out.unsure, out.colMap,
        new KettleEmitter(Config()).emit(cat, "k")))
  }

  test("convert checks fail on a dropped column, lineage line or view") {
    val m = dump.manifest
    val noCol = out.before.linesIterator
      .filterNot(_.startsWith("  row_guid ")).mkString("\n")
    assert(Checks.missingInBefore(m, noCol) == 40)
    val noLineage = out.colMap.linesIterator
      .filterNot(_.startsWith("dbo.t00004.price\t")).mkString("\n")
    assert(Checks.missingInColMap(m, noLineage) == 1)
    val noView = out.unsure.replace("CREATE VIEW public.v0004 ", "CREATE VIEW public.x ")
    assert(Checks.badViews(m, noView) == 1)
    // v0000 moved behind every later view of its schema: v0002 is the
    // first view found out of order
    val reordered = out.unsure.replace("CREATE VIEW public.v0000 ",
      "CREATE VIEW public.moved ") + "CREATE VIEW public.v0000 AS SELECT 1;\n"
    assert(Checks.badViews(m, reordered) == 1)
  }

  test("table fingerprints ignore order and catch a dropped row or changed value") {
    val ts = java.sql.Timestamp.valueOf("2024-01-02 10:00:00")
    val rows = Seq(Seq[Any](1L, "a", 2.5), Seq[Any](2L, null, 3.0),
      Seq[Any](3L, "c", ts))
    val fp = Checks.fingerprint(rows.iterator)
    assert(Checks.fingerprint(rows.reverse.iterator) == fp)
    assert(Checks.fingerprint(rows.take(2).iterator) != fp)
    assert(Checks.fingerprint(rows.updated(0, Seq[Any](1L, "a", 2.6)).iterator) != fp)
    assert(Checks.fingerprint(rows.updated(1, Seq[Any](2L, "", 3.0)).iterator) != fp)
    // the copy pipeline writes timestamps as style-120 text
    assert(Checks.fingerprint(rows.updated(2, Seq[Any](3L, "c",
      "2024-01-02 10:00:00")).iterator) == fp)
  }
}
