package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.parser.TsqlParser
import graft.convert.Config
import graft.functions.Citext

class MigrationRunnerSpec extends AnyFunSuite with SparkTestBase {

  private val ddl =
    """CREATE TABLE [dbo].[orders](
      |	[o_orderkey] [bigint] NOT NULL,
      |	[o_orderstatus] [nvarchar](10) NULL,
      | CONSTRAINT [PK_o] PRIMARY KEY CLUSTERED ([o_orderkey] ASC)
      |) ON [PRIMARY]
      |GO
      |CREATE TABLE [dbo].[missing_table](
      |	[id] [int] NOT NULL
      |) ON [PRIMARY]
      |GO""".stripMargin

  test("runAll copies catalog tables concurrently and reports errors") {
    val cat = new TsqlParser(Config()).parse((ddl +
      "\nCREATE TABLE [dbo].[broken](\n\t[id] [int] NOT NULL\n) ON [PRIMARY]\nGO")
      .split("\n").toSeq)
    val sf = "/root/testdata/sf0.001"
    val results = MigrationRunner.runAll(spark, cat,
      read = (_, t) =>
        if (t.name == "orders")
          Some(spark.read.parquet(s"$sf/orders.parquet")
            .select(col("o_orderkey"), col("o_orderstatus")))
        else if (t.name == "broken") throw new RuntimeException()
        else None,
      sink = (_, _, df) => df.count(),
      parallelism = 2)
    assert(results.length === 3)
    val ok = results.find(_.table == "orders").get
    assert(ok.rows === 1500 && ok.error.isEmpty)
    val missing = results.find(_.table == "missing_table").get
    assert(missing.error === Some("source not found"))
    // a message-less exception is reported by its class, never "null"
    val broken = results.find(_.table == "broken").get
    assert(broken.error === Some("java.lang.RuntimeException"))
    val rep = MigrationRunner.report(results)
    assert(rep.contains("public.orders") && rep.contains("rows/s"))
    assert(rep.contains("ERROR: java.lang.RuntimeException") &&
      !rep.contains("ERROR: null"))
  }

  test("prologue/epilogue emit trigger toggles per table") {
    val cat = new TsqlParser(Config()).parse(ddl.split("\n").toSeq)
    val pro = MigrationRunner.prologueSql(cat, Config())
    val epi = MigrationRunner.epilogueSql(cat, Config())
    assert(pro.exists(_ == "ALTER TABLE public.orders DISABLE TRIGGER ALL"))
    assert(epi.exists(_ == "ALTER TABLE public.orders ENABLE TRIGGER ALL"))
    assert(pro.length === 2 && epi.length === 2)
  }

  test("citext: case-insensitive equality, join, padding") {
    import spark.implicits._
    val l = Seq(("Alice", 1), ("BOB", 2)).toDF("name", "lid")
    val r = Seq(("alice", 10), ("bob", 20)).toDF("name", "rid")
    val j = Citext.ciJoin(l, r, Seq("name"))
    assert(j.count() === 2)
    val pads = Seq(("x  ", "x")).toDF("a", "b")
      .filter(Citext.padEquals(col("a"), col("b")))
    assert(pads.count() === 1)
    val viol = Citext.lengthViolations(
      Seq(("short"), ("waytoolongvalue")).toDF("v"), "v", 8)
    assert(viol.count() === 1)
  }
}
