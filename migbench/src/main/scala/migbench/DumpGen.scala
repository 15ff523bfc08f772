package migbench

/** Seeded generator of SSMS-style SQL Server schema dumps.
  *
  * `convertDump` builds the `convert_schema` input: `nTables` tables over
  * two schemas with IDENTITY, uniqueidentifier, datetime/datetime2, bit
  * defaults, varchar(max), decimal and money columns; PK, UNIQUE, FK and
  * CHECK constraints; indexes with INCLUDE and WHERE; one index name
  * (`IX_shared_created`) repeated on every table, as SQL Server allows
  * (index names are per table); views over earlier views, sequences,
  * domains and extended properties. The manifest lists what was
  * generated, independently of the parser, for the output checks.
  *
  * `tablesDump` declares the sf-shaped tables the copy and sync
  * workloads move (see [[DataGen]]).
  */
object DumpGen {

  final case class Table(schema: String, name: String, cols: Vector[String])
  final case class Manifest(tables: Vector[Table],
      views: Vector[(String, String)])
  final case class Dump(lines: Vector[String], manifest: Manifest)

  private val schemas = Vector("dbo", "sales")

  /** Optional column shapes drawn per table: (name, declaration). */
  private val optionalCols = Vector(
    "ref_guid" -> "[uniqueidentifier] NULL",
    "valid_to" -> "[datetime2](3) NULL",
    "ratio" -> "[decimal](9, 6) NULL",
    "fee" -> "[smallmoney] NULL",
    "flag" -> "[bit] NULL",
    "label" -> "[nvarchar](200) NULL",
    "payload" -> "[varbinary](max) NULL",
    "qty" -> "[smallint] NULL")

  def convertDump(nTables: Int, nViews: Int, seed: Long): Dump = {
    val rnd = new scala.util.Random(seed)
    val out = Vector.newBuilder[String]
    def emit(ls: String*): Unit = ls.foreach(out += _)
    emit("USE [benchdb]", "GO", "SET ANSI_NULLS ON", "GO")
    emit("/****** Object:  Schema [sales]    Script Date: 1/1/2024 ******/",
      "CREATE SCHEMA [sales]", "GO")
    emit("CREATE TYPE [dbo].[PhoneNumber] FROM [varchar](25) NULL", "GO")
    emit("CREATE TYPE [sales].[Amount] FROM [decimal](19, 4) NOT NULL", "GO")
    (0 until 4).foreach { i =>
      emit(s"CREATE SEQUENCE [dbo].[seq_batch_$i] ",
        " AS [bigint]",
        s" START WITH ${1 + rnd.nextInt(1000)}",
        s" INCREMENT BY ${1 + rnd.nextInt(5)}",
        " MINVALUE 1",
        " MAXVALUE 9223372036854775807",
        " CACHE ",
        "GO")
    }
    val tables = Vector.newBuilder[Table]
    (0 until nTables).foreach { i =>
      val sch = schemas(i % schemas.size)
      val tn = f"t$i%05d"
      val q = s"[$sch].[$tn]"
      val extras = rnd.shuffle(optionalCols).take(rnd.nextInt(4))
      val domainCol =
        if (sch == "dbo") "phone" -> "[dbo].[PhoneNumber] NULL"
        else "total" -> "[sales].[Amount] NOT NULL"
      val cols = Vector(
        "id" -> s"[int] IDENTITY(${1 + rnd.nextInt(100)},1) NOT NULL",
        "row_guid" -> "[uniqueidentifier] NOT NULL",
        "created" -> (s"[datetime] NOT NULL CONSTRAINT [DF_${tn}_created] " +
          "DEFAULT (getdate())"),
        "updated" -> "[datetime2](7) NULL",
        "active" -> "[bit] NOT NULL",
        "notes" -> "[varchar](max) NULL",
        "amount" -> s"[decimal](${10 + rnd.nextInt(9)}, 4) NULL",
        "price" -> "[money] NULL",
        "code" -> s"[nvarchar](${20 + rnd.nextInt(80)}) NOT NULL",
        "parent_id" -> "[int] NULL",
        domainCol) ++ extras
      tables += Table(sch, tn, cols.map(_._1))
      emit(s"CREATE TABLE $q(")
      cols.foreach { case (c, d) => emit(s"\t[$c] $d,") }
      // SSMS writes the key list on its own lines; half the tables use
      // the one-line form
      if (i % 2 == 0)
        emit(s" CONSTRAINT [PK_$tn] PRIMARY KEY CLUSTERED ", "(", "\t[id] ASC",
          ")WITH (PAD_INDEX = OFF, STATISTICS_NORECOMPUTE = OFF, " +
            "IGNORE_DUP_KEY = OFF, ALLOW_ROW_LOCKS = ON) ON [PRIMARY],")
      else
        emit(s" CONSTRAINT [PK_$tn] PRIMARY KEY CLUSTERED ([id] ASC) " +
          "WITH (PAD_INDEX = OFF) ON [PRIMARY],")
      emit(s" CONSTRAINT [UQ_${tn}_code] UNIQUE NONCLUSTERED ([code] ASC)",
        ") ON [PRIMARY] TEXTIMAGE_ON [PRIMARY]", "GO")
      emit(s"ALTER TABLE $q ADD  CONSTRAINT [DF_${tn}_active]  " +
        "DEFAULT ((1)) FOR [active]", "GO")
      if (i >= schemas.size) {
        val parent = f"t${i - schemas.size}%05d"
        emit(s"ALTER TABLE $q  WITH CHECK ADD  CONSTRAINT " +
          s"[FK_${tn}_parent] FOREIGN KEY([parent_id])",
          s"REFERENCES [$sch].[$parent] ([id])", "GO")
      }
      emit(s"ALTER TABLE $q  WITH CHECK ADD  CONSTRAINT [CK_${tn}_amount] " +
        s"CHECK  (([amount]>=(0) AND [price]<(${1000 + rnd.nextInt(9000)})))",
        "GO")
      emit(s"CREATE NONCLUSTERED INDEX [IX_shared_created] ON $q ([created] DESC)",
        "GO")
      emit(s"CREATE NONCLUSTERED INDEX [IX_${tn}_code_active] ON $q " +
        "([code] ASC, [parent_id] ASC)",
        "INCLUDE([amount],[price]) WHERE ([active]=(1)) WITH (PAD_INDEX = OFF) " +
          "ON [PRIMARY]", "GO")
      if (i % 2 == 0)
        emit("EXEC sys.sp_addextendedproperty @name=N'MS_Description', " +
          s"@value=N'Code of $tn' , @level0type=N'SCHEMA',@level0name=N'$sch', " +
          s"@level1type=N'TABLE',@level1name=N'$tn', @level2type=N'COLUMN'," +
          "@level2name=N'code'", "GO")
    }
    val views = Vector.newBuilder[(String, String)]
    val all = tables.result()
    (0 until nViews).foreach { v =>
      val sch = schemas(v % schemas.size)
      val vn = f"v$v%04d"
      views += sch -> vn
      emit(s"/****** Object:  View [$sch].[$vn]    Script Date: 1/1/2024 ******/",
        "SET ANSI_NULLS ON", "GO", s"CREATE VIEW [$sch].[$vn]", "AS")
      if (v < schemas.size) {
        val base = all(rnd.nextInt(all.size / schemas.size) * schemas.size + v)
        emit(s"SELECT [id], [code], ISNULL([amount], 0) AS [amount]",
          s"FROM [${base.schema}].[${base.name}] WHERE [active] = 1")
      } else {
        val prev = f"v${v - schemas.size}%04d"
        emit(s"SELECT [id], [code], [amount] + ${rnd.nextInt(100)} AS [amount]",
          s"FROM [$sch].[$prev] WHERE [id] > ${rnd.nextInt(1000)}")
      }
      emit("GO")
    }
    val lines = out.result()
    Dump(lines, Manifest(all, views.result()))
  }

  /** The sf-shaped tables as SQL Server declares them. `lineitem` has no
    * PK: (l_orderkey, l_linenumber) is not unique in the generated data,
    * as in the reference fixtures. SQL Server has no array type, so the
    * embeddings table is not part of a migration.
    */
  def tablesDump(withLineitem: Boolean): Vector[String] = {
    def table(name: String, pk: Option[String], cols: (String, String)*)
        : Seq[String] =
      Seq(s"CREATE TABLE [dbo].[$name](") ++
        cols.map { case (c, d) => s"\t[$c] $d," } ++
        pk.toSeq.flatMap(k => Seq(s" CONSTRAINT [PK_$name] PRIMARY KEY CLUSTERED ",
          "(", s"\t[$k] ASC", ")WITH (PAD_INDEX = OFF) ON [PRIMARY]")) ++
        Seq(") ON [PRIMARY]", "GO")
    val nn = "NOT NULL"
    (Seq("USE [tpch]", "GO") ++
      table("region", Some("r_regionkey"), "r_regionkey" -> s"[int] $nn",
        "r_name" -> s"[varchar](25) $nn") ++
      table("nation", Some("n_nationkey"), "n_nationkey" -> s"[int] $nn",
        "n_name" -> s"[varchar](25) $nn", "n_regionkey" -> s"[int] $nn") ++
      table("customer", Some("c_custkey"), "c_custkey" -> s"[bigint] $nn",
        "c_name" -> s"[varchar](25) $nn", "c_nationkey" -> s"[int] $nn",
        "c_acctbal" -> s"[float] $nn", "c_mktsegment" -> s"[varchar](10) $nn") ++
      table("supplier", Some("s_suppkey"), "s_suppkey" -> s"[bigint] $nn",
        "s_name" -> s"[varchar](25) $nn", "s_nationkey" -> s"[int] $nn",
        "s_acctbal" -> s"[float] $nn") ++
      table("part", Some("p_partkey"), "p_partkey" -> s"[bigint] $nn",
        "p_name" -> s"[varchar](55) $nn", "p_brand" -> s"[varchar](10) $nn",
        "p_type" -> s"[varchar](25) $nn", "p_size" -> s"[int] $nn",
        "p_retailprice" -> s"[float] $nn") ++
      table("orders", Some("o_orderkey"), "o_orderkey" -> s"[bigint] $nn",
        "o_custkey" -> s"[bigint] $nn", "o_orderstatus" -> s"[char](1) $nn",
        "o_totalprice" -> s"[float] $nn", "o_orderdate" -> s"[datetime] $nn",
        "o_orderpriority" -> s"[varchar](15) $nn") ++
      (if (withLineitem)
        table("lineitem", None, "l_orderkey" -> s"[bigint] $nn",
          "l_partkey" -> s"[bigint] $nn", "l_suppkey" -> s"[bigint] $nn",
          "l_linenumber" -> s"[int] $nn", "l_quantity" -> s"[float] $nn",
          "l_extendedprice" -> s"[float] $nn", "l_discount" -> s"[float] $nn",
          "l_tax" -> s"[float] $nn", "l_returnflag" -> s"[char](1) $nn",
          "l_linestatus" -> s"[char](1) $nn", "l_shipdate" -> s"[datetime] $nn")
      else Nil) ++
      table("events", Some("event_id"), "event_id" -> s"[bigint] $nn",
        "ts" -> s"[datetime2](6) $nn", "user_id" -> s"[bigint] $nn",
        "event_type" -> s"[varchar](16) $nn", "ev_value" -> s"[float] $nn",
        "props" -> s"[nvarchar](100) NULL") ++
      table("documents", Some("doc_id"), "doc_id" -> s"[bigint] $nn",
        "text" -> s"[nvarchar](max) $nn", "lang" -> s"[varchar](8) $nn",
        "source" -> s"[varchar](16) $nn", "n_chars" -> s"[bigint] $nn")
    ).toVector
  }
}
