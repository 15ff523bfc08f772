package migbench

/** Output checks. Each returns the number of failed operations (tables or
  * views), so a failure counts in the error rate. They run outside the
  * timed phase.
  */
object Checks {

  // ---- convert_schema ---------------------------------------------------

  def sha256(parts: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Digest per converted artifact: the three scripts, colMap, Kettle. */
  def convertDigests(before: String, after: String, unsure: String,
      colMap: String, kettle: Map[String, String]): Map[String, String] =
    Map("before" -> sha256(Seq(before)), "after" -> sha256(Seq(after)),
      "unsure" -> sha256(Seq(unsure)), "col_map" -> sha256(Seq(colMap)),
      "kettle" -> sha256(kettle.toSeq.sortBy(_._1).flatMap { case (k, v) =>
        Seq(k, "\u0000", v, "\u0000") }))

  private def pgSchema(s: String): String = if (s == "dbo") "public" else s

  /** Tables of `before.sql` with their column names. */
  def beforeTables(before: String): Map[String, Set[String]] = {
    val out = Map.newBuilder[String, Set[String]]
    var table: String = null
    var cols = Set.empty[String]
    before.linesIterator.foreach { l =>
      if (l.startsWith("CREATE TABLE ")) {
        table = l.stripPrefix("CREATE TABLE ").takeWhile(_ != ' ')
        cols = Set.empty
      } else if (table != null && l.startsWith(");")) {
        out += table -> cols; table = null
      } else if (table != null && l.startsWith("  ") && !l.startsWith("  CHECK"))
        cols += l.trim.takeWhile(_ != ' ')
    }
    out.result()
  }

  /** Tables whose name or any column is missing from `before.sql`. */
  def missingInBefore(m: DumpGen.Manifest, before: String): Int = {
    val got = beforeTables(before)
    m.tables.count { t =>
      got.get(s"${pgSchema(t.schema)}.${t.name}")
        .forall(cs => !t.cols.forall(cs.contains))
    }
  }

  /** Tables whose lineage line or any column line is missing from colMap. */
  def missingInColMap(m: DumpGen.Manifest, colMap: String): Int = {
    val src = colMap.linesIterator.map(_.takeWhile(_ != '\t')).toSet
    m.tables.count { t =>
      val q = s"${t.schema}.${t.name}"
      !src.contains(q) || !t.cols.forall(c => src.contains(s"$q.$c"))
    }
  }

  /** Views missing from `unsure.sql` or out of their schema's
    * declaration order.
    */
  def badViews(m: DumpGen.Manifest, unsure: String): Int = {
    val last = scala.collection.mutable.Map.empty[String, Int]
    m.views.count { case (s, v) =>
      val at = unsure.indexOf(s"CREATE VIEW ${pgSchema(s)}.$v ")
      val bad = at < 0 || at < last.getOrElse(s, -1)
      if (at >= 0) last(s) = at
      bad
    }
  }

  // ---- migrate_sync ---------------------------------------------------------

  private val style120 =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** One row as text: values as the copy pipeline writes them, timestamps
    * in its style-120 form, NULL distinct from any string.
    */
  def rowText(values: Seq[Any]): String = values.map {
    case null => "\u0000null"
    case t: java.sql.Timestamp => t.toLocalDateTime.format(style120)
    case t: java.time.LocalDateTime => t.format(style120)
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case v => v.toString
  }.mkString("\u0001")

  /** Order-independent fingerprint of a table's rows: (rows, sum of
    * 31-bit row hashes, xor of 64-bit row hashes).
    */
  def fingerprint(rows: Iterator[Seq[Any]]): (Long, Long, Long) = {
    import scala.util.hashing.MurmurHash3.stringHash
    var n = 0L; var sum = 0L; var xor = 0L
    rows.foreach { r =>
      val s = rowText(r)
      val h1 = stringHash(s, 1); val h2 = stringHash(s, 2)
      n += 1; sum += h1 & 0x7fffffff; xor ^= (h1.toLong << 32) | (h2 & 0xffffffffL)
    }
    (n, sum, xor)
  }
}
