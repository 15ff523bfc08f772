package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Interpreted-path lint — the systematic check for the trap that cost
  * 12 s at sf0.1 twice (SURVEY §15): a higher-order `transform`
  * expression inside a Generate (explode) evaluates on the
  * INTERPRETED path with no common-subexpression elimination, so any
  * collapsed-in tokenization re-runs once per element access.
  * CollapseProject inlines staged columns back into the lambda, so
  * "stage it in a select first" does NOT protect you — the fix is a
  * native single-pass kernel (expressions.WordNgrams) or restructuring.
  *
  * The lint walks every gate's physical plan and flags GenerateExec
  * nodes whose generator tree contains a HigherOrderFunction. Gates
  * where per-element lambda work is the DESIGN (char shingles, span
  * stats) are whitelisted by name; anything else is a regression and
  * exits nonzero.
  *
  * Usage: runMain graft.tools.PlanLint [sfDir] [gate...]
  */
object PlanLint {

  /** Gates whose Generate-fed higher-order lambdas are by design:
    * char k-shingles (per-character work IS the operator) and span
    * coverage stats (per-gram emission with positions).
    */
  val approved: Set[String] = Set(
    "dedup_ngram_jaccard",   // char-shingle path: per-char by design
    "dedup_ngram_allpairs",  // brute-force oracle twin, documented
    "dedup_script_routed",   // CJK side uses char shingles by design
    "dedup_span_coverage",   // per-gram span emission by design
    "q_fuzzy_pairs",         // FastSS deletion variants: the lambda
                             // substr-deletes a PLAIN attribute — the
                             // per-element work IS the operator, no
                             // collapsed computation re-evaluates
    "q_fuzzy_join_2t")       // same FastSS lambda, d=2 two-table form
                             // (double-deletion neighborhood; 0.95 s
                             // at sf0.1 on the capped slices — the
                             // per-element work IS the operator)

  def hits(plan: SparkPlan): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case g: GenerateExec =>
          val hofs = g.generator.collect {
            case h: HigherOrderFunction => h.prettyName
          }
          if (hofs.nonEmpty)
            out += s"Generate over higher-order [${hofs.mkString(", ")}]"
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  def lint(name: String, df: DataFrame): Seq[String] =
    hits(df.queryExecution.executedPlan).map(h => s"$name: $h")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = graft.GraftSession.local()
    var unapproved = 0
    var approvedHits = 0
    var errors = 0
    graft.SparkEntry.gates.sortBy(_.name)
      .filter(g => names.isEmpty || names.contains(g.name))
      .foreach { case graft.gates.Gate(name, fn, _) =>
        try {
          val found = lint(name, fn(spark, dir))
          if (found.nonEmpty) {
            if (approved.contains(name)) {
              approvedHits += found.size
              found.foreach(h => println(s"APPROVED   $h"))
            } else {
              unapproved += found.size
              found.foreach(h => println(s"UNAPPROVED $h"))
            }
          }
        } catch {
          case e: Exception =>
            errors += 1
            println(s"ERROR      $name: ${e.getMessage}")
        }
      }
    println(s"\n== plan lint: $unapproved unapproved, " +
      s"$approvedHits approved (whitelisted), $errors errors")
    spark.stop()
    sys.exit(if (unapproved > 0 || errors > 0) 1 else 0)
  }
}
