package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev CLI: compile a jetro expression against the testdata tables and
  * print the physical plan, or the bail reason when lowering refuses —
  * `runMain graft.tools.LowerCheck '$.region.map(r_name)'`.
  *
  * With `-` as the only argument it reads one expression per line from
  * stdin and prints, per line, the rung `Graft.backend` picks, the
  * first line of `Lower.compile`'s bail message (empty when it lowers)
  * and `static` when the rowwise rung would parse the text's output
  * with a proved schema (`Lower.rowwiseStaticSchema`) rather than infer
  * it in an extra scan, tab-separated — a rung census to diff across
  * two builds:
  * `sbt "runMain graft.tools.LowerCheck -" < exprs.txt` (not under
  * `sbt -batch`, whose launcher reads stdin from /dev/null). */
object LowerCheck {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // bail messages carry non-ASCII (`—`): print UTF-8 whatever the locale
    val out = new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
    def bailOf(e: String): String =
      try { graft.plans.Lower.compile(e, t => graft.core.Tables(spark, dir, t)); "" }
      catch { case ex: Throwable => firstLine(ex) }
    def static(e: String): Boolean =
      try graft.Graft.rowwisePlan(e).filter(p => graft.core.Tables.names.contains(p.table))
        .exists(p => graft.plans.Lower.rowwiseStaticSchema(
          graft.core.Tables(spark, dir, p.table).schema, p.evalExpr).isDefined)
      catch { case _: Throwable => false }
    if (args.toSeq == Seq("-"))
      scala.io.Source.fromInputStream(System.in)(scala.io.Codec.UTF8).getLines().foreach { e =>
        val rung =
          try graft.Graft.backend(spark, dir, e)
          catch { case ex: Throwable => s"error: ${firstLine(ex)}" }
        out.println(s"$rung\t${bailOf(e)}\t${if (static(e)) "static" else ""}")
      }
    else for (e <- args) {
      out.println(s"======== $e ========")
      try {
        val df = graft.plans.Lower.compile(e, t => graft.core.Tables(spark, dir, t))
        out.println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode))
      } catch { case ex: Throwable => out.println(s"[lowercheck] ${ex.getMessage}") }
    }
    spark.stop()
  }

  private def firstLine(ex: Throwable): String =
    Option(ex.getMessage).flatMap(_.linesIterator.nextOption())
      .getOrElse(ex.getClass.getName)
}
