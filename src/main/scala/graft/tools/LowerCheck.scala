package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev CLI: compile a jetro expression against the testdata tables and
  * print the physical plan, or the bail reason when lowering refuses —
  * `runMain graft.tools.LowerCheck '$.region.map(r_name)'`.
  *
  * With `-` as the only argument it reads one expression per line from
  * stdin and prints, per line, the rung `Graft.backend` picks and the
  * first line of `Lower.compile`'s bail message (empty when it lowers),
  * tab-separated — a rung census to diff across two builds:
  * `runMain graft.tools.LowerCheck - < exprs.txt`. */
object LowerCheck {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def bailOf(e: String): String =
      try { graft.plans.Lower.compile(e, t => graft.core.Tables(spark, dir, t)); "" }
      catch { case ex: Throwable => firstLine(ex) }
    if (args.toSeq == Seq("-"))
      scala.io.Source.fromInputStream(System.in)(scala.io.Codec.UTF8).getLines().foreach { e =>
        val rung =
          try graft.Graft.backend(spark, dir, e)
          catch { case ex: Throwable => s"error: ${firstLine(ex)}" }
        println(s"$rung\t${bailOf(e)}")
      }
    else for (e <- args) {
      println(s"======== $e ========")
      try {
        val df = graft.plans.Lower.compile(e, t => graft.core.Tables(spark, dir, t))
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode))
      } catch { case ex: Throwable => println(s"[lowercheck] ${ex.getMessage}") }
    }
    spark.stop()
  }

  private def firstLine(ex: Throwable): String =
    Option(ex.getMessage).flatMap(_.linesIterator.nextOption())
      .getOrElse(ex.getClass.getName)
}
