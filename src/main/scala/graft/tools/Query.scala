package graft.tools

import org.apache.spark.sql.SparkSession

/** Command-line front door: run a jetro expression against the tables in
  * a data directory, the way a reference user runs `collect(expr)`.
  *
  *   sbt "runMain graft.tools.Query '$.orders{o_orderstatus == \"O\"}
  *     .sort_by(-o_totalprice).take(5).map({id: o_orderkey})'"
  *
  * Prints the rung the expression runs on (`relational`, `rowwise` or
  * `document`, as [[graft.Graft.backend]] picks it), then the result rows.
  */
object Query {
  def main(args: Array[String]): Unit = {
    val expr = args.headOption.getOrElse {
      System.err.println("usage: graft.tools.Query '<jetro expression>' [dataDir]")
      sys.exit(2)
    }
    val dir = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .appName("graft-query")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"[query] backend=${graft.Graft.backend(spark, dir, expr)}")
    graft.Graft.query(spark, dir, expr).show(50, truncate = false)
    spark.stop()
  }
}
