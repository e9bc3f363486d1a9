package graft

import graft.SparkSpec.jobsDuring
import graft.core.Tables
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** The schema memo in [[graft.core.Tables]]: a table is resolved once
  * per file version (its data files' path, len and mtime, under the
  * session's parquet confs). A later read runs no Spark job, and any
  * change to the files or confs infers the schema again. */
class TablesSpec extends SparkSpec {

  private def withDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-tables")
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** `df` as one parquet file at `to` (the testdata's layout), replacing
    * whatever file is there. */
  private def writeFile(df: DataFrame, to: Path): Unit = withDir { tmp =>
    df.coalesce(1).write.parquet(tmp.resolve("out").toString)
    val part = Files.list(tmp.resolve("out")).iterator()
    while (part.hasNext) {
      val p = part.next()
      if (p.getFileName.toString.endsWith(".parquet"))
        Files.copy(p, to, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def copyTable(name: String, dir: Path): Unit =
    Files.copy(java.nio.file.Paths.get(s"$sf/$name.parquet"), dir.resolve(s"$name.parquet"))

  test("a table rewritten at the same path is read as it is now") {
    withDir { dir =>
      val file = dir.resolve("t.parquet")
      writeFile(spark.range(5).selectExpr("id AS a"), file)
      assert(Tables(spark, dir.toString, "t").collect().map(_.getLong(0)).sorted.toSeq
        == (0L until 5L))
      assert(jobsDuring(spark)(Tables(spark, dir.toString, "t")) == 0)
      // one file replaced in place: same path, new len and mtime
      writeFile(spark.range(10, 13).selectExpr("id AS a", "CAST(id * 2 AS STRING) AS b"), file)
      val now = Tables(spark, dir.toString, "t")
      assert(now.schema.fieldNames.toSeq == Seq("a", "b"))
      assert(now.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
        == Seq(10L -> "20", 11L -> "22", 12L -> "24"))
      // a directory of part files overwritten by Spark: new part names
      Files.delete(file)
      spark.range(3).selectExpr("id AS a").write.parquet(file.toString)
      assert(Tables(spark, dir.toString, "t").count() == 3)
      spark.range(7).selectExpr("CAST(id AS STRING) AS c")
        .write.mode("overwrite").parquet(file.toString)
      val over = Tables(spark, dir.toString, "t")
      assert(over.schema.fieldNames.toSeq == Seq("c"))
      assert(over.collect().map(_.getString(0)).sorted.toSeq == (0 until 7).map(_.toString))
    }
  }

  test("a flipped parquet conf infers the schema again") {
    // o_orderdate is a parquet timestamp without UTC adjustment, written
    // with no Spark schema in its footer: its inferred type follows
    // spark.sql.parquet.inferTimestampNTZ.enabled
    val conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    withDir { dir =>
      copyTable("orders", dir)
      def dateType = Tables(spark, dir.toString, "orders").schema("o_orderdate").dataType
      assert(dateType == TimestampNTZType)
      assert(dateType == TimestampNTZType)
      spark.conf.set(conf, "false")
      try assert(dateType == TimestampType)
      finally spark.conf.unset(conf)
      assert(dateType == TimestampNTZType)
    }
  }

  test("events keeps its conf and its TimestampType ts on a memo hit") {
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    Tables.events(spark, sf)
    spark.conf.unset(nanos)
    var ev: DataFrame = null
    assert(jobsDuring(spark) { ev = Tables(spark, sf, "events") } == 0)
    assert(spark.conf.get(nanos) == "true")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(Tables.stored(spark, sf, "events").schema("ts").dataType == TimestampType)
  }

  test("a hit runs no Spark job; a miss runs the inference job") {
    withDir { dir =>
      copyTable("orders", dir)
      assert(jobsDuring(spark)(Tables(spark, dir.toString, "orders")) > 0)
      assert(jobsDuring(spark)(Tables(spark, dir.toString, "orders")) == 0)
    }
  }

  test("a hit and a miss give the same schema, plan root and spread decision") {
    def spreads(df: DataFrame) = !(Tables.spreadCompute(df) eq df)
    withDir { dir =>
      Tables.names.foreach(copyTable(_, dir))
      for (name <- Tables.names) {
        val miss = Tables(spark, dir.toString, name)
        val hit = Tables(spark, dir.toString, name)
        assert(hit.schema == miss.schema, name)
        assert(hit.queryExecution.logical.getClass == miss.queryExecution.logical.getClass, name)
        assert(spreads(hit) == spreads(miss), name)
        assert(spreads(hit.filter("true")) == spreads(miss.filter("true")), name)
      }
    }
  }

  test("an expression that reads one table twice still analyzes") {
    Tables(spark, sf, "nation")
    val e = "$.nation.diff($.nation{n_regionkey != 1})"
    val got = graft.plans.Lower.compile(e, t => Tables(spark, sf, t))
      .collect().map(_.getAs[Number]("n_regionkey").longValue).toVector
    assert(got == Vector.fill(5)(1L))
  }
}
