package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** PARITY for [[Tables.parquet]], the one schema-less parquet read:
  * over every layout the program reads, it must give the frame
  * `spark.read.parquet` gives — same schema, same input files, same
  * rows — while building it launches no Spark job (Spark's own
  * inference runs one to read a footer). */
class TablesReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def jobs(s: SparkSession, tag: String)(body: => Unit): Int =
    CcStructure.measureRun(s, tag)(body)._1

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Tables.parquet ≡ spark.read.parquet on `paths`, and only the
    * plain read launches a job while the frame is built. */
  private def assertParity(s: SparkSession, what: String,
      paths: String*): Unit = {
    var ours: DataFrame = null
    var theirs: DataFrame = null
    assert(jobs(s, "tables-parquet") { ours = Tables.parquet(s, paths: _*) } == 0,
      s"$what: building Tables.parquet launched a job")
    assert(jobs(s, "read-parquet") { theirs = s.read.parquet(paths: _*) } >= 1,
      s"$what: the counter must see Spark's own inference job")
    assert(ours.schema == theirs.schema, s"$what: schema\n" +
      ours.schema.treeString + "\nvs\n" + theirs.schema.treeString)
    assert(ours.inputFiles.sorted.toSeq == theirs.inputFiles.sorted.toSeq,
      s"$what: input files")
    assert(rows(ours) == rows(theirs), s"$what: rows")
  }

  private def withDir(prefix: String)(body: String => Unit): Unit = {
    val d = Files.createTempDirectory(prefix)
    try body(d.resolve("t").toString)
    finally graft.util.Fs.deleteRecursively(d)
  }

  private def ordersSlice(s: SparkSession): DataFrame =
    Tables.orders(s, TestSpark.Sf0001)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))

  test("a single file: the corpus tables") {
    for (t <- Seq("orders", "lineitem", "documents", "embeddings"))
      assertParity(spark, t, s"${TestSpark.Sf0001}/$t.parquet")
  }

  test("a Spark-written directory with _SUCCESS, and several paths") {
    withDir("graft_tables_dir") { out =>
      ordersSlice(spark).repartition(3).write.parquet(out)
      assert(new java.io.File(out, "_SUCCESS").exists())
      assertParity(spark, "spark-written dir", out)
      assertParity(spark, "dir + file",
        out, s"${TestSpark.Sf0001}/orders.parquet")
    }
  }

  test("a bucket=-partitioned directory (upsertMerge's layout) and an " +
    "event_type= MutableTable root") {
    withDir("graft_tables_bucket") { out =>
      ordersSlice(spark).withColumn("bucket", pmod(col("o_custkey"), lit(4)))
        .write.partitionBy("bucket").parquet(out)
      assertParity(spark, "bucket= layout", out)
    }
    withDir("graft_tables_mut") { out =>
      Tables.events(spark, TestSpark.Sf0001)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .write.partitionBy("event_type").parquet(out)
      assertParity(spark, "event_type= root", out)
    }
  }

  test("a directory with _common_metadata: its footer's schema wins, " +
    "as in Spark's inference") {
    withDir("graft_tables_summary") { out =>
      ordersSlice(spark).coalesce(1).write.parquet(out)
      // a wider footer as the summary file: the schema gains its
      // extra column, which every data file then null-fills
      val wide = Files.createTempDirectory("graft_tables_wide")
      ordersSlice(spark).withColumn("extra", lit(1L)).limit(1).coalesce(1)
        .write.mode("overwrite").parquet(wide.toString)
      val part = Files.list(wide).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, java.nio.file.Paths.get(out, "_common_metadata"),
        StandardCopyOption.REPLACE_EXISTING)
      graft.util.Fs.deleteRecursively(wide)
      assert(Tables.parquet(spark, out).schema.fieldNames.last == "extra")
      assertParity(spark, "_common_metadata dir", out)
    }
  }

  test("the events file under nanosAsLong on and off, and its naive " +
    "timestamps with TIMESTAMP_NTZ inference on and off") {
    val events = s"${TestSpark.Sf0001}/events.parquet"
    for ((key, value) <- Seq(
        "spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.sql.legacy.parquet.nanosAsLong" -> "false",
        "spark.sql.parquet.inferTimestampNTZ.enabled" -> "true",
        "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")) {
      val s = spark.newSession()
      s.conf.set(key, value)
      assertParity(s, s"events, $key=$value", events)
    }
  }

  test("a TIMESTAMP_NTZ file") {
    withDir("graft_tables_ntz") { out =>
      spark.range(5).select(col("id"),
          expr("make_timestamp_ntz(2024, 1, 1, 0, 0, id)").as("ts"))
        .write.parquet(out)
      assert(Tables.parquet(spark, out).schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampNTZType)
      assertParity(spark, "TIMESTAMP_NTZ file", out)
    }
  }

  test("an empty directory fails with Spark's own message; a " +
    "mergeSchema session is Spark's own read") {
    withDir("graft_tables_empty") { out =>
      Files.createDirectories(java.nio.file.Paths.get(out))
      val ours = intercept[AnalysisException](Tables.parquet(spark, out))
      val theirs = intercept[AnalysisException](spark.read.parquet(out))
      assert(ours.getMessage == theirs.getMessage)
    }
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.mergeSchema", "true")
    assert(org.apache.spark.sql.graftbridge.Bridge.parquetFooterSchema(s,
      Seq(s"${TestSpark.Sf0001}/orders.parquet")).isEmpty)
  }
}
