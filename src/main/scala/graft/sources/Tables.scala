package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet table catalog over the driver-generated star schema
  * (see TESTDATA.md). The reference engine's equivalent is the
  * BigQuery-connector scan (reference `prefect/spark/fifa_spark.py:24-31`),
  * whose table metadata supplies the schema; here every table is a plain
  * columnar parquet scan so Catalyst gets filter pushdown + column
  * pruning for free, and every table read DECLARES the schema [[parquet]]
  * takes from one footer on the driver — no read launches a Spark job
  * to infer it.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case _        => parquet(spark, s"$dir/$name.parquet")
    }

  /** `spark.read.parquet(paths*)` with the schema Spark would infer,
    * read from one footer on the driver
    * ([[org.apache.spark.sql.graftbridge.Bridge.parquetFooterSchema]])
    * and declared, so building the frame launches no job — Spark's own
    * inference reads that same footer in a one-task job per read. The
    * one schema-less parquet read in the program: schema, input files
    * and rows equal Spark's (TablesReadSpec). When the session merges
    * schemas, no data file is listed or the session is a Connect client
    * this IS `spark.read.parquet`, so the caller sees Spark's own schema
    * or error. */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.parquetFooterSchema(spark, paths) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None         => spark.read.parquet(paths: _*)
    }

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects. Read nanos as LongType (legacy conf) and truncate to
    * micros — the same ns→us truncation DuckDB applies, so oracle SQL over
    * the raw file agrees with us.
    *
    * A table loader must not mutate session state, so the conf is
    * REQUIRED at session build time (all shipped entry points —
    * Verify/Bench/Scratch/TestSpark — pin it); fail fast with the fix
    * spelled out rather than silently flipping it here.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    require(
      spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"),
      "events.parquet stores TIMESTAMP(NANOS): set " +
        "spark.sql.legacy.parquet.nanosAsLong=true on the SparkSession " +
        "builder (see graft.Verify for the canonical config)")
    val raw = parquet(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // a re-landed corpus may carry naive (isAdjustedToUTC=false)
        // timestamps; the session runs in UTC, so reinterpreting as
        // instants is lossless and keeps unix_micros/window ops working
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
