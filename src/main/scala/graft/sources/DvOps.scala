package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed plumbing for MERGE-ON-READ deletes (round 15 — the
  * Delta deletion-vector / Iceberg position-delete shape on the
  * manifest lake).
  *
  * A position-delete file (`dv-<token>.txt` in the table's data
  * plane) lists the ROW ORDINALS deleted from exactly one data file,
  * ascending, one decimal per line. The ordinal space is the file's
  * physical row order — Spark's parquet `_metadata.row_index` on the
  * write side and the row-index column [[ManifestReadFactory]] reads
  * on the read side are the same ordinal, which is the alignment the
  * whole design rests on.
  *
  * Everything here is DISTRIBUTED: matching rows are found by a
  * filtered scan carrying (`_metadata.file_name`,
  * `_metadata.row_index`), existing deletes are excluded by an
  * anti-join against the dv position relation (never a driver-side
  * set), and dv files are written by per-partition tasks after a
  * repartition on the data-file name — the only thing that crosses
  * the driver is the (dataFile, dvFile, count) record list, bounded
  * by the number of affected FILES, which is exactly what the epoch
  * manifest must record anyway. */
private[graft] object DvOps {

  private def dataDir(dir: String): java.io.File =
    new java.io.File(dir, "data")

  /** The live dv positions of `files` under the dv state `dvMap` as a
    * relation (_f = data file base name, _p = deleted ordinal), or None
    * when the files carry no dvs. The dv state is a CALLER-SUPPLIED
    * snapshot (round 16) so the claim-time dv fences compare against
    * exactly what the job computed with.
    *
    * FAN-IN shape (round 16, advisor r15): ALL dv files are read in
    * ONE multi-path text scan (plan width O(1), partitions O(dv
    * files)) instead of a per-file `unionAll` chain, and the dv-file →
    * data-file naming rides a broadcast-tiny relation — bounded by the
    * number of dv files, the same class as the epoch manifest. */
  def dvPositions(spark: SparkSession, dir: String, files: Seq[String],
      dvMap: Map[String, Seq[(String, Long)]]): Option[DataFrame] = {
    val pairs = files.map(f => java.nio.file.Paths.get(f).getFileName.toString)
      .distinct.flatMap(n => dvMap.getOrElse(n, Seq.empty).map(d => (n, d._1)))
    if (pairs.isEmpty) None
    else {
      import spark.implicits._
      val names = pairs.map { case (dataName, dvName) =>
        (dvName, dataName) }.toDF("_dv", "_f")
      val lines = spark.read.textFile(pairs.map(p =>
        new java.io.File(dataDir(dir), p._2).toString): _*)
        .select(col("value").cast("long").as("_p"),
          col("_metadata.file_name").as("_dv"))
      Some(lines.join(broadcast(names), "_dv").select("_p", "_f"))
    }
  }

  /** Total recorded deleted-position count across `files` under
    * `dvMap` — what decides broadcast vs shuffled anti-join below. */
  private def dvCount(files: Seq[String],
      dvMap: Map[String, Seq[(String, Long)]]): Long =
    files.map(f => java.nio.file.Paths.get(f).getFileName.toString)
      .distinct.flatMap(n => dvMap.getOrElse(n, Seq.empty).map(_._2)).sum

  /** Above this many accumulated positions the dv relation stops being
    * broadcast (an unbounded broadcast is a driver/executor OOM at
    * scale) and the anti-join shuffles instead — the `#dv` records
    * carry the counts, so the choice is free. Compaction remains the
    * real resolution for heavily-dv'd tables. Overridable via
    * `spark.graft.dv.broadcastPositionCap` (the flip is spec-pinned). */
  private[graft] val DefaultBroadcastPositionCap = 2000000L

  private def broadcastCap(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.dv.broadcastPositionCap")
      .flatMap(_.toLongOption).getOrElse(DefaultBroadcastPositionCap)

  private def antiJoinDeleted(spark: SparkSession, base: DataFrame,
      pos: DataFrame, nPositions: Long): DataFrame =
    if (nPositions <= broadcastCap(spark))
      base.join(broadcast(pos), Seq("_f", "_p"), "left_anti")
    else base.join(pos, Seq("_f", "_p"), "left_anti")

  /** Read `files` under `schema` with live position deletes EXCLUDED —
    * the read every COW rewriter (row-level DELETE survivors,
    * compaction) must use on a table with live dvs, or deleted rows
    * would resurrect through the rewritten files. */
  def readExcludingDeleted(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType, dir: String,
      files: Seq[String],
      dvMapOpt: Option[Map[String, Seq[(String, Long)]]] = None): DataFrame = {
    val dvMap = dvMapOpt.getOrElse(ManifestSink.deleteVectors(dir))
    val base = spark.read.schema(schema).parquet(files: _*)
    dvPositions(spark, dir, files, dvMap) match {
      case None => base
      case Some(pos) =>
        val cols = schema.fieldNames.toSeq
        antiJoinDeleted(spark,
          base.select((col("_metadata.file_name").as("_f") +:
            col("_metadata.row_index").as("_p") +:
            cols.map(col)): _*),
          pos, dvCount(files, dvMap))
          .select(cols.map(col): _*)
    }
  }

  /** [[readExcludingDeleted]] plus a `_rid` ROW-IDENTITY column
    * (round 19, row tracking): `coalesce(materialized _graft_rowid,
    * file base + row_index)` — the file→base relation rides a
    * broadcast (bounded by file count, the epoch-manifest class), the
    * materialized column reads by name (files without one serve null).
    * `_rid` is null only for untracked pre-r19 files, which callers
    * gate out before pairing. */
  def readWithRowIds(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType, dir: String,
      files: Seq[String],
      dvMapOpt: Option[Map[String, Seq[(String, Long)]]],
      bases: Map[String, Long]): DataFrame = {
    import spark.implicits._
    val dvMap = dvMapOpt.getOrElse(ManifestSink.deleteVectors(dir))
    val withRid = schema.add(ManifestSink.RowIdColumnName, "long")
    val base = spark.read.schema(withRid).parquet(files: _*)
    val baseRel = broadcast(files.map(f =>
      java.nio.file.Paths.get(f).getFileName.toString).distinct
      .map(n => (n, bases.get(n).map(java.lang.Long.valueOf).orNull))
      .toDF("_f", "_b"))
    val cols = schema.fieldNames.toSeq
    val keyed = base.select((col("_metadata.file_name").as("_f") +:
      col("_metadata.row_index").as("_p") +:
      col(ManifestSink.RowIdColumnName) +: cols.map(col)): _*)
      .join(baseRel, "_f")
      .withColumn("_rid", coalesce(col(ManifestSink.RowIdColumnName),
        col("_b") + col("_p")))
    val undeleted = dvPositions(spark, dir, files, dvMap) match {
      case None => keyed
      case Some(pos) =>
        antiJoinDeleted(spark, keyed, pos, dvCount(files, dvMap))
    }
    undeleted.select((cols.map(col) :+ col("_rid")): _*)
  }

  /** The MERGE-ON-READ delete job: find predicate-TRUE rows of
    * `files` (existing deletes excluded — a row already deleted is
    * never re-marked), write ONE dv file per affected data file
    * (distributed, sorted positions), and return the records to
    * commit. Rows where the predicate is NULL survive (SQL DELETE
    * semantics), matching the COW path. */
  def writeDeleteVectors(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType, dir: String,
      files: Seq[String], pred: org.apache.spark.sql.Column,
      dvMap: Map[String, Seq[(String, Long)]]): Seq[(String, String, Long)] = {
    val base = spark.read.schema(schema).parquet(files: _*)
      .select((col("_metadata.file_name").as("_f") +:
        col("_metadata.row_index").as("_p") +:
        schema.fieldNames.toSeq.map(col)): _*)
    val undeleted = dvPositions(spark, dir, files, dvMap) match {
      case None => base
      case Some(pos) =>
        antiJoinDeleted(spark, base, pos, dvCount(files, dvMap))
    }
    val matches = undeleted.filter(pred <=> lit(true)).select("_f", "_p")
    val dd = dataDir(dir)
    java.nio.file.Files.createDirectories(dd.toPath)
    val outPath = dd.toString
    import org.apache.spark.sql.Encoders
    val inEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    val outEnc = Encoders.tuple(Encoders.STRING, Encoders.STRING,
      Encoders.scalaLong)
    matches.repartition(col("_f")).sortWithinPartitions("_f", "_p")
      .as(inEnc)
      .mapPartitions { it =>
        // rows arrive grouped by data file (hash partition) and
        // sorted; stream one dv writer per file-run. A failed/retried
        // attempt leaves orphan dv files no manifest references —
        // vacuum's age gate reclaims them, the task-file convention.
        val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
        var curFile: String = null
        var writer: java.io.BufferedWriter = null
        var dvName: String = null
        var n = 0L
        def close(): Unit = if (writer != null) {
          writer.close()
          out += ((curFile, dvName, n))
          writer = null
        }
        it.foreach { case (f, p) =>
          if (f != curFile) {
            close()
            curFile = f
            dvName = s"dv-${java.util.UUID.randomUUID.toString.take(16)}.txt"
            writer = java.nio.file.Files.newBufferedWriter(
              java.nio.file.Paths.get(outPath, dvName),
              java.nio.charset.StandardCharsets.UTF_8)
            n = 0L
          }
          writer.write(p.toString); writer.newLine(); n += 1
        }
        close()
        out.iterator
      }(outEnc)
      .collect().toSeq
  }
}
