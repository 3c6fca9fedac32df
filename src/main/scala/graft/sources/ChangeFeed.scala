package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit, struct, when}
import org.apache.spark.sql.types.StructType

/** CDC CHANGE FEED over a manifest table's epoch log (round 17, the
  * Delta `table_changes` / Iceberg changelog shape): serve the
  * row-level changes of any retained epoch window `(since, until]` as
  * a DataFrame of the table's (logical) columns plus
  * `_change_type` ∈ {insert, delete, update_preimage,
  * update_postimage} and `_commit_version` — derived ENTIRELY from
  * what the log already records, no extra bytes written per commit:
  *
  *  - an `append` epoch's files ARE its inserted rows;
  *  - a merge-on-read epoch's NEW `#dv` files list exactly the row
  *    positions it retro-deleted — reading the targeted data files AT
  *    those positions yields the pre-images (`delete` for a DELETE,
  *    `update_preimage` for an UPDATE whose appended files are the
  *    `update_postimage`s);
  *  - a copy-on-write epoch (removes + survivor adds) is served as
  *    the MULTISET DIFF of the rows it removed (under the dv state of
  *    the PREVIOUS version — already-deleted rows are not deleted
  *    again) against the rows it added: for a DELETE the diff IS the
  *    deleted rows (survivors ⊆ victims), for an UPDATE the two diff
  *    sides are the pre/post images, and for a pure file rewrite the
  *    diff is EMPTY — `#op compact` epochs are skipped without
  *    reading a byte, and untagged pre-r17 rewrites fall through to
  *    the diff, which yields zero rows for a compaction by
  *    construction (file rewrite ≠ row change);
  *  - an `overwrite` epoch is full replacement: every pre row a
  *    `delete`, every new row an `insert`;
  *  - a MERGE (either mode) and a rollback collapse to their NET row
  *    effect (`delete` + `insert`) — the log does not record which
  *    source row matched which target row, and inventing pairings
  *    would be a wrong answer dressed as a right one.
  *
  * SCALE SHAPE: the append/MOR paths are ONE multi-path parquet scan
  * plus ONE multi-path dv text scan joined against broadcast-tiny
  * (file name → version/label) relations — plan width O(1), work
  * O(changed bytes), the [[DvOps]] fan-in discipline. Only COW epochs
  * pay a per-epoch diff (two scans of the files that epoch actually
  * rewrote — the same bytes the rewrite itself moved, so the feed is
  * never more expensive than the write it describes). Windows at or
  * below the compaction horizon refuse loudly with the boundary named
  * ([[ManifestSink.epochDeltas]]).
  *
  * Reference anchor: this is the scaled form of the reference
  * pipeline's monthly full refresh (README.md:112) consumed
  * incrementally — downstream aggregates apply the change rows
  * instead of re-reading the table. */
object ChangeFeed {
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  val CommitTsCol = "_commit_timestamp"

  /** The change rows of `(since, until]` on the manifest table at
    * `dir`. `since = -1` starts before the first epoch (refused if the
    * log was ever swept past it); `until` defaults to the newest
    * committed version. Columns: the table's LOGICAL schema (column
    * mapping applied) ++ (_change_type, _commit_version). */
  def tableChanges(spark: SparkSession, dir: String, since: Long,
      until: Option[Long] = None): DataFrame = {
    val asOf = until.getOrElse(ManifestSink.newestVersion(dir))
    val deltas = ManifestSink.epochDeltas(dir, since, asOf)

    val physSchema = StructType.fromDDL(
      ManifestSink.widestRecordedSchema(dir).getOrElse(
        throw new IllegalStateException(
          s"manifest table $dir records no schema — cannot serve a " +
            "change feed")))
    val colmap = ManifestSink.columnMapping(dir)
    val dropped = colmap.collect {
      case (p, l) if l == ManifestSink.DroppedColumn => p.toLowerCase }.toSet
    val served = physSchema.fields
      .filterNot(f => dropped.contains(f.name.toLowerCase))
    val physCols = served.map(_.name).toSeq
    def logicalName(p: String): String =
      colmap.getOrElse(p.toLowerCase, p)

    def dataPath(n: String): String =
      Paths.get(dir, "data", n).toString

    // ——— labeled file groups across the whole window ———
    // inserts: append adds, MOR update/merge adds; (file → version, label)
    val insertFiles = scala.collection.mutable.ArrayBuffer[(String, Long, String)]()
    // dv pre-images: (dvFile → data file, version, label)
    val dvFiles = scala.collection.mutable.ArrayBuffer[(String, String, Long, String)]()
    // COW diffs, one entry per remove-carrying epoch, captured WITH the
    // dv state its victims were visible under (the PREVIOUS version)
    val cowEpochs = scala.collection.mutable.ArrayBuffer[
      (ManifestSink.EpochDelta, Map[String, Seq[(String, Long)]])]()

    // RUNNING dv state across the window (round 18, the r17 watch
    // item): ONE `deleteVectorsAsOf` walk at the window start, then
    // each epoch's own records evolve it in order — a COW-heavy window
    // of E epochs costs O(window records), not O(E × log-walk)
    val anyCow = deltas.exists(d =>
      (d.removes.nonEmpty || d.eqdels.nonEmpty) &&
        d.op != "compact" && d.op != "metadata")
    // ONE mutable map across the window (round 19, the r18 efficiency
    // nit): epochs mutate it in place — O(window + records) — and only
    // a COW epoch's capture pays an O(state) immutable snapshot (it
    // must: each COW's victims read under the state of the PREVIOUS
    // version, frozen at capture time)
    val dvState = scala.collection.mutable.LinkedHashMap[String, Seq[(String, Long)]]()
    if (anyCow)
      ManifestSink.deleteVectorsAsOf(dir, math.max(since, 0L))
        .foreach { case (k, v) => dvState(k) = v }
    def evolveState(d: ManifestSink.EpochDelta): Unit =
      if (anyCow && (d.dvs.nonEmpty || d.removes.nonEmpty)) {
        // removes FIRST, then dv records: a rollback epoch re-adds a
        // file and re-declares its historical dv state in that order
        d.removes.foreach(dvState.remove)
        d.dvs.foreach { case (data, dv, n) =>
          dvState(data) = dvState.getOrElse(data, Seq.empty) :+ ((dv, n)) }
      }

    // adds whose rows are partially dv'd BY THE SAME EPOCH (a
    // published branch's staged update of its own staged append): the
    // marked positions were never visible to main — they serve neither
    // as inserts nor as pre-images; the add reads EXCLUDING them
    // (file, skip-dv names, version, label)
    val selfDvAdds = scala.collection.mutable
      .ArrayBuffer[(String, Seq[(String, Long)], Long, String)]()
    // round 18: `#cdc` role tags override the epoch defaults — a
    // MERGE's matched-update halves serve update_pre/postimage while
    // its pure deletes/inserts keep the net labels; role-less (pre-r18)
    // merge epochs fall back to net delete+insert, documented
    def morEpoch(d: ManifestSink.EpochDelta,
        preLabel: String, postLabel: String): Unit = {
      val addSet = d.adds.toSet
      def dvLabel(dv: String): String =
        if (d.cdcRoles.get(dv).contains("pre")) "update_preimage"
        else preLabel
      def addLabel(n: String): String =
        if (d.cdcRoles.get(n).contains("post")) "update_postimage"
        else postLabel
      d.dvs.foreach { case (data, dv, _) =>
        if (!addSet.contains(data))
          dvFiles += ((dv, data, d.id, dvLabel(dv))) }
      val selfDvd = d.dvs.filter(r => addSet.contains(r._1))
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3))).toMap
      d.adds.foreach { n =>
        selfDvd.get(n) match {
          case Some(dvs) => selfDvAdds += ((n, dvs, d.id, addLabel(n)))
          case None => insertFiles += ((n, d.id, addLabel(n)))
        }
      }
    }
    // KEYED-UPSERT epochs (round 19, equality deletes): the epoch's
    // adds are plain inserts (exempt by the sequence rule); its
    // deleted rows are the PRE-state rows matching the key files —
    // captured with the dv state of the previous version
    val eqEpochs = scala.collection.mutable.ArrayBuffer[
      (ManifestSink.EpochDelta, Map[String, Seq[(String, Long)]])]()
    deltas.foreach { d =>
      d.op match {
        case "compact" => // file rewrite ≠ row change: zero rows, zero read
        case "metadata" =>
        case _ if d.eqdels.nonEmpty =>
          eqEpochs += ((d, dvState.toMap))
          d.adds.foreach(n => insertFiles += ((n, d.id, "insert")))
        case _ if d.removes.nonEmpty => cowEpochs += ((d, dvState.toMap))
        case "append" =>
          d.adds.foreach(n => insertFiles += ((n, d.id, "insert")))
        case "update" => // merge-on-read UPDATE: dv pre + appended post
          morEpoch(d, "update_preimage", "update_postimage")
        case _ => // MOR delete/merge (net effect for merge)
          morEpoch(d, "delete", "insert")
      }
      evolveState(d)
    }

    val logicalCols = served.toSeq.map(f => logicalTopCol(f, colmap))
    def labeled(df: DataFrame): DataFrame =
      df.select(logicalCols :+ col(ChangeTypeCol) :+
        col(CommitVersionCol) :+ col(CommitTsCol): _*)

    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      ManifestSink.logicalizeStruct(StructType(
        served.toArray[org.apache.spark.sql.types.StructField]), colmap)
        .add(ChangeTypeCol, "string", nullable = false)
        .add(CommitVersionCol, "long", nullable = false)
        .add(CommitTsCol, "timestamp", nullable = false))
    // version -> persisted commit time (micros), for the constant col
    val tsOf: Map[Long, Long] = deltas.map(d => d.id -> d.tsMicros).toMap
    def tsCol(v: Long): org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.timestamp_micros(
        lit(tsOf.getOrElse(v, -1L)))

    // ——— inserted/appended rows: ONE multi-path scan + broadcast label
    val insertDf =
      if (insertFiles.isEmpty) None
      else {
        import spark.implicits._
        val names = insertFiles.toSeq.map { case (n, v, l) =>
          (n, v, l, tsOf.getOrElse(v, -1L)) }
          .toDF("_f", CommitVersionCol, ChangeTypeCol, "_ts_us")
          .withColumn(CommitTsCol,
            org.apache.spark.sql.functions.timestamp_micros(col("_ts_us")))
          .drop("_ts_us")
        val base = spark.read.schema(physSchema)
          .parquet(insertFiles.map(e => dataPath(e._1)).toSeq.distinct: _*)
          .withColumn("_f", col("_metadata.file_name"))
        Some(labeled(base.join(broadcast(names), "_f")))
      }

    // ——— MOR pre-images: rows AT the epochs' new dv positions — one
    // multi-path text scan of the dv files + one parquet scan of the
    // targeted data files, joined on (file, position)
    val dvDf =
      if (dvFiles.isEmpty) None
      else {
        import spark.implicits._
        val dvMeta = dvFiles.toSeq.map { case (dv, data, v, l) =>
          (dv, data, v, l, tsOf.getOrElse(v, -1L)) }
          .toDF("_dv", "_f", CommitVersionCol, ChangeTypeCol, "_ts_us")
          .withColumn(CommitTsCol,
            org.apache.spark.sql.functions.timestamp_micros(col("_ts_us")))
          .drop("_ts_us")
        val pos = spark.read.textFile(
          dvFiles.map(e => dataPath(e._1)).toSeq.distinct: _*)
          .select(col("value").cast("long").as("_p"),
            col("_metadata.file_name").as("_dv"))
          .join(broadcast(dvMeta), "_dv")
        val base = spark.read.schema(physSchema)
          .parquet(dvFiles.map(e => dataPath(e._2)).toSeq.distinct: _*)
          .select(col("_metadata.file_name").as("_f") +:
            col("_metadata.row_index").as("_p") +: physCols.map(col): _*)
        Some(labeled(base.join(pos, Seq("_f", "_p"))))
      }

    // ——— self-dv'd adds: read each file EXCLUDING the positions its
    // own epoch marked (never-visible rows), labeled like plain adds
    val selfDvDfs = selfDvAdds.toSeq.map { case (n, dvs, v, label) =>
      DvOps.readExcludingDeleted(spark, physSchema, dir, Seq(dataPath(n)),
        Some(Map(n -> dvs)))
        .select(logicalCols: _*)
        .withColumn(ChangeTypeCol, lit(label))
        .withColumn(CommitVersionCol, lit(v))
        .withColumn(CommitTsCol, tsCol(v))
    }

    // ——— COW epochs: per-row PAIRING by row id when the epoch
    // declares it (round 19, `#cdcpair` + full `#rowid` coverage),
    // else the multiset diff (pre-r19 epochs, untracked files)
    lazy val rowIdBases = ManifestSink.rowIdBases(dir)
    val logicalNames = served.toSeq.map(f => logicalName(f.name))
    val cowDfs = cowEpochs.toSeq.map { case (d, preDvs) =>
      val addSet = d.adds.toSet
      // dv records THIS epoch declares on its own re-added files
      // (rollback restoring historical dv state) apply to the POST side
      val postDvs = d.dvs.filter(r => addSet.contains(r._1))
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3))).toMap
      def side(files: Seq[String], dvMap: Map[String, Seq[(String, Long)]])
          : DataFrame =
        if (files.isEmpty)
          empty.select(served.toSeq.map(f =>
            col(logicalName(f.name))): _*)
        else DvOps.readExcludingDeleted(spark, physSchema, dir,
          files.map(dataPath), Some(dvMap))
          .select(served.toSeq.map(f => logicalTopCol(f, colmap)): _*)
      val pairable = d.paired && d.adds.nonEmpty &&
        (d.removes ++ d.adds).forall(rowIdBases.contains)
      val both =
        if (pairable) {
          // PAIRED (round 19): one full-outer join on row IDENTITY —
          // pre-only ids are deletes, post-only inserts, changed pairs
          // serve update_pre/postimage, identical pairs (carried
          // untouched) serve NOTHING. Work is O(rewritten bytes) like
          // the diff, but labels are per-row truth, not net effect.
          def sideRid(files: Seq[String],
              dvMap: Map[String, Seq[(String, Long)]], tag: String)
              : DataFrame =
            DvOps.readWithRowIds(spark, physSchema, dir,
              files.map(dataPath), Some(dvMap), rowIdBases)
              .select(served.toSeq.map(f => logicalTopCol(f, colmap)) :+
                col("_rid"): _*)
              .select(struct(logicalNames.map(col): _*).as(tag), col("_rid"))
          val j = sideRid(d.removes, preDvs, "_pre")
            .join(sideRid(d.adds, postDvs, "_post"), Seq("_rid"),
              "full_outer")
          def entry(side: String, label: String) =
            struct(col(side).as("d"), lit(label).as("l"))
          val e = org.apache.spark.sql.functions.explode(
            when(col("_pre").isNull,
              org.apache.spark.sql.functions.array(entry("_post", "insert")))
            .when(col("_post").isNull,
              org.apache.spark.sql.functions.array(entry("_pre", "delete")))
            .when(!(col("_pre") <=> col("_post")),
              org.apache.spark.sql.functions.array(
                entry("_pre", "update_preimage"),
                entry("_post", "update_postimage")))
            .otherwise(lit(null))) // explode(null) = no rows
          j.select(e.as("_e")).select(
            logicalNames.map(n => col(s"_e.d.$n").as(n)) :+
              col("_e.l").as(ChangeTypeCol): _*)
        } else {
          val pre = side(d.removes, preDvs)
          val post = side(d.adds, postDvs)
          val (preLabel, postLabel) = d.op match {
            case "update" => ("update_preimage", "update_postimage")
            case _ => ("delete", "insert")
          }
          val (preSide, postSide) = d.op match {
            case "overwrite" => (pre, post) // full replacement: every row
            case _ => (pre.exceptAll(post), post.exceptAll(pre))
          }
          // a COW DELETE adds nothing beyond survivors (post ⊆ pre),
          // but emitting the computed post-diff keeps the path uniform
          // — it is empty by construction
          preSide
            .withColumn(ChangeTypeCol, lit(preLabel))
            .unionAll(postSide.withColumn(ChangeTypeCol, lit(postLabel)))
        }
      both.withColumn(CommitVersionCol, lit(d.id))
        .withColumn(CommitTsCol, tsCol(d.id))
    }

    // ——— keyed-upsert epochs: the deleted rows are the PRE-state rows
    // matching the epoch's key files — one scan of the files live as
    // of (epoch − 1) semi-joined on the key columns (all of them were
    // committed before the epoch, so every one is applicable). This
    // is the one feed path that reads beyond the changed bytes — the
    // delete-by-key half never recorded positions, by design (the
    // sink never read the target); window upsert feeds accordingly.
    val eqDfs = eqEpochs.toSeq.map { case (d, preDvs) =>
      val colsets = d.eqdels.map(_._2).distinct
      require(colsets.size == 1,
        s"upsert epoch ${d.id} carries ${colsets.size} distinct key " +
          "column sets — the keyed sink writes exactly one per epoch")
      val keyCols = colsets.head
      val preFiles = ManifestSink.committedFilesAsOf(dir, d.id - 1)
      val keys = spark.read.parquet(d.eqdels.map(e => dataPath(e._1)): _*)
        .select(keyCols.map(col): _*)
      val deletedRows =
        if (preFiles.isEmpty)
          empty.select(served.toSeq.map(f =>
            col(logicalName(f.name))): _*)
        else DvOps.readExcludingDeleted(spark, physSchema, dir,
          preFiles, Some(preDvs))
          .join(broadcast(keys), keyCols.toSeq, "left_semi")
          .select(served.toSeq.map(f => logicalTopCol(f, colmap)): _*)
      deletedRows
        .withColumn(ChangeTypeCol, lit("delete"))
        .withColumn(CommitVersionCol, lit(d.id))
        .withColumn(CommitTsCol, tsCol(d.id))
    }

    (insertDf.toSeq ++ dvDf.toSeq ++ selfDvDfs ++ cowDfs ++ eqDfs)
      .reduceOption(_ unionAll _).getOrElse(empty)
  }

  /** One top-level column projected to its LOGICAL form: renamed by
    * the flat entry, and — when dotted `#colmap` entries exist under
    * it (rounds 17/18, nested evolution) — its struct VALUE (or its
    * array's STRUCT ELEMENTS, via `transform`) rebuilt with inner
    * fields renamed/dropped recursively (outer and element nulls
    * preserved). */
  private def logicalTopCol(f: org.apache.spark.sql.types.StructField,
      colmap: Map[String, String]): org.apache.spark.sql.Column = {
    def logicalName(p: String): String = colmap.getOrElse(p.toLowerCase, p)
    def hasNested(prefix: String): Boolean =
      colmap.keys.exists(_.toLowerCase.startsWith(prefix.toLowerCase))
    def rebuild(base: org.apache.spark.sql.Column, st: StructType,
        prefix: String): org.apache.spark.sql.Column = {
      val kids = st.fields.flatMap { g =>
        val key = (prefix + g.name).toLowerCase
        if (colmap.get(key).contains(ManifestSink.DroppedColumn)) None
        else {
          val child = g.dataType match {
            case s: StructType if hasNested(key + ".") =>
              rebuild(base.getField(g.name), s, prefix + g.name + ".")
            case a: org.apache.spark.sql.types.ArrayType
                if hasNested(key + ".element.") =>
              rebuildArray(base.getField(g.name), a, key)
            case m: org.apache.spark.sql.types.MapType
                if hasNested(key + ".value.") =>
              rebuildMap(base.getField(g.name), m, key)
            case _ => base.getField(g.name)
          }
          Some(child.as(colmap.getOrElse(key, g.name)))
        }
      }
      when(base.isNotNull, struct(kids.toSeq: _*))
    }
    def rebuildArray(base: org.apache.spark.sql.Column,
        a: org.apache.spark.sql.types.ArrayType, key: String)
        : org.apache.spark.sql.Column = a.elementType match {
      case es: StructType =>
        org.apache.spark.sql.functions.transform(base,
          x => rebuild(x, es, key + ".element."))
      case _ => base
    }
    def rebuildMap(base: org.apache.spark.sql.Column,
        m: org.apache.spark.sql.types.MapType, key: String)
        : org.apache.spark.sql.Column = m.valueType match {
      case vs: StructType =>
        org.apache.spark.sql.functions.transform_values(base,
          (_, v) => rebuild(v, vs, key + ".value."))
      case _ => base
    }
    val c = f.dataType match {
      case st: StructType if hasNested(f.name + ".") =>
        rebuild(col(f.name), st, f.name + ".")
      case a: org.apache.spark.sql.types.ArrayType
          if hasNested(f.name + ".element.") =>
        rebuildArray(col(f.name), a, f.name)
      case m: org.apache.spark.sql.types.MapType
          if hasNested(f.name + ".value.") =>
        rebuildMap(col(f.name), m, f.name)
      case _ => col(f.name)
    }
    c.as(logicalName(f.name))
  }

  /** The (logical schema ++ change columns) a CDC face serves. */
  private[sources] def changeSchema(dir: String): (StructType, StructType) = {
    val phys = StructType.fromDDL(
      ManifestSink.widestRecordedSchema(dir).getOrElse(
        throw new IllegalStateException(
          s"manifest table $dir records no schema — cannot serve a " +
            "change feed")))
    val colmap = ManifestSink.columnMapping(dir)
      .map { case (p, l) => p.toLowerCase -> l }
    val served = StructType(phys.fields.filterNot(f =>
      colmap.get(f.name.toLowerCase).contains(ManifestSink.DroppedColumn)))
    // the logical side recurses (advisor r17): dotted #colmap entries
    // rename/drop STRUCT INNER fields on this face exactly as on the
    // main table face — the unpruned read then physicalizes per level,
    // so nested-dropped data never resurfaces on the change feed
    val logical = ManifestSink.logicalizeStruct(phys, colmap)
    (served, // physical (top-level drops applied; inner names physical)
      logical.add(ChangeTypeCol, "string", nullable = false)
        .add(CommitVersionCol, "long", nullable = false)
        .add(CommitTsCol, "timestamp", nullable = false))
  }

  /** [[tableChanges]] by CATALOG table name — `tname` under the
    * session's `spark.sql.catalog.graft.snap.dir`. */
  def tableChangesByName(spark: SparkSession, tname: String, since: Long,
      until: Option[Long] = None): DataFrame = {
    GraftCatalog.requireValidTableName(tname)
    val root = spark.conf.getOption("spark.sql.catalog.graft.snap.dir")
      .getOrElse(throw new IllegalStateException(
        "spark.sql.catalog.graft.snap.dir is not set"))
    tableChanges(spark, new java.io.File(root, tname).toString, since, until)
  }
}

/** `graft.snap.t.changes` (round 17) — the CDC feed as a CATALOG
  * TABLE: the table's logical columns plus `_change_type` /
  * `_commit_version`, served as a real DISTRIBUTED scan planned from
  * [[ManifestSink.changePartitions]] — append adds read whole-file,
  * merge-on-read pre-images read the targeted files AT their new dv
  * positions (KEEP mode), `#op compact` epochs cost nothing.
  *
  * Batch reads serve the whole RETAINED window by default (the
  * compaction horizon exclusive → newest), narrowed by the
  * `sinceVersion`/`asOfVersion` reader options; `readStream` TAILS
  * the feed with the same per-epoch offsets as the plain table tail
  * (restart-safe: offsets are epoch ids, partitions are a pure
  * function of the immutable log). Copy-on-write epochs REFUSE in
  * this face — their change set is a multiset diff (a join), which
  * [[ChangeFeed.tableChanges]] serves exactly — unless
  * `ignoreChanges=true` re-delivers their adds as inserts (the Delta
  * opt-out, duplicates possible). */
private[sources] class SnapChangesTable(tname: String, dir: String)
    extends org.apache.spark.sql.connector.catalog.Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.catalog.TableCapability
  import scala.jdk.CollectionConverters._

  private val (physSchema, servedSchema) = ChangeFeed.changeSchema(dir)

  override def name(): String = s"snap($tname).changes"
  override def schema(): StructType = servedSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    val onChange = ManifestSink.onChangeOf(options)
    val maxEpochs = options.getInt("maxEpochsPerTrigger", Int.MaxValue)
    require(maxEpochs >= 1,
      s"maxEpochsPerTrigger must be >= 1, got $maxEpochs")
    val horizon = ManifestSink.compactionHorizon(dir)
    val since = Option(options.get("sinceVersion")).map(_.toLong)
      .getOrElse(horizon)
    new org.apache.spark.sql.connector.read.ScanBuilder
        with org.apache.spark.sql.connector.read
          .SupportsPushDownRequiredColumns {
      // COLUMN PRUNING (round 17): a CDC consumer typically reads a
      // key or two plus the change columns — decoding the full row
      // width for that is exactly the cost this face must not pay at
      // 100 TB. [[ManifestReadFactory]] reads only the requested
      // columns, so pruning is just narrowing what it is asked for; the
      // change pseudo-columns cost zero bytes either way.
      private var pruned: Option[StructType] = None
      override def pruneColumns(requiredSchema: StructType): Unit =
        pruned = Some(requiredSchema)
      private def servedPruned: StructType =
        pruned.getOrElse(servedSchema)
      // logical (possibly pruned) -> physical names, inner struct /
      // element / value names included; the change pseudo-columns pass
      // through by their own names
      private def prunedPhys: StructType =
        ManifestSink.physicalizeStruct(servedPruned, physSchema,
          ManifestSink.columnMapping(dir)
            .map { case (p, l) => p.toLowerCase -> l })
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.Scan
            with org.apache.spark.sql.connector.read.Batch {
          private val phys = prunedPhys
          override def readSchema(): StructType = servedPruned
          override def description(): String =
            s"graft.snap.$tname.changes ($since, …] " +
              s"cols=${phys.length}/${servedSchema.length}"
          override def toBatch
              : org.apache.spark.sql.connector.read.Batch = this
          override def planInputPartitions()
              : Array[org.apache.spark.sql.connector.read.InputPartition] = {
            val until = Option(options.get("asOfVersion")).map(_.toLong)
              .getOrElse(ManifestSink.newestVersion(dir))
            ManifestSink.changePartitions(dir, since, until, cdf = true,
              onChange)
              .map(p => p: org.apache.spark.sql.connector.read.InputPartition)
              .toArray
          }
          override def createReaderFactory()
              : org.apache.spark.sql.connector.read.PartitionReaderFactory =
            ManifestReadFactory(phys)
          override def toMicroBatchStream(checkpointLocation: String)
              : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
            new ManifestMicroBatchStream(dir, phys, maxEpochs, onChange,
              cdf = true, startAt = since)
        }
    }
  }
}
