package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** GROUP-BASED copy-on-write row-level operation on a manifest table —
  * what turns `UPDATE graft.snap.t SET …` and `MERGE INTO graft.snap.t
  * USING … WHEN MATCHED …` into plain Spark SQL (round 14, the
  * Iceberg `SparkCopyOnWriteOperation` shape, built on Spark's
  * `SupportsRowLevelOperations` planner contract: the reference's own
  * cadence is a monthly UPSERT refresh, reference `README.md:112`,
  * not an append):
  *
  *  1. the operation pins the COMMITTED SNAPSHOT at construction, so
  *     every scan it builds — the main replacement-data read and the
  *     runtime group-filter subquery Spark plans around it — serves
  *     one consistent file list;
  *  2. Spark's `RowLevelOperationRuntimeGroupFiltering` runs a
  *     subquery over the MATCHING rows (the command's condition pushed
  *     and pruned to the `_file` metadata column this scan exposes),
  *     then calls [[SnapRowLevelScan.filter]] with `IN (_file, …)` —
  *     narrowing BOTH the replacement read and the files the commit
  *     will `#remove` to exactly the groups that contain matches: an
  *     UPDATE touching one file rewrites one file, not the table
  *     (at 100 TB, the whole difference);
  *  3. the write publishes replacement task files + `#remove`s of the
  *     rewritten groups as ONE atomic epoch through the shared
  *     [[ManifestSink.commitBatchEpoch]] path — which also runs the
  *     commit-time CONFLICT check (a racing DELETE/compaction that
  *     already removed one of this operation's groups aborts it with
  *     a retryable [[ManifestConflictException]]) and stamps the
  *     victims' remove-time mtime for vacuum retention.
  *
  * When runtime group filtering does not engage (disabled, or a
  * non-selective condition), `filter` is never called and the rewrite
  * conservatively spans the pinned snapshot — a full-table COW, which
  * is correct and exactly what Delta does without file-level stats.
  * The declared conf schema is verified against the log's `#schema`
  * records at construction: a REWRITE under a stale narrow conf would
  * silently drop an evolved column (advisor r13). */
private[sources] class SnapRowLevelOperation(val tname: String,
    val dir: String, val tschema: StructType, cmd: Command,
    colmap: Map[String, String] = Map.empty)
    extends RowLevelOperation {
  ManifestSink.verifyDeclaredSchema(dir, s"graft.snap.$tname $cmd", tschema)
  // EQUALITY DELETES (round 19): a COW rewrite under live `#eqdel`
  // records would carry old rows into files EXEMPT from them
  // (add-epoch past the delete) — resurrecting deleted keys. The
  // claim-time fence backstops the race; this refusal names the fix.
  require(ManifestSink.equalityDeletes(dir).isEmpty,
    s"graft.snap.$tname $cmd: the table carries live equality " +
      "deletes (a keyed streaming upsert is active) — CALL " +
      "graft.sys.compact_data to resolve them first")

  // column-mapping boundary (round 16): `tschema` is PHYSICAL; Spark
  // plans this operation against the table's LOGICAL schema, so pushed
  // filters translate in, the write's declared-width check compares
  // logically, and the reader/writer speak physical
  private[sources] val physOfLogical: Map[String, String] =
    colmap.collect { case (p, l) if l != ManifestSink.DroppedColumn =>
      l.toLowerCase -> p }
  private[sources] def physName(c: String): String =
    physOfLogical.getOrElse(c.toLowerCase, c)
  private[sources] def logicalSchema: StructType =
    ManifestSink.logicalizeStruct(tschema,
      colmap.map { case (p, l) => p.toLowerCase -> l })
  private[sources] def physicalize(st: StructType): StructType =
    ManifestSink.physicalizeStruct(st, tschema,
      colmap.map { case (p, l) => p.toLowerCase -> l })

  /** The snapshot this operation reads AND replaces — pinned once. */
  private[sources] val snapshotFiles: Seq[String] = ManifestSink.committedFiles(dir)
  private[sources] val stats: Map[String, FileStat] = ManifestSink.fileStats(dir)
  private[sources] val specBook: SpecBook = ManifestSink.partitionSpecs(dir)
  private[sources] def spec: Seq[PartField] = specBook.current
  private[sources] val parts: Map[String, PartTuple] =
    ManifestSink.filePartitions(dir)
  /** Live delete vectors at pin time (round 15): the rewrite's reads
    * apply them (a COW over a dv'd file must not resurrect its deleted
    * rows), and the commit declares them CONSUMED — the claim-time
    * fence aborts if a new dv landed on a rewritten file since. */
  private[sources] val dvs: Map[String, Seq[(String, Long)]] =
    ManifestSink.deleteVectors(dir)
  private[sources] def dvPathsOf(name: String): Seq[String] =
    dvs.getOrElse(name, Seq.empty).map(e =>
      new java.io.File(new java.io.File(dir, "data"), e._1).toString)

  private def baseName(f: String): String =
    Paths.get(f).getFileName.toString

  /** Files the commit will `#remove` — the whole pinned snapshot until
    * a scan PLANS a narrower set. The set is (re)derived from the main
    * replacement scan's actually-planned partition list
    * ([[SnapRowLevelScan.planInputPartitions]], the Iceberg
    * SparkCopyOnWriteScan shape — advisor r14): removed ⊆ scanned is
    * STRUCTURAL, not incidental — a file any pruning step (static
    * `#stats`, runtime group filter) excluded from the replacement read
    * provably holds no matching row and is never removed, so no pruned
    * file's surviving rows can be dropped. */
  @volatile private[sources] var rewriteNames: Seq[String] =
    snapshotFiles.map(baseName)

  /** The runtime group filter's allowed `_file` set, recorded ON THE
    * OPERATION when any scan instance receives it (advisor r15): the
    * commit intersects [[rewriteNames]] with it, so a plan invocation
    * that happens AFTER the executed replacement read (group-filter
    * subquery reuse, an EXPLAIN, an AQE re-plan that never sees the
    * runtime predicate) can no longer widen the remove set beyond the
    * files the executed, runtime-filtered read actually covered. When
    * the filter never engaged (None), the executed read itself was
    * unfiltered and the last-planned list IS the read set. */
  @volatile private[sources] var runtimeKeep: Option[Set[String]] = None

  private[sources] def recordRuntimeKeep(allowed: Set[String]): Unit =
    runtimeKeep = Some(runtimeKeep.fold(allowed)(_ intersect allowed))

  private[sources] def setRewrite(planned: Seq[String]): Unit =
    rewriteNames = planned

  /** The files the commit removes: the last-planned list, narrowed by
    * the recorded runtime keep-set when one was delivered. */
  private[sources] def effectiveRewrite: Seq[String] = runtimeKeep match {
    case Some(keep) => rewriteNames.filter(keep.contains)
    case None => rewriteNames
  }

  override def command(): Command = cmd
  override def description(): String = s"graft.snap.$tname $cmd (copy-on-write)"

  /** Live `#rowid` bases at pin time (round 19): the scan serves
    * `_row_id` from them and the writer materializes it back. */
  private[sources] val rowIdBases: Map[String, Long] =
    ManifestSink.rowIdBases(dir)

  /** `_file` is how Spark's group-filter subquery names groups back to
    * this scan; `_row_id` (round 19) rides with every row through the
    * rewrite — Spark's ReplaceData delivers both to the writer via the
    * metadata projection (`DataWriter.write(meta, row)`), which is how
    * a carried row's identity survives the copy-on-write move. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(SnapFileColumn.name),
      Expressions.column(SnapRowIdColumn.name))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapRowLevelScanBuilder(this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new SnapRowLevelWrite(this, info)
}

/** The `_file` metadata column every manifest-table scan can serve:
  * the base name of the committed data file a row lives in (Delta/
  * Iceberg expose the same thing) — selectable on normal reads and
  * REQUIRED by the row-level machinery, whose runtime group filter
  * names matched groups with it. */
private[sources] object SnapFileColumn
    extends org.apache.spark.sql.connector.catalog.MetadataColumn {
  override def name(): String = "_file"
  override def dataType(): org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.StringType
  override def isNullable: Boolean = false
  override def comment(): String =
    "base name of the committed data file the row lives in"
}

/** The `_pos` metadata column (round 16): a row's PHYSICAL ordinal
  * within its committed data file — the second half of the
  * (file, position) row identity every position-delete design keys on
  * (Delta/Iceberg expose the same pair). Ordinals are physical, so a
  * row's `_pos` is stable across reads and across live dvs (deleted
  * rows are skipped, survivors keep their original ordinals — exactly
  * the space dv files record). Together with `_file` this is the
  * `rowId` of the merge-on-read row-level operation
  * ([[SnapDeltaOperation]]). */
private[sources] object SnapPosColumn
    extends org.apache.spark.sql.connector.catalog.MetadataColumn {
  override def name(): String = "_pos"
  override def dataType(): org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.LongType
  override def isNullable: Boolean = false
  override def comment(): String =
    "physical row ordinal within the row's committed data file"
}

/** The `_row_id` metadata column (round 19, ROW TRACKING — the Delta
  * row-tracking / Iceberg-v3 row-lineage shape): a row's STABLE
  * identity — `coalesce(materialized _graft_rowid, file base + _pos)`.
  * Fresh appends store nothing (the id IS the position under the
  * file's `#rowid` base); a copy-on-write rewrite reads it through
  * this column and MATERIALIZES it into the replacement files, so an
  * updated/carried row keeps its id across the move — which is what
  * lets the CDC feed pair a COW epoch's pre/post rows per ROW.
  * Nullable: files committed before row tracking serve null. */
private[sources] object SnapRowIdColumn
    extends org.apache.spark.sql.connector.catalog.MetadataColumn {
  override def name(): String = "_row_id"
  override def dataType(): org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.LongType
  override def isNullable: Boolean = true
  override def comment(): String =
    "stable row identity: materialized _graft_rowid, else #rowid base + _pos"
}

/** Scan builder for the row-level read faces: static `#stats` pruning
  * from pushed v1 filters (prunes THIS scan's partitions only — never
  * the operation's rewrite set, which only the runtime group filter
  * may narrow) plus column pruning. All filters are reported residual;
  * skipping stays a strict optimization. */
private[sources] class SnapRowLevelScanBuilder(op: SnapRowLevelOperation)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  private var pushed: Array[Filter] = Array.empty
  private var required: Option[StructType] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // arrive LOGICAL; every pruning face below is physical
    pushed = filters.map(ManifestSink.renameFilterCols(_, op.physOfLogical))
    filters // all residual: Spark re-applies, file skipping is bonus
  }
  override def pushedFilters(): Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  override def build(): Scan = {
    val candidates = op.snapshotFiles.filter { f =>
      val n = Paths.get(f).getFileName.toString
      val partOk = op.parts.get(n).forall(t =>
        pushed.forall(op.specBook.mayMatch(t, _)))
      partOk && (op.stats.get(n) match {
        case None => true // no stats recorded: cannot skip
        case Some(st) => st.rows > 0 && pushed.forall(SnapStats.mayMatch(st, _))
      })
    }
    new SnapRowLevelScan(op, candidates, required.getOrElse(op.logicalSchema))
  }
}

/** One scan over the operation's pinned snapshot: a partition per
  * committed file, read back through [[ManifestReadFactory]] (Spark's
  * parquet reader plus `_file` served as the partition's file name). Implements `SupportsRuntimeV2Filtering` on
  * `_file`: when Spark's group-filter subquery delivers the matched
  * file set, BOTH this scan's partitions and the operation's
  * `#remove` set narrow to it — planned partitions and removed files
  * can never disagree, because they derive from one list in one
  * method. Unrecognized runtime predicates are ignored (a wider
  * rewrite is correct, a narrower one would lose rows). */
private[sources] class SnapRowLevelScan(op: SnapRowLevelOperation,
    candidates: Seq[String], rs: StructType)
    extends Scan with Batch with SupportsRuntimeV2Filtering {
  @volatile private var runtimeKept: Option[Set[String]] = None

  override def readSchema(): StructType = rs
  override def toBatch: Batch = this
  override def description(): String =
    s"graft.snap.${op.tname} row-level scan (${candidates.size} files)"

  override def planInputPartitions(): Array[InputPartition] = {
    val files = runtimeKept match {
      case Some(keep) => candidates.filter(f =>
        keep.contains(Paths.get(f).getFileName.toString))
      case None => candidates
    }
    // the REMOVE set is this planned list (advisor r14): the group-
    // filter subquery scan assigns first and the main replacement scan
    // — planned last, at write execution — assigns the final value, so
    // the commit's `#remove`s are exactly the files whose rows the
    // rewrite read. A file pruned here (static stats or runtime group
    // filter) provably holds no matching row and stays untouched.
    op.setRewrite(files.map(f => Paths.get(f).getFileName.toString))
    files.map { f =>
      val n = Paths.get(f).getFileName.toString
      ManifestFilePartition(f, op.dvPathsOf(n),
        rowIdBase = op.rowIdBases.getOrElse(n, -1L)): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // by-name file lookup under the PHYSICAL names; `rs` (and the rows,
    // positionally) stay logical
    ManifestReadFactory(op.physicalize(rs))

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(SnapFileColumn.name))

  /** Runtime group filtering: extract the allowed `_file` set from the
    * delivered predicates (IN / = over `_file` with string literals)
    * and narrow this scan AND the operation's rewrite set to it. */
  override def filter(predicates: Array[Predicate]): Unit = {
    val sets = predicates.flatMap(SnapRowLevelScan.fileNameSet)
    if (sets.nonEmpty) {
      val allowed = sets.reduce(_ intersect _)
      runtimeKept = Some(allowed)
      op.recordRuntimeKeep(allowed)
      SnapTable.recordRewrite(op.tname, op.snapshotFiles.size, allowed.size)
    }
  }
}

private[sources] object SnapRowLevelScan {
  /** The allowed file-name set a runtime predicate encodes, if it is a
    * recognizable IN/= over the `_file` column. */
  private[sources] def fileNameSet(p: Predicate): Option[Set[String]] = {
    def isFileRef(e: org.apache.spark.sql.connector.expressions.Expression)
        : Boolean = e match {
      case r: NamedReference => r.fieldNames().length == 1 &&
        r.fieldNames()(0).equalsIgnoreCase(SnapFileColumn.name)
      case _ => false
    }
    def lit(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case l: Literal[_] => Option(l.value).map(_.toString)
      case _ => None
    }
    p.name() match {
      case "IN" if p.children().nonEmpty && isFileRef(p.children()(0)) =>
        val vals = p.children().drop(1).map(lit)
        if (vals.forall(_.isDefined)) Some(vals.flatten.toSet) else None
      case "=" if p.children().length == 2 && isFileRef(p.children()(0)) =>
        lit(p.children()(1)).map(Set(_))
      case _ => None
    }
  }
}

/** The replacement-data write: task files through the shared parquet
  * writer, committed with `#remove`s of the operation's (possibly
  * runtime-narrowed) rewrite set — adds and removes flip visibility in
  * ONE atomic epoch, and the shared commit path runs the conflict
  * check and remove-time mtime stamping. The write schema must carry
  * every declared column: replacement rows ARE the new content of the
  * removed files, so a narrower schema would silently drop data. */
private[sources] class SnapRowLevelWrite(op: SnapRowLevelOperation,
    info: LogicalWriteInfo) extends WriteBuilder with Write with BatchWrite {
  private val ws: StructType = {
    // the replacement rows arrive under LOGICAL names; the width check
    // compares logically and the PHYSICAL form feeds the writer + the
    // recorded #schema
    val s = info.schema()
    val logical = op.logicalSchema
    val ok = logical.fields.forall(tf => s.fields.exists(wf =>
      wf.name.equalsIgnoreCase(tf.name) && wf.dataType == tf.dataType))
    if (!ok) throw new IllegalStateException(
      s"graft.snap.${op.tname} ${op.command()}: replacement-data schema " +
        s"'${s.toDDL}' does not carry every declared column " +
        s"('${logical.toDDL}') — refusing a rewrite that would drop data")
    op.physicalize(s)
  }

  override def build(): Write = this
  override def toBatch: BatchWrite = this
  override def description(): String =
    s"graft.snap.${op.tname} ${op.command()} copy-on-write"

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DataWriterFactory = {
    // the rewrite fans out under the table's spec, so COW survivors of
    // a partitioned table keep carrying their `#part` tuples (and
    // their `#bloom` filters, round 18). ROW TRACKING (round 19): the
    // inner writers carry one extra hidden long column — the
    // materialized `_graft_rowid` the wrapper fills from each row's
    // delivered metadata, preserving carried rows' identity.
    val (bloomCols, bloomBits) = BloomSkip.configOf(op.dir)
    RowIdMaterializingFactory(ManifestWriterFactory(op.dir,
      ws.fields.map(_.name) :+ ManifestSink.RowIdColumnName,
      ws.fields.map(f => graft.sources.ManifestSink.typeTokOf(f.dataType))
        :+ "long",
      java.util.UUID.randomUUID.toString.take(8), op.spec,
      bloomCols, bloomBits, BloomSkip.rowGroupBytesOf(op.dir),
      NdvSketch.configOf(op.dir)))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val removed = op.effectiveRewrite
    SnapTable.recordRewrite(op.tname, op.snapshotFiles.size, removed.size)
    // declare the dvs this rewrite READ as consumed: the claim-time
    // fence aborts (retryably) if a merge-on-read delete landed on a
    // rewritten file after this operation pinned its snapshot
    val consumed = removed.map(n =>
      n -> op.dvs.getOrElse(n, Seq.empty).map(_._1).toSet).toMap
    ManifestSink.commitBatchEpoch(op.dir, ws.toDDL, messages,
      () => op.effectiveRewrite,
      ManifestSink.tableProperties(op.dir).get("compact.interval")
        .flatMap(_.toIntOption)
        .getOrElse(ManifestSink.DefaultCompactInterval),
      Some(consumed), op.specBook.currentId,
      op.command() match {
        case org.apache.spark.sql.connector.write.RowLevelOperation
          .Command.UPDATE => "update"
        case org.apache.spark.sql.connector.write.RowLevelOperation
          .Command.MERGE => "merge"
        case _ => "delete"
      },
      // every carried row's id was materialized above → the feed may
      // serve this epoch as per-row PAIRED changes (round 19)
      cdcPair = true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: CommittedFile =>
        Files.deleteIfExists(Paths.get(op.dir, "data", m.name))
      case _ =>
    }
}

/** ROW-ID MATERIALIZING writer (round 19): wraps the shared parquet
  * task writer (created with one extra trailing `_graft_rowid` long
  * column) and fills that column from each row's DELIVERED metadata —
  * Spark's ReplaceData tags carried/updated rows
  * `WRITE_WITH_METADATA_OPERATION` and routes them through
  * `DataWriter.write(metadata, record)` with the metadata projection
  * in [[SnapRowLevelOperation.requiredMetadataAttributes]] order
  * (`_file`, `_row_id`); MERGE-inserted rows arrive through the 1-arg
  * `write` and materialize null — fresh rows take fresh ids from the
  * commit's `#rowid` base instead. */
private[sources] case class RowIdMaterializingFactory(
    inner: ManifestWriterFactory) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    new DataWriter[InternalRow] {
      private val suffix =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      private val joined =
        new org.apache.spark.sql.catalyst.expressions.JoinedRow
      override def write(record: InternalRow): Unit = {
        suffix.update(0, null) // fresh row: id assigned at commit
        w.write(joined(record, suffix))
      }
      override def write(meta: InternalRow, record: InternalRow): Unit = {
        suffix.update(0,
          if (meta.numFields < 2 || meta.isNullAt(1)) null
          else java.lang.Long.valueOf(meta.getLong(1)))
        w.write(joined(record, suffix))
      }
      override def commit(): WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}
