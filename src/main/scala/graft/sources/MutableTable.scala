package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsDeleteV2, SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Literal, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A WRITESIDE DSv2 face: `DELETE FROM` as a METADATA-ONLY operation
  * ([[SupportsDeleteV2]]) over a hive-partitioned parquet directory —
  * the `mut` namespace of [[GraftCatalog]].
  *
  * The contract has two halves, and the split is the whole point:
  *
  *  - `canDeleteWhere` accepts ONLY predicates that resolve entirely in
  *    partition metadata (`=` / `IN` on the partition column, AND-composed)
  *    — for those, `deleteWhere` removes whole partition directories and
  *    never opens a data file. This is the Iceberg/Hive drop-partition
  *    shape: at 100 TB, `DELETE WHERE day = X` is O(partitions) catalog
  *    work, not an O(data) rewrite (IngestSpec pins survivors
  *    byte-identical).
  *  - anything finer-grained is REFUSED (Spark raises; the caller is
  *    told the truth) rather than silently rewritten — row-level deletes
  *    belong to the CDC-merge path (`q_cdc_merge`), which prices the
  *    rewrite explicitly.
  *
  * Reads delegate to the builtin parquet DSv2 table over the same root,
  * so a catalog read keeps vectorization, pushdown and partition
  * pruning; each catalog load re-lists, so a delete is visible to the
  * next statement. */
case class MutableTable(root: String, partCol: String) extends Table
    with SupportsRead with SupportsDeleteV2 {

  private def inner: Table = GraftCatalog.parquetTable(root)

  override def name(): String = s"mutable($root)"
  override def schema(): StructType = inner.schema()
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    inner.asInstanceOf[SupportsRead].newScanBuilder(options)

  /** The partition values a predicate tree selects, or None when any
    * leaf cannot be answered from partition metadata alone. */
  private def partValues(p: Predicate): Option[Seq[String]] = {
    def colAndLits(children: Array[org.apache.spark.sql.connector.expressions.Expression])
        : Option[Seq[String]] = {
      val (refs, lits) = children.partition(_.isInstanceOf[NamedReference])
      val refOk = refs.toSeq match {
        case Seq(r: NamedReference) =>
          r.fieldNames.toSeq == Seq(partCol)
        case _ => false
      }
      if (!refOk || lits.exists(!_.isInstanceOf[Literal[_]])) None
      else Some(lits.toSeq.map(_.asInstanceOf[Literal[_]].value.toString))
    }
    p.name() match {
      case "=" | "IN" => colAndLits(p.children())
      case "AND" =>
        val and = p.asInstanceOf[org.apache.spark.sql.connector.expressions.filter.And]
        for (l <- partValues(and.left()); r <- partValues(and.right()))
          yield l.intersect(r)
      case _ => None
    }
  }

  // TruncatableTable is deliberately NOT implemented: a schema-on-
  // directory table cannot represent "empty but typed" — after dropping
  // every partition dir the next load would have no schema source,
  // which is exactly the problem a metastore entry solves and this
  // namespace (directory-defined by design) doesn't have. A full wipe
  // is a caller-side directory drop; partial deletes below stay
  // well-typed because the surviving partitions carry the schema.

  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    // an empty conjunction means "delete every row" — a full wipe is a
    // caller-side directory drop (see the TruncatableTable note above),
    // so refuse it here and Spark surfaces a clean unsupported-delete
    predicates.nonEmpty && predicates.forall(partValues(_).isDefined)

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    if (predicates.isEmpty) throw new IllegalArgumentException(
      "deleteWhere offered an empty (delete-all) predicate set — " +
        "canDeleteWhere must have refused; wipe the directory instead")
    // conjunction across the array (Spark's contract): intersect
    val hit = predicates.map(p => partValues(p).getOrElse(
      throw new IllegalArgumentException(
        s"deleteWhere offered a non-metadata predicate: $p — " +
          "canDeleteWhere must have refused"))).reduceLeft(_ intersect _)
    hit.foreach { v =>
      val dir = new java.io.File(root, s"$partCol=$v")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          if (!f.delete()) throw new java.io.IOException(s"could not delete $f")
        }
        rm(dir)
      }
    }
  }
}
