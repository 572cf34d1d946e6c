package org.apache.spark.sql

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex, PartitionPath, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Builds a [[PartitioningAwareFileIndex]] for a TxTable snapshot whose
  * partition VALUES are declared explicitly instead of inferred from
  * directory walking. Stock inference cannot stitch the TxTable's
  * multi-commit partitioned layout (`data/<uuid1>/day=10/…` next to
  * `data/<uuid2>/day=10/…` trips CONFLICTING_DIRECTORY_STRUCTURES —
  * the non-hive `<uuid>` segments make every commit look like a
  * different table root), but the manifest already knows exactly which
  * partition directory every file lives in — so the index is built
  * with `userSpecifiedPartitionSpec`, the same escape hatch Spark's
  * own catalog file index uses, and inference never runs. Partition
  * PRUNING then works normally (`PartitionFilters` in the scan).
  *
  * Lives in `org.apache.spark.sql` because the file-index machinery is
  * `private[sql]` — same bridge idiom as [[GraftShim]].
  */
object GraftPartitionShim {

  private val HiveNull = "__HIVE_DEFAULT_PARTITION__"

  /** Index over `files` (absolute, fs-qualified), with `dirs` mapping
    * every distinct partition DIRECTORY (absolute, fs-qualified — the
    * parent of each file) to its decoded partition values in
    * `colNames` order. Returns the index plus the typed partition
    * schema: a column's type from `known` when it holds one, else
    * resolved across all values with Spark's inference lattice: int →
    * long → double → date → string.
    */
  def snapshotIndex(spark: SparkSession, files: Seq[Path],
                    dirs: Seq[(Path, Seq[String])],
                    colNames: Seq[String], known: Map[String, DataType])
      : (PartitioningAwareFileIndex, StructType) = {
    val types = colNames.indices.map(i => known.getOrElse(colNames(i),
      commonType(dirs.map(_._2(i)))))
    val schema = StructType(colNames.zip(types).map { case (n, t) =>
      StructField(n, t, nullable = true)
    })
    snapshotIndex(spark, files, dirs, schema)
  }

  /** Same, with the partition schema DECLARED (from the manifest's
    * carried `graft.schema` metadata) instead of inferred from the
    * value strings — declared types win over inference (a string
    * column holding "07" stays "07"), and an EMPTY snapshot (no dirs,
    * no files — a freshly created partitioned table) is representable
    * because nothing needs inferring.
    */
  def snapshotIndex(spark: SparkSession, files: Seq[Path],
                    dirs: Seq[(Path, Seq[String])],
                    schema: StructType)
      : (PartitioningAwareFileIndex, StructType) = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val types = schema.fields.map(_.dataType).toSeq
    val partitions = dirs.map { case (p, vals) =>
      PartitionPath(row(vals, types), p)
    }
    val idx = new InMemoryFileIndex(cs, files, Map.empty, None,
      userSpecifiedPartitionSpec = Some(PartitionSpec(schema, partitions)))
    (idx, schema)
  }

  /** Narrowest type every value parses as — matching the order Spark's
    * partition inference tries (minus decimal/timestamp, which the
    * TxTable writer never emits as bare dir values in practice; they
    * fall through to string, a missed narrowing, never a wrong value).
    */
  private def commonType(vals: Seq[String]): DataType = {
    val vs = vals.filterNot(_ == HiveNull)
    def all(p: String => Boolean) = vs.nonEmpty && vs.forall(v =>
      scala.util.Try(p(v)).getOrElse(false))
    if (all(v => { v.toInt; true })) IntegerType
    else if (all(v => { v.toLong; true })) LongType
    else if (all(v => { v.toDouble; true })) DoubleType
    else if (all(v => { java.time.LocalDate.parse(v); true })) DateType
    else StringType
  }

  private def row(vals: Seq[String], types: Seq[DataType]): InternalRow =
    new GenericInternalRow(vals.zip(types).map {
      case (HiveNull, _) => null
      case (v, IntegerType) => v.toInt
      case (v, LongType) => v.toLong
      case (v, ShortType) => v.toShort
      case (v, ByteType) => v.toByte
      case (v, FloatType) => v.toFloat
      case (v, DoubleType) => v.toDouble
      case (v, BooleanType) => v.toBoolean
      case (v, DateType) => java.time.LocalDate.parse(v).toEpochDay.toInt
      case (v, d: DecimalType) =>
        Decimal(new java.math.BigDecimal(v), d.precision, d.scale)
      case (v, StringType) => UTF8String.fromString(v)
      case (_, t) => throw new IllegalArgumentException(
        s"unsupported declared partition column type ${t.simpleString}")
    }.toArray[Any])
}
