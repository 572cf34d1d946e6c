package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.TxTable

/** The TxTable as a first-class Spark DataSource V2:
  *
  * {{{
  *   spark.read.format("graft").load(tablePath)                  // head
  *   spark.read.format("graft").option("versionAsOf", 3).load(p) // time travel
  * }}}
  *
  * The provider resolves the manifest (head or `versionAsOf`) to the
  * snapshot's immutable data-file list and hands that list to Spark's
  * own parquet V2 table — so column pruning, predicate pushdown, and
  * vectorized reading are the stock machinery, not a reimplementation;
  * the only custom logic is WHICH files make up the table, which is
  * exactly the transaction log's job. Manifest resolution happens once
  * at load time on the driver (O(manifest) I/O): the returned frame is
  * a stable snapshot — later commits do not leak in, the same isolation
  * contract as [[TxTable.read]].
  *
  * Partitioned snapshots resolve through an EXPLICIT partition spec
  * built from the manifest's `k=v` path segments
  * ([[GraftResolve]] / [[org.apache.spark.sql.GraftPartitionShim]]) —
  * stock directory inference cannot stitch the multi-commit layout,
  * but the manifest already knows every file's partition, so
  * partition columns and partition PRUNING work exactly as on a
  * hive-layout table (batch reads; the streaming source remains
  * unpartitioned-only).
  *
  * Writing is first-class too:
  *
  * {{{
  *   df.write.format("graft").mode("append").save(tablePath)
  *   df.write.format("graft").mode("overwrite")
  *     .partitionBy("p").save(tablePath)   // identity partitioning
  * }}}
  *
  * Both modes commit through the TxTable protocol (manifest claim,
  * atomic rename), so third-party tools can now produce tables, not
  * just read them; a table written here and one written via
  * [[TxTable.append]] are indistinguishable. `supportsExternalMetadata`
  * is what makes writes to a NOT-YET-EXISTING path possible: Spark
  * hands the incoming frame's schema straight to [[getTable]] instead
  *  of forcing an inferSchema that has no manifest to read.
  */
class GraftTableProvider extends DataSourceRegister
    with org.apache.spark.sql.connector.catalog.TableProvider {

  override def shortName(): String = "graft"

  override def supportsExternalMetadata(): Boolean = true

  // One manifest resolution per load: Spark instantiates a fresh
  // provider per `.load()` and calls inferSchema then getTable on it,
  // so caching the resolved snapshot here (keyed by path@version) both
  // halves the manifest I/O and guarantees the schema Spark validated
  // and the snapshot actually read are the SAME version — a commit
  // racing the load can no longer split them.
  @volatile private var cached: (String, GraftResolved) = null

  private def tableFor(options: CaseInsensitiveStringMap): GraftResolved = {
    val key = options.get("path") + "@" +
      Option(options.get("versionAsOf")).getOrElse("head") + "@" +
      Option(options.get("timestampAsOf")).getOrElse("-")
    val c = cached
    if (c != null && c._1 == key) c._2
    else {
      val path = Option(options.get("path")).getOrElse(
        sys.error("the graft source needs .load(<TxTable path>)"))
      require(options.get("versionAsOf") == null ||
        options.get("timestampAsOf") == null,
        "versionAsOf and timestampAsOf are mutually exclusive")
      // timestampAsOf: epoch millis, or an ISO-8601 instant/local
      // datetime (local = session-default zone), resolved to the newest
      // commit at-or-before it via the manifests' `ts` stamps
      val version = Option(options.get("versionAsOf")).map(_.toLong)
        .orElse(Option(options.get("timestampAsOf")).map(s =>
          TxTable.versionAsOfTimestamp(SparkSession.active, path,
            parseTsMillis(s))))
      // one `_txlog` listing (none for a named version), one manifest read
      val t = GraftResolve.resolve(
        TxTable.snapshotAt(SparkSession.active, path, version))
      cached = (key, t)
      t
    }
  }

  private def parseTsMillis(s: String): Long = {
    val zone = java.time.ZoneId.of(
      SparkSession.active.conf.get("spark.sql.session.timeZone",
        java.util.TimeZone.getDefault.getID))
    scala.util.Try(s.toLong).getOrElse(
      scala.util.Try(java.time.Instant.parse(s).toEpochMilli).getOrElse(
        java.time.LocalDateTime.parse(s.replace(' ', 'T'))
          .atZone(zone).toInstant.toEpochMilli))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val data = tableFor(options).schema
    // readChangeFeed=true widens the advertised schema with the CDF
    // columns — they are READER-appended constants, so the table's
    // data schema stays untouched
    if (options.getBoolean("readChangeFeed", false)) GraftCdf.cdfSchema(data)
    else data
  }

  /** Reads arrive here with the schema [[inferSchema]] resolved (or a
    * user-pinned one); writes arrive with the INCOMING FRAME's schema
    * (`supportsExternalMetadata`). Both must agree with the resolved
    * snapshot by field name and type — nullability and column order
    * excepted, because an appending frame legitimately differs in both —
    * and the single cached resolution guarantees the snapshot compared
    * against is the one actually read. A path with no committed version
    * yet returns a write-only table carrying the incoming schema.
    */
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val path = options.get("path")
    val spark = SparkSession.active
    val partCols =
      org.apache.spark.sql.GraftShim.identityPartitionCols(partitioning)
    // a read resolved its snapshot in inferSchema; only a write asks
    // whether the path holds a table yet
    if (cached == null && !TxTable.exists(spark, path))
      new GraftTable(path, spark, None, schema, partCols)
    else {
      val t = tableFor(options)
      val cdf = options.getBoolean("readChangeFeed", false)
      val expected = if (cdf) GraftCdf.cdfSchema(t.schema) else t.schema
      val norm = (s: StructType) => s.fields
        .map(f => f.name -> org.apache.spark.sql.GraftShim.nullable(f.dataType))
        .toMap
      require(norm(schema) == norm(expected),
        s"schema for $path does not match the resolved snapshot " +
          s"(given ${schema.simpleString}, table has ${expected.simpleString})")
      new GraftTable(path, spark, Some(t), writerPartitionCols = partCols,
        changeFeed = cdf)
    }
  }
}
