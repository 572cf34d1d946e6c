package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.TxTable

/** Path-addressed `TableCatalog` for TxTables — the missing piece that
  * makes graft tables first-class in PLAIN SQL queries, Delta-style:
  *
  * {{{
  *   spark.conf: spark.sql.catalog.graft = graft.sources.GraftCatalog
  *
  *   SELECT * FROM graft.`/lake/events`
  *   SELECT * FROM graft.`/lake/events` VERSION AS OF 3   -- time travel
  *   INSERT INTO graft.`/lake/events` SELECT ...          -- tx append
  *   INSERT OVERWRITE graft.`/lake/events` SELECT ...     -- tx overwrite
  *   CREATE TABLE graft.`/lake/new` (id BIGINT, v STRING) -- empty table
  * }}}
  *
  * The identifier IS the filesystem path (backticked because of the
  * slashes); there are no namespaces to manage, `listTables` is empty
  * by construction, and every read resolves the manifest exactly once
  * into the same [[GraftTable]] the DataFrame source uses — SQL,
  * DataFrame, and streaming access share one table implementation and
  * one commit protocol. Writes through the catalog (INSERT INTO /
  * OVERWRITE) ride the V1Write fallback into [[TxTable.append]] /
  * [[TxTable.overwrite]]. `CREATE TABLE` commits a zero-row
  * single-file snapshot, so the schema lives in the table itself (the
  * standard create-then-INSERT flow needs no side-channel metadata);
  * partitioned CREATE goes through the DataFrame writer's
  * `partitionBy`, which owns partitioned layouts.
  *
  * [[GraftSqlParser]] intercepts the graft DML statements (MERGE /
  * UPDATE / DELETE / OPTIMIZE / ...) BEFORE catalog resolution, so the
  * two surfaces compose: DQL and INSERT resolve here, table
  * management routes straight to the TxTable calls.
  */
class GraftCatalog extends TableCatalog {

  private var catalogName = "graft"

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
  }

  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String = {
    require(ident.namespace().isEmpty,
      s"graft tables are addressed by path only: ${catalogName}.`/path` " +
        s"(got namespace ${ident.namespace().mkString(".")})")
    ident.name()
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty // path-addressed: there is no namespace to enumerate

  override def tableExists(ident: Identifier): Boolean =
    TxTable.exists(SparkSession.active, pathOf(ident))

  override def loadTable(ident: Identifier): Table =
    loadVersion(ident, None)

  /** `VERSION AS OF v` time travel. */
  override def loadTable(ident: Identifier, version: String): Table =
    loadVersion(ident, Some(version.toLong))

  /** `TIMESTAMP AS OF t` time travel: Spark hands the timestamp in
    * MICROseconds; it resolves to the newest commit at-or-before it
    * via the per-commit `ts` manifest stamps.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val spark = SparkSession.active
    val path = pathOf(ident)
    if (TxTable.versions(spark, path).isEmpty)
      throw new NoSuchTableException(ident)
    loadVersion(ident,
      Some(TxTable.versionAsOfTimestamp(spark, path, timestamp / 1000L)))
  }

  private def loadVersion(ident: Identifier, version: Option[Long]): Table =
    new GraftTable(pathOf(ident), SparkSession.active,
      Some(GraftResolve.resolve(snapshotOf(ident, version))))

  /** `ident`'s snapshot at `version` (the head when None) — the one log
    * read a load or an ALTER resolves from. A path with no commits is
    * NoSuchTableException either way; a named version lists the log only
    * when its manifest is missing, to tell a missing table from a missing
    * version.
    */
  private def snapshotOf(ident: Identifier,
                         version: Option[Long]): TxTable.Snapshot = {
    val (spark, path) = (SparkSession.active, pathOf(ident))
    val s = try TxTable.snapshotAt(spark, path, version, orEmpty = true)
      catch { case _: IllegalArgumentException if !TxTable.exists(spark, path) =>
        throw new NoSuchTableException(ident) }
    if (s.version.isEmpty) throw new NoSuchTableException(ident)
    s
  }

  /** `CREATE TABLE graft.`/p` (cols) [PARTITIONED BY (c)]`: a
    * metadata-only commit carrying the declared schema and partition
    * columns — no placeholder data file; the manifest owns the
    * metadata, and INSERTs fill the table (a partitioned INSERT lays
    * out hive dirs against the declared columns).
    */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val path = pathOf(ident)
    val spark = SparkSession.active
    val partCols =
      org.apache.spark.sql.GraftShim.identityPartitionCols(partitions)
    if (TxTable.exists(spark, path))
      throw new TableAlreadyExistsException(ident)
    TxTable.create(spark, path, schema, partCols)
    loadTable(ident)
  }

  /** `ALTER TABLE graft.`/p` ADD COLUMNS (...)`: manifest-owned schema
    * evolution — a metadata-only commit via [[TxTable.evolveSchema]];
    * files written before it surface the added columns as null. Only
    * top-level, nullable additions: renames / drops / retypes would
    * need data rewrite or column mapping and are refused loudly.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val s = snapshotOf(ident, None)
    val current = s.declaredSchema.getOrElse(GraftResolve.resolve(s).schema)
    val added = changes.map {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "graft tables have no nested columns to add into: " +
            a.fieldNames.mkString("."))
        require(a.isNullable,
          s"added column ${a.fieldNames.head} must be nullable " +
            "(existing rows have no value for it)")
        StructField(a.fieldNames.head, a.dataType, nullable = true)
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER on a graft table: $other — only ADD COLUMNS " +
          "(nullable, top-level); renames/drops/retypes need a rewrite")
    }
    TxTable.evolveSchema(s.spark, s.path,
      StructType(current.fields ++ added))
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val path = pathOf(ident)
    val spark = SparkSession.active
    if (!TxTable.exists(spark, path)) false
    else {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "RENAME is not supported — a graft table's identity IS its path")
}
