package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.TxTable

/** One resolved TxTable snapshot, ready to scan: the pieces
  * [[GraftTable]] hands to Spark's parquet scan builder, shared by the
  * DataSource V2 provider and the SQL catalog so every surface
  * resolves a version identically.
  */
private[sources] case class GraftResolved(
    name: String,
    fileIndex: PartitioningAwareFileIndex,
    schema: StructType,
    dataSchema: StructType,
    partitionCols: Seq[String])

private[sources] object GraftResolve {

  /** Resolve `path` at `versionAsOf` (or head) to its immutable file
    * list and a partition-aware index. Unpartitioned snapshots delegate
    * wholesale to Spark's own [[ParquetTable]]; partitioned snapshots
    * build an EXPLICIT partition spec from the manifest's `k=v` path
    * segments ([[org.apache.spark.sql.GraftPartitionShim]]) — stock
    * directory inference cannot stitch the multi-commit layout, but
    * the manifest already knows every file's partition. Mixed layouts
    * (some files partitioned, some not) fail loudly.
    */
  def resolve(spark: SparkSession, path: String,
              versionAsOf: Option[Long]): GraftResolved = {
    // one `_txlog` listing (none for `versionAsOf`), one manifest read
    val s = TxTable.snapshotAt(spark, path, versionAsOf)
    val (v, files) = (s.v, s.files)
    // the schema (and partition columns) the manifest itself DECLARES
    // (create / evolveSchema / every partitioned commit) — when present
    // it pins resolution instead of footer inference, which is what
    // makes empty snapshots and post-evolution reads resolvable.
    // Failing that, the row schema the manifest RECORDED for the
    // snapshot's files pins the data columns: footer inference is a
    // Spark job, left only to snapshots without one shared record
    val declared = s.declaredSchema
    lazy val recorded = s.recordedSchema
    val declaredParts = s.partitionCols
    val name = s"graft:$path@$v"

    if (files.isEmpty) {
      val schema = declared.getOrElse(sys.error(
        s"version $v of $path is an empty snapshot with no declared " +
          "schema — read it via TxTable.readVersion with a pinned schema"))
      val partCols = declaredParts.getOrElse(Nil)
      val partSchema = StructType(partCols.map(c => schema(c)))
      val (idx, _) = org.apache.spark.sql.GraftPartitionShim
        .snapshotIndex(spark, Nil, Nil, partSchema)
      val dataSchema =
        StructType(schema.filterNot(f => partCols.contains(f.name)))
      GraftResolved(name, idx, schema, dataSchema, partCols)
    } else if (!files.exists(_.split('/').exists(_.contains('=')))) {
      require(declaredParts.forall(_.isEmpty),
        s"$path@$v declares partition columns " +
          s"${declaredParts.get.mkString(",")} but its files are flat")
      val pt = ParquetTable(name, spark, CaseInsensitiveStringMap.empty(),
        files, userSpecifiedSchema = declared.orElse(recorded),
        classOf[ParquetFileFormat])
      GraftResolved(name, pt.fileIndex, pt.schema, pt.dataSchema, Nil)
    } else {
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val rootQ = fs.makeQualified(root)
      // snapshotFiles returns absolute paths; the partition segments are
      // the k=v dirs between the commit dir (data/<uuid>) and the file
      def kvSegs(abs: String): Seq[(String, String)] = {
        val rel = fs.makeQualified(new Path(abs)).toString
          .stripPrefix(rootQ.toString).stripPrefix("/")
        rel.split('/').drop(2).dropRight(1).toSeq.map { s =>
          val i = s.indexOf('=')
          require(i > 0, s"mixed layout in $path@$v: non-hive dir segment " +
            s"'$s' under a partitioned snapshot (file $rel)")
          (s.substring(0, i), TxTable.unescapePartition(s.substring(i + 1)))
        }
      }
      val perFile = files.map(f => f -> kvSegs(f))
      val colNames = perFile.head._2.map(_._1)
      require(perFile.forall(_._2.map(_._1) == colNames),
        s"inconsistent partition columns across $path@$v's files")
      declaredParts.foreach(d => require(d == colNames,
        s"$path@$v declares partition columns ${d.mkString(",")} but its " +
          s"files are laid out by ${colNames.mkString(",")}"))
      val absFiles = files.map(f => fs.makeQualified(new Path(f)))
      val dirs = perFile
        .map { case (f, kvs) =>
          (fs.makeQualified(new Path(f)).getParent, kvs.map(_._2))
        }
        .groupBy(_._1.toString).map(_._2.head).toSeq.sortBy(_._1.toString)
      val (idx, partSchema) = declared match {
        // declared partition types win over directory-string inference,
        // and so do the string types the commits recorded
        case Some(s) => org.apache.spark.sql.GraftPartitionShim
          .snapshotIndex(spark, absFiles, dirs,
            StructType(colNames.map(c => s(c))))
        case None => org.apache.spark.sql.GraftPartitionShim
          .snapshotIndex(spark, absFiles, dirs, colNames, recorded.toSeq
            .flatMap(_.fields).map(f => f.name -> f.dataType).toMap)
      }
      // data schema from the declaration when present (footer-written
      // files may predate an evolution), else the recorded one, else
      // from one footer, read on the driver (partition values live in
      // dir names, never in the files)
      val dataSchema = declared.orElse(recorded)
        .map(s => StructType(s.filterNot(f => colNames.contains(f.name))))
        .getOrElse(graft.ops.Sources.pinnedParquet(spark, files.head).schema)
      GraftResolved(name, idx,
        StructType(dataSchema.fields ++ partSchema.fields), dataSchema,
        colNames)
    }
  }
}
