package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column↔Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`), which Spark 4 hid
  * behind the Connect-compatible Column API. Compiling one accessor
  * object inside the `org.apache.spark.sql` package is the standard
  * technique third-party Spark libraries use to build `Column`s from
  * custom Catalyst `Expression`s without requiring session-level
  * function registration (keeping graft queries usable from ANY
  * SparkSession, not just ones built with our extensions installed).
  */
object GraftShim {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The session's SQL-conf-carrying Hadoop configuration
    * (`sessionState` is `private[sql]`) — what a write path must ship
    * to executors so parquet codec/legacy-format settings apply.
    */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration = {
    dropConfProvenance(spark)
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
  }

  /** Hadoop's per-key provenance map, `Configuration.updatingResource`
    * (key → the resources that set it). The lookup first initializes
    * `JobConf`, whose registration of `mapred-default.xml` and the yarn
    * defaults reloads every live conf: done after a drop, at the first
    * write, that reload would refill the map. None if a Hadoop upgrade
    * renamed the field; the drop is then skipped.
    */
  private lazy val provenanceField: Option[java.lang.reflect.Field] =
    scala.util.Try {
      Class.forName("org.apache.hadoop.mapred.JobConf")
      val f = classOf[org.apache.hadoop.conf.Configuration]
        .getDeclaredField("updatingResource")
      f.setAccessible(true)
      f
    }.toOption

  /** Drop the per-key provenance of the two shared Hadoop confs Spark
    * copies for every write and scan: `sparkContext.hadoopConfiguration`
    * and `sharedState.hadoopConf`. Spark serializes the copy into every
    * write task (deserialized once per task) and into every parquet
    * scan's conf broadcast, and `Configuration.write` gzips each key's
    * sources array on its own — with ~1,100 keys that is most of a
    * small write task's deserialization. Hadoop has no public way to
    * drop them (`set` itself records "programmatically").
    *
    * Values are never touched. Only `getPropertySources` changes: it
    * returns null for every key set before the drop, so Spark's
    * Environment page shows no source for them. Idempotent and cheap;
    * library entry points call it before Spark copies a conf, because
    * any reload (`reloadConfiguration`, a new default resource) refills
    * the map.
    */
  def dropConfProvenance(spark: SparkSession): Unit =
    provenanceField.foreach { f =>
      val s = spark.asInstanceOf[classic.SparkSession]
      Seq(s.sparkContext.hadoopConfiguration, s.sharedState.hadoopConf)
        .foreach { c =>
          c.synchronized {
            c.size() // loads a pending reload now, before the drop
            f.get(c).asInstanceOf[java.util.Map[_, _]].clear()
          }
        }
    }

  /** Driver half of a do-it-yourself distributed parquet write (the
    * graft STREAMING sink): Spark's own
    * [[execution.datasources.parquet.ParquetFileFormat.prepareWrite]]
    * resolves every session setting (codec, legacy format, timestamp
    * type, field ids) into the job conf and returns the serializable
    * writer factory the batch path itself uses — no conf key is
    * re-derived by hand. Returns (factory, fully-configured conf);
    * both ship to executors, opaquely typed because the factory's
    * class is `private[sql]`.
    */
  def parquetWriteKit(spark: SparkSession,
                      schema: org.apache.spark.sql.types.StructType)
      : (Serializable, org.apache.hadoop.conf.Configuration) = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(hadoopConf(spark))
    val factory = new execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark.asInstanceOf[classic.SparkSession], job,
        Map.empty, schema)
    (factory, job.getConfiguration)
  }

  /** Executor half: open one parquet [[execution.datasources.OutputWriter]]
    * at `path` and return its (write, close) as plain closures (the
    * writer's type is `private[sql]`).
    */
  def openParquetWriter(factory: Serializable, path: String,
                        schema: org.apache.spark.sql.types.StructType,
                        conf: org.apache.hadoop.conf.Configuration,
                        partitionId: Int, taskId: Long)
      : (org.apache.spark.sql.catalyst.InternalRow => Unit, () => Unit) = {
    val attempt = new org.apache.hadoop.mapreduce.TaskAttemptID(
      new org.apache.hadoop.mapreduce.TaskID(
        new org.apache.hadoop.mapreduce.JobID("graft-stream", 0),
        org.apache.hadoop.mapreduce.TaskType.MAP, partitionId),
      // mask to non-negative: a bare toInt wraps negative past 2^31
      // task attempts, colliding attempts 2^32 apart and producing
      // negative attempt ids in committer/temp-file naming
      (taskId & 0x7fffffffL).toInt)
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, attempt)
    val w = factory
      .asInstanceOf[execution.datasources.OutputWriterFactory]
      .newInstance(path, schema, ctx)
    (w.write, () => w.close())
  }
  /** Column → Catalyst expression. Needs NO session —
    * `ExpressionUtils.expression` is a pure node conversion, so pure
    * Column-building code works before any session exists.
    */
  def toExpression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Legacy shape — the session was never used; kept so existing call
    * sites compile, delegating to the session-free form.
    */
  def toExpression(spark: SparkSession, c: Column): Expression =
    toExpression(c)

  /** `Dataset.ofRows` is `private[sql]`; the SQL command layer needs it
    * to turn a parsed sub-plan (a CTAS query, a MERGE source) back into
    * a DataFrame at execution time.
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `DataType.asNullable` is `private[sql]`; schema-compatibility
    * checks need it (an appending frame's nullability legitimately
    * differs from the table's).
    */
  def nullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt.asNullable

  /** Identity-partition column names out of V2 `Transform`s
    * (`IdentityTransform`'s extractor is `private[sql]`); any
    * non-identity transform errors — the graft writer partitions by
    * plain columns only.
    */
  def identityPartitionCols(
      transforms: Array[org.apache.spark.sql.connector.expressions.Transform])
      : Seq[String] = transforms.toSeq.map {
    case t: org.apache.spark.sql.connector.expressions.IdentityTransform =>
      t.ref.fieldNames.mkString(".")
    case t => sys.error(
      s"the graft writer supports identity partitioning only, got $t")
  }

  /** Materialize `df` once, eagerly, with its lineage truncated: the
    * one way library code pins an intermediate. The pinned frame keeps
    * the plan's output partitioning and ordering, so no consumer gains
    * an exchange. Storage follows the SparkContext's checkpoint dir:
    *  - with one set (`sparkContext.setCheckpointDir`, on reliable
    *    storage for a cluster), the rows are written there and survive
    *    the loss of an executor or of its blocks;
    *  - without one, they live in executor block storage only. Losing
    *    a block fails the next read of the frame with Spark's
    *    "Checkpoint block ... not found": the truncated lineage cannot
    *    recompute it.
    * A pin that does not escape its operator is released with
    * [[unpin]]; a returned one is left to Spark's ContextCleaner.
    */
  def pin(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** Free what [[pin]] stored for `pinned` (its blocks, or its
    * checkpoint files) now instead of at GC. `pinned` must not be read
    * afterwards.
    */
  def unpin(pinned: DataFrame): Unit = pinned.queryExecution.logical match {
    case r: execution.LogicalRDD =>
      r.rdd.unpersist(blocking = false)
      r.rdd.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(r.rdd.sparkContext.hadoopConfiguration).delete(p, true)
      }
    case other =>
      throw new IllegalArgumentException(s"not a pinned frame: $other")
  }
}
