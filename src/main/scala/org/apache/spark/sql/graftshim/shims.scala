package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/**
 * Bridge between graft's native Catalyst expressions and the public
 * `Column` API. Spark 4 moved the Expression↔Column conversions behind
 * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`), so
 * libraries that ship custom expressions expose them through a shim in
 * the `org.apache.spark.sql` namespace — this is the only file outside
 * the `graft` package.
 */
object GraftShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /**
   * Codegen/optimizer barrier with NO row conversion: downstream plans
   * see a scan of the upstream's InternalRow RDD, so CollapseProject
   * cannot re-inline the upstream projection into downstream
   * expression chains (the 64KB-method pathology), while rows stream
   * straight through — no cache, and none of the InternalRow↔Row
   * round-trip the public `createDataFrame(df.rdd, schema)` form pays
   * (`internalCreateDataFrame` is private[sql], hence this shim).
   *
   * Preconditions — this is for NARROW batch projections only:
   * `toRdd` plans the input EAGERLY at construction time, and under
   * AQE an upstream exchange would materialize its shuffle stages
   * right here (jobs during query construction); explain() downstream
   * also shows only `Scan ExistingRDD`, hiding the upstream plan. A
   * streaming or Connect Dataset is not supported (classic session
   * cast).
   */
  def planBarrier(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** The relation `spark.read.schema(schema).parquet(path)` resolves,
    * built over `index`, the file index of `path` the caller has
    * already listed ([[graft.Tables.readParquet]]). The options and the
    * data and partition schemas are the ones `spark.read` gives it, so
    * the plans are equal: the partition columns come from the index,
    * and the data schema is `schema` without them, made nullable
    * (`asNullable` is `private[spark]`, hence the shim). Building it
    * lists nothing, and skips `spark.read`'s existence check, which
    * starts a fresh thread pool per read. */
  def parquetRelation(spark: SparkSession, path: String, index: InMemoryFileIndex,
      schema: StructType): DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val partitions = index.partitionSchema
    val resolver = classic.sessionState.conf.resolver
    val data = schema.filterNot(f => partitions.exists(p => resolver(p.name, f.name)))
    classic.baseRelationToDataFrame(HadoopFsRelation(index, partitions,
      StructType(data).asNullable, None, new ParquetFileFormat,
      CaseInsensitiveMap(Map("path" -> path)))(classic))
  }

  /** Drain the listener bus (`private[spark]`): a harness snapshotting
    * listener-accumulated task metrics at a batch boundary must see
    * every already-finished task's event delivered first, or the tail
    * of one batch's work is misattributed to the next. */
  def waitListenerBusEmpty(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}

/**
 * Column expressions over a fixed all-STRING input, planned ONCE on the
 * driver (analyzer and optimizer, so `RuntimeReplaceable` and common-
 * expression rewrites are resolved like in any query) and evaluated row
 * by row inside a task, with no Spark plan around them: the way a task
 * that writes rows itself can run `from_json` and friends with exactly
 * their query semantics. The projections compile lazily, on the first
 * row a deserialized instance sees.
 */
final class RowProjection private (
    stages: Seq[(Seq[Expression], Seq[Attribute])], out: StructType) extends Serializable {
  @transient private lazy val eval: InternalRow => Row = {
    val projections = stages.map { case (exprs, in) => UnsafeProjection.create(exprs, in) }
    val toRow = CatalystTypeConverters.createToScalaConverter(out)
    r => toRow(projections.foldLeft(r)((row, p) => p(row))).asInstanceOf[Row]
  }

  /** The output row for one input row, as external (Row) values. */
  def apply(values: String*): Row =
    eval(InternalRow.fromSeq(values.map(v => if (v == null) null else UTF8String.fromString(v))))
}

object RowProjection {
  def apply(spark: SparkSession, input: StructType, cols: Seq[Column]): RowProjection = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // An RDD leaf, not a LocalRelation: the optimizer cannot fold the
    // projection away into a constant relation.
    val df = classic.internalCreateDataFrame(
      classic.sparkContext.emptyRDD[InternalRow], input, isStreaming = false).select(cols: _*)
    def stages(plan: LogicalPlan): List[(Seq[Expression], Seq[Attribute])] = plan match {
      case Project(exprs, child) => stages(child) :+ (exprs -> child.output)
      case _: LeafNode => Nil
      case other => throw new IllegalStateException(
        s"a row projection plans to ${other.nodeName}, not to projections")
    }
    new RowProjection(stages(df.queryExecution.optimizedPlan), df.schema)
  }
}
