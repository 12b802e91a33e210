package graft

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.filter2.statisticslevel.StatisticsFilter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}

/** The row-group statistics of a parquet relation, read once from its
  * files' footers on the driver (no Spark job), so that a point
  * predicate the statistics rule out is known at plan time. This is the
  * min/max pruning parquet already does when a task opens a row group,
  * moved before the job: [[mightHold]] drops a row group exactly where
  * parquet-mr's own `StatisticsFilter` would.
  *
  * Only INT32, INT64 and UTF8 columns that the relation reads as they
  * are stored (no loader cast above the scan) are covered. Anything
  * else, a file without the column, a column whose stored type differs
  * from the relation's, missing or empty statistics, or a relation that
  * is not a plain parquet scan, answers "might hold". */
private[graft] final class BaseStats private (
    val base: DataFrame,
    columns: Map[String, DataType],
    files: Seq[(MessageType, Seq[BlockMetaData])]) {

  /** False only when no row group of any file can hold `value` in
    * `column` (`value` as the journal holds it: Int, Long or String). */
  def mightHold(column: String, value: Any): Boolean =
    (columns.get(column), value) match {
      case (Some(IntegerType), v: Int) =>
        mayHold(column, FilterApi.eq(FilterApi.intColumn(column), Int.box(v)))
      case (Some(LongType), v: Long) =>
        mayHold(column, FilterApi.eq(FilterApi.longColumn(column), Long.box(v)))
      case (Some(StringType), v: String) =>
        mayHold(column, FilterApi.eq(FilterApi.binaryColumn(column), Binary.fromString(v)))
      case _ => true
    }

  private def mayHold(column: String, eq: FilterPredicate): Boolean =
    files.exists { case (schema, blocks) =>
      !storedAs(schema, column, columns(column)) ||
        blocks.exists(b => !StatisticsFilter.canDrop(eq, b.getColumns))
    }

  /** `column` is a top-level primitive of `schema` stored in the physical
    * type the relation reads it as. */
  private def storedAs(schema: MessageType, column: String, dt: DataType): Boolean =
    schema.containsField(column) && {
      val t: Type = schema.getType(schema.getFieldIndex(column))
      t.isPrimitive && !t.isRepetition(Type.Repetition.REPEATED) && {
        val p = t.asPrimitiveType
        val ann = p.getLogicalTypeAnnotation
        (dt, p.getPrimitiveTypeName) match {
          case (IntegerType, PrimitiveType.PrimitiveTypeName.INT32) =>
            ann == null || ann == LogicalTypeAnnotation.intType(32, true)
          case (LongType, PrimitiveType.PrimitiveTypeName.INT64) =>
            ann == null || ann == LogicalTypeAnnotation.intType(64, true)
          case (StringType, PrimitiveType.PrimitiveTypeName.BINARY) =>
            ann == LogicalTypeAnnotation.stringType()
          case _ => false
        }
      }
    }
}

private[graft] object BaseStats {
  /** `base`'s footers when it is a parquet scan, optionally under one
    * projection (the loader's casts); otherwise statistics that rule
    * nothing out. A footer that cannot be read also rules nothing out. */
  def read(spark: SparkSession, base: DataFrame): BaseStats = {
    val none = new BaseStats(base, Map.empty, Seq.empty)
    def parquet(plan: LogicalPlan): Option[(LogicalRelation, HadoopFsRelation)] = plan match {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] => Some((l, h))
        case _ => None
      }
      case _ => None
    }
    val optimized = base.queryExecution.optimizedPlan
    val scan = optimized match {
      case Project(list, child) => parquet(child).map { case (l, h) =>
        val read = l.output.map(_.exprId).toSet
        (list.collect { case a: AttributeReference if read(a.exprId) => a }, h)
      }
      case plan => parquet(plan).map { case (l, h) => (l.output, h) }
    }
    scan.fold(none) { case (uncast, h) =>
      // A dotted name would read as a nested path to parquet's filter API.
      val columns = uncast.collect {
        case a if !a.name.contains('.') && Seq(IntegerType, LongType, StringType).contains(a.dataType) =>
          a.name -> a.dataType
      }.toMap
      if (columns.isEmpty) none
      else try {
        val conf = spark.sessionState.newHadoopConf()
        val files = h.location.inputFiles.toSeq.map { f =>
          val reader = ParquetFileReader.open(
            HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
          try {
            val footer = reader.getFooter
            (footer.getFileMetaData.getSchema, footer.getBlocks.asScala.toSeq)
          } finally reader.close()
        }
        new BaseStats(base, columns, files)
      } catch { case NonFatal(_) => none }
    }
  }
}
