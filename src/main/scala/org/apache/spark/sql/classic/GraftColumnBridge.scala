package org.apache.spark.sql.classic

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Bridge into the sql-package-private Column <-> Expression converters.
  *
  * graft's Column-level APIs (e.g. dna.translateDna) construct native
  * Catalyst expressions directly so they work on any SparkSession without
  * a function-registry round trip; the converters live behind
  * private[sql], hence this one-object bridge in the Spark namespace —
  * the standard pattern for Catalyst-extending libraries. `tableFrame`
  * wraps an already-built DSv2 table the way `DataFrameReader.load`
  * does, for reads whose table carries state no option string can.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def tableFrame(spark: org.apache.spark.sql.SparkSession,
                 table: Table): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession],
      DataSourceV2Relation.create(table, None, None))
}
