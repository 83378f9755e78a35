package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, TableIdentifier}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.command.ViewHelper
import org.apache.spark.sql.execution.streaming.sources.MemoryPlan
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[sql]` view catalog. */
object DatasetBridge {

  /** Registers `rows` (laid out as `schema`) as the temp view `name`,
    * replacing any view of that name. The view's plan is a local
    * relation, resolved as built, so it is only marked analyzed: no
    * encoder is derived and no analyzer rule runs. The view goes into
    * the session catalog the way `createOrReplaceTempView` puts it
    * there, minus the command's query execution (its plan string and
    * listener events): nothing is planned, no job runs. */
  def registerLocalView(spark: SparkSession, name: String,
      schema: StructType, rows: Seq[InternalRow]): Unit = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val plan = LocalRelation(DataTypeUtils.toAttributes(schema), rows)
    plan.setAnalyzed()
    val catalog = session.sessionState.catalog
    val view = ViewHelper.createTemporaryViewRelation(TableIdentifier(name),
      session, replace = true, catalog.getRawTempView, originalText = None,
      analyzedPlan = plan, aliasedPlan = plan, referredTempFunctions = Nil)
    catalog.createTempView(name, view, overrideIfExists = true)
  }

  /** The memory-sink plan behind the temp view `name`: a `memory`-format
    * streaming query registers its sink under its query name as a view
    * over a [[MemoryPlan]]. The view is read from the session catalog as
    * stored, so no analyzer rule runs, nothing is planned and no job
    * runs. The catalog is asked afresh on every call: a restarted query
    * replaces the view and its sink. Throws, naming `name`, if it is not
    * a temp view over a memory sink. */
  def memorySinkPlan(spark: SparkSession, name: String): MemoryPlan =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalog
      .getTempView(name).map(_.child) match {
      case Some(plan: MemoryPlan) => plan
      case _ => throw new IllegalArgumentException(
        s"table '$name' is not a memory sink")
    }
}
