package org.apache.spark.sql.graftops

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.{CatalogManager, CatalogPlugin, Identifier, LookupCatalog}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The `private[sql]` doorways the engine needs: constructing a
  * DataFrame from a custom LogicalPlan (`Dataset.ofRows` has no public
  * equivalent), cloning a session (`cloneSession` has none either),
  * resolving a name to its catalog (`LookupCatalog` is private too), and
  * raising the SAME decimal-overflow
  * error Cast/CheckOverflow raise (so the native decimal folds are
  * indistinguishable from the HOF chain under ANSI, error class
  * included). Lives under `org.apache.spark.sql` for scope access only —
  * no Spark internals are copied or overridden here. */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A new session over the same SparkContext and shared state holding
    * copies of `spark`'s confs, temp views, functions and execution
    * listeners; what is set or registered on either afterwards stays on
    * that one. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Spark's own name-to-catalog resolution (`LookupCatalog`): a leading
    * registered catalog name is explicit; otherwise the current catalog
    * applies, with a one-part view name in the current namespace. */
  def catalogAndIdentifier(spark: SparkSession, nameParts: Seq[String])
      : Option[(CatalogPlugin, Identifier)] = lookup(spark).CatalogAndIdentifier.unapply(nameParts)

  /** The same resolution for a (non-empty) namespace name. */
  def catalogAndNamespace(spark: SparkSession, nameParts: Seq[String])
      : (CatalogPlugin, Seq[String]) = lookup(spark).CatalogAndNamespace.unapply(nameParts).get

  private def lookup(spark: SparkSession): LookupCatalog = new LookupCatalog {
    override protected val catalogManager: CatalogManager = spark.sessionState.catalogManager
  }

  /** `DataTypeErrors.cannotChangeDecimalPrecisionError` — what ANSI
    * Cast(decimal) and CheckOverflow throw on overflow
    * (NUMERIC_VALUE_OUT_OF_RANGE.WITH_SUGGESTION). */
  def decimalOverflowError(value: org.apache.spark.sql.types.Decimal,
                           precision: Int, scale: Int): ArithmeticException =
    org.apache.spark.sql.errors.DataTypeErrors.cannotChangeDecimalPrecisionError(
      value, precision, scale, null)
}
