package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between public `Column`s and Catalyst `Expression`s. Spark 4
  * moved this behind `private[sql] classic.ExpressionUtils`; a same-
  * package shim is the standard way for an extension library to plug
  * custom codegen expressions into the Column API. */
object GraftSqlShim {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `AbstractDataType` is `private[sql]` at the Scala level; extensions
    * implementing ExpectsInputTypes need to NAME it in the inputTypes
    * signature — this same-package alias re-exports it. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** A cache entry (`private[sql]` at the Scala level, re-exported like
    * [[AbstractType]]). `isCachedColumnBuffersLoaded` turns false once
    * the entry is cleared (`unpersist`). */
  type CacheEntry = org.apache.spark.sql.execution.columnar.CachedRDDBuilder

  /** The cache entry currently serving `df` (the one the session's
    * CacheManager matches by plan), or None when `df` is not cached. A
    * new entry is built whenever the data is (re)cached, so its identity
    * versions the cached contents. */
  def cacheEntry(df: DataFrame): Option[CacheEntry] = df match {
    case ds: classic.Dataset[_] =>
      ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
        .map(_.cachedRepresentation.cacheBuilder)
    case _ => None
  }
}
