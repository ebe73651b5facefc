package org.apache.spark.sql.types

/** Spark's own schema merge and nullability widening, which Spark keeps
  * package-private, for readers that build a file relation from footer
  * schemas they already hold: the relation must widen and merge exactly as
  * Spark's parquet schema inference does. */
object GraftSchemas {
  def merge(a: StructType, b: StructType, caseSensitive: Boolean): StructType =
    a.merge(b, caseSensitive)

  def asNullable(s: StructType): StructType = s.asNullable
}
