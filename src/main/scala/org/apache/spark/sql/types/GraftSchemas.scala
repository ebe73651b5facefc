package org.apache.spark.sql.types

import org.apache.arrow.vector.types.pojo.Field
import org.apache.spark.sql.util.ArrowUtils

/** Spark's own schema merge, nullability widening and Spark→Arrow field
  * mapping, which Spark keeps package-private: readers that build a file
  * relation from footer schemas they already hold must widen and merge
  * exactly as Spark's parquet schema inference does, and the Arrow IPC
  * writer types its columns as Spark's own Arrow export does. */
object GraftSchemas {
  def merge(a: StructType, b: StructType, caseSensitive: Boolean): StructType =
    a.merge(b, caseSensitive)

  def asNullable(s: StructType): StructType = s.asNullable

  /** The Arrow field of a Spark column, timestamps zoned UTC. */
  def toArrowField(name: String, dt: DataType, nullable: Boolean): Field =
    ArrowUtils.toArrowField(name, dt, nullable, "UTC", largeVarTypes = false)
}
