package graft

import org.apache.spark.sql.functions.{call_function, col, lit}

import graft.core.GeomOps
import graft.functions.GeoFunctions

/** Registry-driven SQL coverage fuzz (round 20): EVERY registered
  * signature — all of [[GeoFunctions.kernelMatrix]] — is driven through
  * the SQL surface with type-appropriate literals. Three gates per
  * signature:
  *
  *  1. RESOLUTION: `call_function(name, typed args)` must analyze — a
  *     Sig row whose name/arity/types drifted from the kernel method
  *     fails here (the builder-wiring drift the per-function specs
  *     can't see, because they call the kernels they know about).
  *  2. NULL CONTRACT: all-null inputs answer null, never throw — every
  *     kernel is a null-intolerant StaticInvoke, so the null must
  *     short-circuit BEFORE the kernel.
  *  3. EXECUTION: for each geometry-typed signature, at least one of
  *     the candidate WKT shapes (point / line / polygon / multi /
  *     measured trajectory / EMPTY) must evaluate without error, and
  *     whatever throws must be a KERNEL-CONTRACT error (require /
  *     unsupported-type style), surfaced through Spark's execution
  *     wrapper — never an analysis error and never a raw NPE.
  */
class RegistryCoverageSpec extends SparkTestBase {

  private def wkb(w: String): Array[Byte] =
    GeomOps.write(new org.locationtech.jts.io.WKTReader(GeomOps.factory).read(w))

  import org.apache.spark.sql.types._

  // candidate literal per parameter type; geometry candidates rotate
  private val geomCandidates = Seq(
    "POINT (3 4)",
    "LINESTRING (0 0, 8 0, 8 6)",
    "POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))",
    "MULTIPOINT ((0 0), (2 3))",
    "LINESTRING M (0 0 0, 10 0 10)",
    "POINT EMPTY")

  private def scalarArg(dt: DataType, geomWkt: String): org.apache.spark.sql.Column =
    dt match {
      case BinaryType => lit(wkb(geomWkt))
      case DoubleType => lit(0.5)
      case IntegerType => lit(1)
      case LongType => lit(1L)
      case BooleanType => lit(true)
      case StringType => lit("POINT (1 2)")
      case other => lit(null).cast(other) // nested/struct params: typed null
    }

  private def rootCauses(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(12).toSeq

  /** Every SQL signature graft defines: the Geo scalars, the Text and
    * Media functions, and the aggregates and bloom functions, which have
    * no signature table of their own. */
  private val allSignatures: Seq[(String, Seq[DataType])] =
    GeoFunctions.kernelMatrix.map { case (name, _, _, params, _) => name -> params } ++
      graft.functions.TextFunctions.sigs.map { case (name, (_, _, _, params)) => name -> params } ++
      graft.functions.MediaFunctions.sigs.toSeq.map { case (name, sig) => name -> sig.params } ++
      Seq("st_extent_agg", "st_union_agg", "st_coverageunion_agg", "st_3dextent_agg")
        .map(_ -> Seq(BinaryType)) ++
      Seq("graft_bloom_agg" -> Seq(LongType), "graft_bloom_agg" -> Seq(LongType, LongType),
        "graft_might_contain" -> Seq(BinaryType, LongType))

  /** Arguments that must be non-null constants, so the null gate passes
    * a constant there: graft_bloom_agg's size (its rejection of a null
    * size has its own test below). */
  private val constantArgs: Map[(String, Int), org.apache.spark.sql.Column] =
    Map(("graft_bloom_agg", 1) -> lit(1000L))

  test("resolution + null contract: every signature analyzes and nulls out") {
    assert(allSignatures.map(_._1).toSet ==
      GeoFunctions.functionDescriptors.map(_._1.funcName).toSet,
      "a descriptor without a signature here escapes the gate")
    // the registered session, and one holding only the descriptors
    // GraftExtensions injects (the zero-code path)
    Seq("registered" -> spark, "injected" -> GraftExtensionsSpec.injectedSession(spark))
      .foreach { case (wiring, s) =>
        var checked = 0
        allSignatures.foreach { case (name, params) =>
          val nullArgs = params.zipWithIndex.map { case (dt, i) =>
            constantArgs.getOrElse((name, i), lit(null).cast(dt))
          }
          val df = s.range(1).select(call_function(name, nullArgs: _*).as("v"))
          // analysis happens here; an unresolvable signature throws AnalysisException
          val row =
            try df.head()
            catch {
              case e: Throwable => fail(s"$wiring: $name/${params.length}: null-input call " +
                s"failed (${e.getClass.getSimpleName}: ${e.getMessage})")
            }
          assert(row.isNullAt(0), s"$wiring: $name/${params.length}: null inputs must answer null")
          checked += 1
        }
        assert(checked >= 290, s"$wiring: registry shrank? $checked signatures")
      }
  }

  test("graft_bloom_agg: a null or non-constant size fails with a clear message") {
    Seq("registered" -> spark, "injected" -> GraftExtensionsSpec.injectedSession(spark))
      .foreach { case (wiring, s) =>
        Seq(lit(null).cast(LongType), col("id")).foreach { size =>
          val e = intercept[Exception](
            s.range(3).select(call_function("graft_bloom_agg", col("id"), size)).head())
          val causes = rootCauses(e)
          assert(causes.exists(c => String.valueOf(c.getMessage)
            .contains("estimatedItems must be a non-null constant")),
            s"$wiring: unclear failure for size $size: $e")
          assert(!causes.exists(_.isInstanceOf[NullPointerException]), s"$wiring: NPE for size $size")
        }
        val bloom = s.range(100).select(call_function("graft_bloom_agg", col("id"), lit(100L))).head()
        assert(!bloom.isNullAt(0), s"$wiring: a constant size builds a filter")
      }
  }

  test("execution: geometry signatures run on at least one candidate shape") {
    var geomSigs = 0
    GeoFunctions.kernelMatrix.foreach { case (name, _, _, params, _) =>
      if (params.contains(BinaryType)) {
        geomSigs += 1
        val outcomes = geomCandidates.map { w =>
          val args = params.map(dt => scalarArg(dt, w))
          try { spark.range(1).select(call_function(name, args: _*)).collect(); None }
          catch { case e: Throwable => Some(w -> e) }
        }
        if (!outcomes.contains(None)) {
          // every shape threw: each must be a kernel-contract rejection
          // (require/unsupported input), never analysis drift or an NPE
          outcomes.flatten.foreach { case (w, e) =>
            val causes = rootCauses(e)
            assert(!causes.exists(_.isInstanceOf[org.apache.spark.sql.AnalysisException]),
              s"$name on $w: analysis error — registry wiring drift: ${e.getMessage}")
            assert(!causes.exists(_.isInstanceOf[NullPointerException]),
              s"$name on $w: NPE escaped the kernel: ${e.getMessage}")
            assert(causes.exists { c =>
              c.isInstanceOf[IllegalArgumentException] ||
              c.isInstanceOf[UnsupportedOperationException] ||
              c.isInstanceOf[IllegalStateException] ||
              // the internal ga_* converters reject wrong-typed geometry
              // with an unchecked JTS downcast — a type-contract error
              c.isInstanceOf[ClassCastException] ||
              c.getClass.getName.startsWith("org.locationtech.jts")
            }, s"$name on $w: unexpected failure class " +
               s"${causes.map(_.getClass.getSimpleName).mkString("<-")}: ${e.getMessage}")
          }
        }
      }
    }
    assert(geomSigs >= 190, s"geometry signature census shrank? $geomSigs")
  }
}
