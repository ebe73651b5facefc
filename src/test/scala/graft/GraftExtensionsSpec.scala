package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}

import graft.functions.GeoFunctions

/** The `spark.sql.extensions` entry point (round 19): function
  * descriptors, planner strategy, and optimizer rules injected with NO
  * `GeoFunctions.register` call. The true config-only path (spark-shell
  * with `--conf spark.sql.extensions=graft.GraftExtensions`) is
  * exercised end-to-end by the verify drive — scalar SQL, spatial-join
  * planning, the aggregate, the geodesic extent dispatch, and the
  * native-point fast path all fire through the injected wiring; this
  * spec pins the injection inventory, that the injected BUILDERS
  * produce working expressions on a genuinely unregistered session, and
  * that `register` installs the same builders once per session. */
class GraftExtensionsSpec extends SparkTestBase {
  import GraftExtensionsSpec._

  private def built[A](method: String, ext: SparkSessionExtensions,
                       s: SparkSession): Seq[A] =
    // build* methods are private[sql] in Scala, bytecode-public — the
    // GraftInternal reflection-shim discipline
    classOf[SparkSessionExtensions]
      .getMethod(method, classOf[SparkSession])
      .invoke(ext, s).asInstanceOf[Seq[A]]

  /** Spark builtins that graft's descriptors replace. */
  private val shadowed = Set("st_asbinary", "st_geomfromwkb", "st_srid", "st_setsrid")

  /** Function names in the "replaced a previously registered function"
    * WARNs Spark's function registry logs while `body` runs. The capture
    * hangs off the root logger config, so no logger config is created
    * and the console keeps printing these WARNs for later suites. */
  private def replacedWarnings(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("replaced-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName == classOf[SimpleFunctionRegistry].getName)
          seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext].getConfiguration.getRootLogger
    root.addAppender(appender, null, null)
    try body finally { root.removeAppender(appender.getName); appender.stop() }
    val Replaced = """The function (\S+) replaced a previously registered function\.""".r
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.collect { case Replaced(name) => name }
  }

  test("injection inventory: strategy present, rules ordered, functions complete") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val strategies = built[org.apache.spark.sql.execution.SparkStrategy](
      "buildPlannerStrategies", ext, spark)
    assert(strategies.contains(graft.plans.SpatialJoinStrategy), strategies.toString)
    val rules = built[org.apache.spark.sql.catalyst.rules.Rule[_]](
      "buildOptimizerRules", ext, spark)
    val names = rules.map(_.getClass.getSimpleName.stripSuffix("$"))
    assert(names.toSet == Set("SpatialCountFoldRule", "NativePointFastPath"), names.toString)
    // descriptor census: every Geo scalar, the Geo aggregates, and the
    // Text (bloom included) and Media names, each exactly once
    val descNames = GeoFunctions.functionDescriptors.map(_._1.funcName)
    assert(descNames.distinct.size == descNames.size,
      descNames.diff(descNames.distinct).toString)
    val expected = GeoFunctions.kernelMatrix.map(_._1).toSet ++
      graft.functions.TextFunctions.sigs.map(_._1) ++
      graft.functions.MediaFunctions.sigs.keys ++
      Set("st_extent_agg", "st_union_agg", "st_coverageunion_agg", "st_3dextent_agg",
        "graft_bloom_agg", "graft_might_contain")
    assert(descNames.toSet == expected,
      s"missing ${expected -- descNames}, unexpected ${descNames.toSet -- expected}")
  }

  test("injected builders work on an unregistered session (scalar + aggregate)") {
    val fresh = spark.newSession() // fresh SessionState: no temp ST_* functions
    assert(intercept[Exception](fresh.sql("SELECT ST_Point(1.0, 2.0)").collect())
      .getMessage.toLowerCase.contains("routine"),
      "fresh session must NOT have ST_* before injection")
    val injected = injectedSession(spark)
    val r = injected.sql(
      "SELECT ST_AsText(ST_Point(3.0, 4.0)) AS w, ST_Area(ST_MakeEnvelope(0D,0D,2D,3D)) AS a")
      .head()
    assert(r.getString(0) == "POINT (3 4)" && r.getDouble(1) == 6.0)
    val agg = injected.sql("SELECT ST_Extent_Agg(g).xmax AS x, ST_Extent_Agg(g).ymin AS y " +
      "FROM (SELECT ST_Point(CAST(id AS DOUBLE), CAST(id AS DOUBLE) * 2.0) AS g FROM range(5))")
      .head()
    assert(agg.getDouble(0) == 4.0 && agg.getDouble(1) == 0.0, agg.toString)
    val un = injected.sql("SELECT ST_Area(ST_Union_Agg(g)) AS a FROM (SELECT " +
      "ST_MakeEnvelope(CAST(id AS DOUBLE), 0D, CAST(id AS DOUBLE) + 1.0, 1D) AS g FROM range(3))")
      .head().getDouble(0)
    assert(un == 3.0, s"union agg through the injected builder: $un")
  }

  test("register is idempotent: a second call keeps every builder and logs nothing") {
    val s = spark.newSession()
    val first = replacedWarnings(GeoFunctions.register(s))
    // the first install replaces only the Spark builtins graft shadows,
    // once each — which also proves the capture sees the registry's WARNs
    assert(first.sorted == shadowed.toSeq.sorted, first.toString)
    val second = replacedWarnings(GeoFunctions.register(s))
    assert(second.isEmpty, s"second register replaced: $second")
    val reg = s.sessionState.functionRegistry
    GeoFunctions.functionDescriptors.foreach { case (id, _, builder) =>
      assert(reg.lookupFunctionBuilder(id).exists(_ eq builder), s"${id.funcName} rebound")
    }
  }

  test("shadowed Spark builtins resolve to graft on both wirings") {
    val wkb = "X'0101000000000000000000F03F0000000000000040'" // POINT (1 2)
    val calls = Seq(s"st_asbinary($wkb)", s"st_geomfromwkb($wkb)", s"st_srid($wkb)",
      s"st_setsrid($wkb, 4326)")
    assert(calls.map(_.takeWhile(_ != '(')).toSet == shadowed)
    // on Spark's own builtins these calls analyze to ST_* expressions over
    // its GEOMETRY type, never to a StaticInvoke onto a graft kernel
    Seq("registered" -> spark, "injected" -> injectedSession(spark)).foreach { case (wiring, s) =>
      shadowed.foreach { name =>
        val builder = GeoFunctions.functionDescriptors.find(_._1.funcName == name).get._3
        assert(s.sessionState.functionRegistry.lookupFunctionBuilder(FunctionIdentifier(name))
          .exists(_ eq builder), s"$wiring: $name is not graft's builder")
      }
      calls.foreach { call =>
        val df = s.sql(s"SELECT $call AS v")
        val targets = df.queryExecution.analyzed.expressions.flatMap(_.collect {
          case si: org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke =>
            si.staticObject.getName
        })
        assert(targets.nonEmpty && targets.forall(_.startsWith("graft.")),
          s"$wiring: $call resolved to ${df.queryExecution.analyzed}")
        df.collect()
      }
    }
  }

  test("unaliased aggregate column names match across both wirings") {
    val q = "SELECT ST_Extent_Agg(g), ST_Union_Agg(g) FROM (SELECT ST_Point(1.0, 2.0) AS g)"
    val registered = spark.sql(q).columns.toSeq
    assert(registered == Seq("st_extent_agg(g)", "st_union_agg(g)"), registered.toString)
    assert(injectedSession(spark).sql(q).columns.toSeq == registered)
  }
}

object GraftExtensionsSpec {

  /** A `newSession()` whose function registry holds Spark's builtins plus
    * exactly what [[GraftExtensions]] injects — what session build does
    * under `spark.sql.extensions=graft.GraftExtensions`. No `register`. */
  def injectedSession(parent: SparkSession): SparkSession = {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val s = parent.newSession()
    // private[sql] like the build* methods the spec reflects on
    classOf[SparkSessionExtensions]
      .getMethod("registerFunctions", classOf[FunctionRegistry])
      .invoke(ext, s.sessionState.functionRegistry)
    s
  }
}
