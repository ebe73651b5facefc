package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.optimizer.{CollapseProject, ColumnPruning}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, StructType}

/** Columnar fast path for NATIVE-encoded GeoParquet geometry columns.
  *
  * [[graft.sources.GeoParquet.read]] transcodes native (GeoArrow
  * struct/list) geometry columns to WKB at scan time (`ga_point(col, z,
  * m)`, `ga_linestring(…)`, …) so every ST_* kernel accepts them. For
  * coordinate-only and measure consumers that is pure waste:
  * `ST_X(ga_point(s))` serializes the struct into WKB bytes, parses them
  * back into a JTS Point, and reads the X it already had as a codegen'd
  * column leaf; `ST_Length(ga_linestring(a))` rebuilds a JTS LineString
  * whose only purpose is one arithmetic pass over coordinates the scan
  * already delivered as `array<struct<x,y>>`. The reference computes
  * these directly on the separated coordinate arrays
  * (rust/geoarrow-array/src/trait_.rs:251,
  * rust/geoarrow-expr-geo/src/{area.rs,length.rs}); this rule is the
  * Spark-shaped equivalent — rewrite the composed expression so the plan
  * touches only the array/struct leaves and the WKB/JTS stage disappears
  * entirely:
  *
  *  - POINT columns: `ST_X/ST_Y/ST_XMin/…` → `s.x`/`s.y` leaf reads;
  *    `ST_IsEmpty` → the NaN sentinel test; `ST_BBox` → a struct of the
  *    leaves; `ST_Distance`/`ST_DistanceSphere`/`ST_DWithin` against a
  *    point literal or second native column → the exact kernel IEEE
  *    chains as leaf arithmetic.
  *  - LINESTRING/POLYGON/MULTI* columns (round 19): `ST_Length`/
  *    `ST_Area`/`ST_Perimeter`/`ST_NPoints`/`ST_XMin` family/`ST_BBox`/
  *    `ST_IsEmpty` → [[graft.core.NativeMeasures]] StaticInvoke
  *    kernels over the raw nested arrays, each replicating the exact JTS
  *    1.20 chain of the WKB kernel it replaces (bit-exactness asserted in
  *    NativeNestedFastPathSpec).
  *  - `ST_Extent_Agg` needs no case of its own: it folds `ST_BBox`'s
  *    per-row bounds, so the `ST_BBox` case serves it. An edges-stamped
  *    column's bounds are `Geodesy.bboxGeodesic`, which no case matches.
  *
  * Two plan shapes are covered: the FUSED form where CollapseProject
  * already composed consumer and transcode into one expression, and the
  * LAYERED form (Aggregate/Project/Filter directly above the transcode
  * Project) where the consumer references the transcode through an
  * attribute — there the rule inlines through the alias, adds the raw
  * native column as a passthrough, and lets ColumnPruning drop the
  * now-dead `ga_*` alias.
  *
  * Runs in `experimental.extraOptimizations` (after the main batches).
  * EMPTY-geometry divergence for POINTS, documented: the WKB path NPEs on
  * `ST_X(POINT EMPTY)` and reports JTS's 0-width null envelope for
  * `ST_XMin`; the fast path yields NaN (the sentinel the column stores) —
  * strictly more useful, and unreachable for the non-degenerate data the
  * WKB path already handled. `ST_BBox` has no such divergence: a point
  * with any NaN ordinate reads as POINT EMPTY through the WKB hop, so its
  * bbox is the JTS null-envelope sentinel (0, 0, -1, -1), and the nested
  * kinds' bound rewrites reproduce that sentinel exactly. */
object NativePointFastPath extends Rule[LogicalPlan] {

  private def strip(e: Expression): Expression = e match {
    case c: Cast => strip(c.child)
    case other => other
  }

  /** scan-transcode function name → geometry kind */
  private val transcodeKinds = Map(
    "gaPoint" -> "point", "gaLineString" -> "line", "gaPolygon" -> "polygon",
    "gaMultiPoint" -> "multipoint", "gaMultiLineString" -> "mls",
    "gaMultiPolygon" -> "mpoly")

  /** the raw argument of a `ga_*` scan transcode, with its kind and the
    * coordinate struct width (2 + z + m — the z/m flags are the scan's
    * literals; a non-literal flag refuses the rewrite, width must be
    * static) */
  private def gaNativeArg(e: Expression): Option[(Expression, String, Int)] = strip(e) match {
    case si: StaticInvoke if si.staticObject.getName == "graft.core.GeoArrowOps" &&
        transcodeKinds.contains(si.functionName) && si.arguments.length == 3 =>
      (strip(si.arguments(1)), strip(si.arguments(2))) match {
        case (Literal(z: Boolean, BooleanType), Literal(m: Boolean, BooleanType)) =>
          Some((si.arguments.head, transcodeKinds(si.functionName),
            2 + (if (z) 1 else 0) + (if (m) 1 else 0)))
        case _ => None
      }
    case _ => None
  }

  private def leaf(s: Expression, name: String): Option[Expression] = s.dataType match {
    case st: StructType =>
      val i = st.fieldNames.indexOf(name)
      if (i < 0) None else Some(GetStructField(s, i, Some(name)))
    case _ => None
  }

  // a point's envelope is its coordinate: min and max both read the leaf
  private val coordKernels = Map(
    "stX" -> "x", "xMin" -> "x", "xMax" -> "x",
    "stY" -> "y", "yMin" -> "y", "yMax" -> "y")

  // envelope kernels valid on EVERY kind: (ordinal in the coord struct,
  // isMin, JTS null-envelope sentinel — Envelope.setToNull is (0,-1,0,-1))
  private val boundKernels = Map(
    "xMin" -> ((0, true, 0.0)), "yMin" -> ((1, true, 0.0)),
    "xMax" -> ((0, false, -1.0)), "yMax" -> ((1, false, -1.0)))

  // kind → NativeMeasures bound method (null ⇔ JTS null envelope)
  private val boundMethod = Map(
    "line" -> "boundLine", "multipoint" -> "boundMultiPoint",
    "polygon" -> "boundShell", "mls" -> "boundL2", "mpoly" -> "boundMPolyShells")

  private def isGeomOp(si: StaticInvoke, name: String): Boolean =
    si.staticObject.getName == "graft.core.GeomOps" && si.functionName == name

  private def isGeodesyOp(si: StaticInvoke, name: String): Boolean =
    si.staticObject.getName == "graft.core.Geodesy" && si.functionName == name

  private val nmCls = Class.forName("graft.core.NativeMeasures")

  // Geodesy length kernel → NativeMeasures metric id
  private val edgeLengthMetric = Map(
    "lengthSphere" -> 0, "lengthSpheroid" -> 1,
    "lengthGeodesic" -> 2, "lengthVincenty" -> 3)
  private val edgePerimMetric = Map(
    "perimeterSpheroid" -> 1, "perimeterGeodesic" -> 2)

  private def nm(method: String, ret: DataType, args: Seq[Expression],
                 nullable: Boolean = false): Expression =
    StaticInvoke(nmCls, ret, method, args, Nil,
      propagateNull = true, returnNullable = nullable)

  /** the kernel's value on an EMPTY/zero-measure kind: 0.0, null-through */
  private def zeroOf(a: Expression): Expression =
    If(IsNull(a), Literal(null, DoubleType), Literal(0.0))

  /** (x, y) of a FOLDABLE point argument (e.g. `ST_Point(2.35, 48.85)`
    * folded to a WKB literal) — evaluated once at optimization time.
    * Non-point / EMPTY / unparseable literals refuse the rewrite. */
  private def litPointCoords(arg: Expression): Option[(Expression, Expression)] = {
    val e = strip(arg)
    if (!e.foldable || e.dataType != org.apache.spark.sql.types.BinaryType) return None
    try {
      val wkb = e.eval().asInstanceOf[Array[Byte]]
      if (wkb == null) return None
      graft.core.GeomOps.read(wkb) match {
        case p: org.locationtech.jts.geom.Point if !p.isEmpty =>
          Some((Literal(p.getX), Literal(p.getY)))
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** planar point distance, the exact JTS IEEE chain:
    * sqrt(dx·dx + dy·dy). NaN (EMPTY sentinel) flows through naturally. */
  private def planarDist(x1: Expression, y1: Expression,
                         x2: Expression, y2: Expression): Expression = {
    val dx = Subtract(x1, x2)
    val dy = Subtract(y1, y2)
    Sqrt(Add(Multiply(dx, dx), Multiply(dy, dy)))
  }

  /** haversine meters, the exact [[graft.core.Geodesy.haversineMeters]]
    * IEEE chain via codegen'd trig built-ins (every step is the same
    * java.lang.Math call). EMPTY's NaN sentinel must yield NaN like the
    * kernel — `Least` would swallow it (Spark orders NaN last), so the
    * NaN case is guarded explicitly. */
  private def sphereDist(x1: Expression, y1: Expression,
                         x2: Expression, y2: Expression): Expression = {
    val dLat = ToRadians(Subtract(y2, y1))
    val dLon = ToRadians(Subtract(x2, x1))
    val a = Add(
      Pow(Sin(Divide(dLat, Literal(2.0))), Literal(2.0)),
      Multiply(Multiply(Cos(ToRadians(y1)), Cos(ToRadians(y2))),
        Pow(Sin(Divide(dLon, Literal(2.0))), Literal(2.0))))
    val root = Sqrt(a)
    // Least SKIPS null and orders NaN last — both must pass through as
    // themselves (NULL input stays NULL, the EMPTY NaN sentinel stays NaN)
    val clamped = If(Or(IsNull(root), IsNaN(root)), root,
      Least(Seq(Literal(1.0), root)))
    Multiply(Literal(2.0 * graft.core.Geodesy.EarthRadiusM), Asin(clamped))
  }

  private def rewriteNode(node: LogicalPlan): LogicalPlan = {
    // transcode aliases exposed by direct Project children whose raw
    // source is a plain column (the shape GeoParquet.read emits)
    val entries: Map[ExprId, (Attribute, String, Int)] = node.children.flatMap {
      case p: Project => p.projectList.collect {
        case a @ Alias(e, _) if gaNativeArg(e).exists(_._1.isInstanceOf[AttributeReference]) =>
          val (arg, kind, w) = gaNativeArg(e).get
          a.exprId -> ((arg.asInstanceOf[AttributeReference], kind, w))
      }
      case _ => Nil
    }.toMap
    val used = mutable.Set.empty[ExprId]
    // the raw native value behind a consumer's argument: fused call or
    // aliased attribute
    def resolveNative(arg: Expression): Option[(Expression, String, Int)] =
      gaNativeArg(arg).orElse(strip(arg) match {
        case ar: AttributeReference if entries.contains(ar.exprId) =>
          used += ar.exprId
          Some(entries(ar.exprId))
        case _ => None
      })
    def resolvePoint(arg: Expression): Option[Expression] =
      resolveNative(arg).collect { case (s, "point", _) => s }
    // (x, y) of a distance-kernel argument: struct leaves (native column)
    // or a foldable point literal. The rewrite needs ≥1 struct side —
    // literal-literal pairs are constant folding's job.
    def coordsOf(arg: Expression): Option[(Expression, Expression, Boolean)] =
      resolvePoint(arg).flatMap(s =>
        for { x <- leaf(s, "x"); y <- leaf(s, "y") } yield (x, y, true))
        .orElse(litPointCoords(arg).map { case (x, y) => (x, y, false) })
    // NEVER rewrite inside a Join node: SpatialJoinStrategy and the count
    // fold match the StaticInvoke shape in join conditions — a rewritten
    // condition would silently degrade the join to BroadcastNestedLoopJoin
    def binCoords(si: StaticInvoke)
        : Option[((Expression, Expression), (Expression, Expression))] =
      if (node.isInstanceOf[Join]) None
      else for {
        a <- coordsOf(si.arguments(0))
        b <- coordsOf(si.arguments(1))
        if a._3 || b._3
      } yield ((a._1, a._2), (b._1, b._2))
    // measure rewrite over the raw nested arrays, per kind
    def measure(arg: Expression)(f: (Expression, String, Int) => Option[Expression])
        : Option[Expression] =
      resolveNative(arg).flatMap { case (s, kind, w) => f(s, kind, w) }
    val newNode = node.transformExpressions {
      case si: StaticInvoke if coordKernels.contains(si.functionName) &&
          si.staticObject.getName == "graft.core.GeomOps" =>
        resolveNative(si.arguments.head).flatMap {
          case (s, "point", _) => leaf(s, coordKernels(si.functionName))
          case (s, kind, w) =>
            // nested kinds: envelope bounds only (ST_X/ST_Y on a line read
            // the first coordinate via JTS — rarely used, not rewritten);
            // the JTS null-envelope sentinel stands in for EMPTY
            for {
              (ord, isMin, sentinel) <- boundKernels.get(si.functionName)
              method <- boundMethod.get(kind)
            } yield Coalesce(Seq(
              nm(method, DoubleType,
                Seq(s, Literal(w), Literal(ord), Literal(isMin)), nullable = true),
              If(IsNull(s), Literal(null, DoubleType), Literal(sentinel))))
        }.getOrElse(si)
      // ST_BBox: the ST_XMin-family bounds in one struct, the JTS
      // null-envelope sentinel standing in for EMPTY. A point with ANY NaN
      // ordinate is EMPTY through the WKB hop (JTS WKBReader), and a NULL
      // leaf is read as NaN.
      case si: StaticInvoke if isGeomOp(si, "bbox") && si.arguments.length == 1 =>
        val st = si.dataType.asInstanceOf[StructType]
        val order = Seq("xMin", "yMin", "xMax", "yMax").map(boundKernels)
        def struct(s: Expression, bounds: Seq[Expression]): Expression =
          If(IsNull(s), Literal(null, st), CreateNamedStruct(
            st.fieldNames.toSeq.zip(bounds).flatMap { case (n, b) => Seq(Literal(n), b) }))
        measure(si.arguments.head) {
          case (s, "point", _) =>
            for { x <- leaf(s, "x"); y <- leaf(s, "y") } yield {
              val xy = Seq(x, y).map(c => Coalesce(Seq(c, Literal(Double.NaN))))
              val empty = Or(IsNaN(xy(0)), IsNaN(xy(1)))
              struct(s, order.map { case (ord, _, sentinel) => If(empty, Literal(sentinel), xy(ord)) })
            }
          case (s, kind, w) =>
            boundMethod.get(kind).map(method => struct(s, order.map { case (ord, isMin, sentinel) =>
              Coalesce(Seq(nm(method, DoubleType,
                Seq(s, Literal(w), Literal(ord), Literal(isMin)), nullable = true),
                Literal(sentinel)))
            }))
        }.getOrElse(si)
      case si: StaticInvoke if isGeomOp(si, "isEmpty") =>
        measure(si.arguments.head) {
          case (s, "point", _) =>
            // ANY-NaN ordinate reads empty through the WKB hop (JTS
            // WKBReader collapses NaN-bearing points to POINT EMPTY)
            for { x <- leaf(s, "x"); y <- leaf(s, "y") }
              yield If(IsNull(s), Literal(null, BooleanType), Or(IsNaN(x), IsNaN(y)))
          case (s, "line", _) => Some(nm("isEmptyL1", BooleanType, Seq(s)))
          case (s, "polygon", _) => Some(nm("isEmptyPolygon", BooleanType, Seq(s)))
          case (s, "multipoint", w) =>
            Some(nm("isEmptyMultiPoint", BooleanType, Seq(s, Literal(w))))
          case (s, "mls", _) => Some(nm("isEmptyL2", BooleanType, Seq(s)))
          case (s, "mpoly", _) => Some(nm("isEmptyMultiPolygon", BooleanType, Seq(s)))
          case _ => None
        }.getOrElse(si)
      case si: StaticInvoke if isGeomOp(si, "length") && si.arguments.length == 1 =>
        measure(si.arguments.head) {
          case (s, "line", w) => Some(nm("lineLength", DoubleType, Seq(s, Literal(w))))
          // Polygon.getLength IS the perimeter (Σ ring lengths)
          case (s, "polygon" | "mls", w) =>
            Some(nm("ringsLength", DoubleType, Seq(s, Literal(w))))
          case (s, "mpoly", w) => Some(nm("ringsLengthL3", DoubleType, Seq(s, Literal(w))))
          case (s, "point" | "multipoint", _) => Some(zeroOf(s))
          case _ => None
        }.getOrElse(si)
      case si: StaticInvoke if isGeomOp(si, "area") && si.arguments.length == 1 =>
        measure(si.arguments.head) {
          case (s, "polygon", w) => Some(nm("polygonArea", DoubleType, Seq(s, Literal(w))))
          case (s, "mpoly", w) => Some(nm("multiPolygonArea", DoubleType, Seq(s, Literal(w))))
          case (s, "point" | "line" | "multipoint" | "mls", _) => Some(zeroOf(s))
          case _ => None
        }.getOrElse(si)
      case si: StaticInvoke if isGeomOp(si, "perimeter") && si.arguments.length == 1 =>
        measure(si.arguments.head) {
          case (s, "polygon", w) => Some(nm("ringsLength", DoubleType, Seq(s, Literal(w))))
          case (s, "mpoly", w) => Some(nm("ringsLengthL3", DoubleType, Seq(s, Literal(w))))
          // GeomOps.perimeter: non-Polygonal → 0.0
          case (s, "point" | "line" | "multipoint" | "mls", _) => Some(zeroOf(s))
          case _ => None
        }.getOrElse(si)
      // edge-dispatched geography lengths (analysis rewrote ST_Length on a
      // stamped column into these): segment-loop leaf kernels, no WKB. The
      // geodesic length kernels walk LINESTRING components only, so areal
      // and puntal kinds answer 0.0 exactly like the WKB originals. The
      // sphere-perimeter dispatch composes `lengthSphere(boundary(g))` —
      // a polygon's boundary rings measure flat, non-areal boundaries
      // (endpoints / empties) measure 0.
      case si: StaticInvoke if si.arguments.length == 1 &&
          edgeLengthMetric.contains(si.functionName) &&
          si.staticObject.getName == "graft.core.Geodesy" =>
        val metric = edgeLengthMetric(si.functionName)
        val (arg, viaBoundary) = strip(si.arguments.head) match {
          case b: StaticInvoke if isGeomOp(b, "boundary") && b.arguments.length == 1 =>
            (b.arguments.head, true)
          case _ => (si.arguments.head, false)
        }
        measure(arg) {
          case (s, "line", w) if !viaBoundary =>
            Some(nm("edgeLengthLine", DoubleType, Seq(s, Literal(w), Literal(metric))))
          case (s, "mls", w) if !viaBoundary =>
            Some(nm("edgeLengthL2", DoubleType, Seq(s, Literal(w), Literal(metric))))
          case (s, "polygon", w) if viaBoundary =>
            Some(nm("edgeLengthL2", DoubleType, Seq(s, Literal(w), Literal(metric))))
          case (s, "mpoly", w) if viaBoundary =>
            Some(nm("edgeLengthL3", DoubleType, Seq(s, Literal(w), Literal(metric))))
          case (s, _, _) => Some(zeroOf(s))
        }.getOrElse(si)
      // edge-dispatched geography areas/perimeters over stamped native
      // polygon columns
      case si: StaticInvoke if isGeodesyOp(si, "areaSphere") && si.arguments.length == 1 =>
        measure(si.arguments.head) {
          case (s, "polygon", w) => Some(nm("sphereAreaPolygon", DoubleType, Seq(s, Literal(w))))
          case (s, "mpoly", w) => Some(nm("sphereAreaMultiPolygon", DoubleType, Seq(s, Literal(w))))
          case (s, "point" | "multipoint" | "line" | "mls", _) => Some(zeroOf(s))
          case _ => None
        }.getOrElse(si)
      case si: StaticInvoke if isGeodesyOp(si, "areaSpheroid") && si.arguments.length == 1 =>
        measure(si.arguments.head) {
          case (s, "polygon", w) => Some(nm("spheroidAreaPolygon", DoubleType, Seq(s, Literal(w))))
          case (s, "mpoly", w) => Some(nm("spheroidAreaMultiPolygon", DoubleType, Seq(s, Literal(w))))
          case (s, "point" | "multipoint" | "line" | "mls", _) => Some(zeroOf(s))
          case _ => None
        }.getOrElse(si)
      case si: StaticInvoke if si.arguments.length == 1 &&
          edgePerimMetric.contains(si.functionName) &&
          si.staticObject.getName == "graft.core.Geodesy" =>
        val metric = edgePerimMetric(si.functionName)
        measure(si.arguments.head) {
          case (s, "polygon", w) =>
            Some(nm("edgePerimRings", DoubleType, Seq(s, Literal(w), Literal(metric))))
          case (s, "mpoly", w) =>
            Some(nm("edgePerimL3", DoubleType, Seq(s, Literal(w), Literal(metric))))
          case (s, "point" | "multipoint" | "line" | "mls", _) => Some(zeroOf(s))
          case _ => None
        }.getOrElse(si)
      case si: StaticInvoke if isGeomOp(si, "centroid") && si.arguments.length == 1 =>
        // point kind excluded: its centroid IS the point, and rebuilding
        // the WKB would just re-create the transcode this rule removes
        measure(si.arguments.head) {
          case (s, "line", w) =>
            Some(nm("centroidLine", si.dataType, Seq(s, Literal(w))))
          case (s, "polygon", w) =>
            Some(nm("centroidPolygon", si.dataType, Seq(s, Literal(w))))
          case (s, "multipoint", w) =>
            Some(nm("centroidMultiPoint", si.dataType, Seq(s, Literal(w))))
          case (s, "mls", w) =>
            Some(nm("centroidMultiLineString", si.dataType, Seq(s, Literal(w))))
          case (s, "mpoly", w) =>
            Some(nm("centroidMultiPolygon", si.dataType, Seq(s, Literal(w))))
          case _ => None
        }.getOrElse(si)
      case si: StaticInvoke if isGeomOp(si, "nPoints") && si.arguments.length == 1 =>
        measure(si.arguments.head) {
          case (s, "point", w) =>
            Some(nm("numPointsPoint", IntegerType, Seq(s, Literal(w))))
          case (s, "line", _) => Some(Size(s, legacySizeOfNull = false))
          case (s, "multipoint", w) =>
            Some(nm("numPointsMultiPoint", IntegerType, Seq(s, Literal(w))))
          case (s, "polygon" | "mls", _) => Some(nm("numPointsL2", IntegerType, Seq(s)))
          case (s, "mpoly", _) => Some(nm("numPointsL3", IntegerType, Seq(s)))
          case _ => None
        }.getOrElse(si)
      // distance kernels against a native point column (round 18): the
      // point-radius scan shape — `WHERE ST_DWithin(g, ST_Point(…), r)` /
      // `ST_Distance(g, lit)` / `ST_DistanceSphere(g, lit)` — runs as
      // codegen'd leaf arithmetic (the exact kernel IEEE chains) instead
      // of per-row WKB serialize + JTS parse
      case si: StaticInvoke if isGeomOp(si, "distance") && si.arguments.length == 2 =>
        binCoords(si).map { case ((x1, y1), (x2, y2)) =>
          planarDist(x1, y1, x2, y2) }.getOrElse(si)
      case si: StaticInvoke if isGeodesyOp(si, "distanceSphere") && si.arguments.length == 2 =>
        binCoords(si).map { case ((x1, y1), (x2, y2)) =>
          sphereDist(x1, y1, x2, y2) }.getOrElse(si)
      case si: StaticInvoke if isGeomOp(si, "dWithin") && si.arguments.length == 3 &&
          strip(si.arguments(2)).foldable =>
        binCoords(si).map { case ((x1, y1), (x2, y2)) =>
          LessThanOrEqual(planarDist(x1, y1, x2, y2), strip(si.arguments(2)))
        }.getOrElse(si)
    }
    val usedNow = used.toSet
    if (usedNow.isEmpty) newNode
    else newNode.withNewChildren(newNode.children.map {
      case p: Project =>
        // pass the raw native column through so the inlined leaf reads
        // resolve above this Project; the dead ga_* alias goes to
        // ColumnPruning afterwards
        val need = p.projectList.collect {
          case a: Alias if usedNow.contains(a.exprId) => entries(a.exprId)._1
        }.distinct.filterNot(att => p.projectList.exists(_.toAttribute.exprId == att.exprId))
        if (need.isEmpty) p else p.copy(projectList = p.projectList ++ need)
      case other => other
    })
  }

  def apply(plan: LogicalPlan): LogicalPlan = {
    // escape hatch (also how the before/after benchmark isolates the WKB
    // path — GeoParquet.read re-registers the rule, so de-registration
    // alone cannot hold it off)
    if (!conf.getConfString("spark.graft.nativePointFastPath", "true").toBoolean)
      return plan
    val rewritten = plan.transformUp { case node => rewriteNode(node) }
    if (rewritten.fastEquals(plan)) plan
    else {
      // clean up what the rewrite orphaned: the unused ga_* alias (and
      // the passthrough, where nothing ended up needing it)
      val cleaned = CollapseProject(ColumnPruning(rewritten))
      // an optimizer rule must NEVER change the plan's output schema: the
      // passthrough column added to the transcode Project propagates
      // through schema-transparent parents (Sort/Filter at the root —
      // e.g. `SELECT * FROM pts ORDER BY ST_X(geometry)`), where
      // ColumnPruning has no consumer to prune against. Restore the
      // analyzed output with a trimming Project when that happens.
      if (cleaned.output.map(_.exprId) == plan.output.map(_.exprId)) cleaned
      else Project(plan.output, cleaned)
    }
  }
}
