package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions.{call_function, col}
import org.apache.spark.sql.types._

/** `ST_*` function surface: Catalyst `StaticInvoke` expressions over the
  * kernels in [[graft.core.GeomOps]] / [[graft.core.Geodesy]].
  *
  * Design notes (vs. the reference, geoarrow-rs):
  *  - The reference dispatches each kernel over 16 physical array types with
  *    a 1,182-line generated match (rust/geoarrow-expr-geo/src/util/
  *    downcast.rs). Here the geometry column is type-erased WKB
  *    (`BinaryType`), so dispatch is a JTS virtual call and each function is
  *    one static-method invocation that whole-stage codegen inlines — no UDF
  *    serialization, no Encoder round-trip.
  *  - `StaticInvoke(propagateNull=true)` reproduces the reference's
  *    null-propagation contract (null in → null out,
  *    rust/geoarrow-expr-geo/src/intersects.rs:22-44).
  *  - Registered under `ST_*` names in the session FunctionRegistry so both
  *    `spark.sql("… ST_Area(g) …")` and the typed Scala wrappers work.
  */
object GeoFunctions extends org.apache.spark.internal.Logging {

  private val G = BinaryType  // geometry = WKB bytes
  private val D = DoubleType
  private val I = IntegerType
  private val S = StringType
  private val B = BooleanType

  private val geomOps = Class.forName("graft.core.GeomOps")
  private val geodesy = Class.forName("graft.core.Geodesy")

  /** ST_MaximumInscribedCircle/ST_LargestEmptyCircle record shape —
    * the PostGIS (center geometry, nearest geometry, radius) triple. */
  private val circleType = StructType(Seq(
    StructField("center", BinaryType, nullable = false),
    StructField("nearest", BinaryType, nullable = false),
    StructField("radius", DoubleType, nullable = false)))

  private val bboxType = StructType(Seq(
    StructField("xmin", DoubleType, nullable = false),
    StructField("ymin", DoubleType, nullable = false),
    StructField("xmax", DoubleType, nullable = false),
    StructField("ymax", DoubleType, nullable = false)))

  /** ST_SquareGrid/ST_HexagonGrid cell — (i, j, geom), array-of-struct
    * for LATERAL VIEW explode (the Spark face of the set-returning
    * PostGIS grid generators). */
  private val gridCellArrayType = ArrayType(StructType(Seq(
    StructField("i", IntegerType, nullable = false),
    StructField("j", IntegerType, nullable = false),
    StructField("geom", BinaryType, nullable = false))), containsNull = false)

  private val geoArrow = Class.forName("graft.core.GeoArrowOps")

  // GeoArrow separated-coordinate layouts (GeoParquet 1.1 native encoding)
  private val gaCoord = StructType(Seq(
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false)))
  private val gaList1 = ArrayType(gaCoord, containsNull = false)
  private val gaList2 = ArrayType(gaList1, containsNull = false)
  private val gaList3 = ArrayType(gaList2, containsNull = false)
  private val gaCoordZ = StructType(Seq(
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false),
    StructField("z", DoubleType, nullable = false)))
  private val gaList1Z = ArrayType(gaCoordZ, containsNull = false)
  private val gaList2Z = ArrayType(gaList1Z, containsNull = false)
  private val gaList3Z = ArrayType(gaList2Z, containsNull = false)
  private val gaCoordM = StructType(Seq(
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false),
    StructField("m", DoubleType, nullable = false)))
  private val gaList1M = ArrayType(gaCoordM, containsNull = false)
  private val gaList2M = ArrayType(gaList1M, containsNull = false)
  private val gaList3M = ArrayType(gaList2M, containsNull = false)
  private val gaCoordZM = StructType(Seq(
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false),
    StructField("z", DoubleType, nullable = false),
    StructField("m", DoubleType, nullable = false)))
  private val gaList1ZM = ArrayType(gaCoordZM, containsNull = false)
  private val gaList2ZM = ArrayType(gaList1ZM, containsNull = false)
  private val gaList3ZM = ArrayType(gaList2ZM, containsNull = false)

  /** name → (method, returnType, paramTypes, implementing class), grouped by
    * arity so one SQL name can overload (e.g. ST_Buffer/2 and /3).
    * `cast=false` passes arguments through uncast — for kernels taking
    * schema-shaped nested inputs (GeoArrow struct/list layouts, whose exact
    * struct type varies by file and can't be a fixed Cast target). */
  private case class Sig(method: String, ret: DataType, params: Seq[DataType],
                         cls: Class[_] = geomOps, cast: Boolean = true)

  private val sigs: Seq[(String, Sig)] = Seq(
    // constructors + codecs
    "st_point" -> Sig("point", G, Seq(D, D)),
    "st_makepoint" -> Sig("point", G, Seq(D, D)),
    "st_makepoint" -> Sig("pointZ", G, Seq(D, D, D)),
    "st_makepoint" -> Sig("pointZM", G, Seq(D, D, D, D)),
    "st_makeenvelope" -> Sig("makeEnvelope", G, Seq(D, D, D, D)),
    "st_makeline" -> Sig("makeLine", G, Seq(G, G)),
    "st_linefrommultipoint" -> Sig("makeLineFromMultiPoint", G, Seq(G)),
    "st_makepolygon" -> Sig("makePolygon", G, Seq(G)),
    "st_makepolygon" -> Sig("makePolygonHoles", G, Seq(G, ArrayType(BinaryType)), cast = false),
    "st_collect" -> Sig("collect", G, Seq(ArrayType(BinaryType))),
    "st_collect" -> Sig("collect2", G, Seq(G, G)),
    "st_geomfromtext" -> Sig("geomFromText", G, Seq(S)),
    "st_geomfromwkt" -> Sig("geomFromText", G, Seq(S)),
    "st_astext" -> Sig("asText", S, Seq(G)),
    "st_geomfromwkb" -> Sig("geomFromWKB", G, Seq(G)),
    "st_asbinary" -> Sig("asBinary", G, Seq(G)),
    "st_assvg" -> Sig("asSvg", S, Seq(G)),
    // accessors
    "st_x" -> Sig("stX", D, Seq(G)),
    "st_y" -> Sig("stY", D, Seq(G)),
    "st_z" -> Sig("stZ", D, Seq(G)),
    "st_m" -> Sig("stM", D, Seq(G)),
    "st_hasz" -> Sig("hasZCol", B, Seq(G)),
    "st_hasm" -> Sig("hasMCol", B, Seq(G)),
    "st_pointz" -> Sig("pointZ", G, Seq(D, D, D)),
    "st_pointm" -> Sig("pointM", G, Seq(D, D, D)),
    "st_pointzm" -> Sig("pointZM", G, Seq(D, D, D, D)),
    "st_xmin" -> Sig("xMin", D, Seq(G)),
    "st_ymin" -> Sig("yMin", D, Seq(G)),
    "st_xmax" -> Sig("xMax", D, Seq(G)),
    "st_ymax" -> Sig("yMax", D, Seq(G)),
    "st_bbox" -> Sig("bbox", bboxType, Seq(G)),
    "st_minimumboundingradius" -> Sig("minimumBoundingRadius",
      StructType(Seq(
        StructField("center_x", DoubleType, nullable = false),
        StructField("center_y", DoubleType, nullable = false),
        StructField("radius", DoubleType, nullable = false))), Seq(G)),
    "st_minimumboundingcircle" -> Sig("minimumBoundingCircle", G, Seq(G)),
    "st_minimumboundingcircle" -> Sig("minimumBoundingCircleSegs", G, Seq(G, I)),
    "st_maximuminscribedcircle" -> Sig("maximumInscribedCircle", circleType, Seq(G)),
    "st_largestemptycircle" -> Sig("largestEmptyCircle", circleType, Seq(G, D, G)),
    "st_minimumclearance" -> Sig("minimumClearance", D, Seq(G)),
    "st_minimumclearanceline" -> Sig("minimumClearanceLine", G, Seq(G)),
    "st_triangulatepolygon" -> Sig("triangulatePolygon", G, Seq(G)),
    "st_3dlineinterpolatepoint" -> Sig("lineInterpolatePoint3D", G, Seq(G, D)),
    "st_node" -> Sig("nodeLines", G, Seq(G)),
    "st_unaryunion" -> Sig("unaryUnion", G, Seq(G)),
    "st_coverageunion" -> Sig("coverageUnion", G, Seq(G)),
    "st_coveragesimplify" -> Sig("coverageSimplify", G, Seq(G, D)),
    "st_coverageinvalidedges" -> Sig("coverageInvalidEdgesDefault", G, Seq(G)),
    "st_coverageinvalidedges" -> Sig("coverageInvalidEdges", G, Seq(G, D)),
    "st_coverageisvalid" -> Sig("coverageIsValidDefault", B, Seq(G)),
    "st_coverageisvalid" -> Sig("coverageIsValid", B, Seq(G, D)),
    "st_geometricmedian" -> Sig("geometricMedian", G, Seq(G)),
    "st_geometricmedian" -> Sig("geometricMedianTol", G, Seq(G, D, I)),
    "st_shiftlongitude" -> Sig("shiftLongitude", G, Seq(G)),
    "st_wrapx" -> Sig("wrapX", G, Seq(G, D, D)),
    "st_scroll" -> Sig("scroll", G, Seq(G, G)),
    "st_asmvtgeom" -> Sig("asMvtGeomDefault", G, Seq(G, G)),
    "st_asmvtgeom" -> Sig("asMvtGeom", G, Seq(G, G, I, I, B)),
    "st_npoints" -> Sig("nPoints", I, Seq(G)),
    "st_numgeometries" -> Sig("numGeometries", I, Seq(G)),
    "st_nrings" -> Sig("nRings", I, Seq(G)),
    "st_isclosed" -> Sig("isClosedCol", B, Seq(G)),
    "st_zmflag" -> Sig("zmFlag", I, Seq(G)),
    "st_forcecollection" -> Sig("forceCollection", G, Seq(G)),
    "st_memsize" -> Sig("memSize", I, Seq(G)),
    "st_quantizecoordinates" -> Sig("quantizeCoordinates", G, Seq(G, I)),
    "st_dimension" -> Sig("dimension", I, Seq(G)),
    "st_geometrytype" -> Sig("geometryType", S, Seq(G)),
    "st_isempty" -> Sig("isEmpty", B, Seq(G)),
    "st_isvalid" -> Sig("isValid", B, Seq(G)),
    "st_isvalidreason" -> Sig("isValidReason", S, Seq(G)),
    "st_issimple" -> Sig("isSimple", B, Seq(G)),
    "st_isring" -> Sig("isRing", B, Seq(G)),
    "st_srid" -> Sig("srid", I, Seq(G)),
    "st_setsrid" -> Sig("setSrid", G, Seq(G, I)),
    // measures
    "st_area" -> Sig("area", D, Seq(G)),
    "st_length" -> Sig("length", D, Seq(G)),
    "st_perimeter" -> Sig("perimeter", D, Seq(G)),
    "st_distance" -> Sig("distance", D, Seq(G, G)),
    "st_azimuth" -> Sig("azimuth", D, Seq(G, G)),
    "st_closestpoint" -> Sig("closestPoint", G, Seq(G, G)),
    "st_hexbin" -> Sig("hexBin", LongType, Seq(D, D, D)),
    "st_shortestline" -> Sig("shortestLine", G, Seq(G, G)),
    "st_hausdorffdistance" -> Sig("hausdorffDistance", D, Seq(G, G)),
    "st_frechetdistance" -> Sig("frechetDistance", D, Seq(G, G)),
    // predicates
    "st_intersects" -> Sig("intersects", B, Seq(G, G)),
    "st_contains" -> Sig("contains", B, Seq(G, G)),
    "st_within" -> Sig("within", B, Seq(G, G)),
    "st_covers" -> Sig("covers", B, Seq(G, G)),
    "st_coveredby" -> Sig("coveredBy", B, Seq(G, G)),
    "st_crosses" -> Sig("crosses", B, Seq(G, G)),
    "st_touches" -> Sig("touches", B, Seq(G, G)),
    "st_overlaps" -> Sig("overlaps", B, Seq(G, G)),
    "st_disjoint" -> Sig("disjoint", B, Seq(G, G)),
    "st_equals" -> Sig("equalsTopo", B, Seq(G, G)),
    "st_equalsexact" -> Sig("equalsExact", B, Seq(G, G, D)),
    "st_dwithin" -> Sig("dWithin", B, Seq(G, G, D)),
    "st_relate" -> Sig("relate", S, Seq(G, G)),
    "st_relate" -> Sig("relatePattern", B, Seq(G, G, S)),
    // unary transforms
    "st_centroid" -> Sig("centroid", G, Seq(G)),
    "st_envelope" -> Sig("envelope", G, Seq(G)),
    "st_center" -> Sig("center", G, Seq(G)),
    "st_boundary" -> Sig("boundary", G, Seq(G)),
    "st_reverse" -> Sig("reverse", G, Seq(G)),
    "st_offsetcurve" -> Sig("offsetCurve", G, Seq(G, D)),
    "st_flipcoordinates" -> Sig("flipCoordinates", G, Seq(G)),
    "st_addpoint" -> Sig("addPoint", G, Seq(G, G)),
    "st_addpoint" -> Sig("addPointAt", G, Seq(G, G, I)),
    "st_setpoint" -> Sig("setPoint", G, Seq(G, I, G)),
    "st_removepoint" -> Sig("removePoint", G, Seq(G, I)),
    "st_force2d" -> Sig("force2D", G, Seq(G)),
    "st_convexhull" -> Sig("convexHull", G, Seq(G)),
    "st_concavehull" -> Sig("concaveHull", G, Seq(G, D)),
    "st_pointonsurface" -> Sig("pointOnSurface", G, Seq(G)),
    "st_orientedenvelope" -> Sig("orientedEnvelope", G, Seq(G)),
    "st_buffer" -> Sig("buffer", G, Seq(G, D)),
    "st_buffer" -> Sig("bufferSegs", G, Seq(G, D, I)),
    "st_simplify" -> Sig("simplify", G, Seq(G, D)),
    "st_simplifypreservetopology" -> Sig("simplifyPreserveTopology", G, Seq(G, D)),
    "st_simplifyvw" -> Sig("simplifyVW", G, Seq(G, D)),
    "st_simplifyvwpreserve" -> Sig("simplifyVWPreserve", G, Seq(G, D)),
    "st_densify" -> Sig("densify", G, Seq(G, D)),
    // PostGIS ST_Segmentize (planar): same max-segment-length contract —
    // JTS Densifier splits every longer segment into equal pieces ≤ max
    "st_segmentize" -> Sig("densify", G, Seq(G, D)),
    "st_snap" -> Sig("snap", G, Seq(G, G, D)),
    "st_collectionextract" -> Sig("collectionExtract", G, Seq(G, I)),
    "st_boundingdiagonal" -> Sig("boundingDiagonal", G, Seq(G)),
    "st_angle" -> Sig("angle3", D, Seq(G, G, G)),
    "st_angle" -> Sig("angle4", D, Seq(G, G, G, G)),
    "st_split" -> Sig("split", G, Seq(G, G)),
    "st_sharedpaths" -> Sig("sharedPaths", G, Seq(G, G)),
    "st_isvalidtrajectory" -> Sig("isValidTrajectory", B, Seq(G)),
    "st_closestpointofapproach" -> Sig("closestPointOfApproach", D, Seq(G, G)),
    "st_distancecpa" -> Sig("distanceCPA", D, Seq(G, G)),
    "st_cpawithin" -> Sig("cpaWithin", B, Seq(G, G, D)),
    "st_maxdistance" -> Sig("maxDistance", D, Seq(G, G)),
    "st_longestline" -> Sig("longestLine", G, Seq(G, G)),
    "st_dfullywithin" -> Sig("dFullyWithin", B, Seq(G, G, D)),
    "st_expand" -> Sig("expand", G, Seq(G, D)),
    "st_expand" -> Sig("expandXY", G, Seq(G, D, D)),
    "st_lineextend" -> Sig("lineExtend", G, Seq(G, D)),
    "st_lineextend" -> Sig("lineExtendBoth", G, Seq(G, D, D)),
    "st_points" -> Sig("points", G, Seq(G)),
    "st_generatepoints" -> Sig("generatePoints", G, Seq(G, I, LongType)),
    "st_zmin" -> Sig("zMinOf", D, Seq(G)),
    "st_zmax" -> Sig("zMaxOf", D, Seq(G)),
    "st_mmin" -> Sig("mMinOf", D, Seq(G)),
    "st_mmax" -> Sig("mMaxOf", D, Seq(G)),
    "st_force3d" -> Sig("force3D", G, Seq(G, D)),
    "st_locatealong" -> Sig("locateAlong", G, Seq(G, D)),
    "st_locatebetween" -> Sig("locateBetween", G, Seq(G, D, D)),
    "st_3ddistance" -> Sig("distance3D", D, Seq(G, G)),
    "st_3ddwithin" -> Sig("dWithin3D", B, Seq(G, G, D)),
    "st_3dlength" -> Sig("length3D", D, Seq(G)),
    "st_3dperimeter" -> Sig("perimeter3D", D, Seq(G)),
    "st_3dintersects" -> Sig("intersects3D", B, Seq(G, G)),
    "st_3dmaxdistance" -> Sig("maxDistance3D", D, Seq(G, G)),
    "st_3dlongestline" -> Sig("longestLine3D", G, Seq(G, G)),
    "st_3dclosestpoint" -> Sig("closestPoint3D", G, Seq(G, G)),
    "st_3dshortestline" -> Sig("shortestLine3D", G, Seq(G, G)),
    "st_addmeasure" -> Sig("addMeasure", G, Seq(G, D, D)),
    "st_interpolatepoint" -> Sig("interpolatePoint", D, Seq(G, G)),
    "st_makevalid" -> Sig("makeValid", G, Seq(G)),
    "st_normalize" -> Sig("normalize", G, Seq(G)),
    "st_reduceprecision" -> Sig("reducePrecision", G, Seq(G, D)),
    "st_polylabel" -> Sig("polyLabel", G, Seq(G, D)),
    "st_linemerge" -> Sig("lineMerge", G, Seq(G)),
    "st_polygonize" -> Sig("polygonize", G, Seq(G)),
    "st_buildarea" -> Sig("buildArea", G, Seq(G)),
    "st_aslatlontext" -> Sig("asLatLonText", S, Seq(G)),
    "st_delaunaytriangles" -> Sig("delaunay", G, Seq(G)),
    "st_voronoipolygons" -> Sig("voronoi", G, Seq(G, D, D, D, D)),
    "st_voronoipolygons" -> Sig("voronoiClip", G, Seq(G, G)),
    "st_removerepeatedpoints" -> Sig("removeRepeatedPoints", G, Seq(G, D)),
    // affine
    "st_affine" -> Sig("affine", G, Seq(G, D, D, D, D, D, D)),
    "st_translate" -> Sig("translate", G, Seq(G, D, D)),
    "st_rotate" -> Sig("rotate", G, Seq(G, D)),
    "st_scale" -> Sig("scale", G, Seq(G, D, D)),
    // overlays
    "st_union" -> Sig("union", G, Seq(G, G)),
    "st_union" -> Sig("unaryUnion", G, Seq(G)),
    "st_intersection" -> Sig("intersection", G, Seq(G, G)),
    "st_difference" -> Sig("difference", G, Seq(G, G)),
    "st_symdifference" -> Sig("symDifference", G, Seq(G, G)),
    // linear referencing
    "st_lineinterpolatepoint" -> Sig("lineInterpolatePoint", G, Seq(G, D)),
    "st_linelocatepoint" -> Sig("lineLocatePoint", D, Seq(G, G)),
    "st_linesubstring" -> Sig("lineSubstring", G, Seq(G, D, D)),
    "st_multi" -> Sig("multi", G, Seq(G)),
    "st_skew" -> Sig("skew", G, Seq(G, D, D)),
    "st_chaikinsmoothing" -> Sig("chaikinSmoothing", G, Seq(G, I)),
    // GeoJSON codec
    "st_asgeojson" -> Sig("asGeoJson", S, Seq(G)),
    "st_geomfromgeojson" -> Sig("geomFromGeoJson", G, Seq(S)),
    // parts
    "st_numinteriorrings" -> Sig("numInteriorRings", I, Seq(G)),
    "st_interiorringn" -> Sig("interiorRingN", G, Seq(G, I)),
    // k-means plumbing (graft.operators.KMeans): codegen'd argmin over the
    // broadcast centroid arrays — internal, hence the graft_ prefix
    "graft_nearest_centroid" -> Sig("nearestCentroid", I,
      Seq(D, D, ArrayType(DoubleType), ArrayType(DoubleType)),
      Class.forName("graft.operators.KMeans"), cast = false),
    "st_dump" -> Sig("dump", ArrayType(BinaryType, containsNull = false), Seq(G)),
    "st_dumpsegments" -> Sig("dumpSegments", G, Seq(G)),
    "st_dumprings" -> Sig("dumpRings", G, Seq(G)),
    "st_filterbym" -> Sig("filterByM", G, Seq(G, D, D)),
    "st_hexagon" -> Sig("hexagonAtOrigin", G, Seq(D, I, I)),
    "st_hexagon" -> Sig("hexagon", G, Seq(D, I, I, G)),
    "st_square" -> Sig("squareAtOrigin", G, Seq(D, I, I)),
    "st_square" -> Sig("square", G, Seq(D, I, I, G)),
    "st_squaregrid" -> Sig("squareGrid", gridCellArrayType, Seq(D, G)),
    "st_hexagongrid" -> Sig("hexagonGrid", gridCellArrayType, Seq(D, G)),
    "st_subdivide" -> Sig("subdivide", ArrayType(BinaryType, containsNull = false), Seq(G, I)),
    "st_geometryn" -> Sig("geometryN", G, Seq(G, I)),
    "st_pointn" -> Sig("pointN", G, Seq(G, I)),
    "st_exteriorring" -> Sig("exteriorRing", G, Seq(G)),
    // geodesy
    "st_transform" -> Sig("transform", G, Seq(G, I, I), geodesy),
    // parameterized projections (custom grids without an EPSG code; the
    // stated ellipsoid's datum is the caller's responsibility)
    "st_transformtm" -> Sig("transformTm", G, Seq(G, D, D, D, D, D, D, D), geodesy),
    "st_transformtminv" -> Sig("transformTmInv", G, Seq(G, D, D, D, D, D, D, D), geodesy),
    "st_transformlaea" -> Sig("transformLaea", G, Seq(G, D, D, D, D, D, D), geodesy),
    "st_transformlaeainv" -> Sig("transformLaeaInv", G, Seq(G, D, D, D, D, D, D), geodesy),
    "st_transformalbers" -> Sig("transformAlbers", G, Seq(G, D, D, D, D, D, D, D, D), geodesy),
    "st_transformalbersinv" -> Sig("transformAlbersInv", G, Seq(G, D, D, D, D, D, D, D, D), geodesy),
    "st_transformlcc" -> Sig("transformLcc", G, Seq(G, D, D, D, D, D, D, D, D), geodesy),
    "st_transformlccinv" -> Sig("transformLccInv", G, Seq(G, D, D, D, D, D, D, D, D), geodesy),
    // ellipsoidal AEQD (WGS84-exact via the Karney geodesic problems) +
    // the meter-true geodesic buffer built on it
    "st_transformaeqd" -> Sig("transformAeqd", G, Seq(G, D, D), geodesy),
    "st_transformaeqdinv" -> Sig("transformAeqdInv", G, Seq(G, D, D), geodesy),
    "st_transformgda2020epoch" -> Sig("transformGda2020Epoch", G, Seq(G, D), geodesy),
    "st_transformgda2020epochinv" -> Sig("transformGda2020EpochInv", G, Seq(G, D), geodesy),
    "st_buffergeodesic" -> Sig("bufferGeodesic", G, Seq(G, D), geodesy),
    "st_buffergeodesic" -> Sig("bufferGeodesicSegs", G, Seq(G, D, I), geodesy),
    "st_closestpointgeodesic" -> Sig("closestPointGeodesic", G, Seq(G, G), geodesy),
    "st_shortestlinegeodesic" -> Sig("shortestLineGeodesic", G, Seq(G, G), geodesy),
    "st_intersectiongeodesic" -> Sig("intersectionGeodesic", G, Seq(G, G), geodesy),
    "st_uniongeodesic" -> Sig("unionGeodesic", G, Seq(G, G), geodesy),
    "st_differencegeodesic" -> Sig("differenceGeodesic", G, Seq(G, G), geodesy),
    "st_symdifferencegeodesic" -> Sig("symDifferenceGeodesic", G, Seq(G, G), geodesy),
    "st_projectgeodesic" -> Sig("projectGeodesic", G, Seq(G, D, D), geodesy),
    "st_azimuthgeodesic" -> Sig("azimuthGeodesic", D, Seq(G, G), geodesy),
    "st_segmentizegeodesic" -> Sig("segmentizeGeodesic", G, Seq(G, D), geodesy),
    "st_arcintersectsbox" -> Sig("arcIntersectsBox", B, Seq(G, D, D, D, D, D), geodesy),
    "st_lineinterpolatepointgeodesic" ->
      Sig("lineInterpolatePointGeodesic", G, Seq(G, D), geodesy),
    "st_linesubstringgeodesic" -> Sig("lineSubstringGeodesic", G, Seq(G, D, D), geodesy),
    "st_bboxgeodesic" -> Sig("bboxGeodesic", bboxType, Seq(G), geodesy),
    "st_envelopegeodesic" -> Sig("envelopeGeodesic", G, Seq(G), geodesy),
    "st_distancesphere" -> Sig("distanceSphere", D, Seq(G, G), geodesy),
    "st_project" -> Sig("projectSphere", G, Seq(G, D, D), geodesy),
    "st_lengthsphere" -> Sig("lengthSphere", D, Seq(G), geodesy),
    "st_areasphere" -> Sig("areaSphere", D, Seq(G), geodesy),
    "st_distancespheroid" -> Sig("distanceSpheroid", D, Seq(G, G), geodesy),
    "st_lengthspheroid" -> Sig("lengthSpheroid", D, Seq(G), geodesy),
    "st_areaspheroid" -> Sig("areaSpheroid", D, Seq(G), geodesy),
    "st_areaspheroidsigned" -> Sig("areaSpheroidSigned", D, Seq(G), geodesy),
    "st_distancegeodesic" -> Sig("distanceGeodesic", D, Seq(G, G), geodesy),
    "st_lengthgeodesic" -> Sig("lengthGeodesic", D, Seq(G), geodesy),
    "st_distancevincenty" -> Sig("distanceVincenty", D, Seq(G, G), geodesy),
    "st_lengthvincenty" -> Sig("lengthVincenty", D, Seq(G), geodesy),
    "st_perimeterspheroid" -> Sig("perimeterSpheroid", D, Seq(G), geodesy),
    "st_perimetergeodesic" -> Sig("perimeterGeodesic", D, Seq(G), geodesy),
    "st_geohash" -> Sig("geoHash", S, Seq(G, I), geodesy),
    "st_geomfromgeohash" -> Sig("geomFromGeoHash", G, Seq(S), geodesy),
    "st_geomfromgeohash" -> Sig("geomFromGeoHashPrec", G, Seq(S, I), geodesy),
    "st_pointfromgeohash" -> Sig("pointFromGeoHash", G, Seq(S), geodesy),
    "st_pointfromgeohash" -> Sig("pointFromGeoHashPrec", G, Seq(S, I), geodesy),
    "st_crosstrackdistance" -> Sig("crossTrackMeters", D, Seq(G, G, G), geodesy),
    "st_tilex" -> Sig("tileX", LongType, Seq(D, I), geodesy),
    "st_tiley" -> Sig("tileY", LongType, Seq(D, I), geodesy),
    "st_tileenvelope" -> Sig("tileEnvelope", G, Seq(I, LongType, LongType), geodesy),
    "st_signedarea" -> Sig("signedArea", D, Seq(G)),
    "st_forcepolygonccw" -> Sig("forcePolygonCCW", G, Seq(G)),
    "st_forcepolygoncw" -> Sig("forcePolygonCW", G, Seq(G)),
    // GeoArrow native-layout → WKB transcode (GeoParquet 1.1 non-WKB read;
    // args: nested coords column, hasZ, hasM — see graft.core.GeoArrowOps)
    "ga_point" -> Sig("gaPoint", G, Seq(NullType, B, B), geoArrow, cast = false),
    "ga_linestring" -> Sig("gaLineString", G, Seq(NullType, B, B), geoArrow, cast = false),
    "ga_multipoint" -> Sig("gaMultiPoint", G, Seq(NullType, B, B), geoArrow, cast = false),
    "ga_polygon" -> Sig("gaPolygon", G, Seq(NullType, B, B), geoArrow, cast = false),
    "ga_multilinestring" -> Sig("gaMultiLineString", G, Seq(NullType, B, B), geoArrow, cast = false),
    "ga_multipolygon" -> Sig("gaMultiPolygon", G, Seq(NullType, B, B), geoArrow, cast = false),
    "graft_downcast_promote" -> Sig("promoteTags", S, Seq(ArrayType(StringType)),
      Class.forName("graft.operators.Downcast")),
    // Hilbert cell of a bbox center over a fixed extent — spatial clustering
    "graft_hilbert" -> Sig("cell", LongType, Seq(bboxType, D, D, D, D),
      Class.forName("graft.core.Hilbert")),
    // WKB → GeoArrow export (XY; native-encoded GeoParquet write / Arrow interop)
    "ga_to_point" -> Sig("toPoint", gaCoord, Seq(G), geoArrow),
    "ga_to_linestring" -> Sig("toLineString", gaList1, Seq(G), geoArrow),
    "ga_to_multipoint" -> Sig("toMultiPoint", gaList1, Seq(G), geoArrow),
    "ga_to_polygon" -> Sig("toPolygon", gaList2, Seq(G), geoArrow),
    "ga_to_multilinestring" -> Sig("toMultiLineString", gaList2, Seq(G), geoArrow),
    "ga_to_multipolygon" -> Sig("toMultiPolygon", gaList3, Seq(G), geoArrow),
    // XYZ export twins (round 16; reference Dimension::XYZ arrays)
    "ga_to_point_z" -> Sig("toPointZ", gaCoordZ, Seq(G), geoArrow),
    "ga_to_linestring_z" -> Sig("toLineStringZ", gaList1Z, Seq(G), geoArrow),
    "ga_to_multipoint_z" -> Sig("toMultiPointZ", gaList1Z, Seq(G), geoArrow),
    "ga_to_polygon_z" -> Sig("toPolygonZ", gaList2Z, Seq(G), geoArrow),
    "ga_to_multilinestring_z" -> Sig("toMultiLineStringZ", gaList2Z, Seq(G), geoArrow),
    "ga_to_multipolygon_z" -> Sig("toMultiPolygonZ", gaList3Z, Seq(G), geoArrow),
    // XYM / XYZM export twins (round 17; the reference writes all four
    // dimensions natively — rust/geoparquet/src/writer/encode.rs:21-74)
    "ga_to_point_m" -> Sig("toPointM", gaCoordM, Seq(G), geoArrow),
    "ga_to_linestring_m" -> Sig("toLineStringM", gaList1M, Seq(G), geoArrow),
    "ga_to_multipoint_m" -> Sig("toMultiPointM", gaList1M, Seq(G), geoArrow),
    "ga_to_polygon_m" -> Sig("toPolygonM", gaList2M, Seq(G), geoArrow),
    "ga_to_multilinestring_m" -> Sig("toMultiLineStringM", gaList2M, Seq(G), geoArrow),
    "ga_to_multipolygon_m" -> Sig("toMultiPolygonM", gaList3M, Seq(G), geoArrow),
    "ga_to_point_zm" -> Sig("toPointZM", gaCoordZM, Seq(G), geoArrow),
    "ga_to_linestring_zm" -> Sig("toLineStringZM", gaList1ZM, Seq(G), geoArrow),
    "ga_to_multipoint_zm" -> Sig("toMultiPointZM", gaList1ZM, Seq(G), geoArrow),
    "ga_to_polygon_zm" -> Sig("toPolygonZM", gaList2ZM, Seq(G), geoArrow),
    "ga_to_multilinestring_zm" -> Sig("toMultiLineStringZM", gaList2ZM, Seq(G), geoArrow),
    "ga_to_multipolygon_zm" -> Sig("toMultiPolygonZM", gaList3ZM, Seq(G), geoArrow),
  )

  /** Test hook for the kernel-matrix null audit (GeoPropertySpec): every
    * StaticInvoke below is built with `returnNullable = false`, so a kernel
    * that returned Scala null on non-null input would produce garbage under
    * codegen instead of failing. The spec invokes each target method over
    * adversarial inputs and asserts non-null-or-throw. */
  private[graft] def kernelMatrix: Seq[(String, Class[_], String, Seq[DataType], DataType)] =
    sigs.map { case (n, s) => (n, s.cls, s.method, s.params, s.ret) }

  private val byName: Map[String, Map[Int, Sig]] =
    sigs.groupBy(_._1).map { case (n, ss) =>
      // duplicate (name, arity) rows would silently shadow each other via
      // Seq→Map ordering — fail at class-init instead, so a registry edit
      // that collides is caught by the first test that touches GeoFunctions
      val collisions = ss.groupBy(_._2.params.length).filter(_._2.length > 1)
      require(collisions.isEmpty,
        s"GeoFunctions: duplicate registration of $n at arity " +
          s"${collisions.keys.toSeq.sorted.mkString(",")} — " +
          s"methods ${collisions.values.flatten.map(_._2.method).mkString(", ")}")
      n -> ss.map { case (_, s) => s.params.length -> s }.toMap
    }

  // ST_Buffer's third argument is overloaded BY TYPE, PostGIS-style:
  // an integer is quadrant segments, a string is a style spec
  // ('endcap=round|flat|square'). Arity alone can't split these, so the
  // builder dispatches on the resolved type of arg 3.
  private val bufferStyledSig = Sig("bufferStyled", G, Seq(G, D, S))

  private def build(name: String, overloads: Map[Int, Sig])(args: Seq[Expression]): Expression = {
    val byType =
      if (name == "st_buffer" && args.length == 3) {
        // the analyzer only invokes builders once children resolve; if that
        // ever changes, fail loudly rather than silently routing a style
        // string into the integer overload (Cast(string→INT) = NULL)
        if (!args(2).resolved) throw new IllegalArgumentException(
          "ST_Buffer: third argument is unresolved — cannot dispatch the " +
            "quad_segs (INT) vs style-string (STRING) overload")
        if (args(2).dataType == StringType) Some(bufferStyledSig) else None
      } else None
    val sig = byType.getOrElse(overloads.getOrElse(args.length, throw new IllegalArgumentException(
      s"$name expects ${overloads.keys.toSeq.sorted.mkString("/")} args, got ${args.length}")))
    // plain-SQL edges dispatch: ST_Length/ST_Area/ST_Perimeter over a
    // DIRECT reference to a `geoparquet.edges`-stamped column rewrite to
    // the declared model's kernel at ANALYSIS time (the builder runs with
    // resolved children — the st_buffer type-dispatch precedent). The
    // optimizer is too late: the metadata-carrying alias collapses away
    // before user rules run, and foldable inputs constant-fold planar.
    edgesDispatch(name, args).getOrElse {
      val cast =
        if (sig.cast) args.zip(sig.params).map { case (e, t) => Cast(e, t) }
        else args
      StaticInvoke(sig.cls, sig.ret, sig.method, cast, Nil,
        propagateNull = true, returnNullable = false)
    }
  }

  /** planar SQL name → (spherical, karney, andoyer/thomas, vincenty)
    * kernel names on [[graft.core.Geodesy]] (spheroid AREAS all route to
    * the Karney ellipsoidal area — the approximation papers define
    * distance, not area; the sphere perimeter composes haversine over the
    * boundary). Reference semantics: the edges declaration "does affect
    * … length, and area calculations" (rust/geoarrow-schema/src/edges.rs:3-8),
    * so measuring a spherical-edges column planar would be a silent
    * mismeasurement. Scope is deliberately a DIRECT column reference —
    * a derived geometry (`ST_Length(ST_Simplify(g, t))`) keeps the measure
    * the user wrote. Disable with `spark.graft.edges.dispatch=false`. */
  private val edgeMeasureVariants: Map[String, (String, String, String, String)] = Map(
    "st_length" -> (("lengthSphere", "lengthGeodesic", "lengthSpheroid", "lengthVincenty")),
    "st_area" -> (("areaSphere", "areaSpheroid", "areaSpheroid", "areaSpheroid")),
    "st_perimeter" -> (("perimeterSphereViaBoundary", "perimeterGeodesic",
      "perimeterSpheroid", "perimeterSpheroid")))

  /** Binary-measure half of the dispatch: the reference's edges contract
    * names DISTANCE explicitly ("does affect distance, intersection,
    * bounding, overlay, length, and area",
    * rust/geoarrow-schema/src/edges.rs:3-8). Edge-aware
    * intersection/overlay is beyond the reference's own compute layer too
    * (its geo kernels run planar regardless of the declaration) — that
    * half is documented divergence-shared-with-reference, not implemented.
    *
    * Plan interactions: a rewritten ST_DWithin in a JOIN condition is
    * re-recognized by [[graft.plans.SpatialJoinStrategy]] (geodesic
    * dWithin family — never BNLJ), and the kNN WINDOW shape
    * (`ROW_NUMBER() OVER (ORDER BY ST_Distance(stamped, g))`) is
    * intercepted by the adaptive kNN operator with the matching METERS
    * metric (`SpatialJoin.knn(metric = …)`) — candidate grids convert
    * meters→degrees conservatively with a radius-dependent latitude
    * allowance, and their lon cells wrap the ±180 antimeridian (the join
    * family handles the seam via full-span pads). Because the kernels are
    * first-coordinate distance, the binary dispatch additionally requires
    * point-only geometry_types evidence on every stamped attribute (see
    * the gate in [[edgesDispatch]]). */
  private val edgeDistanceVariants: Map[String, (String, String, String, String)] = Map(
    "st_distance" -> (("distanceSphere", "distanceGeodesic", "distanceSpheroid",
      "distanceVincenty")),
    "st_dwithin" -> (("distanceSphere", "distanceGeodesic", "distanceSpheroid",
      "distanceVincenty")))

  /** Overlay half of the dispatch (round 19 — closes the last named piece
    * of the edges contract, which the reference's compute layer leaves
    * planar): ST_Intersection/Union/Difference/SymDifference over a
    * stamped column route to the shared local-AEQD geodesic overlay
    * ([[graft.core.Aeqd.overlayGeodesic]]). The construction is
    * model-INDEPENDENT (every recognized model is WGS84-datum and overlay
    * is topology, not measure — the exact Karney plane serves them all).
    * True-geometry semantics, so no point-only gate; continental extents
    * fail loudly with the split hint rather than silently going planar. */
  private val edgeOverlayVariants: Map[String, String] = Map(
    "st_intersection" -> "intersectionGeodesic",
    "st_union" -> "unionGeodesic",
    "st_difference" -> "differenceGeodesic",
    "st_symdifference" -> "symDifferenceGeodesic")

  /** Boolean predicates under an edge model (round 19 — the documented
    * decision, not a rewrite): for POINT geometries every predicate is
    * model-INDEPENDENT (a point has no edges — equality/containment of
    * zero-dimensional sets reads the same under any edge tracing), so the
    * planar kernel already returns the model-true answer and point-only
    * stamped columns dispatch to… exactly what the user wrote. For
    * non-point stamped columns the predicates stay PLANAR — a divergence
    * SHARED with the reference (its compute layer has no geodesic
    * predicate either) — but loudly: one warning per query build names the
    * columns and the segmentize workaround. */
  private val edgePredicateNames: Set[String] = Set(
    "st_intersects", "st_contains", "st_within", "st_covers", "st_coveredby",
    "st_crosses", "st_disjoint", "st_equals", "st_overlaps", "st_touches",
    "st_relate")

  /** The declared edges model of a DIRECT stamped column reference, or None.
    * Non-attribute expressions (derived geometry) deliberately return None:
    * `ST_Length(ST_Simplify(g, t))` keeps the measure the user wrote. */
  private def stampOf(e: Expression): Option[String] = e match {
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
        if a.resolved && a.metadata.contains("geoparquet.edges") =>
      Some(a.metadata.getString("geoparquet.edges").toLowerCase).filterNot(_ == "planar")
    case _ => None
  }

  /** True when the column's declared geometry_types constraint (stamped
    * from the GeoParquet footer / GeoArrow extension name) proves every
    * value is a point ("Point", "Point Z", …). An absent or empty
    * constraint proves nothing — returns false. */
  private def pointOnlyTypes(md: org.apache.spark.sql.types.Metadata): Boolean =
    md.contains("geoparquet.geometry_types") && {
      val ts = md.getString("geoparquet.geometry_types")
        .split(",").map(_.trim).filter(_.nonEmpty)
      ts.nonEmpty && ts.forall(_.takeWhile(_ != ' ') == "Point")
    }

  private def pickVariant(model: String,
                          v: (String, String, String, String)): Option[String] = model match {
    case "spherical" => Some(v._1)
    case "karney" => Some(v._2)
    case "andoyer" | "thomas" => Some(v._3)
    case "vincenty" => Some(v._4)
    case _ => None
  }

  private def edgesDispatch(name: String, args: Seq[Expression]): Option[Expression] = {
    val unary = args.length == 1 && edgeMeasureVariants.contains(name)
    val binary = args.length >= 2 && edgeDistanceVariants.contains(name) &&
      (name != "st_dwithin" || args.length == 3)
    val overlay = args.length == 2 && edgeOverlayVariants.contains(name)
    val bounding = args.length == 1 && (name == "st_envelope" || name == "st_bbox")
    val predicate = args.length >= 2 && edgePredicateNames.contains(name)
    if (!unary && !binary && !overlay && !bounding && !predicate) return None
    val stamps = (if (unary || bounding) args.take(1) else args.take(2)).flatMap(stampOf)
    if (stamps.isEmpty) return None
    val model = stamps.distinct match {
      case Seq(one) => one
      case many =>
        // two stamped columns with CONFLICTING declarations: no model is
        // right, so keep the planar measure the user wrote — but loudly,
        // because silence here is the mismeasurement this feature targets
        logWarning(s"$name over columns with conflicting edges declarations " +
          s"(${many.mkString(" vs ")}) — measuring planar; use the explicit " +
          "st_distance<model> variants to pick one")
        return None
    }
    val enabled = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.edges.dispatch", "true").toBoolean
    if (!enabled) return None
    if (predicate) {
      // the documented predicate decision (see edgePredicateNames): points
      // are model-independent, so the planar kernel already answers
      // exactly; a stamped column not proven point-only gets the planar
      // answer WITH a warning naming the workaround
      val unproven = args.take(2).collect {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
            if a.metadata.contains("geoparquet.edges") &&
              !pointOnlyTypes(a.metadata) => a.name
      }
      if (unproven.nonEmpty)
        logWarning(s"$name over edges='$model' stamped non-point column(s) " +
          s"${unproven.mkString(", ")} — evaluating PLANAR (shared divergence " +
          "with the reference: boolean predicates have no geodesic kernel). " +
          "Densify with ST_SegmentizeGeodesic first if chord-vs-arc topology " +
          "matters at your extent, or set spark.graft.edges.dispatch=false " +
          "to silence.")
      return None
    }
    def invoke(cls: Class[_], method: String, in: Seq[Expression]): Expression =
      StaticInvoke(cls, D, method, in.map(Cast(_, G)), Nil,
        propagateNull = true, returnNullable = false)
    if (bounding) {
      // bounding under an edge model (edges.rs:3-8 names it): the chord
      // (vertex) envelope is extended poleward to each segment's exact
      // vertex latitude. Model-independent like the overlays — the bound
      // is conservative for every recognized model — and never loud
      // (closed-form, no extent limit), so only the global kill switch
      // applies. An unrecognized declaration keeps the planar bound, loudly.
      if (pickVariant(model, ("g", "g", "g", "g")).isEmpty) {
        logWarning(s"$name over a column declaring edges='$model' (not a " +
          "recognized model) — bounding PLANAR (vertex envelope).")
        return None
      }
      val method = if (name == "st_bbox") "bboxGeodesic" else "envelopeGeodesic"
      val rt = if (name == "st_bbox") bboxType else G
      return Some(StaticInvoke(geodesy, rt, method,
        Seq(Cast(args.head, G)), Nil, propagateNull = true, returnNullable = false))
    }
    if (overlay) {
      // the overlay half dispatches to a LOUD-FAILURE kernel (extent /
      // antipode requires), so it gets its own opt-out: users who need the
      // old always-succeeding planar overlays over stamped data keep them
      // without losing the measure/distance dispatch
      val overlayEnabled = org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.graft.edges.dispatch.overlay", "true").toBoolean
      if (!overlayEnabled) {
        logWarning(s"$name over an edges='$model' stamped column with " +
          "spark.graft.edges.dispatch.overlay=false — overlaying PLANAR.")
        return None
      }
      // model-independent: any recognized model takes the shared geodesic
      // plane; an unrecognized declaration keeps the planar overlay, loudly
      if (pickVariant(model, ("g", "g", "g", "g")).isEmpty) {
        logWarning(s"$name over a column declaring edges='$model' (not a " +
          "recognized model) — overlaying PLANAR.")
        return None
      }
      return Some(StaticInvoke(geodesy, G, edgeOverlayVariants(name),
        args.take(2).map(Cast(_, G)), Nil,
        propagateNull = true, returnNullable = false))
    }
    if (unary) {
      val target = pickVariant(model, edgeMeasureVariants(name)).getOrElse {
        // an UNKNOWN declaration stamped from an external file keeps the
        // planar measure the user wrote — throwing here would break EVERY
        // plain measure over that table, a regression from pre-dispatch
        // behavior. The EXPLICIT helpers (edgeLength/edgeArea/edgePerimeter)
        // still fail loudly: calling them is an opt-in to the edge model.
        logWarning(s"$name over a column declaring edges='$model' (not a " +
          "recognized model: planar|spherical|karney|andoyer|thomas|vincenty) " +
          "— measuring PLANAR. Set spark.graft.edges.dispatch=false to " +
          "silence, or rewrite the declaration.")
        return None
      }
      Some(
        if (target == "perimeterSphereViaBoundary")
          invoke(geodesy, "lengthSphere", Seq(
            StaticInvoke(geomOps, G, "boundary", Seq(Cast(args.head, G)), Nil,
              propagateNull = true, returnNullable = false)))
        else invoke(geodesy, target, Seq(args.head)))
    } else {
      val target = pickVariant(model, edgeDistanceVariants(name)).getOrElse {
        logWarning(s"$name over a column declaring edges='$model' (not a " +
          "recognized model) — measuring PLANAR.")
        return None
      }
      // the geodesic distance kernels read only the FIRST coordinate of
      // each WKB — exact for points, silently different semantics for
      // lines/polygons (planar ST_Distance is true geometry distance, JTS
      // isWithinDistance). This dispatch is AUTOMATIC, so every stamped
      // attribute must carry point-only evidence (the source's
      // geometry_types constraint, stamped by GeoParquet.read/ArrowIpc);
      // a stamped column without it keeps the planar measure — loudly.
      // Derived expressions and unstamped point views pass: the user
      // constructed those geometries in the query.
      val unproven = args.take(2).collect {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
            if a.metadata.contains("geoparquet.edges") &&
              !pointOnlyTypes(a.metadata) => a.name
      }
      if (unproven.nonEmpty) {
        logWarning(s"$name over edges='$model' stamped column(s) " +
          s"${unproven.mkString(", ")} without a point-only geometry_types " +
          "declaration — keeping the PLANAR measure (the geodesic kernels " +
          "are point-to-point; use the explicit st_distance<model> " +
          "variants to opt in for non-point geometry).")
        return None
      }
      val dist = invoke(geodesy, target, args.take(2))
      Some(name match {
        case "st_distance" => dist
        // ST_DWithin under an edge model: the threshold is in the model's
        // units (meters), compared against the model's distance
        case "st_dwithin" =>
          org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(
            dist, Cast(args(2), D))
      })
    }
  }

  /** `ST_BBox(g)` as its SQL builder builds it, edges dispatch included:
    * the per-row bounds that `ST_Extent_Agg` folds. */
  private[functions] def bbox(g: Expression): Expression = build("st_bbox", byName("st_bbox"))(Seq(g))

  /** graft's whole SQL surface, one `injectFunction` descriptor per name:
    * the Geo scalars, the Geo aggregates, and the Text and Media functions.
    * [[graft.GraftExtensions]] injects this list and [[register]] installs
    * it, so both wirings hand Spark the SAME builder objects. Resolution
    * time is the point of injection: Spark 4 raises UNRESOLVED_ROUTINE
    * during resolution, so a post-resolution hook can never serve a
    * session's first query. A `val`, not a `def`: [[register]] recognizes
    * its own earlier install by builder identity. */
  private[graft] val functionDescriptors: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = {
    val geo = byName.toSeq.map { case (name, overloads) => name -> build(name, overloads) _ }
    for {
      (owner, builders) <- Seq(this -> geo, GeoAggregates -> GeoAggregates.builders,
        TextFunctions -> TextFunctions.builders, MediaFunctions -> MediaFunctions.builders)
      (name, builder) <- builders
    } yield (FunctionIdentifier(name),
      new ExpressionInfo(owner.getClass.getName.stripSuffix("$"), name), builder)
  }

  /** Installs graft's SQL surface ([[functionDescriptors]]), the
    * spatial-join planner strategy and the optimizer rules on `spark`.
    * Idempotent and cheap to repeat: a name already bound to graft's own
    * builder is skipped, and any other binding — including the Spark
    * builtins graft shadows (`st_asbinary`, `st_geomfromwkb`, `st_srid`,
    * `st_setsrid`) — is replaced. */
  def register(spark: SparkSession): Unit = synchronized {
    val reg = spark.sessionState.functionRegistry
    functionDescriptors.foreach { case (id, info, builder) =>
      if (!reg.lookupFunctionBuilder(id).exists(_ eq builder))
        reg.registerFunction(id, info, builder)
    }
    // auto-plan `JOIN … ON ST_pred(l, r)` as SpatialJoinExec (else Spark
    // falls back to BroadcastNestedLoopJoin, O(n·m))
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(graft.plans.SpatialJoinStrategy))
      exp.extraStrategies = exp.extraStrategies :+ graft.plans.SpatialJoinStrategy
    // fold COUNT(*)-over-spatial-join into the probe loop (g15's shape)
    if (!exp.extraOptimizations.contains(graft.plans.SpatialCountFoldRule))
      exp.extraOptimizations = exp.extraOptimizations :+ graft.plans.SpatialCountFoldRule
    // native columnar fast path: coordinate accessors, measures and bounds
    // (ST_BBox, hence ST_Extent_Agg) over a ga_* scan transcode read the
    // struct and list leaves directly (no WKB/JTS)
    if (!exp.extraOptimizations.contains(graft.plans.NativePointFastPath))
      exp.extraOptimizations = exp.extraOptimizations :+ graft.plans.NativePointFastPath
  }

  /** Locate geometry column(s) in a schema — the reference's `geometry_col`
    * (python geoarrow `_operations`; legacy `Table::geometry_column`,
    * rust/geoarrow-old/benches/nybb.rs:18). There the marker is the Arrow
    * extension metadata; here geometry is type-erased WKB, so the markers
    * are (a) field metadata `geoparquet.encoding` stamped by the geoparquet
    * reader, (b) the conventional `geometry`/`geom` name on a binary column. */
  def geometryColumns(schema: StructType): Seq[String] =
    schema.fields.collect {
      case f if f.dataType == BinaryType &&
        (f.metadata.contains("geoparquet.encoding") ||
         f.name.equalsIgnoreCase("geometry") || f.name.equalsIgnoreCase("geom")) => f.name
    }.toSeq

  // ── edge-model measure dispatch (geoparquet.edges column metadata) ─────

  /** The SQL measure function matching a column's declared edge model
    * (reference: per-column `Edges` metadata,
    * rust/geoarrow-schema/src/edges.rs:35-70). Omitted/`planar` → the
    * euclidean measure; `spherical` → the sphere formulas (haversine
    * length, Chamberlain–Duquette area); `karney` → the Karney-EXACT
    * geodesic length (`st_lengthgeodesic`, Karney 2013 — the formula the
    * declaration names); `andoyer`/`thomas` → the Andoyer/Thomas-family
    * spheroid approximation (`st_lengthspheroid`); `vincenty` → Vincenty
    * length. Spheroid AREAS all route to the Karney ellipsoidal area —
    * the andoyer/thomas/vincenty papers define distance, not area.
    * Unknown declarations fail loudly rather than silently measuring
    * planar. */
  private def edgeVariant(edges: Option[String], planar: String, sphere: String,
                          karney: String, spheroid: String, vincenty: String): String =
    edges.map(_.toLowerCase) match {
      case None | Some("planar") => planar
      case Some("spherical") => sphere
      case Some("karney") => karney
      case Some("andoyer") | Some("thomas") => spheroid
      case Some("vincenty") => vincenty
      case Some(other) => throw new IllegalArgumentException(
        s"unknown edges declaration '$other' (planar|spherical|karney|andoyer|thomas|vincenty)")
    }

  private def declaredEdges(df: org.apache.spark.sql.DataFrame, colName: String): Option[String] =
    df.schema.fields.find(_.name == colName)
      .filter(_.metadata.contains("geoparquet.edges"))
      .map(_.metadata.getString("geoparquet.edges"))

  /** Length of `df`'s geometry column under ITS OWN declared edge model —
    * the `geoparquet.edges` metadata stamped by [[graft.sources.GeoParquet.read]]
    * routes to the matching formula, so a spherical-edges file measures
    * great-circle meters and a planar file cartesian units without the
    * caller hand-picking a variant. */
  def edgeLength(df: org.apache.spark.sql.DataFrame, geometryColumn: String = "geometry"): Column =
    call_function(edgeVariant(declaredEdges(df, geometryColumn),
      "st_length", "st_lengthsphere", "st_lengthgeodesic", "st_lengthspheroid",
      "st_lengthvincenty"),
      col(geometryColumn))

  /** Area under the column's declared edge model — see [[edgeLength]]. */
  def edgeArea(df: org.apache.spark.sql.DataFrame, geometryColumn: String = "geometry"): Column =
    call_function(edgeVariant(declaredEdges(df, geometryColumn),
      "st_area", "st_areasphere", "st_areaspheroid", "st_areaspheroid",
      "st_areaspheroid"),
      col(geometryColumn))

  /** Polygon perimeter under the column's declared edge model — see
    * [[edgeLength]]. Spherical composes haversine length over the
    * boundary rings (no dedicated sphere-perimeter kernel needed);
    * karney → the Karney-exact `st_perimetergeodesic`; the approximation
    * family → `st_perimeterspheroid`. */
  def edgePerimeter(df: org.apache.spark.sql.DataFrame, geometryColumn: String = "geometry"): Column =
    declaredEdges(df, geometryColumn).map(_.toLowerCase) match {
      case Some("spherical") =>
        call_function("st_lengthsphere", call_function("st_boundary", col(geometryColumn)))
      case e =>
        call_function(edgeVariant(e,
          "st_perimeter", "<unreachable>", "st_perimetergeodesic",
          "st_perimeterspheroid", "st_perimeterspheroid"),
          col(geometryColumn))
    }

  /** Distance from `df`'s stamped geometry column to `other` under the
    * column's declared edge model — spherical → haversine meters,
    * karney → exact geodesic, andoyer/thomas → Andoyer–Lambert,
    * vincenty → Vincenty. Unknown declarations fail loudly (calling this
    * helper is an opt-in to the edge model; contrast the plain-SQL
    * dispatch, which keeps planar). */
  def edgeDistance(df: org.apache.spark.sql.DataFrame, other: Column,
                   geometryColumn: String = "geometry"): Column =
    call_function(edgeVariant(declaredEdges(df, geometryColumn),
      "st_distance", "st_distancesphere", "st_distancegeodesic",
      "st_distancespheroid", "st_distancevincenty"),
      col(geometryColumn), other)

  /** `ST_DWithin` under the column's declared edge model: the threshold is
    * in the model's units (meters for every non-planar model). */
  def edgeDWithin(df: org.apache.spark.sql.DataFrame, other: Column, dist: Column,
                  geometryColumn: String = "geometry"): Column = {
    declaredEdges(df, geometryColumn).map(_.toLowerCase) match {
      case None | Some("planar") =>
        call_function("st_dwithin", col(geometryColumn), other, dist)
      case e =>
        call_function(edgeVariant(e,
          "<unreachable>", "st_distancesphere", "st_distancegeodesic",
          "st_distancespheroid", "st_distancevincenty"),
          col(geometryColumn), other) <= dist
    }
  }

  // ── typed Scala wrappers (require register(spark) on the active session) ──

  def st_point(x: Column, y: Column): Column = call_function("st_point", x, y)
  def st_makeEnvelope(xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    call_function("st_makeenvelope", xmin, ymin, xmax, ymax)
  def st_geomFromText(wkt: Column): Column = call_function("st_geomfromtext", wkt)
  def st_asText(g: Column): Column = call_function("st_astext", g)
  def st_area(g: Column): Column = call_function("st_area", g)
  def st_length(g: Column): Column = call_function("st_length", g)
  def st_distance(a: Column, b: Column): Column = call_function("st_distance", a, b)
  def st_intersects(a: Column, b: Column): Column = call_function("st_intersects", a, b)
  def st_contains(a: Column, b: Column): Column = call_function("st_contains", a, b)
  def st_within(a: Column, b: Column): Column = call_function("st_within", a, b)
  def st_dwithin(a: Column, b: Column, d: Column): Column = call_function("st_dwithin", a, b, d)
  def st_buffer(g: Column, dist: Column): Column = call_function("st_buffer", g, dist)
  def st_centroid(g: Column): Column = call_function("st_centroid", g)
  def st_envelope(g: Column): Column = call_function("st_envelope", g)
  def st_convexHull(g: Column): Column = call_function("st_convexhull", g)
  def st_simplify(g: Column, tol: Column): Column = call_function("st_simplify", g, tol)
  def st_dump(g: Column): Column = call_function("st_dump", g)
  def st_subdivide(g: Column, maxVertices: Column): Column =
    call_function("st_subdivide", g, maxVertices)
  def st_bbox(g: Column): Column = call_function("st_bbox", g)
  def st_x(g: Column): Column = call_function("st_x", g)
  def st_y(g: Column): Column = call_function("st_y", g)
  def st_transform(g: Column, from: Column, to: Column): Column =
    call_function("st_transform", g, from, to)
  def st_npoints(g: Column): Column = call_function("st_npoints", g)
  def st_union(a: Column, b: Column): Column = call_function("st_union", a, b)
  def st_intersection(a: Column, b: Column): Column = call_function("st_intersection", a, b)
  def st_azimuth(a: Column, b: Column): Column = call_function("st_azimuth", a, b)
  def st_tileX(lon: Column, z: Column): Column = call_function("st_tilex", lon, z)
  def st_tileY(lat: Column, z: Column): Column = call_function("st_tiley", lat, z)
  def st_tileEnvelope(z: Column, x: Column, y: Column): Column =
    call_function("st_tileenvelope", z, x, y)
  def st_closestPoint(a: Column, b: Column): Column = call_function("st_closestpoint", a, b)
  def st_shortestLine(a: Column, b: Column): Column = call_function("st_shortestline", a, b)
  def st_reducePrecision(g: Column, gridSize: Column): Column =
    call_function("st_reduceprecision", g, gridSize)
}
