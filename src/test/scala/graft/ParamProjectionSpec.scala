package graft

/** Parameterized projections (round 18): the four projection engines
  * driven by RAW parameters through SQL — the escape hatch for grids
  * without an EPSG code in the registry. Pinned by equivalence: custom
  * parameters that ARE a registered CRS's parameters must reproduce
  * `ST_Transform` exactly (same engine, same constants), and inverses
  * must roundtrip. */
class ParamProjectionSpec extends SparkTestBase {

  test("custom TM with UTM-32N parameters == ST_Transform(…, 32632); inverse roundtrips") {
    val rows = sql("""
      SELECT ST_AsText(ST_TransformTM(p, 6378137.0D, 298.257223563D, 0.9996D,
                                      9.0D, 0.0D, 500000.0D, 0.0D)) AS custom,
             ST_AsText(ST_Transform(p, 4326, 32632)) AS epsg,
             ST_AsText(ST_TransformTMInv(
               ST_TransformTM(p, 6378137.0D, 298.257223563D, 0.9996D, 9.0D, 0.0D, 500000.0D, 0.0D),
               6378137.0D, 298.257223563D, 0.9996D, 9.0D, 0.0D, 500000.0D, 0.0D)) AS back
      FROM (SELECT ST_Point(7.5 + CAST(id AS DOUBLE) / 10.0, 45.0 + CAST(id AS DOUBLE)) AS p
            FROM range(10))""").collect()
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(1), s"${r.getString(0)} vs ${r.getString(1)}")
    }
    // inverse roundtrip to sub-nm
    val back = sql("""
      SELECT ST_X(g) AS x, ST_Y(g) AS y FROM (SELECT ST_TransformTMInv(
        ST_TransformTM(ST_Point(8.2, 47.4), 6378137.0D, 298.257223563D, 0.9996D,
                       9.0D, 0.0D, 500000.0D, 0.0D),
        6378137.0D, 298.257223563D, 0.9996D, 9.0D, 0.0D, 500000.0D, 0.0D) AS g)""").head()
    assert(math.abs(back.getDouble(0) - 8.2) < 1e-9 && math.abs(back.getDouble(1) - 47.4) < 1e-9)
  }

  test("custom LAEA with EPSG:3035 parameters == ST_Transform(…, 3035)") {
    val rows = sql("""
      SELECT ST_AsText(ST_TransformLAEA(p, 6378137.0D, 298.257222101D,
                                        52.0D, 10.0D, 4321000.0D, 3210000.0D)) AS custom,
             ST_AsText(ST_Transform(p, 4326, 3035)) AS epsg
      FROM (SELECT ST_Point(-8.0 + CAST(id AS DOUBLE) * 5.0, 36.0 + CAST(id AS DOUBLE) * 3.0) AS p
            FROM range(10))""").collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("custom Albers/LCC with EPSG:5070 / EPSG:2154 parameters match; inverses roundtrip") {
    val alb = sql("""
      SELECT ST_AsText(ST_TransformAlbers(p, 6378137.0D, 298.257222101D,
               29.5D, 45.5D, 23.0D, -96.0D, 0.0D, 0.0D)) AS custom,
             ST_AsText(ST_Transform(p, 4326, 5070)) AS epsg
      FROM (SELECT ST_Point(-110.0 + CAST(id AS DOUBLE) * 4.0, 28.0 + CAST(id AS DOUBLE) * 2.0) AS p
            FROM range(8))""").collect()
    alb.foreach(r => assert(r.getString(0) == r.getString(1)))
    val lcc = sql("""
      SELECT ST_AsText(ST_TransformLCC(p, 6378137.0D, 298.257222101D,
               44.0D, 49.0D, 46.5D, 3.0D, 700000.0D, 6600000.0D)) AS custom,
             ST_AsText(ST_Transform(p, 4326, 2154)) AS epsg
      FROM (SELECT ST_Point(-2.0 + CAST(id AS DOUBLE), 43.0 + CAST(id AS DOUBLE) / 2.0) AS p
            FROM range(8))""").collect()
    lcc.foreach(r => assert(r.getString(0) == r.getString(1)))
    val back = sql("""
      SELECT ST_X(g) AS x, ST_Y(g) AS y FROM (SELECT ST_TransformLCCInv(
        ST_TransformLCC(ST_Point(2.3, 48.85), 6378137.0D, 298.257222101D,
          44.0D, 49.0D, 46.5D, 3.0D, 700000.0D, 6600000.0D),
        6378137.0D, 298.257222101D, 44.0D, 49.0D, 46.5D, 3.0D, 700000.0D, 6600000.0D) AS g)""").head()
    assert(math.abs(back.getDouble(0) - 2.3) < 1e-9 && math.abs(back.getDouble(1) - 48.85) < 1e-9)
  }

  test("a genuinely custom grid (non-EPSG params) projects, inverts, and rejects bad input") {
    // a made-up regional TM on a made-up ellipsoid
    val r = sql("""
      SELECT ST_AsText(g) AS fwd, ST_AsText(ST_TransformTMInv(g,
               6378200.0D, 297.5D, 1.0003D, 13.5D, 46.2D, 123456.0D, -50000.0D)) AS back
      FROM (SELECT ST_TransformTM(ST_Point(14.1, 47.3),
              6378200.0D, 297.5D, 1.0003D, 13.5D, 46.2D, 123456.0D, -50000.0D) AS g)""").head()
    assert(r.getString(0).startsWith("POINT ("), r.getString(0))
    val c = graft.core.GeomOps.read(graft.core.GeomOps.geomFromText(
      org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1)))).getCoordinate
    assert(math.abs(c.x - 14.1) < 1e-9 && math.abs(c.y - 47.3) < 1e-9)
    // out-of-domain input fails loudly like ST_Transform
    val err = intercept[Exception] {
      sql("""SELECT ST_TransformTM(ST_Point(500.0, 0.0),
               6378137.0D, 298.257223563D, 0.9996D, 9.0D, 0.0D, 500000.0D, 0.0D)""").collect()
    }
    assert(err.getMessage.contains("geodetic domain") ||
      Option(err.getCause).exists(_.getMessage.contains("geodetic domain")))
  }
}
