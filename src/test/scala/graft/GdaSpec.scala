package graft

import graft.core.{Datum, Geodesy, GeomOps, KarneyGeodesic, NatCrs, TransverseMercator}

/** The GDA pair (round 19): GDA94 (EPSG 4283 + MGA94 28349-28356, null
  * shift vs WGS84 — EPSG 1150) and GDA2020 (7844 + MGA2020 7846-7859,
  * the national 7-param EPSG 8048), plus the time-dependent 14-param
  * twin (EPSG 8447) exposed as ST_TransformGda2020Epoch. The published
  * physical anchor: GDA2020 coordinates sit ~1.8 m NNE of GDA94 — 25.75
  * years of Australian plate motion — which also pins the rotation-sign
  * convention (the EPSG listing is coordinate-frame; the engine's
  * Helmert is position-vector, so the signs are negated in Datum). */
class GdaSpec extends SparkTestBase {

  private def pt(lon: Double, lat: Double): Array[Byte] = GeomOps.point(lon, lat)
  private def xy(b: Array[Byte]): (Double, Double) = {
    val c = GeomOps.read(b).getCoordinate; (c.x, c.y)
  }
  private val cities = Seq( // (lon, lat): Alice Springs, Sydney, Perth
    (133.8807, -23.6980), (151.2093, -33.8688), (115.8605, -31.9505))

  test("GDA94 is the null shift; MGA94 == WGS84 UTM south to sub-mm") {
    cities.foreach { case (lon, lat) =>
      val (lo, la) = xy(Geodesy.transform(pt(lon, lat), 4326, 4283))
      assert(lo == lon && la == lat, "4283 must be the identity hop")
      // MGA94 zone from longitude; GRS80 vs WGS84 differs only in the
      // 1e-10 flattening tail → the grids agree to well under a mm
      val zone = math.floor((lon + 180.0) / 6.0).toInt + 1
      val (e94, n94) = xy(Geodesy.transform(pt(lon, lat), 4326, 28300 + zone))
      val (eW, nW) = TransverseMercator.forward(lon, lat, zone, south = true)
      assert(math.abs(e94 - eW) < 5e-3 && math.abs(n94 - nW) < 5e-3,
        s"MGA94 z$zone ($e94, $n94) vs WGS84 UTM ($eW, $nW)")
      assert(n94 > 0 && n94 < 1e7, s"southern false northing: $n94")
    }
  }

  test("GDA2020 sits ~1.8 m NNE of GDA94 (plate motion pins the sign convention)") {
    cities.foreach { case (lon, lat) =>
      val (lo2, la2) = xy(Geodesy.transform(pt(lon, lat), 4326, 7844))
      val d = KarneyGeodesic.distance(lat, lon, la2, lo2)
      assert(d > 1.3 && d < 2.0, s"($lon, $lat): |GDA2020 − GDA94| = $d m")
      assert(la2 > lat && lo2 > lon, s"must move NNE: d(lat)=${la2 - lat}, d(lon)=${lo2 - lon}")
      // azimuth of the shift: NNE, the published plate-motion direction
      val (_, az, _) = KarneyGeodesic.inverseAzimuth(lat, lon, la2, lo2)
      assert(az > 10.0 && az < 50.0, s"shift azimuth $az° not NNE")
    }
  }

  test("14-param time-dependent pair: identity at 2020.0, the 7-param at 1994.0") {
    val b = pt(133.8807, -23.6980)
    // at the reference epoch the transformation is exactly zero
    val (lo0, la0) = xy(Geodesy.transformGda2020Epoch(b, 2020.0))
    assert(math.abs(lo0 - 133.8807) < 1e-12 && math.abs(la0 + 23.6980) < 1e-12,
      s"2020.0 must be identity: ($lo0, $la0)")
    // at 1994.0 the accumulated rates reproduce the national 7-param
    // within the published ~1 cm consistency of the pair
    val (loE, laE) = xy(Geodesy.transformGda2020Epoch(b, 1994.0))
    val (lo7, la7) = xy(Geodesy.transform(b, 4326, 7844))
    val d = KarneyGeodesic.distance(laE, loE, la7, lo7)
    assert(d < 0.05, s"14-param@1994 vs 7-param differ by $d m")
    // inverse closes
    val (loI, laI) = xy(Geodesy.transformGda2020EpochInv(
      Geodesy.transformGda2020Epoch(b, 2005.5), 2005.5))
    assert(math.abs(loI - 133.8807) < 1e-9 && math.abs(laI + 23.6980) < 1e-9)
    intercept[IllegalArgumentException](Geodesy.transformGda2020Epoch(b, 1900.0))
  }

  test("round-trips close below 1e-9 degrees; registry bounds enforced") {
    cities.foreach { case (lon, lat) =>
      Seq(7844, 28352, 28353, 28355, 28356, 7850, 7852, 7855, 7856).foreach { srid =>
        if (NatCrs.supports(srid)) {
          val back = xy(Geodesy.transform(Geodesy.transform(pt(lon, lat), 4326, srid), srid, 4326))
          assert(math.abs(back._1 - lon) < 1e-9 && math.abs(back._2 - lat) < 1e-9,
            s"$srid round-trip: $back vs ($lon, $lat)")
        }
      }
    }
    assert(!NatCrs.supports(28348) && !NatCrs.supports(28357), "MGA94 zone range 49-56")
    assert(!NatCrs.supports(7845) && !NatCrs.supports(7860), "MGA2020 zone range 46-59")
  }

  test("SQL surface: ST_Transform wires the GDA family; MGA2020 − MGA94 ≈ the datum shift") {
    val r = spark.sql("""
      SELECT ST_X(ST_Transform(p, 4326, 28355)) AS e94,
             ST_Y(ST_Transform(p, 4326, 28355)) AS n94,
             ST_X(ST_Transform(p, 4326, 7855)) AS e20,
             ST_Y(ST_Transform(p, 4326, 7855)) AS n20,
             ST_X(ST_TransformGda2020Epoch(p, 2020.0)) AS lon20
      FROM (SELECT ST_Point(151.2093, -33.8688) AS p)""").head()
    val (de, dn) = (r.getDouble(2) - r.getDouble(0), r.getDouble(3) - r.getDouble(1))
    val d = math.hypot(de, dn)
    assert(d > 1.3 && d < 2.0, s"grid shift $d m")
    assert(de > 0 && dn > 0, s"grid shift must be NNE: ($de, $dn)")
    assert(math.abs(r.getDouble(4) - 151.2093) < 1e-12)
    // Sydney zone-55 sanity (CM 147°E, ~4.2° east → easting ~889 km;
    // lat −33.87° → ~3750 km meridian arc below the 10,000 km false northing)
    assert(math.abs(r.getDouble(0) - 889450.0) < 2000.0, s"e94 ${r.getDouble(0)}")
    assert(math.abs(r.getDouble(1) - 6250000.0) < 10000.0, s"n94 ${r.getDouble(1)}")
  }
}
