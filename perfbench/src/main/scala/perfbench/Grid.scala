package perfbench

import scala.jdk.CollectionConverters._

import graft.functions.GeoFunctions
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.locationtech.jts.operation.overlayng.OverlayNGRobust

/** Seeded ESA-style burst grid plus the land and North-America shapes.
  *
  * Every one of the 175 relative orbits (tracks) contributes a run of
  * consecutive bursts along its ground track, starting at a seeded point of
  * the orbit. Burst centres follow a circular sun-synchronous orbit
  * (inclination 98.18°, 2140 bursts per orbit, the ground track drifting
  * west with the Earth's rotation), and each burst has three subswath
  * quadrilaterals to the right of the track, so tracks that pass the orbit's
  * turning latitude give polar bursts and tracks over the antimeridian give
  * wrap-encoded polygons, as in the reference burst map.
  */
object Grid {

  final case class Burst(ogcFid: Int, burstId: Long, track: Int, subswath: String,
      orbitPass: String, wkt: String)

  final case class Shapes(bursts: Seq[Burst], land: Geometry, naWkts: Seq[String]) {
    lazy val landWkt: String = GeoFunctions.toWkt(land)
  }

  val Tracks = 175
  /** Bursts per track of the ESA grid: 375,887 burst triplets over 175 tracks. */
  val PaperBurstsPerTrack = 2148
  private val Inclination = math.toRadians(98.18)
  private val BurstArc = 360.0 / 2140.0
  private val EarthDrift = 98.6 / 1436.0
  // cross-track ground distance of each subswath, degrees of arc, looking right
  private val Subswaths = Seq("IW1" -> (2.2, 3.0), "IW2" -> (2.95, 3.75), "IW3" -> (3.7, 4.5))

  private val gf = new GeometryFactory()

  private def wrap(lon: Double): Double = {
    val x = (lon + 180.0) % 360.0
    (if (x < 0) x + 360.0 else x) - 180.0
  }

  private def nodeOf(t: Int): Double = wrap(-(t - 1) * 360.0 / Tracks * 73.0)

  /** Ground-track point (lat, lon in degrees) at argument of latitude `u`. */
  private def track(node: Double, uDeg: Double): (Double, Double) = {
    val u = math.toRadians(uDeg)
    val lat = math.asin(math.sin(Inclination) * math.sin(u))
    val lon = node + math.toDegrees(math.atan2(math.cos(Inclination) * math.sin(u),
      math.cos(u))) - uDeg * EarthDrift
    (math.toDegrees(lat), lon)
  }

  /** Great-circle destination from (lat, lon) along `bearing` for `dist` degrees. */
  private def destination(lat: Double, lon: Double, bearing: Double,
      dist: Double): (Double, Double) = {
    val (p1, l1, th, d) = (math.toRadians(lat), math.toRadians(lon),
      math.toRadians(bearing), math.toRadians(dist))
    val p2 = math.asin(math.sin(p1) * math.cos(d) + math.cos(p1) * math.sin(d) * math.cos(th))
    val l2 = l1 + math.atan2(math.sin(th) * math.sin(d) * math.cos(p1),
      math.cos(d) - math.sin(p1) * math.sin(p2))
    (math.toDegrees(p2), math.toDegrees(l2))
  }

  private def bearing(a: (Double, Double), b: (Double, Double)): Double = {
    val (p1, p2) = (math.toRadians(a._1), math.toRadians(b._1))
    val dl = math.toRadians(b._2 - a._2)
    math.toDegrees(math.atan2(math.sin(dl) * math.cos(p2),
      math.cos(p1) * math.sin(p2) - math.sin(p1) * math.cos(p2) * math.cos(dl)))
  }

  private def subswathWkt(node: Double, u0: Double, u1: Double, near: Double,
      far: Double): String = {
    def edge(u: Double): Seq[(Double, Double)] = {
      val p = track(node, u)
      val h = bearing(p, track(node, u + 0.01))
      Seq(destination(p._1, p._2, h + 90, near), destination(p._1, p._2, h + 90, far))
    }
    val Seq(a, b) = edge(u0)
    val Seq(c, d) = edge(u1)
    val ring = Seq(a, b, d, c, a).map { case (lat, lon) =>
      f"${wrap(lon)}%.6f ${lat}%.6f"
    }
    ring.mkString("POLYGON ((", ", ", "))")
  }

  private def blob(rnd: java.util.Random, lon: Double, lat: Double, r: Double): Geometry = {
    val n = 14
    val pts = (0 to n).map { i =>
      val a = 2 * math.Pi * (i % n) / n
      val k = 0.6 + 0.8 * rnd.nextDouble()
      new Coordinate(lon + r * k * math.cos(a), math.max(-89.0, math.min(89.0, lat + r * k * math.sin(a))))
    }
    val p = gf.createPolygon((pts.init :+ pts.head).toArray)
    if (p.isValid) p else p.buffer(0)
  }

  /** Burst grid with `burstsPerTrack` bursts per track, land as `landBlobs`
    * seeded blobs (one MULTIPOLYGON WKT) and North America as several
    * shapes, one WKT each. */
  def generate(seed: Long, burstsPerTrack: Int, landBlobs: Int = 40): Shapes = {
    val rnd = new java.util.Random(Workloads.mix(seed))
    val bursts = Seq.newBuilder[Burst]
    var ogc = 0
    var esa = 0L
    for (t <- 1 to Tracks) {
      val node = nodeOf(t)
      val uStart = 360.0 * rnd.nextDouble()
      for (k <- 0 until burstsPerTrack) {
        esa += 1
        val u0 = uStart + k * BurstArc
        val pass = {
          val uc = ((u0 % 360) + 360) % 360
          if (uc < 90 || uc >= 270) "ASCENDING" else "DESCENDING"
        }
        Subswaths.foreach { case (iw, (near, far)) =>
          ogc += 1
          bursts += Burst(ogc, esa, t, iw, pass,
            subswathWkt(node, u0, u0 + BurstArc * 1.08, near, far))
        }
      }
    }
    val all = bursts.result()

    // land: blobs away from the antimeridian, radius 3-15 degrees
    val land = OverlayNGRobust.union((1 to landBlobs).map { _ =>
      blob(rnd, -165 + 330 * rnd.nextDouble(), -70 + 150 * rnd.nextDouble(),
        3 + 12 * rnd.nextDouble())
    }.asJava)
    val na = (1 to 8).map { _ =>
      GeoFunctions.toWkt(blob(rnd, -150 + 95 * rnd.nextDouble(), 15 + 55 * rnd.nextDouble(),
        2 + 8 * rnd.nextDouble()))
    }
    Shapes(all, land, na)
  }

  /** Per-track land arrays at the ESA grid's size, for timing the frame
    * solver at paper scale: `PaperBurstsPerTrack` bursts along each track
    * from its ascending node, a burst being land when the centre of its
    * middle subswath lies in the land shape. */
  def paperLandArrays(s: Shapes): Seq[Array[Boolean]] = {
    val land = PreparedGeometryFactory.prepare(s.land)
    (1 to Tracks).map { t =>
      val node = nodeOf(t)
      Array.tabulate(PaperBurstsPerTrack) { k =>
        val u = (k + 0.5) * BurstArc
        val p = track(node, u)
        val (lat, lon) = destination(p._1, p._2, bearing(p, track(node, u + 0.01)) + 90, 3.35)
        land.contains(gf.createPoint(new Coordinate(wrap(lon), lat)))
      }
    }
  }
}
