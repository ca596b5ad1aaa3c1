package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.functions.GeoMath
import graft.search.{FilterEvaluator, FilterParser, Fixture}

/** Morton geo-cell encoding + box cover (the R-tree stand-in) — pure
  * properties plus radius parity through the production filter path. */
class GeoCellSpec extends AnyFunSuite with Matchers {

  private val rnd = new scala.util.Random(42)

  test("encode/decode roundtrip within one cell") {
    val cellLat = 180.0 / (GeoCell.MaxIdx + 1).toDouble
    val cellLng = 360.0 / (GeoCell.MaxIdx + 1).toDouble
    (0 until 2000).foreach { _ =>
      val lat = rnd.nextDouble() * 180.0 - 90.0
      val lng = rnd.nextDouble() * 360.0 - 180.0
      val (dlat, dlng) = GeoCell.decode(GeoCell.encode(lat, lng))
      dlat should be <= lat
      dlng should be <= lng
      (lat - dlat) should be < cellLat * 1.0001
      (lng - dlng) should be < cellLng * 1.0001
    }
  }

  test("poles and antimeridian clamp into range") {
    Seq((-90.0, -180.0), (90.0, 180.0), (90.0, -180.0), (-90.0, 180.0),
      (91.0, 181.0), (-91.0, -181.0)).foreach { case (lat, lng) =>
      val c = GeoCell.encode(lat, lng)
      c should be >= 0L
      c should be <= ((1L << 52) - 1)
    }
  }

  test("cover is a superset: every point in the box lands in a range") {
    (0 until 300).foreach { _ =>
      val latLo = rnd.nextDouble() * 170.0 - 90.0
      val latHi = latLo + rnd.nextDouble() * 10.0
      val lngLo = rnd.nextDouble() * 340.0 - 180.0
      val lngHi = lngLo + rnd.nextDouble() * 20.0
      val ranges = GeoCell.cover(latLo, latHi, lngLo, lngHi)
      ranges.length should be <= 64
      // ranges sorted + disjoint
      ranges.sliding(2).foreach {
        case Seq(a, b) => a._2 should be < b._1
        case _         =>
      }
      (0 until 50).foreach { _ =>
        val lat = latLo + rnd.nextDouble() * (latHi - latLo)
        val lng = lngLo + rnd.nextDouble() * (lngHi - lngLo)
        val cell = GeoCell.encode(lat, lng)
        assert(ranges.exists(r => cell >= r._1 && cell <= r._2),
          s"point ($lat,$lng) cell $cell escaped cover of " +
            s"[$latLo,$latHi]x[$lngLo,$lngHi]")
      }
    }
  }

  test("tiny box cover stays tight (few ranges, small span)") {
    val ranges = GeoCell.cover(48.85, 48.86, 2.29, 2.30)
    ranges.length should be <= 64
    // total covered cells should be close to the box's cell count, not the
    // whole band: span ≤ a small multiple of the box area in cells
    val boxCells =
      (GeoCell.latIdx(48.86) - GeoCell.latIdx(48.85) + 1) *
        (GeoCell.lngIdx(2.30) - GeoCell.lngIdx(2.29) + 1)
    val covered = ranges.map(r => r._2 - r._1 + 1).sum
    covered should be <= boxCells * 8
  }

  test("_geoRadius through geo_cells matches brute-force haversine") {
    val spark = TestSpark.spark
    val index = Fixture.buildIndex(spark)
    new java.io.File(s"${index.dir}/${graft.index.IndexSettings.T.GeoCells}")
      .isDirectory shouldBe true
    Seq((50.63, 3.08, 100000.0), (50.62999333333, 3.08, 300000.0),
      (45.0, 4.0, 500000.0), (50.63, 3.08, 1.0)).foreach {
      case (qlat, qlng, r) =>
        val ast = FilterParser.parse(s"_geoRadius($qlat, $qlng, $r)")
        val plan = FilterEvaluator.candidates(index, ast)
        // the cell table must be the scanned source (R-tree path engaged):
        // the optimized plan filters on the Morton `cell` column
        plan.queryExecution.optimizedPlan.toString should include("cell#")
        val got = plan.collect().map(_.getInt(0)).toSet
        val want = Fixture.docs.filter(_.geo.exists { case (la, ln) =>
          GeoMath.haversine(la, ln, qlat, qlng) <= r
        }).map(_.docid).toSet
        got shouldBe want
    }
  }

  test("polar radius falls back to the band path and stays correct") {
    val spark = TestSpark.spark
    val index = Fixture.buildIndex(spark)
    val ast = FilterParser.parse("_geoRadius(89.9, 0.0, 2000000)")
    val got = FilterEvaluator.candidates(index, ast)
      .collect().map(_.getInt(0)).toSet
    val want = Fixture.docs.filter(_.geo.exists { case (la, ln) =>
      GeoMath.haversine(la, ln, 89.9, 0.0) <= 2000000.0
    }).map(_.docid).toSet
    got shouldBe want
  }
}
