package graft.search

import org.apache.spark.sql.functions._
import org.roaringbitmap.RoaringBitmap

import graft.core.Bitmaps
import graft.functions.GeoMath

/** Filter DSL — recursive-descent port of the reference grammar
  * (`/root/reference/filter-parser/src/lib.rs:1-40` BNF) and its evaluation
  * to a candidate bitmap (`/root/reference/milli/src/search/facet/filter.rs:146-390`).
  */
object FilterParser {

  sealed trait Ast
  final case class FAnd(l: Ast, r: Ast) extends Ast
  final case class FOr(l: Ast, r: Ast) extends Ast
  final case class FNot(inner: Ast) extends Ast
  final case class FCond(field: String, op: String, value: String) extends Ast
  final case class FBetween(field: String, lo: String, hi: String) extends Ast
  final case class FExists(field: String) extends Ast
  final case class FIn(field: String, values: Seq[String]) extends Ast
  final case class FGeoRadius(lat: Double, lng: Double, radiusMeters: Double) extends Ast

  def parse(input: String): Ast = new Parser(input).parseExpression(top = true)

  private final class Parser(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def peekKeyword(kw: String): Boolean = {
      ws()
      s.regionMatches(i, kw, 0, kw.length) &&
        (i + kw.length >= s.length || !isWordChar(s.charAt(i + kw.length)))
    }
    private def eatKeyword(kw: String): Boolean = {
      if (peekKeyword(kw)) { i += kw.length; true } else false
    }
    private def isWordChar(c: Char): Boolean =
      Character.isLetterOrDigit(c) || c == '_' || c == '-' || c == '.'

    def parseExpression(top: Boolean = false): Ast = {
      val e = parseOr()
      if (top) { ws(); require(i >= s.length, s"trailing input in filter at $i: '${s.drop(i)}'") }
      e
    }
    private def parseOr(): Ast = {
      var left = parseAnd()
      while (eatKeyword("OR")) left = FOr(left, parseAnd())
      left
    }
    private def parseAnd(): Ast = {
      var left = parseNot()
      while (eatKeyword("AND")) left = FAnd(left, parseNot())
      left
    }
    private def parseNot(): Ast =
      if (eatKeyword("NOT")) FNot(parseNot()) else parsePrimary()

    private def parsePrimary(): Ast = {
      ws()
      if (i < s.length && s.charAt(i) == '(') {
        i += 1
        val e = parseExpression()
        ws()
        require(i < s.length && s.charAt(i) == ')', s"expected ) at $i")
        i += 1
        return e
      }
      if (peekKeyword("_geoRadius")) {
        i += "_geoRadius".length
        ws(); require(s.charAt(i) == '('); i += 1
        val nums = parseFloatList(3)
        require(s.charAt(i) == ')'); i += 1
        return FGeoRadius(nums(0), nums(1), nums(2))
      }
      val field = parseValue()
      ws()
      if (eatKeyword("EXISTS")) return FExists(field)
      if (peekKeyword("NOT")) {
        val save = i
        eatKeyword("NOT")
        if (eatKeyword("EXISTS")) return FNot(FExists(field))
        if (eatKeyword("IN")) return FNot(FIn(field, parseValueList()))
        i = save
      }
      if (eatKeyword("IN")) return FIn(field, parseValueList())
      ws()
      val twoCharOps = Seq(">=", "<=", "!=")
      val opOpt: Option[String] =
        twoCharOps.find(o => s.regionMatches(i, o, 0, 2)) match {
          case Some(o) => i += 2; Some(o)
          case None if i < s.length && "=<>".indexOf(s.charAt(i)) >= 0 =>
            i += 1; Some(s.charAt(i - 1).toString)
          case None => None
        }
      opOpt match {
        case Some(op) => FCond(field, op, parseValue())
        case None =>
          // `to` production: field lo TO hi
          val lo = parseValue()
          require(eatKeyword("TO"), s"expected operator or TO at $i in '$s'")
          FBetween(field, lo, parseValue())
      }
    }

    /** `value` production: word | 'quoted' | "quoted". */
    private def parseValue(): String = {
      ws()
      require(i < s.length, "unexpected end of filter")
      s.charAt(i) match {
        case '\'' =>
          val end = s.indexOf('\'', i + 1)
          require(end > 0, "unterminated quote")
          val v = s.substring(i + 1, end); i = end + 1; v
        case '"' =>
          val end = s.indexOf('"', i + 1)
          require(end > 0, "unterminated quote")
          val v = s.substring(i + 1, end); i = end + 1; v
        case _ =>
          val start = i
          while (i < s.length && isWordChar(s.charAt(i))) i += 1
          require(i > start, s"expected value at $start in '$s'")
          s.substring(start, i)
      }
    }

    private def parseValueList(): Seq[String] = {
      ws(); require(s.charAt(i) == '['); i += 1
      val out = Vector.newBuilder[String]
      ws()
      while (i < s.length && s.charAt(i) != ']') {
        out += parseValue()
        ws()
        if (i < s.length && s.charAt(i) == ',') { i += 1; ws() }
      }
      require(i < s.length && s.charAt(i) == ']', "unterminated value list")
      i += 1
      out.result()
    }

    private def parseFloatList(n: Int): Seq[Double] = {
      val out = Vector.newBuilder[Double]
      var k = 0
      while (k < n) {
        ws()
        val start = i
        while (i < s.length && (s.charAt(i).isDigit || "+-.eE".indexOf(s.charAt(i)) >= 0)) i += 1
        out += s.substring(start, i).toDouble
        ws()
        if (k < n - 1) { require(s.charAt(i) == ','); i += 1 }
        k += 1
      }
      out.result()
    }
  }
}

/** Filter AST → distributed candidate-docid plan. Each leaf is a pushdown
  * read on the facet tables (equality/range checks both the number and the
  * lowercased string form, `filter.rs:188-290`); AND/OR/NOT become
  * semi-/anti-joins and unions so the set algebra runs on the executors —
  * the driver never materializes a candidate set (the reference's
  * in-process RoaringBitmap algebra, filter.rs:300-320, doesn't survive
  * 10^12 docs). `evaluate` keeps the bitmap contract for callers that want
  * a driver-side set (tests, tiny indexes): ONE collect of the final
  * result, never per leaf. */
object FilterEvaluator {
  import FilterParser._

  /** Compile the AST to a one-column (`docid`) DataFrame, distinct. */
  def candidates(index: GraftIndex, ast: Ast): org.apache.spark.sql.DataFrame = {
    val spark = index.spark
    import spark.implicits._

    def all = index.documents.select($"docid")

    /** one pre-resolved bitmap as a docid plan (same shape as FExists). */
    def bitmapDf(bm: RoaringBitmap) =
      spark.range(1).select(
        explode(graft.functions.GraftFunctions.bitmap_to_array(
          lit(Bitmaps.cboSerialize(bm)))).as("docid"))

    /** Range through the facet level tree when the field has one
      * (facet_range_search.rs descent — wide ranges stop enumerating every
      * matching value row); None falls back to the sorted value table. */
    def levelRange(numeric: Boolean, field: String, lo: Option[Any],
        hi: Option[Any], loIncl: Boolean, hiIncl: Boolean)
        : Option[org.apache.spark.sql.DataFrame] =
      FacetLevels.rangeDocids(index, numeric, field, lo, hi, loIncl, hiIncl)
        .map(r => bitmapDf(r.docids))

    def eval(a: Ast): org.apache.spark.sql.DataFrame = a match {
      case FAnd(l, r)  => eval(l).join(eval(r), Seq("docid"), "left_semi")
      case FOr(l, r)   => eval(l).unionByName(eval(r)).distinct()
      case FNot(inner) => all.join(eval(inner), Seq("docid"), "left_anti")
      case FExists(field) =>
        // one bitmap row per field; the explode is bounded by that field's
        // cardinality and feeds a join, never the driver
        index.facetExists.where($"field" === field)
          .select(explode(graft.functions.GraftFunctions.bitmap_to_array($"docids"))
            .as("docid"))
      case FIn(field, values) =>
        // IN = OR of equalities (filter.rs:270-278) — one pushdown per form
        val norms = values.map(graft.core.Facets.normalizeFacet)
        val nums = values.flatMap(_.toDoubleOption)
        val byStr = index.facetStrings
          .where($"field" === field && $"norm".isin(norms: _*)).select($"docid")
        val both =
          if (nums.isEmpty) byStr
          else byStr.unionByName(index.facetNumbers
            .where($"field" === field && $"value".isin(nums: _*)).select($"docid"))
        both.distinct()
      case FGeoRadius(lat, lng, radius) =>
        // distributed haversine over the (docid, lat, lng) projection —
        // replaces the reference's driver-side R-tree (filter.rs:349-387).
        // A bounding box prunes BEFORE the exact haversine: the facet table
        // is range-partitioned + sorted by (field, value), so the lat/lng
        // band predicates push down to parquet footer min/max — the pruning
        // role of the R-tree. Bounds are provably sound from the haversine
        // formula itself: c ≥ |Δφ| and sin(c/2) ≥ cos(φmax)·sin(|Δλ|/2),
        // so distance ≤ r implies |Δφ| ≤ r/R and
        // |Δλ| ≤ 2·asin(sin(r/2R)/cos(φmax)). The lng band is skipped when
        // it would cross a pole or wrap the antimeridian.
        val EarthR = 6371000.0 // same constant as GeoMath.haversine
        val cr = radius / EarthR
        val dLat = math.toDegrees(cr)
        val latLo = lat - dLat
        val latHi = lat + dLat
        val lats = index.facetNumbers
          .where($"field" === "_geo.lat" && $"value" >= latLo && $"value" <= latHi)
          .select($"docid", $"value".as("glat"))
        val cosMin = math.cos(math.toRadians(math.max(math.abs(latLo), math.abs(latHi))))
        val sinHalf = math.sin(math.min(cr / 2, math.Pi / 2))
        val lngBand: Option[(Double, Double)] =
          if (latHi >= 89.0 || latLo <= -89.0 || cosMin <= 1e-9) None
          else {
            val x = sinHalf / cosMin
            if (x >= 1.0) None
            else {
              val dLng = math.toDegrees(2 * math.asin(x))
              val lo = lng - dLng; val hi = lng + dLng
              if (lo < -180.0 || hi > 180.0) None else Some((lo, hi))
            }
          }
        lngBand match {
          case Some((lngLo, lngHi)) =>
            // cell-level pruning (the R-tree path): cover the bounding box
            // with O(cells) Morton ranges over the cell-sorted geo_cells
            // table — the scan reads only row groups intersecting the
            // circle, not the whole latitude band. Exact haversine on the
            // surviving candidates keeps the result identical (the cover
            // is a superset by construction; core.GeoCell).
            val ranges = graft.core.GeoCell.cover(
              math.max(latLo, -90.0), math.min(latHi, 90.0), lngLo, lngHi)
            val cellPred = ranges
              .map { case (lo, hi) => $"cell" >= lo && $"cell" <= hi }
              .reduce(_ || _)
            index.geoCells.where(cellPred)
              .where(graft.functions.GraftFunctions.haversine(
                $"lat", $"lng", lit(lat), lit(lng)) <= lit(radius))
              .select($"docid").distinct()
          case _ =>
            // polar / antimeridian-wrapping radius:
            // latitude-band scan over the value-sorted facet table
            val lngs0 = index.facetNumbers.where($"field" === "_geo.lng")
            val lngs = lngBand
              .fold(lngs0) { case (lo, hi) => lngs0.where($"value" >= lo && $"value" <= hi) }
              .select($"docid", $"value".as("glng"))
            lats.join(lngs, Seq("docid"))
              .where(graft.functions.GraftFunctions.haversine(
                $"glat", $"glng", lit(lat), lit(lng)) <= lit(radius))
              .select($"docid").distinct()
        }
      case FBetween(field, lo, hi) =>
        (lo.toDoubleOption, hi.toDoubleOption) match {
          case (Some(l), Some(h)) =>
            levelRange(numeric = true, field, Some(l), Some(h),
              loIncl = true, hiIncl = true).getOrElse {
              index.facetNumbers
                .where($"field" === field && $"value" >= l && $"value" <= h)
                .select($"docid").distinct()
            }
          case _ => all.limit(0)
        }
      case FCond(field, op, value) =>
        val num = value.toDoubleOption
        val norm = graft.core.Facets.normalizeFacet(value)
        op match {
          case "=" =>
            val byStr = index.facetStrings
              .where($"field" === field && $"norm" === norm).select($"docid")
            val both = num match {
              case Some(n) => byStr.unionByName(index.facetNumbers
                .where($"field" === field && $"value" === n).select($"docid"))
              case None => byStr
            }
            both.distinct()
          case "!=" =>
            // != is the complement over ALL documents, not just faceted ones
            // (filter.rs:195-209)
            all.join(eval(FCond(field, "=", value)), Seq("docid"), "left_anti")
          case ">" | ">=" | "<" | "<=" =>
            val (loB, loI, hiB, hiI): (Option[Any], Boolean, Option[Any], Boolean) =
              op match {
                case ">"  => (Some(num.getOrElse(norm): Any), false, None, false)
                case ">=" => (Some(num.getOrElse(norm): Any), true, None, false)
                case "<"  => (None, false, Some(num.getOrElse(norm): Any), false)
                case _    => (None, false, Some(num.getOrElse(norm): Any), true)
              }
            num match {
              case Some(n) =>
                levelRange(numeric = true, field, loB, hiB, loI, hiI).getOrElse {
                  val cmp = op match {
                    case ">"  => $"value" > n
                    case ">=" => $"value" >= n
                    case "<"  => $"value" < n
                    case "<=" => $"value" <= n
                  }
                  index.facetNumbers.where($"field" === field && cmp)
                    .select($"docid").distinct()
                }
              case None =>
                levelRange(numeric = false, field, loB, hiB, loI, hiI).getOrElse {
                  val cmp = op match {
                    case ">"  => $"norm" > norm
                    case ">=" => $"norm" >= norm
                    case "<"  => $"norm" < norm
                    case "<=" => $"norm" <= norm
                  }
                  index.facetStrings.where($"field" === field && cmp)
                    .select($"docid").distinct()
                }
            }
          case other => throw new IllegalArgumentException(s"op $other")
        }
    }
    eval(ast)
  }

  /** Driver-side bitmap of the final candidate set — one collect at the
    * root (small-result/test path). */
  def evaluate(index: GraftIndex, ast: Ast): RoaringBitmap = {
    val spark = index.spark
    import spark.implicits._
    Bitmaps.fromInts(candidates(index, ast).select($"docid").as[Int].collect())
  }
}
