package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, like, lit}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Properties}

import graft.core.Index
import graft.geo.{Geo, Mercator}
import graft.sources.Ingest

/** ScalaCheck property suites for the pure kernels (SURVEY §5 test
  * plan: mercator/UTM roundtrips, envelope algebra, LIKE-escape).
  */
object GeoProps extends Properties("geo") {
  private val latGen = Gen.choose(-80.0, 80.0)
  private val lonGen = Gen.choose(-179.0, 179.0)

  property("utm roundtrip < 1e-5 deg") = Prop.forAll(latGen, lonGen) { (lat, lon) =>
    val zone = Geo.utmZone(lat, lon)
    val (e, n) = Geo.toUTM(lat, lon, zone)
    val (lat2, lon2) = Geo.fromUTM(e, n, zone, lat >= 0)
    math.abs(lat2 - lat) < 1e-5 && math.abs(lon2 - lon) < 1e-5
  }

  property("mercator roundtrip") = Prop.forAll(Gen.choose(-85.0, 85.0), lonGen) { (lat, lon) =>
    val (mx, my) = Mercator.latLonToMeters(lat, lon)
    val (lat2, lon2) = Mercator.metersToLatLon(mx, my)
    math.abs(lat2 - lat) < 1e-9 && math.abs(lon2 - lon) < 1e-9
  }

  property("envelope union commutative + contains both") = {
    val envGen = for {
      w <- Gen.choose(-180.0, 179.0); s <- Gen.choose(-90.0, 89.0)
      dw <- Gen.choose(0.0, 1.0); dh <- Gen.choose(0.0, 1.0)
    } yield Geo.Env(w, s, w + dw, s + dh)
    Prop.forAll(envGen, envGen) { (a, b) =>
      val u = a.union(b)
      u == b.union(a) && u.intersects(a) && u.intersects(b) &&
      u.w <= a.w && u.e >= a.e && u.s <= b.s && u.n >= b.n
    }
  }

  property("intersection symmetric") = {
    val envGen = for {
      w <- Gen.choose(-10.0, 10.0); s <- Gen.choose(-10.0, 10.0)
      dw <- Gen.choose(0.0, 5.0); dh <- Gen.choose(0.0, 5.0)
    } yield Geo.Env(w, s, w + dw, s + dh)
    Prop.forAll(envGen, envGen) { (a, b) => a.intersects(b) == b.intersects(a) }
  }

  property("mvt zoom monotone decreasing in area") =
    Prop.forAll(Gen.choose(1e-6, 1e4), Gen.choose(1.0, 10.0)) { (area, factor) =>
      Mercator.mvtMaxZoom(area) >= Mercator.mvtMaxZoom(area * factor)
    }
}

object PathProps extends Properties("paths") {
  private val pathChar = Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('/', '_', '%', '.', '-', ' '))
  private val pathGen = Gen.nonEmptyListOf(pathChar).map(_.mkString).suchThat(_.nonEmpty)

  property("sanitize escapes every LIKE metachar") = Prop.forAll(pathGen) { p =>
    val s = Index.sanitizeQueryParam(p)
    // after sanitize, every %, _ that came from the input is preceded by
    // the escape char; '*' is gone (became %)
    !s.contains("*") || p.contains("*")
  }

  property("exact literal pattern matches itself only (no wildcards)") =
    Prop.forAll(pathGen.suchThat(p => !p.contains('*'))) { p =>
      val s = Index.sanitizeQueryParam(p)
      // unescape: '/x' -> 'x'; result must be the original string
      val unescaped = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '/' && i + 1 < s.length && "/%_".indexOf(s.charAt(i + 1)) >= 0) {
          unescaped.append(s.charAt(i + 1)); i += 2
        } else { unescaped.append(s.charAt(i)); i += 1 }
      }
      unescaped.toString == p
    }

  /** `Index.likeEscaped` lowers patterns to string predicates; each
    * side is evaluated on the Spark driver (a local relation) against the
    * plain `like`, null rows included, for user patterns before and
    * after folder expansion and for raw `_` / `%` / escape patterns. */
  private val likeChar = Gen.oneOf('a', 'b', '/', '_', '%', '*', '.')
  private val likePath = Gen.listOfN(6, likeChar).flatMap(cs => Gen.choose(0, 6).map(n => cs.take(n).mkString))
  private val userPattern = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, likeChar)).map(_.mkString)
  private val rawPattern = Gen
    .choose(0, 6)
    .flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", ".", "%", "_", "//", "/%", "/_")))
    .map(_.mkString)

  /** Each (lowered, reference) pair gives the same value on every path
    * and on a null path. */
  private def sameRows(paths: Seq[String], pairs: Seq[(Column, Column)]): Boolean = {
    val rows = (paths :+ null).map(p => org.apache.spark.sql.Row(p))
    val df = TestSpark.spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("path", StringType, nullable = true)))
    )
    pairs.forall { case (got, want) => df.select(got, want).collect().forall(r => r.get(0) == r.get(1)) }
  }

  private def likeRef(pat: String): Column = like(col("path"), lit(pat), lit("/"))

  /** Paths built from a user pattern's own pieces, so many of them match. */
  private def near(p: String): Gen[Seq[String]] =
    Gen.listOfN(8, Gen.listOfN(p.count(_ == '*'), likePath).map { fills =>
      val it = fills.iterator
      p.map(c => if (c == '*') it.next() else c.toString).mkString
    })

  property("lowered like selects the rows like(path, sanitizeQueryParam(p), '/') selects") = {
    val cases = for {
      p <- userPattern
      paths <- Gen.listOfN(8, likePath)
      close <- near(p)
      children <- near(p + "/*")
    } yield (p, paths ++ close ++ children)
    Prop.forAll(cases) { case (p, paths) =>
      val pat = Index.sanitizeQueryParam(p)
      sameRows(paths, Seq(
        Index.likeEscaped(col("path"), pat) -> likeRef(pat),
        Index.likeEscaped(col("path"), pat + "//%") -> likeRef(pat + "//%"),
        Index.pathMatches(p) -> (likeRef(pat) || likeRef(pat + "//%"))
      ))
    }
  }

  property("raw patterns with _ and % wildcards keep like's answers") =
    Prop.forAll(rawPattern, Gen.listOfN(12, likePath)) { (pat, paths) =>
      sameRows(paths, Seq(Index.likeEscaped(col("path"), pat) -> likeRef(pat)))
    }

  property("glob regex: matched strings keep prefix before first *") = {
    val litGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    Prop.forAll(litGen, litGen) { (prefix, tail) =>
      val rx = Ingest.globToRegex(prefix + "*")
      // '/' can never start the alphanumeric prefix AND is excluded by
      // the single-star charset, so prepending it must break the match
      (prefix + tail).matches(rx) && !("/" + prefix + tail).matches(rx)
    }
  }
}
