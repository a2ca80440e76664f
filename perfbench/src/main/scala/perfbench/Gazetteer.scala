package perfbench

import graft.index.BigGazetteer
import graft.model.{GeoDoc, LayerConfig}

/** A seeded five-layer gazetteer (country, 10 region strips, `nPlaces`
  * places on a grid, two streets per place, one address document per
  * street) in the layout of [[graft.index.BigGazetteer]], plus the seeded
  * benchmark inputs with the answer each one must produce.
  *
  * The seed picks which names, scores and regions the places get, so two
  * seeds build two different indexes of the same shape and size. Everything
  * is a pure function of (seed, nPlaces): the same seed gives the same
  * documents and the same inputs.
  */
final case class Gazetteer(seed: Long, nPlaces: Int) {
  import Gazetteer._

  private val rng = new scala.util.Random(seed)
  // name-space offsets: placeName(k) is unique for k < 55296 and
  // streetName(j) for j < 69120 (BigGazetteer)
  private val placeBase = rng.nextInt(55296 - nPlaces)
  private val streetBase = rng.nextInt(69120 - 2 * nPlaces)
  private val regionBase = rng.nextInt(1000)
  private val placeScores = Vector.fill(nPlaces)(50 + rng.nextInt(200))
  private val streetScores = Vector.fill(2 * nPlaces)(1 + rng.nextInt(20))

  val g: Int = BigGazetteer.grid(nPlaces)
  private val cw = (E - W) / g
  private val ch = (N - S) / g
  private val rw = (E - W) / NRegions

  def placeId(i: Int): Long = 100000L + i
  def placeName(i: Int): String = BigGazetteer.placeName(placeBase + i)
  def streetName(j: Int): String = BigGazetteer.streetName(streetBase + j)
  def regionName(r: Int): String = BigGazetteer.regionName(regionBase + r)
  def center(i: Int): (Double, Double) = BigGazetteer.placeCenter(i, nPlaces)

  /** The region strip that holds place i's centre. */
  def regionOf(i: Int): Int =
    math.min(NRegions - 1, ((center(i)._1 - W) / rw).toInt)

  def countryDocs: Seq[GeoDoc] =
    Seq(GeoDoc(1, "Benchland", 1000, box(W, S, E, N), (W + E) / 2, (S + N) / 2))

  def regionDocs: Seq[GeoDoc] = (0 until NRegions).map { r =>
    val w = W + r * rw
    GeoDoc(10 + r, regionName(r), 400 + r, box(w, S, w + rw, N), w + rw / 2,
      (S + N) / 2)
  }

  def placeDocs: Seq[GeoDoc] = (0 until nPlaces).map { i =>
    val (cx, cy) = center(i)
    GeoDoc(placeId(i), placeName(i), placeScores(i),
      box(cx - cw * 0.4, cy - ch * 0.4, cx + cw * 0.4, cy + ch * 0.4), cx, cy)
  }

  /** Street j lies in place j / 2, at 30% (even j) or 70% (odd j) of the
    * cell height.
    */
  private def streetY(j: Int): Double =
    center(j / 2)._2 + (if (j % 2 == 0) -0.2 else 0.2) * ch

  def streetDocs: Seq[GeoDoc] = (0 until 2 * nPlaces).map { j =>
    val cx = center(j / 2)._1
    val y = streetY(j)
    GeoDoc(200000L + j, streetName(j), streetScores(j),
      line(cx - cw * 0.3, y, cx + cw * 0.3, y), cx, y)
  }

  /** Even streets carry a 10-point cluster (odd numbers 1..19), odd streets
    * a TIGER interpolation range (even 2-98 left, odd 1-99 right).
    */
  def addressDocs: Seq[GeoDoc] = (0 until 2 * nPlaces).map { j =>
    val cx = center(j / 2)._1
    val y = streetY(j)
    val x1 = cx - cw * 0.3
    val x2 = cx + cw * 0.3
    if (j % 2 == 0) {
      val pts = (0 until 10).map(k => s"[${x1 + (x2 - x1) * (k + 0.5) / 10.0},$y]")
      GeoDoc(400000L + j, streetName(j), 0,
        s"""{"type":"GeometryCollection","geometries":[{"type":"MultiPoint","coordinates":[${pts.mkString(",")}]}]}""",
        cx, y, addressnumber = Seq((0 until 10).map(k => (2 * k + 1).toString)))
    } else {
      GeoDoc(400000L + j, streetName(j), 0,
        s"""{"type":"GeometryCollection","geometries":[{"type":"MultiLineString","coordinates":[[[$x1,$y],[$x2,$y]]]}]}""",
        cx, y, rangetype = "tiger",
        lfromhn = Seq(Seq("2")), ltohn = Seq(Seq("98")),
        rfromhn = Seq(Seq("1")), rtohn = Seq(Seq("99")),
        parityl = Seq(Seq("E")), parityr = Seq(Seq("O")))
    }
  }

  /** (layer config, documents) in index order, ready for IndexBuilder.build. */
  def layers: Seq[(LayerConfig, Seq[GeoDoc])] =
    BigGazetteer.layerConfigs.zip(
      Seq(countryDocs, regionDocs, placeDocs, streetDocs, addressDocs))

  /** Forward batch `b` (b < 0: warm-up batches): `size` queries cycling
    * through the five query shapes, so every batch has the same mix, each
    * with the text its rank-1 place_name must start with.
    */
  def forwardBatch(b: Int, size: Int): Vector[FwdQuery] = {
    val r = batchRng(b)
    Vector.tabulate(size) { k =>
      val i = r.nextInt(nPlaces)
      val j = 2 * i + r.nextInt(2)
      val street = streetName(j)
      val place = placeName(i)
      val qid = b.toLong * size + k
      k % 5 match {
        case 0 => FwdQuery(qid, "street_place", s"$street $place", street)
        case 1 => FwdQuery(qid, "place", place, place)
        case 2 => FwdQuery(qid, "place_region", s"$place ${regionName(regionOf(i))}", place)
        case 3 =>
          val num = 2 * r.nextInt(10) + 1
          FwdQuery(qid, "housenum", s"$num $street", s"$num $street")
        case _ =>
          val Array(word, typ) = street.split(" ", 2)
          FwdQuery(qid, "typo_street", s"${typo(word)} $typ $place", street)
      }
    }
  }

  /** Reverse batch `b`: `size` points inside a random place's polygon, each
    * with the place the result must contain.
    */
  def reverseBatch(b: Int, size: Int): Vector[RevPoint] = {
    val r = batchRng(b)
    Vector.tabulate(size) { k =>
      val i = r.nextInt(nPlaces)
      val (cx, cy) = center(i)
      RevPoint(b.toLong * size + k,
        cx + (r.nextDouble() - 0.5) * 0.6 * cw,
        cy + (r.nextDouble() - 0.5) * 0.6 * ch, placeId(i))
    }
  }

  private def batchRng(b: Int) = new scala.util.Random(seed * 1000003L + b)
}

final case class FwdQuery(id: Long, shape: String, text: String, expected: String)
final case class RevPoint(id: Long, lon: Double, lat: Double, expectedPlace: Long)

object Gazetteer {
  val W: Double = BigGazetteer.W
  val E: Double = BigGazetteer.E
  val S: Double = BigGazetteer.S
  val N: Double = BigGazetteer.N
  val NRegions: Int = BigGazetteer.NRegions

  def box(w: Double, s: Double, e: Double, n: Double): String =
    s"""{"type":"Polygon","coordinates":[[[$w,$s],[$e,$s],[$e,$n],[$w,$n],[$w,$s]]]}"""
  def line(x1: Double, y1: Double, x2: Double, y2: Double): String =
    s"""{"type":"LineString","coordinates":[[$x1,$y1],[$x2,$y2]]}"""

  /** One transposition of two inner letters (the BigGazetteer fuzzy typo). */
  def typo(w: String): String =
    if (w.length < 5) w
    else {
      val p = 1 + (w.length % (w.length - 2))
      val a = w.toCharArray
      val t = a(p); a(p) = a(p + 1); a(p + 1) = t
      new String(a)
    }
}
