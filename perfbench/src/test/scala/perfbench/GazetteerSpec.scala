package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GazetteerSpec extends AnyFunSuite {

  test("the same seed gives the same documents and inputs") {
    val a = Gazetteer(11, 300)
    val b = Gazetteer(11, 300)
    assert(a.layers === b.layers)
    assert(a.forwardBatch(3, 10) === b.forwardBatch(3, 10))
    assert(a.reverseBatch(-2, 500) === b.reverseBatch(-2, 500))
  }

  test("different seeds give different names and inputs of the same shape") {
    val a = Gazetteer(1, 300)
    val b = Gazetteer(2, 300)
    assert(a.placeDocs.map(_.text) !== b.placeDocs.map(_.text))
    assert(a.forwardBatch(0, 10) !== b.forwardBatch(0, 10))
    assert(a.layers.map(_._2.size) === b.layers.map(_._2.size))
    assert(a.layers.map(_._2.size) === Seq(1, 10, 300, 600, 600))
  }

  test("batches differ from each other and have unique query ids") {
    val g = Gazetteer(5, 300)
    assert(g.forwardBatch(0, 10) !== g.forwardBatch(1, 10))
    val ids = (-4 until 4).flatMap(b => g.forwardBatch(b, 10).map(_.id))
    assert(ids.distinct.size === ids.size)
  }

  test("names are unique within a layer") {
    val g = Gazetteer(3, 300)
    g.layers.foreach { case (cfg, docs) =>
      if (cfg.name != "address") assert(docs.map(_.text).distinct.size === docs.size, cfg.name)
    }
  }

  test("expected answers follow from the generated geometry") {
    val g = Gazetteer(9, 300)
    (0 until 300).foreach { i =>
      val region = g.regionDocs(g.regionOf(i))
      val cx = g.center(i)._1
      val west = Gazetteer.W + g.regionOf(i) * (Gazetteer.E - Gazetteer.W) / Gazetteer.NRegions
      assert(cx >= west && cx < west + (Gazetteer.E - Gazetteer.W) / Gazetteer.NRegions,
        s"place $i centre outside ${region.text}")
    }
    val cw = (Gazetteer.E - Gazetteer.W) / g.g
    val ch = (Gazetteer.N - Gazetteer.S) / g.g
    g.reverseBatch(0, 2000).foreach { p =>
      val i = (p.expectedPlace - 100000L).toInt
      val (cx, cy) = g.center(i)
      assert(math.abs(p.lon - cx) <= 0.4 * cw && math.abs(p.lat - cy) <= 0.4 * ch,
        s"point ${p.id} outside place $i")
    }
    g.forwardBatch(0, 200).foreach { q =>
      assert(q.shape == "typo_street" || q.text.contains(q.expected), q)
    }
    assert(g.forwardBatch(0, 200).map(_.shape).toSet ===
      Set("street_place", "place", "place_region", "housenum", "typo_street"))
    assert(g.forwardBatch(7, 10).groupBy(_.shape).values.map(_.size).toSet === Set(2))
  }

  test("the typo transposes two inner letters") {
    assert(Gazetteer.typo("Babace") === "Babcae")
    assert(Gazetteer.typo("Baba") === "Baba")
  }
}
