package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Entity

class EntitySpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("fuzzySelfJoin pairs same-block names within edit distance") {
    val d = Seq("red bolt", " red bol", "old bolt", "blue gear", "blu gear",
      "red widget").toDF("p_name")
    val r = Entity.fuzzySelfJoin(d, "p_name").collect()
      .map(x => (x.getString(0), x.getString(1), x.getInt(2))).toSeq
    // "red bol" blocks on "bol", not "bolt" — out of contract by the
    // declared blocking policy even though its true distance is 1
    assert(r === Seq(("blu gear", "blue gear", 1), ("old bolt", "red bolt", 2)))
  }

  test("fuzzySelfJoin never pairs across blocks or beyond maxDist") {
    val d = Seq("aaa x", "aab x", "zzz x", "aaa y").toDF("p_name")
    val r = Entity.fuzzySelfJoin(d, "p_name").collect()
      .map(x => (x.getString(0), x.getString(1))).toSeq
    assert(r === Seq(("aaa x", "aab x"))) // "zzz x" is 3 edits away
  }

  test("sortedNeighborhood finds adjacent near-dups, respects the window") {
    val docs = Seq(
      (1L, "alpha document one shared prefix body"),
      (2L, "alpha document one shared prefix body!!"), // near-dup of 1
      (3L, "alpha document one shared prefix body???"), // near-dup of 1,2
      (4L, "zebra entirely different text far away in sort order"),
      (5L, "zebra entirely different text far away in sort order.."))
      .toDF("doc_id", "text")
    val r = Entity.sortedNeighborhood(docs, window = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    // alpha family adjacent (punctuation normalizes away → dist 0);
    // zebra pair adjacent; no cross-family pair survives the verify
    assert(r === Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
  }

  test("sortedNeighborhood window=1 keeps only consecutive ranks") {
    val docs = Seq(
      (1L, "aaaa one"), (2L, "aaaa two"), (3L, "aaaa three"))
      .toDF("doc_id", "text")
    // sort order by normalized prefix: aaaaone(1) < aaaathree(3) < aaaatwo(2)
    // pairs come out in RANK order (a = earlier in sort), not id order
    val r = Entity.sortedNeighborhood(docs, window = 1, maxDist = 40)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r === Set((1L, 3L), (3L, 2L)))
  }

  test("sortedNeighborhood matches a driver-side reference on many docs") {
    val docs = (0 until 120).map { i =>
      (i.toLong, s"prefix ${(i * 2654435761L) % 7} body token ${i % 11} tail")
    }
    val got = Entity.sortedNeighborhood(docs.toDF("doc_id", "text"),
        window = 3).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    def norm(s: String) = s.toLowerCase.replaceAll("[^a-zA-Z0-9]", "")
    val ranked = docs.map { case (id, t) =>
      (id, norm(t).take(16), norm(t).take(40)) }
      .sortBy { case (id, k, _) => (k, id) }.zipWithIndex
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      (a, ra) <- ranked; (b, rb) <- ranked
      if rb > ra && rb <= ra + 3
      dist = lev(a._3, b._3) if dist <= 10
    } yield (a._1, b._1, dist)).toSet
    assert(got === want)
  }
}
