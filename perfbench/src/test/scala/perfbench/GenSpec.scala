package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val shares = Gen.Shares(exact = 0.10, near = 0.10, lowQuality = 0.04)

  private def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).map(_.mkString(" ")).toSet

  private def jaccard(a: Set[String], b: Set[String]): Double =
    (a & b).size.toDouble / (a | b).size

  test("the corpus is a function of its seed") {
    assert(Gen.corpus(5, 2000, shares) == Gen.corpus(5, 2000, shares))
    assert(Gen.corpus(5, 2000, shares) != Gen.corpus(6, 2000, shares))
  }

  test("the corpus holds the declared duplicate shares") {
    val docs = Gen.corpus(9, 2000, shares)
    assert(docs.map(_.id) == (0L until 2000L))
    val byCluster = docs.groupBy(_.cluster)
    // originals: one per cluster; the rest are the planted copies and edits
    assert(docs.size - byCluster.size == 400)
    assert(docs.count(_.lowQuality) == 80)
    assert(byCluster.values.filter(_.exists(_.lowQuality)).forall(_.size == 1))
    val exactCopies = byCluster.values.map(ds => ds.size - ds.map(_.text).distinct.size).sum
    assert(exactCopies >= 200)
    assert(Gen.releaseKept(docs) == byCluster.values.filterNot(_.head.lowQuality)
      .map(_.map(_.id).min).toSet)
  }

  test("clusters are the near-dup groups at the program's 0.7 threshold") {
    val docs = Gen.corpus(3, 1500, shares).filterNot(_.lowQuality)
    val sh = docs.map(d => d.id -> shingles(d.text)).toMap
    docs.groupBy(_.cluster).values.filter(_.size > 1).foreach { ds =>
      for (a <- ds; b <- ds if a.id < b.id) assert(jaccard(sh(a.id), sh(b.id)) >= 0.88)
    }
    val reps = docs.groupBy(_.cluster).values.map(_.head).toVector
    for (i <- 0 until 200; j <- i + 1 until 200)
      assert(jaccard(sh(reps(i).id), sh(reps(j).id)) < 0.1)
  }

  test("the call stream is a function of its seed, one call of each kind per cycle") {
    val s = EtlCalls.stream(4, 60)
    assert(s == EtlCalls.stream(4, 60) && s != EtlCalls.stream(5, 60))
    s.grouped(EtlCalls.kinds.size).foreach(c => assert(c.map(_.kind) == EtlCalls.kinds))
  }
}
