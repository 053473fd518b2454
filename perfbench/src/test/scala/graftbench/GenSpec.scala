package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("same seed gives identical staged batches, another seed different ones") {
    val a = Gen.Papers(seed = 7)
    val b = Gen.Papers(seed = 7)
    val c = Gen.Papers(seed = 8)
    assert(a.base(200) == b.base(200))
    assert((1 to 5).map(a.batch(_, 200)) == (1 to 5).map(b.batch(_, 200)))
    assert(a.base(200) != c.base(200))
    assert(a.batch(1, 200) != c.batch(1, 200))
  }

  test("a batch holds 50 papers, two or three of them replays of earlier ids") {
    val g = Gen.Papers(seed = 3)
    (1 to 20).foreach { b =>
      val batch = g.batch(b, before = 1000)
      assert(batch.size == 50)
      val replays = batch.count(_.id < f"p${1000}%07d")
      assert(replays >= 2 && replays <= 3, s"batch $b replays $replays")
      assert(batch.forall(p => p.authors.map(_.fullName).distinct.size == p.authors.size))
    }
  }

  test("read corpus rows are a pure function of the corpus seed") {
    val x = Gen.ReadCorpus(sf = 0.001, seed = 1)
    assert(x.lineitem == Gen.ReadCorpus(sf = 0.001, seed = 1).lineitem)
    assert(x.documents == Gen.ReadCorpus(sf = 0.001, seed = 1).documents)
    assert(x.lineitem != Gen.ReadCorpus(sf = 0.001, seed = 2).lineitem)
  }

  test("ground truth: replays add no fact rows and h/g-index follow their definitions") {
    val g = Gen.Papers(seed = 5)
    val papers = g.base(300) ++ g.batch(1, 300)
    val t = Gen.Truth(papers)
    assert(t.factRows == 300 + 50 - papers.takeRight(50).count(_.id < f"p${300}%07d"))
    assert(Gen.Truth.h(Seq(10, 8, 5, 4, 3)) == 4)
    assert(Gen.Truth.h(Seq(0, 0)) == 0)
    // top-r sums 10, 18, 23, 27, 30 against r² 1, 4, 9, 16, 25
    assert(Gen.Truth.g(Seq(10, 8, 5, 4, 3)) == 5)
    assert(Gen.Truth.g(Seq(3, 0, 0)) == 1)
  }
}
