package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the seeded input generator. Run with `sbt test` inside
  * perfbench/. */
class GeneratorSpec extends AnyFunSuite {
  private def plan(seed: Long) = Gen.indexPlan(seed, nDocs = 5000, nVecs = 2000, cycles = 200,
    batch = 50, searches = 4)
  private val ops = (1 to 44).map(i => f"d$i%02d")

  test("the same seed gives the same digest") {
    assert(plan(7).digest == plan(7).digest)
    val c1 = Gen.corpusPlan(7, ops, 10).iterator.map(_.mkString(","))
    val c2 = Gen.corpusPlan(7, ops, 10).iterator.map(_.mkString(","))
    assert(Gen.digest(c1) == Gen.digest(c2))
  }

  test("a different seed gives a different digest") {
    assert(plan(7).digest != plan(8).digest)
    assert(Gen.digest(Gen.corpusPlan(7, ops, 3).iterator.map(_.mkString(","))) !=
      Gen.digest(Gen.corpusPlan(8, ops, 3).iterator.map(_.mkString(","))))
  }

  test("no id is retracted twice, no retracted id comes back, the live set keeps its size") {
    for (seed <- 1L to 5L) {
      val p = plan(seed)
      var liveD = p.initialDocs.toSet
      var liveV = p.initialVecs.toSet
      val goneD = scala.collection.mutable.Set[Long]()
      val goneV = scala.collection.mutable.Set[Long]()
      p.cycles.foreach { c =>
        // an appended id is new: never live, never tombstoned
        c.ingestDocs.foreach(r => assert(!liveD(r.id) && !goneD(r.id)))
        c.ingestVecs.foreach(r => assert(!liveV(r.id) && !goneV(r.id)))
        liveD ++= c.ingestDocs.map(_.id)
        liveV ++= c.ingestVecs.map(_.id)
        // a retracted id is live and distinct within its batch
        assert(c.retractDocs.distinct.size == c.retractDocs.size)
        assert(c.retractVecs.distinct.size == c.retractVecs.size)
        c.retractDocs.foreach(i => assert(liveD(i) && !goneD(i)))
        c.retractVecs.foreach(i => assert(liveV(i) && !goneV(i)))
        liveD --= c.retractDocs; goneD ++= c.retractDocs
        liveV --= c.retractVecs; goneV ++= c.retractVecs
        assert(liveD.size == 2500 && liveV.size == 1000)
      }
    }
  }

  test("inputs stay inside the testdata and the query vocabulary") {
    val p = plan(3)
    p.cycles.foreach { c =>
      c.ingestDocs.foreach(r => assert(r.src >= 0 && r.src < 5000))
      c.ingestVecs.foreach(r => assert(r.src >= 0 && r.src < 2000))
      c.knnQueries.foreach(q => assert(q >= 0 && q < 2000))
      c.searches.foreach { q =>
        assert(q.size >= 2 && q.size <= 4 && q.distinct.size == q.size)
        assert(q.forall(Gen.vocab.contains))
      }
    }
  }
}
