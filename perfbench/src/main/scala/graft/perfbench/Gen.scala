package graft.perfbench

import java.security.MessageDigest

/** Seeded input generator. Pure: it sees only the seed and the sizes of
  * the inputs, never Spark, so the invariants in GeneratorSpec hold
  * without a session. Every plan is generated up front to a fixed
  * length; a run consumes a prefix of it, and the digest covers the whole
  * plan, so the digest depends on the seed alone and not on how far a
  * run got.
  */
object Gen {

  /** Query vocabulary: the 30 frequent terms of the testdata corpus. */
  val vocab: Vector[String] = Vector(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value", "data",
    "small", "join", "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  def digest(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** `passes` seeded permutations of `ops`, one per pass. */
  def corpusPlan(seed: Long, ops: IndexedSeq[String], passes: Int): Vector[Vector[String]] = {
    val rng = new scala.util.Random(seed)
    Vector.fill(passes)(rng.shuffle(ops.toVector))
  }

  /** A row re-keyed to a fresh id: `id` is new, `src` is the testdata row
    * whose content it carries. */
  final case class Row(id: Long, src: Long)

  final case class Cycle(
      ingestDocs: Vector[Row],
      ingestVecs: Vector[Row],
      retractDocs: Vector[Long],
      retractVecs: Vector[Long],
      searches: Vector[Vector[String]],
      knnQueries: Vector[Long])

  final case class IndexPlan(
      initialDocs: Vector[Long],
      initialVecs: Vector[Long],
      cycles: Vector[Cycle]) {
    def digest: String = Gen.digest(
      Iterator(initialDocs.mkString(","), initialVecs.mkString(",")) ++
        cycles.iterator.map(_.toString))
  }

  /** The index lifecycle plan over `nDocs` documents (ids 0 until nDocs)
    * and `nVecs` vectors (ids 0 until nVecs).
    *
    *  - the initial live sets are a seeded half of each;
    *  - each cycle ingests `batch` documents and `batch` vectors, each a
    *    testdata row drawn with replacement and re-keyed to a fresh id
    *    (fresh ids count up from the table's size and are never reused,
    *    so no tombstoned id is ever appended again);
    *  - it then retracts `batch` live ids of each kind, drawn without
    *    replacement from the live set, so no id is retracted twice and
    *    the live set keeps its size;
    *  - `searches` BM25 queries of 2 to 4 distinct vocabulary terms and
    *    `searches` kNN queries by testdata vector;
    *  - every cycle then ends with a maintenance of both indexes, which
    *    the workload runs; the plan holds no step for it.
    */
  def indexPlan(
      seed: Long,
      nDocs: Int,
      nVecs: Int,
      cycles: Int,
      batch: Int,
      searches: Int): IndexPlan = {
    val rng = new scala.util.Random(seed)
    val docs0 = rng.shuffle((0L until nDocs.toLong).toVector).take(nDocs / 2).sorted
    val vecs0 = rng.shuffle((0L until nVecs.toLong).toVector).take(nVecs / 2).sorted
    // live sets as index-addressable buffers: removal swaps the last
    // element in, so a draw is O(1) and depends only on the rng
    val liveD = scala.collection.mutable.ArrayBuffer.from(docs0)
    val liveV = scala.collection.mutable.ArrayBuffer.from(vecs0)
    var nextD = nDocs.toLong
    var nextV = nVecs.toLong
    def take(live: scala.collection.mutable.ArrayBuffer[Long]): Long = {
      val i = rng.nextInt(live.size)
      val id = live(i)
      live(i) = live(live.size - 1)
      live.remove(live.size - 1)
      id
    }
    val cs = Vector.fill(cycles) {
      val inD = Vector.fill(batch) { val r = Row(nextD, rng.nextInt(nDocs).toLong); nextD += 1; r }
      val inV = Vector.fill(batch) { val r = Row(nextV, rng.nextInt(nVecs).toLong); nextV += 1; r }
      liveD ++= inD.map(_.id)
      liveV ++= inV.map(_.id)
      val outD = Vector.fill(batch)(take(liveD))
      val outV = Vector.fill(batch)(take(liveV))
      val qs = Vector.fill(searches) {
        rng.shuffle(vocab).take(2 + rng.nextInt(3))
      }
      val ks = Vector.fill(searches)(rng.nextInt(nVecs).toLong)
      Cycle(inD, inV, outD, outV, qs, ks)
    }
    IndexPlan(docs0, vecs0, cs)
  }
}
