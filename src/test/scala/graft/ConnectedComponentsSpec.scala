package graft

import scala.util.Random
import org.apache.spark.sql.Encoder
import graft.operators.ConnectedComponents

/** ConnectedComponents vs a driver-side union-find oracle on adversarial
  * graph shapes — including the long chains that plain diameter-bound
  * label propagation would get wrong without enough rounds — and its
  * directed `minLabel` fixpoint vs the min over each vertex's ancestors. */
class ConnectedComponentsSpec extends SparkSpec {

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-id per root, then map every touched vertex to it
    val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val minOfRoot = touched.groupBy(v => find(v.toInt))
      .map { case (r, vs) => r -> vs.min }
    touched.map(v => v -> minOfRoot(find(v.toInt))).toMap
  }

  private def check(n: Int, edges: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val got = ConnectedComponents.run(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = unionFind(n, edges)
    assert(got == want,
      s"mismatch: ${(got.toSet diff want.toSet).take(5)} vs " +
        s"${(want.toSet diff got.toSet).take(5)}")
  }

  /** `minLabel` over directed `edges` (and `verts`) vs the definition:
    * each vertex's label is the min id among itself and every vertex that
    * reaches it. Returns the round count. */
  private def checkMin[T: Ordering](edges: Seq[(T, T)], verts: Seq[T] = Nil)(
      implicit ee: Encoder[(T, T)], ve: Encoder[T]): Int = {
    val (lf, rounds) = ConnectedComponents.minLabel(
      spark.createDataset(edges).toDF("src", "dst"),
      Option.when(verts.nonEmpty)(spark.createDataset(verts).toDF("id")))
    val got = lf.collect().map(r => r.getAs[T](0) -> r.getAs[T](1)).toMap
    val preds = edges.groupMap(_._2)(_._1)
    def minAncestor(v: T): T = {
      var seen = Set(v); var front = Seq(v)
      while (front.nonEmpty) {
        front = front.flatMap(preds.getOrElse(_, Nil)).filterNot(seen)
        seen ++= front
      }
      seen.min
    }
    val want = (if (verts.isEmpty) edges.map(_._2) else verts).distinct
      .map(v => v -> minAncestor(v)).toMap
    assert(got == want, s"mismatch: ${(got.toSet diff want.toSet).take(5)} " +
      s"vs ${(want.toSet diff got.toSet).take(5)}")
    rounds
  }

  test("64-vertex path converges in ≤ 8 rounds, ids up and down (the " +
    "jump's doubling; propagation alone needs 63)") {
    import spark.implicits._
    for (ids <- Seq(0L until 64L, 63L to 0L by -1)) {
      val path = ids.zip(ids.tail)
      check(64, path)
      val rounds = checkMin(path ++ path.map(_.swap))
      assert(rounds <= 8, s"$rounds rounds on a 64-vertex path")
    }
  }

  test("directed cycle with a tail: each label is the min ancestor, " +
    "ids up and down") {
    import spark.implicits._
    val g = Seq((10L, 11L), (11L, 5L), (5L, 3L), (3L, 8L), (8L, 5L),
      (8L, 6L), (6L, 1L), (1L, 4L))
    for (id <- Seq((v: Long) => v, (v: Long) => 20L - v))
      checkMin(g.map { case (a, b) => (id(a), id(b)) })
  }

  test("string labels: the lexicographic min name labels each component") {
    import spark.implicits._
    val g = Seq(("pear", "apple"), ("apple", "fig"), ("lime", "kiwi"))
    checkMin(g ++ g.map(_.swap))
  }

  test("verts: a vertex without an in-edge, or without any edge, labels " +
    "itself") {
    import spark.implicits._
    val sym = Seq((1L, 2L), (2L, 3L))
    checkMin(sym ++ sym.map(_.swap) :+ ((5L, 6L)), Seq(1L, 2L, 3L, 5L, 6L, 7L))
  }

  test("long chain (diameter 199) resolves to one component") {
    check(200, (0L until 199L).map(i => (i, i + 1)))
  }

  test("two chains + a clique + isolated pair") {
    val chainA = (0L until 50L).map(i => (i, i + 1))
    val chainB = (100L until 140L).map(i => (i + 1, i)) // reversed edges
    val clique = for (a <- 200L until 210L; b <- (a + 1) until 210L)
      yield (b, a)
    val pair = Seq((300L, 301L))
    check(302, chainA ++ chainB ++ clique ++ pair)
  }

  test("random sparse graphs match union-find (3 seeds)") {
    for (seed <- 1 to 3) {
      val rnd = new Random(seed)
      val n = 150
      val edges = Seq.fill(120)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      check(n, edges)
    }
  }

  test("self-loops and duplicate edges are tolerated") {
    check(10, Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L), (5L, 5L), (3L, 4L)))
  }
}
