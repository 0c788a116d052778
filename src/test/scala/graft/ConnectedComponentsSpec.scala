package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `DupClusters.connectedComponents` against a driver-side union-find on
  * the graph shapes that break diameter-bounded propagation, and the
  * failure contract of the fixpoint loop under it,
  * `Checkpoints.converge`. */
class ConnectedComponentsSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  /** Min-id label of every endpoint, by union-find on the driver. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  private def log2Ceil(n: Int): Int =
    32 - Integer.numberOfLeadingZeros(n - 1)

  /** The labels and the rounds `connectedComponents` spent on them. */
  private def components(edges: Seq[(Long, Long)]): (Map[Long, Long], Long) = {
    val before = Checkpoints.rounds.get()
    val got = llm.DupClusters.connectedComponents(
        edges.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (got, Checkpoints.rounds.get() - before)
  }

  private def checkAgainstUnionFind(edges: Seq[(Long, Long)]): Long = {
    val (got, rounds) = components(edges)
    assert(got === unionFind(edges))
    rounds
  }

  private def path(ids: Seq[Long]): Seq[(Long, Long)] =
    ids.zip(ids.tail)

  test("a 2,000-node path with random ids: union-find labels, log rounds") {
    val ids = new scala.util.Random(7).shuffle((1L to 2000L).toVector)
    val rounds = checkAgainstUnionFind(path(ids))
    info(s"$rounds rounds")
    assert(rounds <= 2 * log2Ceil(2000), s"$rounds rounds")
  }

  test("the same path in ascending id order") {
    val rounds = checkAgainstUnionFind(path((1L to 2000L).toVector))
    info(s"$rounds rounds")
    assert(rounds <= 2 * log2Ceil(2000), s"$rounds rounds")
  }

  test("a random forest of chains 2-300 long") {
    val rnd = new scala.util.Random(11)
    val lengths = Seq.fill(20)(2 + rnd.nextInt(299))
    val ids = rnd.shuffle((1L to lengths.sum.toLong).toVector)
    val chains = lengths.scanLeft(0)(_ + _).zip(lengths)
      .map { case (from, len) => ids.slice(from, from + len) }
    info(s"${checkAgainstUnionFind(chains.flatMap(path))} rounds")
  }

  test("a self-pair is a vertex labeled by itself") {
    val (got, _) = components(Seq((5L, 5L), (8L, 9L)))
    assert(got === Map(5L -> 5L, 8L -> 8L, 9L -> 8L))
  }

  test("duplicated and reversed pairs change nothing") {
    val edges = Seq((3L, 1L), (1L, 3L), (3L, 1L), (4L, 3L), (3L, 4L),
      (10L, 12L), (12L, 10L))
    checkAgainstUnionFind(edges)
  }

  test("an empty pair frame has no labels") {
    val (got, _) = components(Seq.empty)
    assert(got.isEmpty)
  }

  test("converge: an exhausted budget throws and releases every checkpoint") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val seed = Seq(1L, 2L, 3L).toDF("v").localCheckpoint()
    val roundsBefore = Checkpoints.rounds.get()
    val e = intercept[IllegalStateException] {
      Checkpoints.converge(seed, budget = 3) { (s: DataFrame) =>
        s.withColumn(Checkpoints.Changed, lit(true))
      }
    }
    assert(e.getMessage.contains("budget 3"))
    // 3 changing rounds within the budget, the 4th is one too many
    assert(Checkpoints.rounds.get() - roundsBefore === 4)
    val left = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(left.isEmpty, s"left ${left.size} persistent RDDs")
  }
}
