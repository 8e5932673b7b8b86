package graft

import graft.operators.Components
import org.apache.spark.sql.DataFrame
import scala.util.Random

/** Both components lanes — `connectedComponents` (driver union-find below
  * its edge cap, star contraction above it) and `connectedComponentsStar`
  * (Kiveris et al., SoCC 2014) — against a plain driver BFS and a driver
  * min-label propagation written here: label = min node id reachable,
  * self-loops ignored, one row per node with a non-loop edge. */
class ComponentsStarSpec extends SparkFunSuite {

  private val ss = SparkTestBase.spark
  import ss.implicits._

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r =>
      r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap

  /** Reference labels by breadth-first search over an adjacency map. */
  private def bfs(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    val label = scala.collection.mutable.Map.empty[Long, Long]
    for (start <- adj.keys.toSeq.sorted if !label.contains(start)) {
      // keys visited in ascending order: the first unvisited node of a
      // component is its minimum
      val queue = scala.collection.mutable.Queue(start)
      label(start) = start
      while (queue.nonEmpty) {
        adj(queue.dequeue()).foreach { n =>
          if (!label.contains(n)) { label(n) = start; queue.enqueue(n) }
        }
      }
    }
    label.toMap
  }

  /** Reference min-label propagation: every node starts labeled with its
    * own id and takes the min label of its neighbors each round. `None`
    * when it has not reached its fixpoint within `maxRounds` — it needs a
    * round per hop of the longest shortest path. */
  private def propagate(edges: Seq[(Long, Long)],
      maxRounds: Int = 1000): Option[Map[Long, Long]] = {
    val sym = edges.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
    var label = sym.map(_._1).distinct.map(v => v -> v).toMap
    for (_ <- 1 to maxRounds) {
      val next = sym.foldLeft(label) { case (m, (a, b)) =>
        if (label(b) < m(a)) m.updated(a, label(b)) else m }
      if (next == label) return Some(label)
      label = next
    }
    None
  }

  /** Both lanes equal the BFS reference on `edges`. */
  private def assertBothLanes(edges: Seq[(Long, Long)], clue: String,
      maxRounds: Int = 30): Unit = {
    val df = edges.toDF("src", "dst")
    val expected = bfs(edges)
    assert(labelsOf(Components.connectedComponents(df)) == expected,
      s"$clue: connectedComponents")
    assert(labelsOf(Components.connectedComponentsStar(df,
      maxRounds = maxRounds)) == expected, s"$clue: connectedComponentsStar")
  }

  test("both lanes equal a driver BFS on seeded random graphs") {
    // each graph carries self-loops, duplicate edges and reversed edges
    val rng = new Random(42)
    for (trial <- 1 to 3) {
      val n = 200 + 50 * trial
      val base = Seq.fill(150 + 40 * trial)(
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val loops = Seq.fill(10)(rng.nextInt(n).toLong).map(v => (v, v))
      val dups = rng.shuffle(base).take(30)
      val reversed = rng.shuffle(base).take(30).map(_.swap)
      assertBothLanes(rng.shuffle(base ++ loops ++ dups ++ reversed),
        s"trial $trial")
    }
  }

  test("star contraction matches min-label propagation on seeded random graphs") {
    val rng = new Random(42)
    for (trial <- 1 to 3) {
      val n = 200
      val edges = Seq.fill(150)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val df = edges.toDF("src", "dst")
      val base = propagate(edges).get
      assert(base == bfs(edges), s"trial $trial: reference propagation")
      assert(labelsOf(Components.connectedComponentsStar(df)) == base,
        s"trial $trial")
    }
  }

  test("round-17 local union-find lane: identical labels to both " +
      "distributed algorithms on seeded random graphs, and the cap gate " +
      "routes tiny long-id graphs through it") {
    // the distributed algorithms: star contraction, and min-label
    // propagation as the reference computes it
    val rng = new Random(1717)
    for (trial <- 1 to 3) {
      val n = 300
      val edges = Seq.fill(220)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val df = edges.toDF("src", "dst")
      val local = labelsOf(Components.connectedComponents(df))
      assert(local == propagate(edges).get, s"trial $trial local vs propagation")
      assert(local == labelsOf(Components.connectedComponentsStar(df)),
        s"trial $trial local vs star")
    }
    // long ids below the cap: the union-find's output keeps the
    // distributed lanes' column names and types
    val out = Components.connectedComponents(Seq((5L, 2L)).toDF("src", "dst"))
    assert(out.columns.toSeq == Seq("doc_id", "label"))
    assert(out.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType))
    assert(labelsOf(out) == Map(5L -> 2L, 2L -> 2L))
  }

  test("auto equals propagation on a small mixed graph") {
    // connectedComponents is the automatic entry: it picks its lane
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (22L, 20L))
    assert(labelsOf(Components.connectedComponents(edges.toDF("src", "dst")))
      == propagate(edges).get)
  }

  test("auto: giant hub takes the star path and labels correctly") {
    // int ids send connectedComponents to star contraction whatever the
    // graph's size; a 2,500-spoke hub is one node holding every edge
    val hub = (1 to 2500).map(i => (0, i))
    val side = Seq((9000, 9001))
    val auto = labelsOf(Components.connectedComponents(
      (hub ++ side).toDF("src", "dst")))
    assert((0L to 2500L).forall(auto(_) == 0L))
    assert(auto(9000L) == 9000L && auto(9001L) == 9000L)
    assert(auto.size == 2503)
  }

  test("auto: long chain escapes propagation via the patience fallback") {
    // a 60-hop chain needs ~60 propagation rounds; the automatic entry
    // runs no propagation, so it labels the chain on either lane
    val chain = (0L until 60L).map(i => (i, i + 1))
    assert(propagate(chain, maxRounds = 10).isEmpty)
    val expected = (0L to 60L).map(_ -> 0L).toMap
    assert(labelsOf(Components.connectedComponents(chain.toDF("src", "dst")))
      == expected)
    val ints = chain.map { case (a, b) => (a.toInt, b.toInt) }
    assert(labelsOf(Components.connectedComponents(ints.toDF("src", "dst")))
      == expected)
  }

  test("non-long ids route connectedComponents to star") {
    val rng = new Random(7)
    val edges = Seq.fill(300)((rng.nextInt(250).toLong, rng.nextInt(250).toLong))
    val ints = edges.map { case (a, b) => (a.toInt, b.toInt) }.toDF("src", "dst")
    val out = Components.connectedComponents(ints)
    assert(out.columns.toSeq == Seq("doc_id", "label"))
    assert(out.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.IntegerType))
    assert(labelsOf(out) == bfs(edges))
  }

  test("long chain: star contraction converges where label propagation is O(n)") {
    // 300-node path: a label-propagation round per hop would need ~300;
    // star needs O(log²) and fails loudly below what it needs
    val chain = (0L until 299L).map(i => (i, i + 1))
    assertBothLanes(chain, "chain", maxRounds = 25)
    val e = intercept[IllegalStateException] {
      Components.connectedComponentsStar(chain.toDF("src", "dst"), maxRounds = 2)
    }
    assert(e.getMessage.contains("not converged after 2 rounds"))
  }

  test("hub graph (giant star) and multiple components") {
    // a 2,500-spoke hub next to a 3-chain and a triangle
    val hub = (1L to 2500L).map(i => (0L, i))
    val other = Seq((9000L, 9001L), (9001L, 9002L),
      (9020L, 9021L), (9021L, 9022L), (9022L, 9020L))
    assertBothLanes(hub ++ other, "hub")
    val labels = bfs(hub ++ other)
    assert((0L to 2500L).forall(labels(_) == 0L))
    assert(labels(9002L) == 9000L && labels(9022L) == 9020L)
  }

  test("two-node and empty edge sets") {
    assertBothLanes(Seq((7L, 3L)), "one edge")
    val one = Components.connectedComponents(Seq((7L, 3L)).toDF("src", "dst"))
    assert(one.columns.toSeq == Seq("doc_id", "label"))
    assert(one.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType))
    assert(labelsOf(one) == Map(7L -> 3L, 3L -> 3L))
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Components.connectedComponents(empty).count() == 0)
    assert(Components.connectedComponentsStar(empty).count() == 0)
  }

  test("self-loops and duplicate edges are absorbed") {
    val edges = Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L))
    assertBothLanes(edges, "loops")
    assert(bfs(edges) == Map(1L -> 1L, 2L -> 1L))
  }
}
