package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components of an edge list — the cluster-assignment stage of
  * near-duplicate document dedup (reference semantics: the transitive
  * closure the driver oracle computes with a recursive CTE). Output
  * contract of both lanes: (doc_id, label) with label = the minimum node id
  * reachable, one row per node that has an edge other than a self-loop.
  *
  * Two lanes, chosen by the graph's size: a driver union-find below
  * `LocalEdgeCap` symmetrized edges, and large-star/small-star contraction
  * above it (or when the ids are not longs). Every per-round lineage cut is
  * a `localCheckpoint`: executor-block storage, so a lost executor fails
  * the query rather than recomputing a round.
  */
object Components {

  /** Symmetrized edges the driver lane accepts: 2M × 16 B = 32 MB of ids,
    * broadcast-relation scale. Every corpus graph sits far below it (sf0.1:
    * 37,937 dedup pairs, ~76k symmetrized edges). */
  private val LocalEdgeCap = 2000000

  /** edges: two columns (src, dst), both directions present or not —
    * symmetrized internally. Below `LocalEdgeCap` symmetrized long-id edges
    * the graph is collected by one bounded job and labeled by a driver
    * union-find, which takes milliseconds where every distributed round
    * pays a job's fixed cost (measured at sf0.1 on 4 cores: 0.33 s against
    * 1.21 s for star contraction and 1.66 s for min-label propagation on
    * the same checkpointed edges). Above the cap the graph goes to
    * [[connectedComponentsStar]]. */
  def connectedComponents(
      edges: DataFrame,
      src: String = "src",
      dst: String = "dst"): DataFrame = {
    val sym = edges.select(col(src).as("s"), col(dst).as("d"))
      .union(edges.select(col(dst).as("s"), col(src).as("d")))
      .filter(col("s") =!= col("d"))
      .distinct()
      .localCheckpoint()
    val longIds = sym.schema.fields
      .forall(_.dataType == org.apache.spark.sql.types.LongType)
    // gate + collect in ONE bounded job: limit(cap+1) over the checkpointed
    // blocks stops as soon as cap+1 rows exist, so a large graph costs a
    // bounded prefix, and a small graph's rows feed the union-find directly
    if (longIds) {
      val head = sym.limit(LocalEdgeCap + 1).collect()
      if (head.length <= LocalEdgeCap) return localUnionFind(sym, head)
    }
    // the checkpointed symmetrized edges, so the caller's edge pipeline
    // is not run a second time
    connectedComponentsStar(sym, "s", "d")
  }

  /** Driver-side union-find over a collected SYMMETRIZED long-id edge set
    * — the small-graph lane of [[connectedComponents]]. Union by
    * min-root (the smaller root absorbs) + path compression, so each
    * root IS the component's min id; labels therefore match star
    * contraction exactly. The rows arrive pre-collected from
    * the lane gate's bounded probe — no second pass over the edges. */
  private def localUnionFind(sym: DataFrame,
      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rows.foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val spark = sym.sparkSession
    import spark.implicits._
    parent.keys.toSeq.map(k => (k, find(k))).toDF("doc_id", "label")
  }

  /** Connected components by alternating large-star / small-star edge
    * contraction (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
    * "Connected Components in MapReduce and Beyond", SoCC 2014). Same
    * output contract as [[connectedComponents]] — (doc_id, label) with
    * label = min reachable node id — in O(log²) rounds rather than the
    * O(diameter) of label propagation: the lane for graphs above the
    * driver cap, including giant components and long chains. `maxRounds`
    * bounds the loop; a graph still contracting past it fails loudly.
    *
    * Every phase is a map-side-combinable min-aggregate plus an equi-join
    * — no per-node neighbor lists are ever collected, so a hub with
    * millions of edges stays a partial-aggregate, not a single-task
    * array; residual join skew on hot nodes is AQE skew-join territory.
    * Convergence = the edge set IS a star forest (each member exactly one
    * edge, no member also a center) — a structural test that fires the
    * round the fixpoint is REACHED instead of the round after it
    * reproduces itself (round 17; formerly consecutive-signature
    * equality). One grouped aggregate over the edge set per round.
    */
  def connectedComponentsStar(
      edges: DataFrame,
      src: String = "src",
      dst: String = "dst",
      maxRounds: Int = 30): DataFrame = {
    val raw = edges.select(col(src).as("u"), col(dst).as("v"))
      .filter(col("u") =!= col("v"))

    // Orient (u > v) — the invariant both phases preserve. Cut FIRST:
    // allNodes then derives from the checkpointed blocks instead of
    // re-running the caller's edge pipeline a second, SERIAL time
    // (round 17 — the two cuts were independent actions, so the pairs
    // self-join behind the dedup queries evaluated twice back-to-back;
    // e's endpoints are exactly raw-minus-self-loops' node set, so the
    // derivation is lossless).
    var e = raw.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct().localCheckpoint()
    // allNodes reads the checkpointed oriented edges LAZILY: it is
    // consumed exactly once (the final label join), so its own cut was a
    // pure extra materialization pass (round 18; the r17 cut existed to
    // avoid re-running the caller's pairs pipeline, which the cut on `e`
    // above already prevents — e's blocks outlive the loop's reassignment
    // of the variable).
    val allNodes = e.select(col("u").as("doc_id"))
      .union(e.select(col("v").as("doc_id"))).distinct()

    // Convergence = the edge set IS a star forest (centers = minima):
    // every member u has exactly one edge and no member is also a center.
    // Star forests are fixpoints of both phases (Kiveris et al. thm 1-2),
    // so this detects the SAME fixpoint the former consecutive-signature
    // comparison did, one round earlier — the signature only noticed the
    // fixpoint after paying for the round that reproduced it (round-17
    // measured: one full round ≈ 0.5s of the query at sf0.1). One
    // aggregate action over the freshly checkpointed edge blocks.
    def isStarForest(d: DataFrame): Boolean =
      d.select(col("u").as("x"), lit(1).as("m"))
        .union(d.select(col("v").as("x"), lit(2).as("m")))
        .groupBy("x")
        .agg(sum(when(col("m") === 1, 1).otherwise(0)).as("mem"),
          max(col("m")).as("mx"))
        .filter(col("mem") > 1 || (col("mem") >= 1 && col("mx") === 2))
        .isEmpty

    // isStarForest is vacuously true on an empty edge set (the filtered
    // aggregate is empty), so no separate isEmpty pre-check job runs
    // (round 18: each isEmpty was one more action per round).
    var round = 0
    var converged = isStarForest(e)
    while (!converged) {
      round += 1
      if (round > maxRounds)
        throw new IllegalStateException(
          s"connectedComponentsStar: not converged after $maxRounds rounds")
      // large-star: every node's larger neighbors attach to its min.
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u")
        .agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.filter(col("v") > col("u"))
        .join(mins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: every node's smaller neighbors (all of them, given the
      // orientation) plus itself attach to its min.
      val smins = large.groupBy("u").agg(min("v").as("m"))
      val next = large.join(smins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(smins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct().localCheckpoint()
      converged = isStarForest(next)
      e = next
    }
    // e is now a star forest: (member, center) with center = component min.
    allNodes.join(e.select(col("u").as("doc_id"), col("v").as("__c")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__c"), col("doc_id")).as("label"))
  }
}
