package graft.join

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.{functions => F}

/**
 * Distributed graph traversal primitives over plain edge DataFrames —
 * the spatial-network layer (zone adjacency, road connectivity) that a
 * geo pipeline reaches for right after the adjacency join itself
 * ⟨ref(engine): adjacency = relational composition of the topological
 * predicates; the reference has no traversal operator, so this is the
 * Spark-native extension of its RELATE/TOUCHES surface [M]⟩.
 *
 * Scale notes (100 TB): frontier BFS runs O(diameter) rounds; each round
 * joins ONLY the current frontier against the edge list (shuffle keyed on
 * the vertex id), so the edge-side work summed over all rounds is O(E) —
 * every vertex enters the frontier exactly once. The per-round anti-join
 * against the settled set adds O(V) per round (the same contract GraphX's
 * Pregel accepts); for the log-diameter graphs real zone/road networks
 * are, total cost stays O(E + V log V / p). Label propagation with
 * pointer doubling lives in [[ImageDedup.components]]; this file is the
 * hop-distance complement, where doubling would require materializing
 * pairwise min-plus products and is deliberately avoided.
 */
object Graph {

  /**
   * Multi-source BFS hop distances over an UNDIRECTED edge list.
   *
   * @param edges   edge frame; both orientations are derived internally
   * @param sources one column `id` — dist 0 seeds
   * @return (id, dist) for every vertex reachable from any source;
   *         unreachable vertices are absent (callers left-join + coalesce)
   *
   * Every round localCheckpoints its result and REBUILDS the frame from
   * the checkpointed RDD — the stats firewall proven in
   * [[ImageDedup.components]]: LogicalRDD inherits the pre-checkpoint
   * plan's estimated sizeInBytes, which compounds across iterative joins
   * until Catalyst chokes on BigInt arithmetic.
   */
  def bfsHops(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
              sources: DataFrame, maxRounds: Int = 256): DataFrame = {
    def rebuild(df: DataFrame): DataFrame = {
      val cp = df.localCheckpoint(true)
      cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
    }
    val e = rebuild(
      edges.select(col(srcCol).as("s"), col(dstCol).as("d"))
        .union(edges.select(col(dstCol).as("s"), col(srcCol).as("d")))
        .where(col("s") =!= col("d"))
        .distinct())
    var settled = rebuild(sources.select(col("id")).distinct()
      .withColumn("dist", lit(0L)))
    var frontier = settled.select("id")
    var frontierN = settled.count()
    var round = 0
    var grew = frontierN > 0
    // the frontier's count is measured every round anyway — broadcast it
    // into the edge join while it fits (r6, the pagerank gate); a frontier
    // beyond the cap takes the shuffle path
    def bc(df: DataFrame): DataFrame =
      if (frontierN <= maxBroadcastVerts) F.broadcast(df) else df
    while (grew && round < maxRounds) {
      round += 1
      val nxt = rebuild(
        e.join(bc(frontier.select(col("id").as("s"))), "s")
          .select(col("d").as("id")).distinct()
          .join(settled.select("id"), Seq("id"), "left_anti")
          .withColumn("dist", lit(round.toLong)))
      val n = nxt.count()
      grew = n > 0
      if (grew) {
        settled = rebuild(settled.union(nxt))
        frontier = nxt.select("id")
        frontierN = n
      }
    }
    // an exhausted round budget with a live frontier means distances past
    // maxRounds exist — the result would silently miss vertices; fail loud
    require(!grew,
      s"Graph.bfsHops did not exhaust the frontier within $maxRounds rounds; " +
        s"raise maxRounds for graphs with diameter > $maxRounds")
    settled
  }

  /**
   * Single/multi-source shortest WEIGHTED path over an undirected edge
   * list with non-negative integer weights (`wCol`, LongType) — frontier
   * Bellman-Ford: a round relaxes only edges out of vertices whose
   * distance improved last round, so a converged region stops costing
   * anything. Rounds needed = max hop count over all shortest paths
   * (≤ V−1 worst case; diameter-ish in practice). Converges exactly or
   * fails loudly — never returns a partially-relaxed table.
   */
  def sssp(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
           wCol: String = "w", sources: DataFrame, maxRounds: Int = 512): DataFrame = {
    def rebuild(df: DataFrame): DataFrame = {
      val cp = df.localCheckpoint(true)
      cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
    }
    val e = rebuild(
      edges.select(col(srcCol).as("s"), col(dstCol).as("d"), col(wCol).as("w"))
        .union(edges.select(col(dstCol).as("s"), col(srcCol).as("d"), col(wCol).as("w")))
        .where(col("s") =!= col("d"))
        .groupBy("s", "d").agg(F.min("w").as("w"))) // parallel edges: keep the cheapest
    var dist = rebuild(sources.select(col("id")).distinct()
      .withColumn("dist", lit(0L)))
    var frontier = dist
    var frontierN = dist.count()
    var round = 0
    var live = frontierN > 0
    // count-gated frontier broadcast, as in bfsHops (r6)
    def bc(df: DataFrame): DataFrame =
      if (frontierN <= maxBroadcastVerts) F.broadcast(df) else df
    while (live && round < maxRounds) {
      round += 1
      val cand = e.join(bc(frontier.select(col("id").as("s"), col("dist").as("fd"))), "s")
        .groupBy(col("d").as("id")).agg(F.min(col("fd") + col("w")).as("nd"))
      val improved = rebuild(
        cand.join(dist, Seq("id"), "left")
          .where(col("dist").isNull || col("nd") < col("dist"))
          .select(col("id"), col("nd").as("dist")))
      val n = improved.count()
      live = n > 0
      if (live) {
        dist = rebuild(
          dist.join(improved.select(col("id"), col("dist").as("nd")), Seq("id"), "full")
            .select(col("id"),
              F.when(col("nd").isNotNull && (col("dist").isNull || col("nd") < col("dist")),
                col("nd")).otherwise(col("dist")).as("dist")))
        frontier = improved
        frontierN = n
      }
    }
    require(!live,
      s"Graph.sssp did not converge within $maxRounds rounds; raise maxRounds " +
        s"for graphs whose shortest paths exceed $maxRounds hops")
    dist
  }

  /**
   * Fixed-iteration INTEGER PageRank over a directed edge list — link-
   * analysis importance weighting (used in training-data curation to
   * weight documents by reference-graph centrality). All arithmetic is
   * BIGINT with explicit floor division, so the result is bit-identical
   * on any engine (no float-sum ordering hazard):
   *
   *   r₀(v)    = scale                    (1e9 by default)
   *   rₖ₊₁(v) = ⌊scale·15/100⌋ + Σ_{u→v} ⌊85·⌊rₖ(u)/outdeg(u)⌋/100⌋
   *
   * Dangling vertices (outdeg 0) simply leak their mass — the documented
   * integer-PR convention here; callers wanting conservation add a sink.
   * outdeg(u) counts every kept edge out of u, also those whose dst is not
   * a vertex (their mass is dropped); an edge whose src is not a vertex
   * contributes nothing. A null vertex id is returned with the base score
   * (`scale` when iters = 0).
   *
   * Scale shape: when the distinct vertex ids fit [[maxBroadcastVerts]]
   * and are of an integral or string type shared by src and dst, the
   * rounds run vertex-dense ([[DenseGraph]]): the ranks live in a driver
   * array, the edges are packed once into persisted blocks, and each
   * round is one Spark job over them — O(E) per round, no shuffle. The
   * result is a driver-built frame, so reading it again runs no round.
   * Otherwise [[pagerankRounds]] runs one equi-join + one aggregation per
   * round, keyed on the vertex id. Both give the same rows and schema.
   *
   * @param vertices one column `id` — the full vertex set (isolated
   *                 vertices keep the base score)
   * @param canonical the edge list is ALREADY distinct and irreflexive —
   *        nothing is filtered (self-loops count, and an edge to a null
   *        dst counts in outdeg) and the distinct is skipped (the
   *        triangles contract).
   */
  def pagerank(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
               vertices: DataFrame, iters: Int = 5, scale: Long = 1000000000L,
               canonical: Boolean = false): DataFrame = {
    require(iters >= 0 && scale > 0, s"bad pagerank params iters=$iters scale=$scale")
    DenseGraph.index(edges, srcCol, dstCol, vertices, maxBroadcastVerts) match {
      case Some(ix) => DenseGraph.pagerank(ix, edges, srcCol, dstCol, iters, scale, canonical)
      case None => pagerankRounds(edges, srcCol, dstCol, vertices, iters, scale, canonical)
    }
  }

  /** Vertex sets (and frontiers) up to this many rows are held on the
    * driver: [[pagerank]] and [[hits]] run vertex-dense below it, and the
    * per-round frames of the DataFrame rounds are hinted broadcast below
    * it, so the edge list never shuffles across rounds (a checkpointed
    * frame carries no size stats, so AQE cannot make that call itself).
    * Larger sets take the shuffle path — the correct shape when vertices
    * scale with the data. */
  private[join] val maxBroadcastVerts = 1 << 20

  /** [[pagerank]] as DataFrame rounds: one equi-join + one aggregation per
    * round, each round localCheckpointed through the rebuild firewall.
    * Runs above [[maxBroadcastVerts]] and for id types the dense path does
    * not admit; the reference the dense path is tested against. */
  private[join] def pagerankRounds(edges: DataFrame, srcCol: String, dstCol: String,
                                   vertices: DataFrame, iters: Int, scale: Long,
                                   canonical: Boolean): DataFrame = {
    def rebuild(df: DataFrame): DataFrame = {
      val cp = df.localCheckpoint(true)
      cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
    }
    val v = rebuild(vertices.select(col("id")).distinct())
    val smallV = v.count() <= maxBroadcastVerts
    def bc(df: DataFrame): DataFrame = if (smallV) F.broadcast(df) else df
    val e0 = edges.select(col(srcCol).as("s"), col(dstCol).as("d"))
    val e = rebuild(
      if (canonical) e0 else e0.where(col("s") =!= col("d")).distinct())
    val deg = rebuild(e.groupBy("s").agg(F.count(lit(1)).as("deg")))
    val base = scale * 15L / 100L
    var rank = v.withColumn("r", lit(scale))
    var k = 0
    while (k < iters) {
      k += 1
      val contrib = e.join(bc(deg), "s")
        .join(bc(rank.select(col("id").as("s"), col("r"))), "s")
        .select(col("d").as("id"),
          F.expr("(85 * (r DIV deg)) DIV 100").as("c")) // pure BIGINT floor-div
        .groupBy("id").agg(F.sum("c").as("in_mass"))
      rank = rebuild(
        v.join(bc(contrib), Seq("id"), "left")
          .select(col("id"),
            (lit(base) + F.coalesce(col("in_mass"), lit(0L))).as("r")))
    }
    rank
  }

  /**
   * HITS hubs & authorities (Kleinberg 1999, public) over a DIRECTED
   * edge list, integer-exact: each half-round sums the opposite score
   * across the edge relation, then renormalizes to ppm of the global
   * total via the base-100 long-division ladder — exact while raw·100
   * fits a long, i.e. hub in-mass to ~9.2e16. Self-loops and null
   * endpoints are dropped and edges deduplicated. Endpoints that are not
   * vertices carry scores and count in the total, but are not returned;
   * neither is a null vertex id. A bounded `iters` (oracle replays the
   * same rounds unrolled) — HITS converges geometrically, and exactness
   * demands a fixed round count, not a tolerance.
   *
   * Scale shape as [[pagerank]]: vertex-dense when the ids fit
   * [[maxBroadcastVerts]] (one Spark job per half-round, the total and
   * the ladder on the driver, a driver-built result), else
   * [[hitsRounds]]. Both give the same rows and schema.
   *
   * @return (id, a_ppm, h_ppm) for every vertex
   */
  def hits(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
           vertices: DataFrame, iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 16, s"bad hits iters=$iters")
    DenseGraph.index(edges, srcCol, dstCol, vertices, maxBroadcastVerts)
      .flatMap(DenseGraph.hits(_, edges, srcCol, dstCol, iters, maxBroadcastVerts))
      .getOrElse(hitsRounds(edges, srcCol, dstCol, vertices, iters))
  }

  /** [[hits]] as DataFrame rounds: per half-round one equi-join + one
    * aggregate, the global total as a window, localCheckpointed through
    * the [[ImageDedup.components]] stats firewall. Runs where the dense
    * path does not; the reference it is tested against. */
  private[join] def hitsRounds(edges: DataFrame, srcCol: String, dstCol: String,
                               vertices: DataFrame, iters: Int): DataFrame = {
    def rebuild(df: DataFrame): DataFrame = {
      val cp = df.localCheckpoint(true)
      cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
    }
    // exact floor(raw·1e6/t) in pure longs (base-100, three steps);
    // t = 0 (edgeless graph) yields 0 — mirrored in the oracle text
    val ppm =
      """CASE WHEN t = 0 THEN 0 ELSE
         ((raw * 100) DIV t) * 10000 + (((raw * 100) % t) * 100 DIV t) * 100
         + ((((raw * 100) % t) * 100 % t) * 100 DIV t) END"""
    val v = rebuild(vertices.select(col("id")).distinct())
    // count-gated broadcast of the per-half-round score frames — see
    // the maxBroadcastVerts note
    val smallV = v.count() <= maxBroadcastVerts
    def bc(df: DataFrame): DataFrame = if (smallV) F.broadcast(df) else df
    val e = rebuild(edges.select(col(srcCol).as("s"), col(dstCol).as("d"))
      .where(col("s") =!= col("d")).distinct())
    // Rounds carry a SPARSE score frame (r6): a vertex receiving no mass
    // would score ppm(0) = 0 and contribute nothing to any later sum or
    // to the global total, so the per-half-round `v` left-join + zero-fill
    // is deferred to ONE final fill per side — each round is just
    // edge-join → aggregate → renormalize.
    def half(score: DataFrame, joinKey: String, otherEnd: String): DataFrame = {
      // global total as an empty-frame window, NOT a separate aggregate
      // job — an agg+crossJoin re-evaluates the join subtree twice per
      // half-round (once for the total, once for the checkpoint
      // materialize; measured 24.5 s → window form at sf0.1). The
      // single-task window frame is vocab-bounded (the q222 contract).
      rebuild(
        e.join(bc(score.withColumnRenamed("id", joinKey)), joinKey)
          .groupBy(col(otherEnd).as("id")).agg(F.sum("sc").as("raw"))
          .withColumn("t", F.sum("raw").over(
            org.apache.spark.sql.expressions.Window.partitionBy()))
          .select(col("id"), F.expr(ppm).as("sc")))
    }
    // absent vertex ⇒ score 0 (the sparse-rounds invariant above)
    def fill(score: DataFrame, as: String): DataFrame =
      v.join(bc(score), Seq("id"), "left")
        .select(col("id"), F.coalesce(col("sc"), lit(0L)).as(as))
    var h = v.withColumn("sc", lit(1000000L))
    var a: DataFrame = h
    var k = 0
    while (k < iters) {
      k += 1
      a = half(h, "s", "d") // authority: sum of in-neighbor hub scores
      h = half(a, "d", "s") // hub: sum of out-neighbor authority scores
    }
    fill(a, "a_ppm").join(fill(h, "h_ppm"), "id")
  }

  /**
   * Per-vertex triangle counts over an UNDIRECTED edge list — the
   * DEGREE-ORIENTED algorithm: orient every edge from its
   * (degree, id)-smaller endpoint, so each triangle has exactly one
   * representation u→v→w with u→w present, and the wedge fan-out any
   * single vertex generates is bounded by its OUT-degree — O(√m) after
   * orientation even on power-law graphs. The naive node-iterator
   * (join both edge orientations) generates deg² wedges at hubs, which
   * is the quadratic blowup this orientation exists to avoid; at 100 TB
   * hub degrees in the millions make that difference decisive.
   * Three shuffle equi-joins + one aggregate, all BIGINT.
   *
   * @param canonical the input is ALREADY symmetric, distinct and
   *        irreflexive (e.g. [[SpatialJoins.polyJoin]] output) — skips
   *        the symmetrize+distinct shuffle entirely (review)
   * @return (id, deg, n_tri) for every vertex with deg ≥ 1 — deg is
   *         returned so callers don't re-aggregate the adjacency;
   *         triangle-free vertices carry n_tri = 0
   */
  def triangles(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
                canonical: Boolean = false): DataFrame = {
    val sym =
      if (canonical) edges.select(col(srcCol).as("s"), col(dstCol).as("d"))
      else edges.select(col(srcCol).as("s"), col(dstCol).as("d"))
        .union(edges.select(col(dstCol).as("s"), col(srcCol).as("d")))
        .where(col("s") =!= col("d")).distinct()
    val deg = sym.groupBy(col("s").as("id")).agg(F.count(lit(1)).as("deg"))
    val o = sym
      .join(deg.select(col("id").as("s"), col("deg").as("da")), "s")
      .join(deg.select(col("id").as("d"), col("deg").as("db")), "d")
      .where(col("da") < col("db") ||
        (col("da") === col("db") && col("s") < col("d")))
      .select(col("s").as("u"), col("d").as("v"))
    val tri = o.as("e1")
      .join(o.as("e2"), col("e1.v") === col("e2.u"))
      .join(o.as("e3"), col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .select(col("e1.u").as("ta"), col("e1.v").as("tb"), col("e2.v").as("tc"))
    val pv = tri.select(F.explode(F.array(col("ta"), col("tb"), col("tc"))).as("id"))
      .groupBy("id").agg(F.count(lit(1)).as("n_tri"))
    deg.join(pv, Seq("id"), "left")
      .select(col("id"), col("deg"), F.coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }
}
