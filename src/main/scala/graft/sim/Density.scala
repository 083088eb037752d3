package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Density clustering over low-dimensional numeric point sets.
  *
  * DBSCAN (Ester, Kriegel, Sander, Xu — KDD 1996) in the grid-cell-blocked
  * distributed form (the MR-DBSCAN / "DBSCAN on Spark" partitioning shape):
  * the plane is cut into eps-sized cells, so a point's eps-neighborhood is
  * fully contained in its own cell plus the 8 adjacent ones. Each point
  * probes those 9 cells through ONE uniform hash equi-join on the cell key
  * — never an all-pairs distance join — and every candidate pair surfaces
  * exactly once (the neighbour's cell is unique, and the probe visits it
  * once). From the exact neighbour-pair relation the rest is relational:
  * partial-agg neighbour counts → core points, core-core edges →
  * [[graft.graph.Graph.connectedComponents]] min-id cluster labels, border
  * attachment as a min-label join, noise as the anti-join remainder.
  *
  * Scale shape: the probe side is a 9× row replication of (id, x, y) —
  * constant factor, no data-dependent blowup; join work is Σ |cell|·|9
  * neighbour cells|, the O(n) shape whenever density is bounded (DBSCAN's
  * own applicability assumption). A pathologically dense single cell is
  * the known skew case — AQE skew-join splitting handles moderate skew,
  * and eps chosen ≪ data extent keeps occupancy flat. Neighbour counting
  * is map-side partial-aggregatable; the CC loop runs on the core-core
  * edge relation only (≪ point count by the minPts cut).
  */
object Density {

  /** Exact 2-D Euclidean DBSCAN.
    *
    * Returns one row per input point: (id, role, cluster) with role ∈
    * {core, border, noise}; cluster is the min core id of the cluster
    * (border points attach to the smallest label among their core
    * neighbours — the deterministic tiebreak for the classic "border of
    * two clusters" ambiguity), NULL for noise. A point counts itself in
    * the minPts test (|N_eps(p)| ≥ minPts with p ∈ N_eps(p), the paper's
    * definition), so the neighbour-count predicate is n+1 ≥ minPts.
    *
    * eps must be chosen so eps·eps is what the caller's oracle spells —
    * callers should prefer eps values exactly representable in binary
    * whose square is also exact (0.5, 0.75, 1.0 …) so the boundary
    * predicate cannot straddle an ulp between engines. */
  def dbscan(
      points: DataFrame, idCol: String, xCol: String, yCol: String,
      eps: Double, minPts: Int, maxIter: Int = 50): DataFrame = {
    val p = points
      .select(col(idCol).cast("long").as("id"),
        col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
      .withColumn("cx", floor(col("x") / eps).cast("long"))
      .withColumn("cy", floor(col("y") / eps).cast("long"))
      .localCheckpoint(true) // probe side, build side, noise remainder

    // each point probes its own cell and the 8 adjacent ones
    val offsets = array((for (dx <- -1 to 1; dy <- -1 to 1) yield
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
    val probes = p
      .select(col("id").as("ia"), col("x").as("ax"), col("y").as("ay"),
        col("cx"), col("cy"), explode(offsets).as("o"))
      .select(col("ia"), col("ax"), col("ay"),
        (col("cx") + col("o.dx")).as("jcx"),
        (col("cy") + col("o.dy")).as("jcy"))

    // exact neighbour pairs; (ax-x)²+(ay-y)² spelled left-to-right so an
    // oracle's (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y) is bit-identical
    val dist2 = (col("ax") - col("x")) * (col("ax") - col("x")) +
      (col("ay") - col("y")) * (col("ay") - col("y"))
    val nbp = probes
      .join(p, col("jcx") === col("cx") && col("jcy") === col("cy"))
      .filter(col("ia") =!= col("id") && dist2 <= lit(eps * eps))
      .select(col("ia"), col("id").as("ib"))
      .localCheckpoint(true) // counts, core edges, border attachment

    val cores = nbp.groupBy(col("ia").as("id"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") + 1 >= minPts).select(col("id"))
      .localCheckpoint(true) // edge restriction ×2, border anti, noise anti

    val coreEdges = nbp
      .join(cores.select(col("id").as("ca")), col("ia") === col("ca"))
      .join(cores.select(col("id").as("cb")), col("ib") === col("cb"))
      // feed each unordered pair once — connectedComponents doubles edges
      .filter(col("ia") < col("ib"))
      .select(col("ia").as("src"), col("ib").as("dst"))
    val labels = graft.graph.Graph
      .connectedComponents(cores, coreEdges, maxIter)
      .localCheckpoint(true) // core output + border attachment

    val coreOut = labels.select(
      col("id"), lit("core").as("role"), col("component").as("cluster"))
    val borders = nbp
      .join(labels.select(col("id").as("cid"), col("component")),
        col("ib") === col("cid"))
      .join(cores.select(col("id").as("ca")), col("ia") === col("ca"),
        "left_anti")
      .groupBy(col("ia").as("id"))
      .agg(min(col("component")).as("cluster"))
      .select(col("id"), lit("border").as("role"), col("cluster"))
    val noise = p.select(col("id"))
      .join(cores.select(col("id").as("k1")), col("id") === col("k1"),
        "left_anti")
      .join(borders.select(col("id").as("k2")), col("id") === col("k2"),
        "left_anti")
      .select(col("id"), lit("noise").as("role"),
        lit(null).cast("long").as("cluster"))
    coreOut.unionByName(borders).unionByName(noise)
  }
}
