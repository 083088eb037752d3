package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Relational graph algorithms over an edge DataFrame.
  *
  * Reference scope: pypeman has no graph operators — this generalizes the
  * iterative small-state loop shape graft already uses for dedup
  * clustering (connected components, `dedup/Dedup.scala`) into a reusable
  * module for graph-shaped curation work (domain authority scoring, link
  * spam detection, citation weighting).
  *
  * Scale shape shared by both algorithms: per iteration ONE shuffle keyed
  * on a uniform node id; the iterate relation is localCheckpoint()ed each
  * round so lineage stays constant-depth (no exponential plan growth) and
  * the driver never holds node-count-sized data.
  */
object Graph {

  /** Undirected closure of an edge list: both orientations, deduped.
    * Guarantees every node has out-degree ≥ 1, which keeps [[pageRank]]
    * free of dangling-mass bookkeeping. */
  def undirected(edges: DataFrame): DataFrame = {
    val e = edges.toDF("src", "dst")
    e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** Canonical undirected edge set: a < b, self-loops dropped, deduped. */
  private def canonical(edges: DataFrame): DataFrame =
    edges.toDF("a", "b").filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()

  /** Triangle listing via degree-ordered orientation (Cohen 2009; the
    * MapReduce-standard form in Suri & Vassilvitskii, WWW 2011): orient
    * every undirected edge from its lower-(degree, id) endpoint to the
    * higher, build wedges only from out-edges, close them against the
    * canonical edge set. Each triangle is emitted exactly once — the
    * wedge forms only at its lowest-ranked vertex — as an id-sorted
    * (n1 < n2 < n3) triple.
    *
    * Scale shape: orientation bounds every node's out-degree by O(√E)
    * REGARDLESS of skew — the hub of a star graph generates zero wedges
    * because all its edges point into it — so the wedge join (the only
    * superlinear step) is skew-proof where a naive neighbor self-join
    * explodes on hubs. Three uniform-key shuffles total: degree agg,
    * wedge self-join on u, closure join on (x, y). */
  def triangles(edges: DataFrame): DataFrame =
    // checkpointed once — it feeds the degree agg, the orientation and
    // the closure join
    trianglesCanonical(canonical(edges).localCheckpoint())

  /** [[triangles]] over an ALREADY canonical (a < b, distinct,
    * materialized) edge relation — shared with [[clusteringCoefficient]]
    * so composites don't pay the canonicalize+checkpoint twice. */
  private def trianglesCanonical(e: DataFrame): DataFrame = {
    val deg = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val oriented = e
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(when(col("da") < col("db")
          || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint()
    // wedges at u: unordered out-neighbor pairs, normalized to x < y by id
    // (the closing edge is canonical, so id order — not rank order — keys
    // the join)
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.u").as("w_u"), col("e1.v").as("x"), col("e2.v").as("y"))
    wedges.join(e, col("x") === col("a") && col("y") === col("b"))
      .select(array_sort(array(col("w_u"), col("x"), col("y"))).as("t"))
      .select(element_at(col("t"), 1).as("n1"),
        element_at(col("t"), 2).as("n2"),
        element_at(col("t"), 3).as("n3"))
  }

  /** Local clustering coefficient per node: c(v) = 2·T(v) / (deg(v)·
    * (deg(v)−1)), the fraction of a node's neighbor pairs that are
    * themselves connected (Watts & Strogatz 1998) — the link-farm /
    * community-density signal in graph curation. T(v) comes from
    * [[triangles]] (each listed triangle credits all three members), so
    * the cost profile is the oriented wedge join plus one explode +
    * count; degree-<2 nodes have no neighbor pair and emit 0. Returns
    * (n, degree, tri_count, coef) with coef UNROUNDED — callers quantize
    * for display. */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    // ONE canonical materialization feeds both the degree table and the
    // whole triangle pipeline
    val e = canonical(edges).localCheckpoint()
    val deg = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("degree"))
    val triPerNode = trianglesCanonical(e)
      .select(explode(array(col("n1"), col("n2"), col("n3"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("tri_count"))
    deg.join(triPerNode, Seq("n"), "left")
      .select(col("n"), col("degree"),
        coalesce(col("tri_count"), lit(0L)).as("tri_count"),
        when(col("degree") >= 2,
          lit(2.0) * coalesce(col("tri_count"), lit(0L))
            / (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0)).as("coef"))
  }

  /** Weakly-connected components by iterative min-label propagation:
    * every node starts labeled with its own id; each round a node takes
    * the minimum of its label and its neighbors' labels; at convergence
    * every node carries the minimum id of its component. Edge direction
    * is ignored (both orientations are propagated), so the result is the
    * WEAK components of a directed input.
    *
    * Scale shape: one uniform-node-id shuffle per round (join + groupBy
    * min), labels checkpointed per round, convergence detected with an
    * observed changed-label count folded into the SAME job that writes
    * the new labels — no second count pass, no node-count-sized driver
    * state. Rounds ≤ component diameter; the curation graphs this serves
    * (near-dup clusters, co-occurrence communities) are shallow. For
    * path-shaped graphs with large diameters the alternating
    * large-star/small-star form (Kiveris et al., SoCC 2014) converges in
    * O(log²  n) rounds — noted here as the swap-in if a workload ever
    * presents one; the per-round plan below is identical either way.
    *
    * Returns (id, component) with component = min reachable id; `nodes`
    * not touched by any edge keep their own id (singleton components).
    *
    * @throws IllegalStateException if maxIter rounds pass without
    *         convergence — an unconverged labeling is NOT a component
    *         assignment and must not be silently returned.
    */
  def connectedComponents(
      nodes: DataFrame, edges: DataFrame, maxIter: Int = 50): DataFrame = {
    // materialize the doubled edge list once — the loop re-reads it every
    // round, and recomputing an expensive upstream candidate generation
    // (LSH pairs, co-occurrence joins) per round would dominate the job
    val e = edges.toDF("src", "dst")
    val both = e
      .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    var labels = nodes.toDF("id").select(col("id"), col("id").as("component"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = both.join(labels, both("dst") === labels("id"))
        .groupBy(col("src").as("id2"))
        .agg(min(col("component")).as("nmin"))
      // convergence check rides the label-update job as an observed
      // metric — one job per round, no second join-and-count
      val obs = org.apache.spark.sql.Observation(s"cc_changed_$iter")
      val next = labels.join(neighborMin, labels("id") === col("id2"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nmin"), col("component"))).as("component"),
          when(col("nmin") < col("component"), 1L).otherwise(0L).as("chg"))
        .observe(obs, sum(col("chg")).as("changed"))
        .select(col("id"), col("component"))
      labels = next.localCheckpoint(true) // truncate the growing lineage
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $maxIter rounds — " +
        "raise maxIter (rounds needed = component diameter)")
    labels
  }

  /** Incremental connected components: fold a batch of NEW edges (and
    * nodes) into an existing [[connectedComponents]] labeling WITHOUT
    * re-reading the old edge set — the "continuously arriving corpus"
    * form of dedup clustering (yesterday's near-dup clusters + today's
    * crawl delta), where recomputing CC over the full edge history per
    * batch would dominate the pipeline.
    *
    * Correctness rests on the condensation property of min-label CC:
    * a valid labeling collapses every old component onto its
    * representative (the component's min id), so the union graph's
    * components are exactly CC of the CONDENSED graph — nodes = old
    * representatives ∪ genuinely-new ids, edges = new edges with each
    * endpoint mapped through its old label (unlabeled endpoints map to
    * themselves) — folded back through the old labeling. Min-id
    * representatives survive the fold: min of a merged component = min
    * over its representatives' ids = min over all member ids.
    *
    * Scale shape: two label-map joins + self-loop filter over the NEW
    * edges, [[connectedComponents]] on the condensed graph (delta-sized:
    * nodes ≤ 2·|new edges| + |new nodes|, rounds ≤ condensed diameter),
    * then ONE node-keyed relabel join over the old labels. Nothing
    * touches old edges, nothing is driver-sized. Repeated batch folds
    * compose: the output is again a valid min-label labeling.
    *
    * @param labels   existing (id, component) labeling — component must
    *                 be the component-min id, as [[connectedComponents]]
    *                 returns
    * @param newNodes ids arriving in this batch (absent ones already in
    *                 `labels` are harmless); isolated arrivals become
    *                 singleton components
    * @param newEdges edges arriving in this batch; endpoints may be old
    *                 ids, new ids, or ids never seen at all
    * @throws IllegalStateException if the condensed CC does not converge
    *         in maxIter rounds (see [[connectedComponents]])
    */
  def incrementalComponents(
      labels: DataFrame, newNodes: DataFrame, newEdges: DataFrame,
      maxIter: Int = 50): DataFrame = {
    // read twice (endpoint mapping) + the final relabel join
    val lab = labels.toDF("id", "component").localCheckpoint(true)
    val e = newEdges.toDF("src", "dst")
    val mapped = e
      .join(lab.select(col("id").as("sid"), col("component").as("ls")),
        col("src") === col("sid"), "left")
      .join(lab.select(col("id").as("did"), col("component").as("ld")),
        col("dst") === col("did"), "left")
      .select(coalesce(col("ls"), col("src")).as("src"),
        coalesce(col("ld"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")) // both endpoints already together
    val condNodes = mapped.select(col("src").as("id"))
      .unionAll(mapped.select(col("dst").as("id")))
      .unionAll(newNodes.toDF("id")
        .join(lab, Seq("id"), "left_anti").select(col("id")))
      .distinct()
    val cond = connectedComponents(condNodes, mapped, maxIter)
      .localCheckpoint(true) // relabel join + new-id anti join
    val updatedOld = lab
      .join(cond.select(col("id").as("rep"), col("component").as("nc")),
        lab("component") === col("rep"), "left")
      .select(lab("id"),
        coalesce(col("nc"), lab("component")).as("component"))
    val brandNew = cond
      .join(lab.select(col("id").as("oid")), cond("id") === col("oid"),
        "left_anti")
    updatedOld.unionByName(brandNew.select(col("id"), col("component")))
  }

  /** Directed min-label propagation to fixpoint, BOTH directions in one
    * loop: labels flow along edges (forward: lbl converges to the min id
    * that can REACH the node) and against them (backward: the min id the
    * node can reach), distinguished by a direction tag riding the join
    * key — so each round is still ONE uniform (id, dir)-keyed shuffle
    * and the two directions converge in max(rounds_f, rounds_b) rounds
    * rather than their sum. Per-round checkpoint, convergence observed
    * inside the label-update job (the [[connectedComponents]] pattern).
    * Returns (id, f, b). */
  private def minLabelBothDirections(
      nodes: DataFrame, edges: DataFrame, maxIter: Int): DataFrame = {
    val ed = edges
      .select(col("src"), col("dst"), lit(0).as("dir"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst"),
        lit(1).as("dir")))
      .localCheckpoint(true) // re-read every round
    var labels = nodes.toDF("id")
      .select(col("id"), explode(array(lit(0), lit(1))).as("dir"),
        col("id").as("lbl"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = ed.join(labels,
          ed("src") === labels("id") && ed("dir") === labels("dir"))
        .groupBy(ed("dst").as("id2"), ed("dir").as("dir2"))
        .agg(min(col("lbl")).as("nmin"))
      val obs = org.apache.spark.sql.Observation(s"mlb_changed_$iter")
      val next = labels.join(neighborMin,
          labels("id") === col("id2") && labels("dir") === col("dir2"), "left")
        .select(labels("id"), labels("dir"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"),
          when(col("nmin") < col("lbl"), 1L).otherwise(0L).as("chg"))
        .observe(obs, sum(col("chg")).as("changed"))
        .select(col("id"), col("dir"), col("lbl"))
      labels = next.localCheckpoint(true)
      // sum over zero rows observes null (empty node set) — converged
      converged = Option(obs.get("changed"))
        .forall(_.asInstanceOf[Long] == 0L)
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"min-label propagation did not converge in $maxIter rounds")
    labels.groupBy(col("id"))
      .agg(min(when(col("dir") === 0, col("lbl"))).as("f"),
        min(when(col("dir") === 1, col("lbl"))).as("b"))
  }

  /** Strongly connected components by forward/backward partition
    * refinement (the flat, all-classes-in-parallel form of FW-BW —
    * Fleischer et al. 2000's divide-and-conquer recursion run
    * level-by-level as one dataframe program; coloring variant: Orzan
    * 2004, Slota et al. 2014). All nodes start in one class; each outer
    * round computes, WITHIN each class, F(v) = min id that reaches v
    * and B(v) = min id v reaches, and the (F, B) pair becomes the next
    * class key. A class closes when F = B = c uniformly — then it is
    * exactly SCC(c) with c its minimum member id.
    *
    * Why this is correct: (1) an SCC is never split — if a whole SCC
    * shares a class, mutual reachability makes F and B constant across
    * it, so it shares the next key too (induction from the single root
    * class); (2) a closed class is an SCC — F(v) = B(v) = c means c
    * reaches v and v reaches c inside the class, so members are
    * mutually connected through c, and c is the class minimum (m < c in
    * the class would force F(m) ≤ m < c); (3) no open class stalls —
    * uniform F = c₁ and B = c₂ forces B(c₁) ≤ c₁ ⇒ c₂ ≤ c₁ and
    * F(c₂) ≤ c₂ ⇒ c₁ ≤ c₂, i.e. c₁ = c₂, so an open class either
    * splits or closes and the refinement terminates.
    *
    * Scale shape: per outer round, closed classes are FROZEN — their
    * nodes and edges leave the computation entirely (the same-class
    * edge restriction joins only OPEN-class endpoints), so work shrinks
    * monotonically; each inner fixpoint is one uniform-key shuffle per
    * round with per-round checkpoints; no node-count-sized driver
    * state. Outer rounds track FW-BW's recursion depth — shallow for
    * the power-law graphs this serves (Slota's measured 3–6); inner
    * rounds are bounded by class diameter.
    *
    * Returns (id, component) with component = min id of the SCC.
    *
    * @throws IllegalStateException if refinement is still open after
    *         `maxOuter` rounds or an inner fixpoint exceeds `maxInner`.
    */
  def stronglyConnectedComponents(
      nodes: DataFrame, edges: DataFrame,
      maxOuter: Int = 30, maxInner: Int = 100): DataFrame =
    fwBwRefinement(nodes, edges, maxOuter) { (closed, open, er, outer) =>
      // below-cap fast path (LocalSolve): once the still-open subgraph
      // fits one task, finish the refinement with one in-task Tarjan
      // pass — the same fixpoint (F = B = SCC min id) without
      // maxInner × maxOuter synchronization rounds. This is the FW-BW
      // tail at ANY scale: open classes shrink monotonically, so
      // production runs land here in late outer rounds too.
      if (LocalSolve.allLong(er, "src", "dst") &&
          LocalSolve.fits(er, LocalSolve.MaxEdges)) {
        val comp = LocalSolve.tarjanComponents(er)
          .select(col("id").as("cid"), col("component"))
        val refinedLocal = open
          .join(comp, open("id") === col("cid"), "left")
          .select(open("id"),
            coalesce(col("component"), open("id")).as("f"),
            coalesce(col("component"), open("id")).as("b"))
        (closed.unionByName(refinedLocal).localCheckpoint(true), 0L)
      } else fwBwRound(closed, open, er, maxInner, outer)
    }

  /** [[stronglyConnectedComponents]] on distributed rounds only, without
    * the one-task Tarjan tail — what runs while the open subgraph is
    * above the cap. */
  private[graft] def stronglyConnectedComponentsDistributed(
      nodes: DataFrame, edges: DataFrame,
      maxOuter: Int = 30, maxInner: Int = 100): DataFrame =
    fwBwRefinement(nodes, edges, maxOuter)(fwBwRound(_, _, _, maxInner, _))

  /** The FW-BW outer loop of [[stronglyConnectedComponents]]:
    * `round(closed, open, er, outer)` refines the open classes over
    * their same-class edges `er` and returns the next materialized
    * partition with its open-node count. */
  private def fwBwRefinement(
      nodes: DataFrame, edges: DataFrame, maxOuter: Int)(
      round: (DataFrame, DataFrame, DataFrame, Int) => (DataFrame, Long))
      : DataFrame = {
    val e0 = edges.toDF("src", "dst").filter(col("src") =!= col("dst"))
      .distinct().localCheckpoint(true) // re-read every outer round
    // class key = (f, b); seed with one open class (f ≠ b marks open)
    var part = nodes.toDF("id")
      .select(col("id"), lit(0L).as("f"), lit(1L).as("b"))
      .localCheckpoint(true)
    var openCnt = -1L
    var outer = 0
    while (openCnt != 0L && outer < maxOuter) {
      val open = part.filter(col("f") =!= col("b"))
      val closed = part.filter(col("f") === col("b"))
      // edges whose endpoints share an OPEN class; closed SCCs are frozen
      val er = e0
        .join(open.select(col("id").as("src"), col("f").as("sf"), col("b").as("sb")), "src")
        .join(open.select(col("id").as("dst"), col("f").as("df_"), col("b").as("db")), "dst")
        .filter(col("sf") === col("df_") && col("sb") === col("db"))
        .select(col("src"), col("dst"))
        .localCheckpoint(true) // feeds both directions of propagation
      val (next, n) = round(closed, open, er, outer)
      part = next
      openCnt = n
      outer += 1
    }
    if (openCnt != 0L) throw new IllegalStateException(
      s"SCC refinement still open after $maxOuter rounds — " +
        "raise maxOuter (rounds track FW-BW recursion depth)")
    part.select(col("id"), col("f").as("component"))
  }

  /** One distributed FW-BW round: both-direction min labels within each
    * open class, the open-node count observed in the same job. */
  private def fwBwRound(
      closed: DataFrame, open: DataFrame, er: DataFrame,
      maxInner: Int, outer: Int): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation(s"scc_open_$outer")
    val refined =
      minLabelBothDirections(open.select(col("id")), er, maxInner)
    val next = closed.unionByName(refined
        .withColumn("open", when(col("f") =!= col("b"), 1L).otherwise(0L))
        .observe(obs, sum(col("open")).as("n_open"))
        .select(col("id"), col("f"), col("b")))
      .localCheckpoint(true)
    // sum over zero rows observes null (empty node set) — nothing open
    (next, Option(obs.get("n_open")).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  /** Newman modularity of a GIVEN node partition (Newman & Girvan 2004):
    * per community c, Q_c = L_c/m − (d_c/2m)², summed over communities =
    * the modularity score; here each community row carries its exact
    * sufficient statistics (node count, internal edge count L_c, degree
    * sum d_c) plus its UNROUNDED contribution (4m·L_c − d_c²)/(4m²) —
    * callers quantize for display (the [[clusteringCoefficient]]
    * convention). The partition-evaluation half of community detection:
    * score any labeling ([[labelPropagate]], [[connectedComponents]], an
    * external attribute) without iterating.
    *
    * Scale shape: canonicalize once; degrees and per-community sums are
    * partial aggs on uniform keys; internal edges = two membership joins
    * + filter + agg; m is a 1-row aggregate crossed back as a broadcast
    * constant. All-integer until the single final division. Long-safe
    * while total degree 2m < ~3×10⁹ per community (d_c² < 2⁶³).
    *
    * @param membership (id, community); nodes absent from it contribute
    *        degrees to nothing (edges touching them still count in m)
    */
  def modularity(edges: DataFrame, membership: DataFrame): DataFrame = {
    val e = canonical(edges).localCheckpoint(true)
    val mem = membership.toDF("id", "community")
    val deg = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val nodeStats = mem.join(deg, mem("id") === deg("n"), "left")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce(col("d"), lit(0L))).as("degree_sum"))
    val internal = e
      .join(mem.select(col("id").as("a"), col("community").as("ca")), "a")
      .join(mem.select(col("id").as("b"), col("community").as("cb")), "b")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("internal_edges"))
    nodeStats.join(internal, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        col("degree_sum"))
      .crossJoin(e.agg(count(lit(1)).as("m"))) // 1-row broadcast constant
      .withColumn("q_contrib",
        (lit(4L) * col("m") * col("internal_edges")
          - col("degree_sum") * col("degree_sum")).cast("double")
          / (lit(4L) * col("m") * col("m")).cast("double"))
      .drop("m")
  }

  /** Densest-subgraph peel trace (Charikar 2000 greedy, in the
    * parallel batched form of Bahmani, Kumar & Vassilvitskii, VLDB
    * 2012): each round records the current graph's (node count, edge
    * count, density m/n) and then removes EVERY node whose degree is
    * ≤ 2(1+ε)·density, with ε = 1 — survivor iff d·n > 4·m, an exact
    * integer predicate with no float threshold to flake. The densest
    * round in the trace is a 2(1+ε) = 4-approximation of the maximum
    * density subgraph (Bahmani Thm. 1), and survivors shrink by ≥
    * (1+ε)× per round, so the trace is ≤ log₂ n rounds long — the
    * spam-core / scraper-farm detector that runs in a FIXED number of
    * passes at any scale.
    *
    * Scale shape: per round one degree partial-agg, the (n, m) pair as
    * a 1-row broadcast constant crossed into the survivor filter, two
    * semi-join-shaped edge restrictions, per-round checkpoint. The
    * only driver-side value is the single (n, m) row per round (the
    * early-exit scalar, same class as BPE's per-merge row).
    *
    * Returns (round, n_nodes, n_edges, density) for every non-empty
    * round, density UNROUNDED (callers quantize — the
    * [[clusteringCoefficient]] convention).
    */
  def densestSubgraphTrace(edges: DataFrame, maxRounds: Int = 6): DataFrame = {
    var e = canonical(edges).localCheckpoint(true)
    var stats: Option[DataFrame] = None
    var r = 0
    var live = true
    while (live && r < maxRounds) {
      val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
        .localCheckpoint(true) // feeds counts, the round row and the peel
      val nm = deg.agg(count(lit(1)).as("n"))
        .crossJoin(e.agg(count(lit(1)).as("m")))
      val Array(nRow) = nm.collect() // 1-row control scalar
      val (n, m) = (nRow.getLong(0), nRow.getLong(1))
      if (n == 0) { live = false }
      else {
        val row = nm.select(lit(r.toLong).as("round"), col("n").as("n_nodes"),
          col("m").as("n_edges"),
          (col("m").cast("double") / col("n").cast("double")).as("density"))
        stats = Some(stats.map(_.unionByName(row)).getOrElse(row))
        val surv = deg.crossJoin(nm)
          .filter(col("d") * col("n") > lit(4L) * col("m"))
          .select(col("v"))
        e = e
          .join(surv.select(col("v").as("a")), "a")
          .join(surv.select(col("v").as("b")), "b")
          .select(col("a"), col("b"))
          .localCheckpoint(true)
        r += 1
      }
    }
    stats.getOrElse(e.sparkSession.emptyDataFrame
      .select(lit(0L).as("round"), lit(0L).as("n_nodes"),
        lit(0L).as("n_edges"), lit(0.0).as("density"))
      .limit(0))
  }

  /** HITS hubs & authorities (Kleinberg 1998, JACM): fixed iteration of
    * a(v) = Σ_{u→v} h(u) then h(v) = Σ_{v→u} a(u) (the Gauss–Seidel
    * order of the original), normalized each half-step. Two departures
    * from the textbook presentation, both for cross-engine exactness:
    * scores live in 1e-6 FIXED POINT (longs), so the partial-agg sums
    * are exact integer arithmetic with no float summation order to
    * flake; and normalization divides by the MAX score (not the L2
    * norm, whose sqrt is irrational) with half-up integer rounding —
    * max-norm is the standard convergent alternative (Golub & Van Loan
    * power-iteration scaling) and keeps every intermediate a long.
    * Overflow headroom: raw sums ≤ max-degree × 1e6 and the normalize
    * multiply adds 1e6 — safe below 2^63 for max-degree < ~9×10⁶;
    * callers at larger fan-in lower `scale`.
    *
    * Scale shape: per half-step ONE uniform node-id-keyed shuffle
    * (join + partial-agg sum); the max is a 1-row aggregate crossed
    * back as a broadcast constant, never driver-sized state; state is
    * checkpointed once per iteration.
    *
    * Returns (id, authority_fp, hub_fp) in 1e-6 fixed point. Nodes
    * without in-edges (resp. out-edges) report authority 0 (resp.
    * hub 0).
    */
  def hits(nodes: DataFrame, edges: DataFrame, iters: Int = 3): DataFrame = {
    val scale = 1000000L
    val e = edges.toDF("src", "dst").filter(col("src") =!= col("dst"))
      .distinct().localCheckpoint(true) // re-read every half-step
    val ids = nodes.toDF("id").localCheckpoint(true)
    var st = ids.select(col("id"), lit(scale).as("a"), lit(scale).as("h"))
    for (_ <- 1 to iters) {
      def halfStep(scores: DataFrame, vCol: String, from: String, to: String) = {
        val raw = e
          .join(scores.select(col("id").as("u"), col(vCol).as("v")),
            col(from) === col("u"))
          .groupBy(col(to).as("id")).agg(sum(col("v")).as("r"))
        val full = ids.join(raw, Seq("id"), "left")
          .select(col("id"), coalesce(col("r"), lit(0L)).as("r"))
        // 1-row max crossed back in: broadcast constant, no driver state
        full.crossJoin(full.agg(max(col("r")).as("m")))
          .select(col("id"),
            when(col("r") === 0, 0L)
              .otherwise(expr(s"(r * ${scale}L + m DIV 2) DIV m"))
              .as(vCol))
      }
      // authorities: sum hub scores ALONG edges (u→v credits v)
      val aScores = halfStep(st, "h", from = "src", to = "dst")
        .withColumnRenamed("h", "a")
      // hubs: sum the JUST-UPDATED authorities AGAINST edges (v→u
      // credits v) — Kleinberg's in-order sweep
      val hScores = halfStep(aScores, "a", from = "dst", to = "src")
        .withColumnRenamed("a", "h")
      st = aScores.join(hScores, Seq("id")).localCheckpoint(true)
    }
    st.select(col("id"), col("a").as("authority_fp"), col("h").as("hub_fp"))
  }

  /** Multi-source BFS: hop distance from a seed set along DIRECTED edges,
    * capped at `maxHops`. Returns (id, hops) for every node reachable
    * within the cap — unreachable nodes are absent, seeds report 0.
    * Follow-direction matters: pass an already-doubled edge list (or
    * [[undirected]]) for undirected reach.
    *
    * The frontier trick keeps round h's join input to nodes FIRST
    * discovered at h−1 (their min distance is exactly h−1 — anything
    * re-reached later only produces larger distances, which min() would
    * discard anyway), so total join work is O(E) across ALL rounds, not
    * O(E·maxHops). One shuffle per hop keyed on node id; the distance
    * relation is checkpointed per round. This is the "distance from
    * trusted seeds" primitive of link-graph curation (seed-domain
    * authority, spam-distance gating). */
  def hopDistance(seeds: DataFrame, edges: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be ≥ 0, got $maxHops")
    val e = edges.toDF("src", "dst").localCheckpoint(true)
    var dist = seeds.toDF("id").distinct()
      .select(col("id"), lit(0L).as("hops")).localCheckpoint(true)
    var h = 1
    var growing = true
    while (h <= maxHops && growing) {
      val frontier = dist.filter(col("hops") === lit(h - 1).cast("long"))
      val next = frontier.join(e, frontier("id") === e("src"))
        .select(e("dst").as("id"), lit(h.toLong).as("hops"))
      // fixpoint early exit, FREE from round 1 (the [[reachability]]
      // pattern, ported r19): the count of nodes first discovered this
      // round (min hops == h after the merge agg) rides the merge job as
      // an observed metric — no separate count job, so generous-bound
      // callers stop at the true eccentricity at zero extra cost and
      // tight-bound callers pay nothing either.
      val obs = org.apache.spark.sql.Observation(s"hop_new_$h")
      dist = dist.unionByName(next)
        .groupBy(col("id")).agg(min(col("hops")).as("hops"))
        .observe(obs,
          sum(when(col("hops") === lit(h.toLong), 1L).otherwise(0L)).as("n"))
        .localCheckpoint(true) // eager: populates the observation
      growing = Option(obs.get("n"))
        .map(_.asInstanceOf[Long]).getOrElse(0L) > 0L
      h += 1
    }
    dist
  }

  /** Direction-tagged multi-source reachability — BOTH reachability
    * questions of a bowtie decomposition answered by ONE frontier loop:
    * for every node v, `f` = some seed reaches v along the edges
    * (forward sweep) and `b` = v reaches some seed (backward sweep).
    * Instead of two [[hopDistance]] passes over the edge relation and
    * its reverse (2 × eccentricity rounds, each re-aggregating the full
    * distance state, with the unbounded form paying ≥ 8 blind rounds per
    * sweep before its emptiness check arms), the two sweeps ride one
    * loop over a dir-tagged doubled edge list — the
    * [[stronglyConnectedComponents]] inner-fixpoint trick: max-rounds =
    * MAX of the two eccentricities (not the sum), one frontier join +
    * one (id)-keyed partial-agg shuffle per round serving both
    * directions, and the new-flag count rides the merge job as an
    * observed metric so the fixpoint exit is free from round 1.
    *
    * Scale shape: the frontier carries only NEWLY-set flags, so join
    * input is O(newly reached per round), not O(reached); state merge is
    * one full-outer join per round on the node-keyed relation (the
    * [[shortestPaths]] merge shape), checkpointed to constant lineage
    * depth; the only driver value is the observed improvement count.
    * Flags are booleans — no hop bookkeeping — so the per-round state is
    * strictly smaller than two distance relations.
    *
    * Returns (id, f, b) for every node reached in EITHER direction
    * (seeds carry f = b = true); nodes reached in neither are absent.
    *
    * @throws IllegalStateException if `maxRounds` pass without the
    *         frontier emptying — a partial sweep misclassifies. */
  def reachability(
      seeds: DataFrame, edges: DataFrame, maxRounds: Int = 1000): DataFrame = {
    val (ed, state) = reachabilityInputs(seeds, edges)
    // below-cap fast path (LocalSolve): both BFS sweeps in one task —
    // same round budget and non-convergence throw.
    if (LocalSolve.allLong(ed, "src", "dst") &&
        LocalSolve.allLong(state, "id") &&
        LocalSolve.fits(ed, LocalSolve.MaxEdges) &&
        LocalSolve.fits(state, LocalSolve.MaxEdges))
      LocalSolve.reachabilityFlags(
        ed.filter(col("dir") === 0)
          .select(lit(0).as("t"), col("src").as("x"), col("dst").as("y"))
          .unionByName(state.select(lit(1).as("t"), col("id").as("x"),
            lit(0L).as("y"))),
        maxRounds)
    else reachabilityRounds(ed, state, maxRounds)
  }

  /** [[reachability]] on distributed rounds only — the loop every input
    * above the one-task cap takes. */
  private[graft] def reachabilityDistributed(
      seeds: DataFrame, edges: DataFrame, maxRounds: Int = 1000): DataFrame = {
    val (ed, state) = reachabilityInputs(seeds, edges)
    reachabilityRounds(ed, state, maxRounds)
  }

  /** Materialized inputs of [[reachability]]: the direction-tagged edge
    * relation (dir=0: forward, src→dst, propagates f; dir=1: backward,
    * dst→src, propagates b — one relation, one join per round for both
    * sweeps) and the seed flags. */
  private def reachabilityInputs(
      seeds: DataFrame, edges: DataFrame): (DataFrame, DataFrame) = {
    val e = edges.toDF("src", "dst")
    val ed = e.select(col("src"), col("dst"), lit(0).as("dir"))
      .unionAll(e.select(col("dst").as("src"), col("src").as("dst"),
        lit(1).as("dir")))
      .localCheckpoint(true) // re-read every round
    val state = seeds.toDF("id").distinct()
      .select(col("id"), lit(true).as("f"), lit(true).as("b"))
      .localCheckpoint(true)
    (ed, state)
  }

  /** The distributed sweeps of [[reachability]] over its materialized
    * inputs. */
  private def reachabilityRounds(
      ed: DataFrame, seedState: DataFrame, maxRounds: Int): DataFrame = {
    var state = seedState
    var frontier = state // (id, f, b) with flags = newly set THIS round
    var r = 0
    var done = false
    while (!done && r < maxRounds) {
      r += 1
      // candidate flags: a newly-f node pushes f along forward edges, a
      // newly-b node pushes b along backward edges; max() pre-combines
      // map-side before the (id)-keyed shuffle
      val cand = frontier.join(ed, frontier("id") === ed("src"))
        .select(ed("dst").as("cid"),
          (ed("dir") === 0 && frontier("f")).as("cf"),
          (ed("dir") === 1 && frontier("b")).as("cb"))
        .filter(col("cf") || col("cb"))
        .groupBy(col("cid"))
        .agg(max(col("cf")).as("cf"), max(col("cb")).as("cb"))
      val obs = org.apache.spark.sql.Observation(s"reach_new_$r")
      val merged = state.join(cand, state("id") === col("cid"), "full_outer")
        .select(coalesce(state("id"), col("cid")).as("id"),
          (coalesce(state("f"), lit(false)) ||
            coalesce(col("cf"), lit(false))).as("f"),
          (coalesce(state("b"), lit(false)) ||
            coalesce(col("cb"), lit(false))).as("b"),
          (coalesce(col("cf"), lit(false)) &&
            !coalesce(state("f"), lit(false))).as("nf"),
          (coalesce(col("cb"), lit(false)) &&
            !coalesce(state("b"), lit(false))).as("nb"))
        .observe(obs,
          sum(when(col("nf") || col("nb"), 1L).otherwise(0L)).as("n"))
        .localCheckpoint(true) // eager: populates the observation
      state = merged.select(col("id"), col("f"), col("b"))
      frontier = merged.filter(col("nf") || col("nb"))
        .select(col("id"), col("nf").as("f"), col("nb").as("b"))
      // sum over zero rows observes null (nothing merged) — fixpoint
      done = Option(obs.get("n"))
        .map(_.asInstanceOf[Long]).getOrElse(0L) == 0L
    }
    if (!done) throw new IllegalStateException(
      s"reachability frontier still growing after $maxRounds rounds")
    state
  }

  /** Hop-bounded single-source-set shortest paths with nonnegative
    * INTEGER edge weights — Bellman–Ford relaxation rounds with frontier
    * pruning. `edges` is (src, dst, w); after round r, dist(v) is exactly
    * the minimum weight over paths from the seed set with ≤ r edges
    * (proof sketch in-code below), so a SQL recursion bounded at the same
    * round count reproduces the result whether or not the loop converges;
    * an empty frontier means the global fixpoint was reached (any future
    * improvement would need an improved predecessor) and the loop exits
    * early with the identical answer.
    *
    * Integer weights keep every distance an exact BIGINT — min() is
    * order-free, nothing for partial-agg merge order to perturb.
    *
    * Scale shape: per round ONE frontier-sized edge join + two uniform
    * node-keyed partial aggs; dist/frontier are localCheckpoint()ed so
    * lineage stays constant-depth; the only driver value is the empty-
    * frontier early-exit scalar. Frontier pruning is what makes this
    * O(total improvements), not O(E · rounds) — on low-diameter graphs
    * most nodes freeze after a couple of rounds and stop generating
    * relaxations entirely.
    *
    * Why not Dijkstra: a global priority queue is inherently sequential;
    * round-synchronous relaxation is the standard distributed form
    * (Pregel SSSP), and the hop bound doubles as the determinism
    * contract. */
  def shortestPaths(
      seeds: DataFrame, edges: DataFrame, maxRounds: Int): DataFrame = {
    require(maxRounds >= 0, s"maxRounds must be ≥ 0, got $maxRounds")
    val e = edges.toDF("src", "dst", "w")
      .select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .localCheckpoint(true)
    var dist = seeds.toDF("id").distinct()
      .select(col("id"), lit(0L).as("dist")).localCheckpoint(true)
    // Induction: value set by a relax chain of k edges needs k strictly
    // increasing rounds (a node sits in the frontier only the round it
    // improved), so after round r every dist is a real ≤ r-edge path
    // weight; conversely the ≤ r-edge minimum is always discovered
    // because each prefix improvement re-enters the frontier.
    var frontier = dist
    var r = 0
    var converged = false
    while (r < maxRounds && !converged) {
      r += 1
      // map-side pre-combine: best candidate per dst before the shuffle
      val cand = frontier.join(e, frontier("id") === e("src"))
        .groupBy(e("dst").as("id2"))
        .agg(min(frontier("dist") + e("w")).as("cdist"))
      // one full-outer merge (cand may reach brand-new nodes); the
      // improvement count rides the merge job as an observed metric —
      // no second join-and-count (the connectedComponents pattern)
      val obs = org.apache.spark.sql.Observation(s"sssp_improved_$r")
      val merged = dist.join(cand, dist("id") === col("id2"), "full_outer")
        .select(coalesce(dist("id"), col("id2")).as("id"),
          least(dist("dist"), col("cdist")).as("dist"),
          (dist("dist").isNull || col("cdist") < dist("dist")).as("imp"))
        .observe(obs, sum(when(col("imp"), 1L).otherwise(0L)).as("n"))
        .localCheckpoint(true)
      dist = merged.select(col("id"), col("dist"))
      frontier = merged.filter(col("imp")).select(col("id"), col("dist"))
      converged = obs.get("n").asInstanceOf[Long] == 0L
    }
    dist
  }

  /** Semi-supervised label propagation (Zhu & Ghahramani 2002 shape,
    * hard labels): seeds carry fixed numeric labels; each synchronous
    * round every node takes the most frequent label among its labeled
    * in-neighbors (ties → smallest label), seeds stay clamped, and a
    * node with no labeled neighbor keeps whatever it had. After `iters`
    * rounds, returns (id, label) for every node that acquired a label —
    * never-reached nodes are absent. A FIXED iteration count (not
    * convergence) keeps the result deterministic and cheaply
    * oracle-checkable; labels must be numeric (the argmax tiebreak is
    * max(struct(cnt, −label))).
    *
    * This is the "propagate trust/topic from a small labeled set over a
    * similarity graph" primitive of corpus curation (domain topic
    * spread, quality-label densification over near-dup edges).
    *
    * Scale shape per round: vote counting is one edge-keyed join +
    * (node, label) partial agg; the argmax is a second partial agg on
    * node id — both map-side combinable; label state is checkpointed
    * per round. Direction: votes flow src ← dst (in-neighbors); pass a
    * doubled edge list for undirected spread. */
  def labelPropagate(
      nodes: DataFrame, seeds: DataFrame, edges: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be ≥ 1, got $iters")
    val e = edges.toDF("src", "dst").localCheckpoint(true)
    val n = nodes.toDF("id").localCheckpoint(true)
    val sd = seeds.toDF("id", "label").localCheckpoint(true)
    var lab = sd
    for (_ <- 1 to iters) {
      val votes = e
        .join(lab.select(col("id").as("vid"), col("label")),
          e("dst") === col("vid"))
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("cnt"))
      val win = votes
        .groupBy(col("src"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("w"))
        .select(col("src").as("wid"), (-col("w.nl")).as("wlbl"))
      lab = n
        .join(sd.select(col("id"), col("label").as("slbl")), Seq("id"), "left")
        .join(win, col("id") === col("wid"), "left")
        .join(lab.select(col("id").as("pid"), col("label").as("plbl")),
          col("id") === col("pid"), "left")
        .select(col("id"),
          coalesce(col("slbl"), col("wlbl"), col("plbl")).as("label"))
        .filter(col("label").isNotNull)
        .localCheckpoint(true)
    }
    lab
  }

  /** Personalized PageRank (Haveliwala 2002): PageRank whose teleport
    * mass returns to a SEED set instead of the uniform vector —
    * pr'(v) = (1−d)·restart(v) + d·Σ pr(u)/outdeg(u), restart = 1/|S|
    * on seeds (restricted to graph nodes), 0 elsewhere, pr₀ = restart.
    * The "authority relative to a trusted set" ranking of seed-based
    * curation (topic-sensitive trust, TrustRank-style spam demotion).
    *
    * Same per-iteration shape as [[pageRank]] — one uniform-key shuffle
    * (edges ⋈ ranks on src), 1/outdeg weights computed once, periodic
    * checkpoints — plus a restart relation built once; nothing
    * node-count-sized at the driver (the only scalar is |S|). Like
    * [[pageRank]], every node needs an out-edge (use [[undirected]]). */
  /** Weighted edge relation for the rank-iteration family, built in ONE
    * pass and ONE materialization: `w = 1/outdeg(src)` via a src-keyed
    * window (count and the `first`-row flag share the same shuffle) over
    * the caller's edge plan. The previous shape checkpointed the raw
    * edge list, aggregated degrees, JOINED them back and checkpointed
    * the result — storing the edge-count-sized relation twice and
    * joining it once; at the sf10 decade that double materialization was
    * 316 s of q_pagerank's 450 s cold build (PLANS.md round 15) while
    * the actual rank iterations cost 6–9 s each. Round 19: the
    * `first`-flag lane (row_number ordered by dst) is gone — it forced
    * the window sort onto (src, dst) where the count-only window sorts
    * on src alone, and the node set it fed is a map-side
    * partial-aggregated distinct over the checkpoint (node-count-sized
    * shuffle, cheaper than the wider sort at every scale). */
  private def weightedEdges(edges: DataFrame): DataFrame = {
    val ws = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    edges.toDF("src", "dst")
      .withColumn("w", lit(1.0) / count(lit(1)).over(ws))
      .localCheckpoint()
  }

  /** Node set of a [[weightedEdges]] relation: distinct srcs (every node
    * has an out-edge by the rank-family contract) — partial-aggregated
    * over the checkpoint scan. */
  private def rankNodes(ew: DataFrame): DataFrame =
    ew.select(col("src").as("nid")).distinct()

  def personalizedPageRank(
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int,
      damping: Double = 0.85,
      checkpointEvery: Int = 4): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val ew = weightedEdges(edges)
    val nodes = rankNodes(ew)
    // seeds outside the graph carry no mass and don't dilute the rest
    val sd = seeds.toDF("id").distinct()
      .join(nodes, col("id") === col("nid"), "left_semi")
      .localCheckpoint(true)
    val nSeeds = sd.count()
    require(nSeeds > 0, "no seed is a graph node — restart vector undefined")
    val restart = nodes
      .join(sd.select(col("id"), lit(1).as("isSeed")),
        col("nid") === col("id"), "left")
      .select(col("nid"),
        when(col("isSeed").isNotNull, lit(1.0 / nSeeds))
          .otherwise(lit(0.0)).as("rst"))
      .localCheckpoint()
    var ranks = restart.select(col("nid").as("id"), col("rst").as("pr"))
    for (i <- 1 to iters) {
      val contribs = ew
        .join(ranks, ew("src") === ranks("id"))
        .groupBy(col("dst"))
        .agg(sum(col("pr") * col("w")).as("contrib"))
      ranks = restart
        .join(contribs, col("nid") === col("dst"), "left")
        .select(col("nid").as("id"),
          (lit(1.0 - damping) * col("rst")
            + lit(damping) * coalesce(col("contrib"), lit(0.0))).as("pr"))
      if (i % checkpointEvery == 0 && i < iters) ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** k-core decomposition (membership tier): iteratively peel nodes of
    * within-subgraph degree < k until a fixpoint; what survives is the
    * maximal subgraph where every node keeps ≥ k neighbors — the
    * density signal behind link-farm and community-core detection
    * (Seidman 1983). Returns (id, core_degree) for surviving nodes,
    * with core_degree their degree INSIDE the core. The fixpoint is
    * unique (peeling is order-independent), so the result is
    * deterministic however rounds interleave.
    *
    * Scale shape per round: restrict edges to live nodes (two
    * node-keyed joins), degree agg, filter — uniform keys throughout;
    * degree and live relations are eagerly checkpointed per round, so
    * the convergence check (two counts over already-materialized
    * relations) costs no recompute. Rounds needed =
    * peel depth, which is small for the shallow curation graphs this
    * serves (measured: 3 on the co-purchase graph); degeneracy-ordered
    * peeling (one node per step) is the sequential alternative and
    * needs no distributed form at these depths.
    *
    * @throws IllegalStateException if maxIter rounds pass without
    *         reaching the fixpoint — a partial peel is NOT a k-core.
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    require(k >= 1, s"k must be ≥ 1, got $k")
    val e = canonical(edges).localCheckpoint()
    var live = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .distinct().localCheckpoint(true)
    var liveCount = live.count()
    var deg: DataFrame = null
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val kept = e
        .join(live.select(col("n").as("a")), "a")
        .join(live.select(col("n").as("b")), "b")
      deg = kept.select(col("a").as("n")).unionAll(kept.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("core_degree"))
        .localCheckpoint(true)
      val next = deg.filter(col("core_degree") >= k)
        .select(col("n")).localCheckpoint(true)
      // isolated-by-peeling nodes vanish from deg entirely, so the
      // removed count must compare against the previous LIVE size —
      // carried over from last round's count, not recounted
      val nextCount = next.count()
      converged = nextCount == liveCount
      live = next
      liveCount = nextCount
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"k-core peel did not reach fixpoint in $maxIter rounds")
    deg.join(live, "n").select(col("n").as("id"), col("core_degree"))
  }

  /** Hop-bounded harmonic centrality (Marchiori & Latora 2000; the
    * Boldi–Vigna axiom-clean centrality): for every node v, the sum of
    * 1/d(u, v) over the nodes u that reach v within `maxHops` hops —
    * "how close is everyone, with unreachable worth 0" — the
    * seed-independent authority signal of link-graph curation (harmonic
    * ranks well-connected hubs without PageRank's teleport parameter).
    * Returns (id, reached, harmonic) where `reached` counts the in-ball
    * (u ≠ v, d ≤ maxHops) and `harmonic` is the UNROUNDED double sum —
    * callers quantize for display. Nodes nobody reaches are absent.
    * Direction: distances follow edge direction (u → v paths); pass
    * [[undirected]] output for the classic symmetric form.
    *
    * Determinism: per-pair contributions are accumulated as EXACT
    * integers — 1/d is scaled by L = lcm(1…maxHops) so every term
    * L/d is integral (the double division L/d is exact: both operands
    * are exact integers and d divides L) — and the single double
    * division by L happens once per node AFTER the sum, so no
    * float-summation order exists for partial aggregation to perturb.
    *
    * Scale shape: pair-state BFS — the state is (source, node, hops)
    * with one uniform (s,v)-keyed shuffle per hop, and the frontier
    * trick from [[hopDistance]] keeps each hop's join input to pairs
    * first discovered last hop. State size is Σᵥ|ball(v, maxHops)|:
    * exact and fine for the bounded hops + curation-graph sizes this
    * serves; the documented scale path for unbounded/giant graphs is
    * HyperBall (Boldi & Vigna 2013) — per-node HyperLogLog registers
    * make the state O(nodes), trading exactness for ±2% counts; the
    * per-round join shape is identical, so it's a drop-in refinement.
    */
  def harmonicCentrality(edges: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be ≥ 1, got $maxHops")
    val e = edges.toDF("src", "dst").localCheckpoint(true)
    // diagonal start: sources are nodes with ≥ 1 out-edge (a node with
    // no out-edge reaches nobody and would contribute nothing anyway)
    var dist = e.select(col("src").as("s")).distinct()
      .select(col("s"), col("s").as("v"), lit(0L).as("hops"))
      .localCheckpoint(true)
    for (h <- 1 to maxHops) {
      val frontier = dist.filter(col("hops") === lit(h - 1).cast("long"))
      val next = frontier.join(e, frontier("v") === e("src"))
        .select(frontier("s"), e("dst").as("v"), lit(h.toLong).as("hops"))
      dist = dist.unionByName(next)
        .groupBy(col("s"), col("v")).agg(min(col("hops")).as("hops"))
        .localCheckpoint(true)
    }
    val lcm = (1 to maxHops).foldLeft(1L) { (a, b) =>
      @annotation.tailrec def gcd(x: Long, y: Long): Long =
        if (y == 0) x else gcd(y, x % y)
      a / gcd(a, b) * b
    }
    dist.filter(col("hops") >= 1)
      .groupBy(col("v").as("id"))
      .agg(count(lit(1)).as("reached"),
        // L/d is an exact double (d | L), so the cast is lossless and
        // the sum runs entirely in longs
        sum((lit(lcm.toDouble) / col("hops")).cast("long")).as("hsum"))
      .select(col("id"), col("reached"),
        (col("hsum").cast("double") / lcm).as("harmonic"))
  }

  /** HyperBall harmonic centrality (Boldi & Vigna, 2013) — the
    * UNBOUNDED-HOP production form of [[harmonicCentrality]]. The exact
    * pair-state BFS carries one row per (source, reached) pair —
    * O(hops · E · sources) work, linear in source count by design (its
    * measured decade slope ≈ the data ratio). HyperBall replaces the
    * pair state with one 256-register portable HLL sketch per node
    * ([[graft.ops.Hll]]'s md5 registers, packed as one array<int>[256]
    * per node): the sketch of node v after
    * round t estimates |B(v,t)| = #{s : d(s→v) ≤ t}, and rounds
    * max-merge each node's sketch with its in-neighbors' via
    * [[graft.plans.RegisterMax]] — one edge-cardinality join plus one
    * (node)-keyed partial-aggregated shuffle of ~1 KB per node per round
    * REGARDLESS of source count, so the whole-graph centrality at 100 TB
    * costs per round what one 256-source exact sweep costs. Distance-t
    * shell sizes fall out of consecutive ball estimates, and harmonic
    * centrality is the weighted telescoping sum Σ_t (|B(v,t)| −
    * |B(v,t−1)|)/t.
    *
    * Determinism/oracle parity: registers are md5-derived and max-merged
    * (order-free); the per-round estimate fold is [[graft.ops.Hll]]'s
    * exact-integer Σ2^(−M_j); the final per-node sum runs as an
    * index-ordered `aggregate` fold over the t-sorted estimate curve, so
    * every addition happens in the same order on any engine. Rounds stop
    * at register fixpoint (the unbounded-hop semantics) or at `maxHops`,
    * whichever comes first; a converged run equals the capped unroll
    * because post-fixpoint rounds change no register (so an oracle may
    * always unroll the full cap). Hitting the cap WITHOUT fixpoint
    * throws by default (the [[kCore]]/[[kTruss]] non-convergence
    * convention — a silently hop-bounded harmonic is an undercount);
    * pass `allowTruncation = true` to accept capped-unroll semantics.
    *
    * Returns (id, reached, harmonic): reached = final ball estimate − 1
    * (the ball includes the node itself at distance 0), harmonic the
    * estimated Σ 1/d — both doubles (estimates; quantize at the query
    * layer). */
  def harmonicCentralityHyperBall(
      edges: DataFrame, maxHops: Int,
      allowTruncation: Boolean = false): DataFrame = {
    require(maxHops >= 1, s"maxHops must be ≥ 1, got $maxHops")
    val e = edges.toDF("src", "dst").localCheckpoint(true)
    // ball_0(v) = {v} for EVERY endpoint node — src ∪ dst, not src only
    // (the exact BFS's diagonal start). On a directed graph an in-only
    // sink has no out-edge: seeding from src alone would deny it its own
    // t=0 sketch, undercounting reached by 1 and dropping its distance-1
    // shell from harmonic (r17 advice). On undirected input the union is
    // the src set, so results are unchanged.
    // Registers ride PACKED — one array<int>[256] per
    // node, not (v, bucket, m_j) rows: the in-neighbor join then emits
    // one row per EDGE (not per edge × register), and the merge is
    // [[graft.plans.RegisterMax]] — partial-aggregatable, so in-neighbor
    // sketches combine map-side before the (v)-keyed shuffle. The
    // row-shaped first cut measured 23 s at sf0.1 against 2-3 s packed,
    // same estimates to the last digit.
    var regs = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v"))).distinct()
      .select(col("v"), graft.ops.Hll.packedRegister(col("v")).as("r"))
      .localCheckpoint(true)
    def estimates(rdf: DataFrame, t: Int): DataFrame =
      rdf.select(col("v"), lit(t.toLong).as("t"),
        graft.ops.Hll.estimateFromPacked(col("r")).as("est"))
    var curve = estimates(regs, 0)
    var t = 1
    var converged = false
    while (!converged && t <= maxHops) {
      // B(v,t) = B(v,t−1) ∪ ⋃_{(u→v)∈E} B(u,t−1): in-neighbor sketches
      // merge into v by elementwise register max
      val contrib = regs.join(e, regs("v") === e("src"))
        .select(e("dst").as("v"), col("r"))
      val next = regs.unionByName(contrib)
        .groupBy(col("v"))
        .agg(graft.plans.RegisterMax.registerMax(col("r")).as("r"))
        .localCheckpoint(true)
      // register fixpoint ⇔ every node's packed array is unchanged
      // (max-merge is monotone, so left_anti on (v, r) suffices)
      converged = next.join(regs, Seq("v", "r"), "left_anti").isEmpty
      curve = curve.unionByName(estimates(next, t))
      regs = next
      t += 1
    }
    // loud-truncation contract (r17 advice, the kCore/kTruss/CC
    // convention): a cap hit before register fixpoint means the curve —
    // and thus harmonic — is hop-bounded, not the promised unbounded
    // semantics; by default that throws instead of silently
    // undercounting. Callers whose contract IS the capped unroll (an
    // oracle replaying exactly `maxHops` rounds reproduces Spark's
    // result whether or not the fixpoint landed inside the cap) opt in
    // with allowTruncation = true.
    if (!converged && !allowTruncation) throw new IllegalStateException(
      s"HyperBall registers not at fixpoint after $maxHops rounds — " +
        "raise maxHops, or pass allowTruncation = true for hop-bounded " +
        "(capped-unroll) semantics")
    curve
      .groupBy(col("v"))
      .agg(sort_array(collect_list(struct(col("t"), col("est")))).as("c"))
      .select(col("v").as("id"),
        (expr("element_at(c, size(c)).est") - lit(1.0)).as("reached"),
        expr("""aggregate(sequence(1, size(c) - 1), cast(0.0 as double),
                 (acc, i) -> acc + (c[i].est - c[i-1].est)
                             / cast(c[i].t as double))""").as("harmonic"))
  }

  /** k-truss decomposition (Cohen 2008): iteratively drop every edge
    * whose SUPPORT — the number of triangles it closes within the
    * current subgraph — is below k−2, until a fixpoint; what survives is
    * the maximal subgraph where every edge is reinforced by ≥ k−2
    * common neighbors. A strictly stronger cohesion tier than [[kCore]]
    * (the k-truss is contained in the (k−1)-core): cores bound degree,
    * trusses bound *triangle* density, which is the community /
    * collusion-ring signal degree alone can fake (a star hub has huge
    * degree and zero support). Returns surviving edges as
    * (a, b, support) with a < b and support their within-truss triangle
    * count. The fixpoint is unique (support peeling is
    * order-independent), so the result is deterministic however rounds
    * interleave.
    *
    * Scale shape (round 17, HYBRID DECREMENTAL): the full degree-ordered
    * triangle listing ([[triangles]]' skew-proof oriented wedge join —
    * per-node out-degree bounded by O(√E) regardless of hubs) runs once
    * to seed per-edge supports. Each peel round then picks its strategy
    * by the removed fraction: a MASS round (removed ≥ ~20% of live —
    * typically the first peel at high k) re-lists the survivor graph in
    * full, because a delta that touches most of the graph costs more
    * than the listing and forfeits its orientation bound (measured, r17
    * sf10 decade: all-delta 369 s vs all-batch 337 s on exactly that
    * shape); a DELTA round re-lists only triangles DESTROYED by the
    * removed edges — min-degree-endpoint probes into the live adjacency
    * (the orientation bound kept: O(Σ_{(a,b)∈R} min(deg a, deg b))
    * probes), closing-edge verification, per-triangle dedup so a
    * triangle losing 2–3 edges decrements each survivor exactly once,
    * support maintained by subtraction. Both paths preserve the
    * invariant that support is always w.r.t. the current live graph, so
    * the synchronous batch peel reaches the same unique fixpoint as the
    * sequential refinement and the fixpoint counts ARE the within-truss
    * supports. Rounds needed = peel depth (measured: 3 on the
    * co-purchase graph). The removed set shrinks geometrically after the
    * first round, so delta rounds broadcast it into the completion joins
    * when its count (already on hand from the convergence check) is
    * small.
    *
    * @throws IllegalStateException if maxIter rounds pass without
    *         reaching the fixpoint — a partial peel is NOT a k-truss.
    */
  def kTruss(edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    require(k >= 3, s"k must be ≥ 3, got $k (k=2 truss is every edge)")
    val e0 = canonical(edges).localCheckpoint(true)
    // below-cap fast path (LocalSolve): support recompute + peel in one
    // task (same vanish-at-zero-support and maxIter semantics), under
    // the tighter k-truss cap.
    if (LocalSolve.allLong(e0, "a", "b") &&
        LocalSolve.fits(e0, LocalSolve.MaxTrussEdges))
      LocalSolve.kTrussPeel(e0, k, maxIter)
    else kTrussRounds(e0, k, maxIter)
  }

  /** [[kTruss]] on distributed rounds only — the loop every input above
    * the one-task cap takes. */
  private[graft] def kTrussDistributed(
      edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    require(k >= 3, s"k must be ≥ 3, got $k (k=2 truss is every edge)")
    kTrussRounds(canonical(edges).localCheckpoint(true), k, maxIter)
  }

  /** The distributed peel of [[kTruss]] over materialized canonical
    * edges `e0`. */
  private def kTrussRounds(e0: DataFrame, k: Int, maxIter: Int): DataFrame = {
    val thr = (k - 2).toLong

    // full support computation over an edge set (the seed pass, and the
    // batch fallback below): one skew-proof oriented triangle listing,
    // each triangle (n1 < n2 < n3) credits its three canonical edges.
    // Edges in ZERO triangles vanish from the agg — i.e. they are
    // dropped in the same round (k ≥ 3 ⇒ threshold ≥ 1), the r16
    // behavior; keeping them an extra round costs a whole extra peel.
    def withSupports(e: DataFrame): DataFrame =
      trianglesCanonical(e)
        .select(explode(array(
          struct(col("n1").as("a"), col("n2").as("b")),
          struct(col("n1").as("a"), col("n3").as("b")),
          struct(col("n2").as("a"), col("n3").as("b")))).as("t"))
        .groupBy(col("t.a").as("a"), col("t.b").as("b"))
        .agg(count(lit(1)).as("support"))

    // one job per round refreshes BOTH loop controls from the pinned
    // support relation; survivors/removed are then free complementary
    // FILTERS over it (no anti-join, no second checkpoint)
    def counts(sup: DataFrame): (Long, Long) = {
      val r = sup.agg(count(lit(1)),
        coalesce(sum(when(col("support") < thr, 1L)), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    var live = withSupports(e0).localCheckpoint(true)
    var (liveCount, removedCount) = counts(live)
    // iter counts completed peel rounds: the loop admits rounds 1..maxIter
    // inclusive (the documented maxIter-rounds contract; `< maxIter` here
    // ran at most maxIter−1 and made maxIter=1 always throw — r17 advice)
    var iter = 1
    while (removedCount > 0 && iter <= maxIter) {
      val survivors = live.filter(col("support") >= thr)
      val removed = live.filter(col("support") < thr)
        .select(col("a"), col("b"))
      live =
        if (removedCount * 5L >= liveCount || liveCount < 200000L) {
          // MASS round (typically the first peel at high k, where most
          // edges die): the delta completion would enumerate nearly the
          // whole graph anyway — and without the listing's degree
          // orientation — so a full re-listing on the survivors is both
          // cheaper and skew-bounded (the r17 decade measured the
          // all-delta form at sf10 369 s vs 337 s for all-batch; the
          // first peel IS a mass round there). The edge-count floor is
          // the other side of the same cost model: a delta round pays
          // ~5 fixed jobs (adjacency, degrees, two completion joins,
          // checkpoint) that only amortize when the listing it replaces
          // is large — under ~200k live edges the full re-list is
          // cheaper than the delta machinery (measured at sf0.1: the
          // floor-less hybrid read 5.1–5.6 s vs ~3.1 for all-mass,
          // while sf1/sf10 graphs sit far above the floor and keep the
          // delta path's decade win)
          // survivors is a filter over the CHECKPOINTED support relation,
          // so the listing's several scans of it re-read pinned blocks —
          // no extra eager materialization needed
          withSupports(survivors.select(col("a"), col("b")))
            .localCheckpoint(true)
        } else {
          // DELTA round: re-list only triangles of the PREVIOUS graph
          // containing ≥1 removed edge. Probe from each removed edge's
          // MIN-DEGREE endpoint (the wedge-join orientation bound, kept:
          // an unoriented probe from a fixed endpoint pays deg(hub) per
          // removed hub edge), verify the closing edge, dedup per
          // triangle so one losing 2-3 edges decrements survivors once.
          val und = live.select(col("a").as("u"), col("b").as("v"))
            .unionByName(live.select(col("b").as("u"), col("a").as("v")))
          val deg = und.groupBy(col("u")).agg(count(lit(1)).as("d"))
          val r = if (removedCount <= 500000) broadcast(removed) else removed
          val oriented = r
            .join(deg.select(col("u").as("a"), col("d").as("da")), "a")
            .join(deg.select(col("u").as("b"), col("d").as("db")), "b")
            .select(col("a"), col("b"),
              when(col("da") <= col("db"), col("a")).otherwise(col("b"))
                .as("probe"),
              when(col("da") <= col("db"), col("b")).otherwise(col("a"))
                .as("other"))
          val destroyed = oriented
            .join(und, col("u") === col("probe"))
            .select(col("a"), col("b"), col("other"), col("v").as("c"))
            .filter(col("c") =!= col("a") && col("c") =!= col("b"))
            .join(und.select(col("u").as("u2"), col("v").as("v2")),
              col("u2") === col("other") && col("v2") === col("c"))
            .select(array_sort(array(col("a"), col("b"), col("c"))).as("t"))
            .select(element_at(col("t"), 1).as("n1"),
              element_at(col("t"), 2).as("n2"),
              element_at(col("t"), 3).as("n3"))
            .distinct()
          val dec = destroyed
            .select(explode(array(
              struct(col("n1").as("a"), col("n2").as("b")),
              struct(col("n1").as("a"), col("n3").as("b")),
              struct(col("n2").as("a"), col("n3").as("b")))).as("t"))
            .groupBy(col("t.a").as("a"), col("t.b").as("b"))
            .agg(count(lit(1)).as("d"))
          survivors
            .join(dec, Seq("a", "b"), "left")
            .select(col("a"), col("b"),
              (col("support") - coalesce(col("d"), lit(0L))).as("support"))
            .localCheckpoint(true)
        }
      val c = counts(live)
      liveCount = c._1
      removedCount = c._2
      iter += 1
    }
    if (removedCount > 0) throw new IllegalStateException(
      s"k-truss peel did not reach fixpoint in $maxIter rounds")
    // at the fixpoint every live edge clears the threshold and the
    // maintained counts are supports within the surviving subgraph
    live
  }

  /** PageRank with damping `d` over a directed edge list in which every
    * node has at least one out-edge (use [[undirected]] to guarantee it).
    * Fixed `iters` power iterations from the uniform vector:
    *
    *   pr'(v) = (1 − d)/N + d · Σ_{(u,v)∈E} pr(u)/outdeg(u)
    *
    * Returns (id, pr). Each iteration is: edges ⋈ ranks on src (shuffle
    * keyed on src, uniform), re-agg by dst — no broadcast of anything
    * node-count-sized, so the same plan runs at 10⁹ nodes. The weighted
    * edge relation is built in one window pass and materialized ONCE
    * ([[weightedEdges]]); ranks are checkpointed every
    * `checkpointEvery` rounds. */
  def pageRank(
      edges: DataFrame,
      iters: Int,
      damping: Double = 0.85,
      checkpointEvery: Int = 4): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val ew = weightedEdges(edges)
    // below-cap fast path (LocalSolve): all power iterations in one
    // task. Per-dst contributions accumulate in a FIXED order — within
    // float-ulp of the distributed partial aggregation's
    // partition-dependent order, absorbed by the r4 rounding every
    // caller applies (the same contract the distributed path's own
    // run-to-run variance already rides on).
    if (LocalSolve.allLong(ew, "src", "dst") &&
        LocalSolve.fits(ew, LocalSolve.MaxEdges))
      LocalSolve.pageRankLocal(ew, iters, damping)
    else pageRankRounds(ew, iters, damping, checkpointEvery)
  }

  /** [[pageRank]] on distributed rounds only — the loop every input
    * above the one-task cap takes. */
  private[graft] def pageRankDistributed(
      edges: DataFrame,
      iters: Int,
      damping: Double = 0.85,
      checkpointEvery: Int = 4): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    pageRankRounds(weightedEdges(edges), iters, damping, checkpointEvery)
  }

  /** The distributed power iterations of [[pageRank]] over a
    * [[weightedEdges]] relation. */
  private def pageRankRounds(
      ew: DataFrame, iters: Int, damping: Double,
      checkpointEvery: Int): DataFrame = {
    val nodes = rankNodes(ew)
      .localCheckpoint(true) // node-count-sized; read twice per round
    val n = nodes.count() // every node has an out-edge → src carries all nodes
    var ranks = nodes.select(col("nid").as("id"), lit(1.0 / n).as("pr"))
    for (i <- 1 to iters) {
      // left join back onto the node set: a node with no IN-edges still
      // holds (1−d)/n and keeps feeding its out-edges next round —
      // an inner join would silently drop it (and its rank mass) here
      val contribs = ew
        .join(ranks, ew("src") === ranks("id"))
        .groupBy(col("dst"))
        .agg(sum(col("pr") * col("w")).as("contrib"))
      ranks = nodes
        .join(contribs, col("nid") === col("dst"), "left")
        .select(col("nid").as("id"),
          (lit((1.0 - damping) / n)
            + lit(damping) * coalesce(col("contrib"), lit(0.0))).as("pr"))
      // truncate lineage periodically, not per round: a checkpoint is an
      // eager job, and a handful of chained join+agg stages is exactly
      // what Catalyst pipelines well — only unbounded chains need cutting
      if (i % checkpointEvery == 0 && i < iters) ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** Deterministic DeepWalk-style random walks (Perozzi et al. 2014
    * sampling shape, with the RNG replaced by a portable content hash so
    * replays — and any md5-equipped engine — reproduce every walk
    * exactly).
    *
    * `starts` is (walk_id, node); each walk advances `steps` hops. At
    * step s the walk at node v picks neighbor rank
    * `1 + md5₆₀(walk_id:s:v) mod deg(v)` in the dst-sorted adjacency —
    * i.i.d.-uniform per (walk, step, node) but fully deterministic.
    * Output (walk_id, step, node), step 0 = the start node; a walk that
    * reaches a node with no out-edges stops early.
    *
    * `edges` must be pre-deduplicated (e.g. via [[undirected]]) —
    * duplicate rows would inflate degrees and skew the choice
    * distribution; re-deduplicating here would charge every caller a
    * redundant shuffle for the common already-distinct case.
    *
    * Scale shape: the adjacency is ranked ONCE with a per-src keyed
    * window (rank + degree share one shuffle) and checkpointed; the
    * node-keyed degree relation is its rank-1 slice (a checkpoint scan,
    * no extra shuffle). Each hop is then TWO output-bounded equi-joins:
    * frontier ⋈ degree (to compute the wanted rank `1 + pick mod deg`
    * as a column — one row out per walk) and an equi-join against the
    * adjacency on BOTH (src, rk) — again one row out per walk. Joining
    * the frontier straight to the adjacency on src alone and filtering
    * on rk afterwards would materialize every neighbor of every
    * frontier node first (O(Σ deg(frontier)) rows per hop) — on a
    * hub-skewed graph a single 10⁶-degree hub visit drags its whole
    * adjacency through the join, which is exactly the skew that kills
    * walk jobs at 100×. With the rank in the join key the hub
    * contributes one row like everyone else. (Measured trade at sf0.1,
    * a hub-free toy graph: the extra per-hop join costs ~0.3 s of pure
    * stage overhead, 3.1 s → 4.5 s focused — the premium that buys the
    * unbounded-skew immunity.) Nothing node-count-sized touches the
    * driver, the frontier never grows, so 10⁹ walks over 10⁹ nodes is
    * `steps` pairs of uniform hash joins. */
  def randomWalks(edges: DataFrame, starts: DataFrame, steps: Int): DataFrame = {
    require(steps >= 1, "need at least one step")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    val wd = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    val adj = edges.toDF("src", "dst")
      .withColumn("rk", row_number().over(w))
      .withColumn("deg", count(lit(1)).over(wd)) // shares rk's shuffle
      .localCheckpoint() // reused by every hop below
    // node-keyed degree relation carved out of the SAME checkpoint (the
    // rank-1 row exists for every node with out-edges and carries deg) —
    // recomputing degrees from `edges` would re-run the caller's whole
    // upstream plan (typically an un-checkpointed distinct closure) once
    // more per walk job
    val degrees = adj.filter(col("rk") === 1)
      .select(col("src").as("dnode"), col("deg"))
    var frontier = starts.toDF("walk_id", "node")
      .select(col("walk_id"), lit(0L).as("step"), col("node"))
    var walks = frontier
    for (s <- 1 to steps) {
      // portable 60-bit choice hash — same conv(substring(md5)) lane as
      // ops/Kmv & ops/Bloom, so the DuckDB oracle replays walks verbatim
      val pick = conv(substring(md5(concat_ws(":",
        col("walk_id"), lit(s), col("node"))), 1, 15), 16, 10).cast("long")
      val wanted = frontier
        .join(degrees, frontier("node") === col("dnode")) // inner: dead ends stop
        .select(col("walk_id"), col("node"),
          (pmod(pick, col("deg")) + 1).as("rk_wanted"))
      frontier = wanted
        .join(adj, wanted("node") === adj("src") &&
          wanted("rk_wanted") === adj("rk"))
        .select(col("walk_id"), lit(s.toLong).as("step"),
          col("dst").as("node"))
      walks = walks.unionByName(frontier)
    }
    walks
  }

  /** One synchronous Louvain local-move sweep (Blondel et al. 2008,
    * phase-1 step): every node simultaneously re-evaluates its community
    * against the CURRENT assignment and takes the best, where the
    * candidate set is the communities of its neighbors plus its own.
    * The modularity gain is compared via the EXACT integer score
    *
    *   S(v → C) = 2m·k_{v,C} − tot'(C)·k_v,   tot'(C) = tot(C) − [v∈C]·k_v
    *
    * (the standard ΔQ × 2m² with constant terms dropped — same argmax,
    * no floats, so the sweep is engine- and retry-reproducible; ties
    * break on the smaller community id). The synchronous variant is the
    * deterministic, shardable form of the paper's sequential sweep —
    * iterate it (feed the output back in) for the classic convergence
    * loop. Isolated nodes keep their community.
    *
    * Scale shape: degree/tot are partial aggregates (tot is
    * community-count-bounded), the candidate relation shuffles
    * (node, neighbor-community) pairs — bounded by the edge list — and
    * the argmax is a min(struct) aggregate, no window. m is the one
    * driver scalar (an edge count). Caveat: S uses BIGINT; 2m·k_{v,C}
    * overflows past ~2⁶³ only for graphs with both ≳10¹² edges and
    * ≳10⁶-degree hubs — switch to DECIMAL there. */
  def louvainMove(edges: DataFrame, assign: DataFrame): DataFrame = {
    val e = edges.toDF("src", "dst").localCheckpoint()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("k"))
      .select(col("src").as("node"), col("k"))
    louvainSweep(e, deg, e.count() / 2, assign.toDF("node", "cid"))
  }

  /** [[louvainMove]] iterated `rounds` times from singleton communities —
    * the graph checkpoint, degrees and m are computed ONCE and shared by
    * every sweep (two separate louvainMove calls pay that fixed cost
    * per sweep: measured 4.7 s vs 3.5 s for two rounds at sf0.1). */
  def louvain(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one round")
    val e = edges.toDF("src", "dst").localCheckpoint()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("k"))
      .select(col("src").as("node"), col("k"))
      .localCheckpoint()
    val m = e.count() / 2
    var a = deg.select(col("node"), col("node").as("cid"))
    for (_ <- 1 to rounds)
      a = louvainSweep(e, deg, m, a)
    a
  }

  private def louvainSweep(
      e: DataFrame,
      deg: DataFrame,
      m: Long,
      a: DataFrame): DataFrame = {
    val tot = a.join(deg, "node").groupBy(col("cid"))
      .agg(sum(col("k")).as("tot"))
    val nbrc = e
      .join(a.select(col("node").as("dst"), col("cid").as("ncid")), "dst")
      .groupBy(col("src"), col("ncid"))
      .agg(count(lit(1)).as("k_vc"))
      .select(col("src").as("node"), col("ncid").as("cand_cid"), col("k_vc"))
    // own community is always a candidate (k_vc may be 0 there): union it
    val ownCand = a.select(col("node"), col("cid").as("cand_cid"),
      lit(0L).as("k_vc"))
    val cands = nbrc.unionByName(ownCand)
      .groupBy(col("node"), col("cand_cid"))
      .agg(sum(col("k_vc")).as("k_vc"))
    // deg/tot joins are LEFT with zero fills: an isolated node in the
    // caller's assignment has no degree row and possibly a tot-less
    // community — it must keep its community (score 0 on its own cid),
    // not vanish from the output
    val scored = cands
      .join(a, "node")
      .join(deg, Seq("node"), "left")
      .join(tot.select(col("cid").as("cand_cid"), col("tot")),
        Seq("cand_cid"), "left")
      .withColumn("__k", coalesce(col("k"), lit(0L)))
      .withColumn("s",
        lit(2L * m) * col("k_vc")
          - (coalesce(col("tot"), lit(0L))
              - when(col("cand_cid") === col("cid"), col("__k"))
              .otherwise(lit(0L))) * col("__k"))
    scored.groupBy(col("node"))
      .agg(min(struct((-col("s")).as("ns"), col("cand_cid").as("cc")))
        .as("w"))
      .select(col("node"), col("w").getField("cc").as("cid"))
  }

  /** Deterministic node2vec walks (Grover & Leskovec, KDD 2016): the
    * second-order biased variant of [[randomWalks]]. Hop 1 is uniform
    * (the paper's convention — no previous node yet, same choice lane as
    * randomWalks); from hop 2 each neighbor x of the current node cur
    * with previous node prev weighs
    *
    *   1/p if x = prev (return), 1 if edge(prev, x) exists (BFS-ish),
    *   1/q otherwise (DFS-ish),
    *
    * and the walk picks the first neighbor (dst-ascending) whose running
    * weight reaches md5₆₀(walk:step:prev:cur)/2⁶⁰ × total — inverse-CDF
    * sampling with a portable uniform, so any md5 engine replays every
    * hop. The ≥ boundary guarantees a pick even when the fraction rounds
    * to the total. `edges` must be pre-deduplicated (see randomWalks).
    *
    * Scale shape: the graph is materialized ONCE as a sorted
    * neighbor-ARRAY relation (one groupBy shuffle, checkpointed);
    * each hop is then two frontier-sized keyed joins against it
    * (neighbors of cur, neighbors of prev) and pure scalar
    * higher-order-function math — the weight vector, its O(degree)
    * inverse-CDF fold, and the pick all run in the scan stage with NO
    * window and NO per-hop edge shuffle (the earlier window/edge-join
    * formulation re-shuffled the edge list every hop: 5.5 s → this).
    * The fold accumulates in dst-ascending array order, so its running
    * sums are bit-identical to an oracle's ordered window cum-sum, and
    * the ≥ boundary with the fold's own total guarantees a pick.
    * Frontier never grows; nothing node-count-sized leaves the
    * executors. */
  def node2vecWalks(
      edges: DataFrame,
      starts: DataFrame,
      steps: Int,
      p: Double,
      q: Double): DataFrame = {
    require(steps >= 1, "need at least one step")
    // one shuffle total: node → sorted neighbor array, reused every hop
    val nbrs = edges.toDF("src", "dst")
      .groupBy(col("src")).agg(sort_array(collect_list(col("dst"))).as("nb"))
      .select(col("src").as("node"), col("nb"))
      .localCheckpoint()
    val s0 = starts.toDF("walk_id", "node")
    var out = s0.select(col("walk_id"), lit(0L).as("step"), col("node"))
    val pick1 = conv(substring(md5(concat_ws(":",
      col("walk_id"), lit(1), col("node"))), 1, 15), 16, 10).cast("long")
    var state = s0.join(nbrs, "node")
      .select(col("walk_id"), col("node").as("prev"),
        element_at(col("nb"), (pmod(pick1, size(col("nb"))) + 1).cast("int"))
          .as("cur"))
    out = out.unionByName(state.select(col("walk_id"), lit(1L).as("step"),
      col("cur").as("node")))
    val two60 = lit(1152921504606846976L).cast("double") // 2^60 exact
    for (s <- 2 to steps) {
      val withN = state
        .join(nbrs.select(col("node").as("cur"), col("nb").as("narr")), "cur")
        .join(nbrs.select(col("node").as("prev"), col("nb").as("parr")), "prev")
      val h = conv(substring(md5(concat_ws(":", col("walk_id"), lit(s),
        col("prev"), col("cur"))), 1, 15), 16, 10).cast("long")
      // weights/total/threshold are STAGED as columns so each is
      // evaluated once per row — inlining rw (md5 + an O(d) fold)
      // inside the pick fold's lambda re-evaluates it at every fold
      // step, turning the hop O(degree²)·md5 (measured 46 s vs 1.5 s
      // on the sf0.1 battery graph)
      val staged = withN
        .withColumn("__wts", transform(col("narr"), x =>
          when(x === col("prev"), lit(1.0 / p))
            .when(array_contains(col("parr"), x), lit(1.0))
            .otherwise(lit(1.0 / q))))
        // left-to-right fold = the ordered cum-sum an oracle's window
        // computes; its final value IS the total, so rw ≤ total and
        // the ≥ test must fire by the last element
        .withColumn("__total",
          aggregate(col("__wts"), lit(0.0), (a, w) => a + w))
        .withColumn("__rw", (h.cast("double") / two60) * col("__total"))
      val pickSt = aggregate(col("__wts"),
        struct(lit(0.0).as("s"), lit(0).as("i"), lit(0).as("pk")),
        (acc, w) => {
          val s2 = acc.getField("s") + w
          val i2 = acc.getField("i") + lit(1)
          struct(s2.as("s"), i2.as("i"),
            when(acc.getField("pk") > 0, acc.getField("pk"))
              .when(s2 >= col("__rw"), i2).otherwise(lit(0)).as("pk"))
        })
      val pick = when(pickSt.getField("pk") > 0, pickSt.getField("pk"))
        .otherwise(size(col("narr"))) // unreachable FP belt-and-braces
      // the pick is materialized BEFORE the prev/cur rename: its
      // expression tree references col("prev")/col("cur"), and inside a
      // select that also aliases cur→prev, Spark's LATERAL column alias
      // resolution would bind those references to the new sibling alias
      // (observed: the choice hash computed over the renamed columns)
      state = staged
        .withColumn("__next", element_at(col("narr"), pick.cast("int")))
        .select(col("walk_id"), col("cur").as("prev"),
          col("__next").as("cur"))
      out = out.unionByName(state.select(col("walk_id"),
        lit(s.toLong).as("step"), col("cur").as("node")))
    }
    out
  }

  /** Luby's maximal-independent-set algorithm (Luby, STOC 1985) — the
    * canonical symmetry-breaking primitive of parallel graph processing
    * (schedule non-conflicting work, pick cluster exemplars, seed
    * sparsifiers): repeatedly let every ACTIVE node draw a priority and
    * join the MIS iff it beats every active neighbor, then deactivate
    * winners and their neighborhoods. Priorities here are md5-derived
    * and RE-DRAWN each round with the round number as salt — the
    * re-randomization Luby's O(log n)-round bound needs, yet a pure
    * function of (node, round): task retries, reruns and a SQL oracle
    * all reproduce the identical MIS.
    *
    * Scale shape per round: one edge-keyed join of the active edge list
    * against the priority relation + one node-keyed max aggregate
    * (neighbor maxima), one anti join to deactivate — all uniform keys;
    * driver state is only the active-count scalar for the early exit.
    * Expected active-set decay is geometric, so rounds ~ O(log n);
    * `maxRounds` bounds the unrolled oracle and non-convergence is LOUD
    * (require), never a silently partial MIS.
    *
    * Output: (id, in_mis, sel_round) for every input node; sel_round =
    * −1 for non-members. Independence and maximality hold by
    * construction; GraphSpec re-verifies both against the edge list. */
  def lubyMis(
      nodes: DataFrame, edges: DataFrame, maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val und = undirected(edges).localCheckpoint(true)
    val all = nodes.toDF("id").distinct().localCheckpoint(true)
    var active = all
    var selected: DataFrame = null
    var r = 1
    var done = false
    while (r <= maxRounds && !done) {
      val pr = active.select(col("id"),
        conv(substring(md5(concat(lit("mis:"), col("id").cast("string"),
          lit(s":$r"))), 1, 15), 16, 10).cast("long").as("p"))
        .localCheckpoint(true)
      // neighbor maxima over ACTIVE-ACTIVE edges only
      val nm = und
        .join(pr.select(col("id").as("src"), col("p").as("sp")), "src")
        .join(pr.select(col("id").as("dst"), col("p").as("dp")), "dst")
        .groupBy(col("src").as("id"))
        .agg(max(struct(col("dp").as("p"), col("dst").as("i"))).as("mx"))
      val win = pr.join(nm, Seq("id"), "left")
        .filter(col("mx").isNull ||
          struct(col("p").as("p"), col("id").as("i")) > col("mx"))
        .select(col("id"), lit(r.toLong).as("sel_round"))
        .localCheckpoint(true)
      selected =
        if (selected == null) win else selected.unionByName(win)
      // deactivate winners and their whole neighborhoods
      val nbrOfWin = und.join(
          win.select(col("id").as("src")), "src")
        .select(col("dst").as("id")).distinct()
      val removed = win.select(col("id")).unionByName(nbrOfWin).distinct()
      active = active.join(removed, Seq("id"), "left_anti")
        .localCheckpoint(true)
      done = active.isEmpty
      r += 1
    }
    require(done,
      s"lubyMis did not converge within $maxRounds rounds — raise maxRounds")
    all.join(selected, Seq("id"), "left")
      .select(col("id"),
        col("sel_round").isNotNull.as("in_mis"),
        coalesce(col("sel_round"), lit(-1L)).as("sel_round"))
  }
}
