package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph-neural-network building blocks over relational (nodes, edges)
  * pairs — the aggregation step of GraphSAGE (Hamilton et al. 2017)
  * expressed as joins + the partial-aggregatable
  * [[graft.plans.VecMean]] vector mean.
  *
  * Reference scope: pypeman has no GNN surface; this serves the
  * training-data side — propagating document/embedding features over a
  * similarity or citation graph (label smoothing, neighborhood-aware
  * quality scores) before sampling a corpus.
  */
object Gnn {

  /** One GraphSAGE mean-aggregation layer:
    *
    *   h'(v) = L2-normalize( h(v) ⧺ mean{ h(u) : (v,u) ∈ edges } )
    *
    * `nodes` carries (idCol, vecCol: array&lt;float|double&gt;); `edges`
    * is (src, dst) with BOTH orientations present for an undirected
    * neighborhood (compose with [[graft.graph.Graph.undirected]]).
    * Nodes with no out-edges aggregate a zero vector — they stay in the
    * output (the isolated-node convention of the paper's mean
    * aggregator). Returns (idCol, h: array&lt;double&gt;) of width
    * 2 × dim.
    *
    * Scale shape: ONE edge-keyed shuffle (join edges ⋈ nodes on dst,
    * uniform key), then the VecSumLong partial aggregate — only
    * num-nodes × dim longs cross the second exchange, never a
    * neighbor-list-sized relation; the self side re-joins on the node
    * id. No windows, no driver materialization, so the layer runs
    * unchanged on a 10⁹-node graph.
    *
    * Determinism: inputs quantize to a 1e-6 fixed-point grid
    * (`floor(x·10⁶ + ½)` as long) before ANY aggregation, so the
    * neighbor reduction is exact integer math — bit-identical under any
    * partitioning or retry order (an unordered float sum would be
    * summation-order dependent at the output-rounding boundary). L2
    * normalization is scale-invariant, so instead of dividing the
    * neighbor sum by its count we scale the SELF half by the count:
    * int_h = [q_self·max(cnt,1) ⧺ Σq_nbr] points exactly along
    * [self ⧺ mean]. The squared norm Σ int_h² is accumulated in Double:
    * a long accumulator overflows for unit-SCALE (|x| ≲ 1, not
    * unit-norm) inputs already at degree ~250 with d = 128 (components
    * reach 1e9, squares 1e18, 256 of them ≈ 2.5e20 > Long.MaxValue).
    * The Double fold is still oracle-exact in the parity regime: while
    * Σ int_h² < 2⁵³ every partial sum is an integer that Double
    * represents exactly, so the fold equals the exact integer sum
    * bit-for-bit (what the oracle computes via BIGINT-sum-then-cast).
    * Beyond 2⁵³ it degrades gracefully to an order-FIXED rounding —
    * `aggregate` over an array column is a sequential left fold in the
    * array's fixed element order, identical on every retry — instead
    * of the long lane's silent wraparound.
    */
  def sageMeanLayer(
      nodes: DataFrame,
      edges: DataFrame,
      idCol: String,
      vecCol: String): DataFrame = {
    val e = edges.toDF("src", "dst")
    val qn = nodes.select(col(idCol),
      transform(col(vecCol),
        x => floor(x.cast("double") * 1e6 + 0.5).cast("long")).as("__q"))
    val nbrSum = e
      .join(qn.select(col(idCol).as("dst"), col("__q").as("__nv")), "dst")
      .groupBy(col("src"))
      .agg(graft.plans.VecSumLong.vecSumLong(col("__nv")).as("__nsum"),
        count(lit(1)).as("__ncnt"))
    val cnt = coalesce(col("__ncnt"), lit(1L))
    qn.join(nbrSum, col(idCol) === col("src"), "left")
      .withColumn("__ih",
        concat(transform(col("__q"), x => x * cnt),
          // zero vector of the node's own width — no static dim needed
          coalesce(col("__nsum"), transform(col("__q"), _ => lit(0L)))))
      .withColumn("__n2",
        aggregate(col("__ih"), lit(0.0d),
          (a, x) => a + x.cast("double") * x.cast("double")))
      .select(col(idCol),
        transform(col("__ih"), x => x.cast("double") /
          sqrt(greatest(col("__n2"), lit(1e-12)))).as("h"))
  }
}
