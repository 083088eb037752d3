package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types.LongType

import scala.collection.mutable

/** One-task local solvers for four iterative fixpoints in [[Graph]]:
  * SCC refinement, two-direction reachability, the k-truss peel and
  * PageRank.
  *
  * Why this exists (optimization guide §1.2 "the distributed algorithm",
  * §2.2 "shuffles get relatively slower as you scale out"): every
  * fixpoint loop in [[Graph]] pays per ROUND one or more shuffles, a
  * localCheckpoint materialization and a job-scheduling round trip —
  * measured 0.2–0.4 s per round at local sandbox scale REGARDLESS of
  * data size (the q_bowtie SCC refinement spent 5.2 s on a 1 000-node /
  * 4 373-edge graph: 10 inner rounds × fixed round overhead, zero bytes
  * of real work). When the edge relation is small enough to fit one
  * task's working set, the exact same fixpoint is a sub-millisecond
  * in-memory computation — so each loop gates on the (already
  * checkpointed, hence cheap-to-count) edge count and, below the
  * cap, runs its fixpoint inside ONE `mapPartitions` task on an
  * executor instead of N synchronized rounds. This is the standard
  * hybrid of production graph engines, and it is NOT a local-mode-only
  * trick: at cluster scale the FW-BW open remainder and the k-truss
  * peel tail shrink monotonically — the cap is exactly the point where
  * paying another synchronization round costs more than finishing the
  * tail in one task (the straggler/tail argument of guide §2.6).
  *
  * Contract parity: every kernel replicates its distributed loop's
  * semantics EXACTLY — same round structure, same round budgets and
  * [[IllegalStateException]] non-convergence contracts, same integer
  * arithmetic (the fixpoints were already designed integer-exact for
  * oracle parity, so bit-identical results are provable, and
  * LocalSolveSpec re-verifies equality against the distributed loop for
  * every kernel). Nothing is driver-sized: the kernel runs inside an
  * executor task (`coalesce(1).mapPartitions`), and the output flows
  * back as a DataFrame into the same downstream joins.
  *
  * Gating: each caller passes a constant cap to [[fits]] — [[MaxEdges]]
  * for PageRank, SCC and reachability, [[MaxTrussEdges]] for k-truss —
  * and only when every graph column is LongType. No setting selects the
  * tier. A kernel is kept only while a benchmark workload shows it
  * winning over its distributed loop (perfbench `curation_small` runs
  * all four); a new kernel comes back only together with such a
  * workload.
  */
private[graft] object LocalSolve {

  /** Edge cap for the PageRank, SCC and reachability kernels: one task's
    * comfortable working set of (long, long) pairs. */
  final val MaxEdges: Long = 1L << 22

  /** Edge cap for the k-truss kernel: its in-task support pass is
    * O(Σ min-degree per edge), super-linear in edges, so one task only
    * wins while the listing stays small. */
  final val MaxTrussEdges: Long = 1L << 20

  /** The one size gate: true when `df` has at most `cap` rows. The
    * caller materializes (checkpoints) `df`, so the count is a cheap
    * scan, not a recompute. */
  def fits(df: DataFrame, cap: Long): Boolean = df.count() <= cap

  def allLong(df: DataFrame, cols: String*): Boolean =
    cols.forall(c => df.schema(c).dataType == LongType)

  /** Run `fn` over the whole dataset in ONE executor task (coalesce —
    * no exchange; the single task reads the checkpointed blocks). */
  private def oneTask[T, U: org.apache.spark.sql.Encoder](
      ds: Dataset[T])(fn: Iterator[T] => Iterator[U]): Dataset[U] =
    ds.coalesce(1).mapPartitions(fn)

  /** Eagerly materialize a kernel's output (one job; downstream
    * consumers then read the checkpointed blocks instead of re-running
    * the kernel — the distributed loops' per-round-checkpoint parity),
    * and surface the kernel's round-budget contract exceptions at CALL
    * time with their original type, unwrapped from Spark's task-failure
    * wrapper — the distributed loops throw eagerly too. */
  private def eager(df: DataFrame): DataFrame =
    try df.localCheckpoint(true)
    catch {
      case e: Throwable =>
        var c: Throwable = e
        while (c != null) {
          c match {
            case i: IllegalStateException =>
              throw new IllegalStateException(i.getMessage)
            case i: IllegalArgumentException =>
              throw new IllegalArgumentException(i.getMessage)
            case _ => ()
          }
          c = c.getCause
        }
        throw e
    }

  // --------------------------------------------------------------- SCC

  /** Iterative Tarjan SCC; output (id, component) with component = min
    * member id — the exact [[Graph.stronglyConnectedComponents]]
    * fixpoint (which refines until F = B = class min). Input edges need
    * not be deduped (Tarjan is insensitive); self-loops are fine. */
  def tarjanComponents(edges: DataFrame): DataFrame = {
    val sp = edges.sparkSession
    import sp.implicits._
    oneTask(edges.select("src", "dst").as[(Long, Long)]) { it =>
      val es = it.toArray
      // index nodes
      val idx = new mutable.LongMap[Int]()
      val ids = new mutable.ArrayBuffer[Long]()
      def ix(x: Long): Int = idx.getOrElse(x, {
        val i = ids.length; idx(x) = i; ids += x; i
      })
      es.foreach { case (s, d) => ix(s); ix(d) }
      val n = ids.length
      // CSR adjacency
      val deg = new Array[Int](n)
      es.foreach { case (s, _) => deg(idx(s)) += 1 }
      val off = new Array[Int](n + 1)
      var i = 0
      while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
      val pos = java.util.Arrays.copyOf(off, n)
      val adj = new Array[Int](es.length)
      es.foreach { case (s, d) =>
        val si = idx(s); adj(pos(si)) = idx(d); pos(si) += 1
      }
      // iterative Tarjan
      val UNSEEN = -1
      val index = Array.fill(n)(UNSEEN)
      val low = new Array[Int](n)
      val onStk = new Array[Boolean](n)
      val stk = new mutable.ArrayBuffer[Int]()
      val comp = new Array[Int](n)
      var nextIndex = 0
      var nComp = 0
      val callV = new mutable.ArrayBuffer[Int]()
      val callE = new mutable.ArrayBuffer[Int]()
      var v0 = 0
      while (v0 < n) {
        if (index(v0) == UNSEEN) {
          callV += v0; callE += off(v0)
          index(v0) = nextIndex; low(v0) = nextIndex; nextIndex += 1
          stk += v0; onStk(v0) = true
          while (callV.nonEmpty) {
            val v = callV.last
            var e = callE.last
            var descended = false
            while (!descended && e < off(v + 1)) {
              val w = adj(e)
              if (index(w) == UNSEEN) {
                callE(callE.length - 1) = e + 1
                callV += w; callE += off(w)
                index(w) = nextIndex; low(w) = nextIndex; nextIndex += 1
                stk += w; onStk(w) = true
                descended = true
              } else {
                if (onStk(w) && low(w) < low(v)) low(v) = low(w)
                e += 1
              }
            }
            if (!descended) {
              callE(callE.length - 1) = e
              callV.remove(callV.length - 1)
              callE.remove(callE.length - 1)
              if (callV.nonEmpty) {
                val p = callV.last
                if (low(v) < low(p)) low(p) = low(v)
              }
              if (low(v) == index(v)) {
                var done = false
                while (!done) {
                  val w = stk.remove(stk.length - 1)
                  onStk(w) = false
                  comp(w) = nComp
                  done = w == v
                }
                nComp += 1
              }
            }
          }
        }
        v0 += 1
      }
      // component representative = min member id
      val minId = Array.fill(nComp)(Long.MaxValue)
      i = 0
      while (i < n) {
        if (ids(i) < minId(comp(i))) minId(comp(i)) = ids(i)
        i += 1
      }
      (0 until n).iterator.map(j => (ids(j), minId(comp(j))))
    }.toDF("id", "component").transform(eager)
  }

  // ------------------------------------------------------ reachability

  /** Both-direction BFS with the [[Graph.reachability]] round budget:
    * rounds run while the previous round set a new flag; if round
    * `maxRounds` still made progress the fixpoint is uncertified and
    * the same IllegalStateException is thrown. Input: tagged rows —
    * (0, src, dst) edges, (1, id, 0) seeds. Output (id, f, b) for
    * seeds ∪ reached. */
  def reachabilityFlags(tagged: DataFrame, maxRounds: Int): DataFrame = {
    val sp = tagged.sparkSession
    import sp.implicits._
    oneTask(tagged.as[(Int, Long, Long)]) { it =>
      val rows = it.toArray
      val edges = rows.collect { case (0, s, d) => (s, d) }
      val seeds = rows.collect { case (1, s, _) => s }.distinct
      // adjacency maps
      val fwd = new mutable.LongMap[mutable.ArrayBuffer[Long]]()
      val bwd = new mutable.LongMap[mutable.ArrayBuffer[Long]]()
      edges.foreach { case (s, d) =>
        fwd.getOrElseUpdate(s, new mutable.ArrayBuffer[Long]()) += d
        bwd.getOrElseUpdate(d, new mutable.ArrayBuffer[Long]()) += s
      }
      val f = new mutable.LongMap[Boolean]()
      val b = new mutable.LongMap[Boolean]()
      seeds.foreach { s => f(s) = true; b(s) = true }
      var frontF = seeds.toSeq
      var frontB = seeds.toSeq
      var r = 0
      var done = false
      while (!done && r < maxRounds) {
        r += 1
        val nf = new mutable.ArrayBuffer[Long]()
        val nb = new mutable.ArrayBuffer[Long]()
        frontF.foreach { u =>
          fwd.get(u).foreach(_.foreach { v =>
            if (!f.getOrElse(v, false)) { f(v) = true; nf += v }
          })
        }
        frontB.foreach { u =>
          bwd.get(u).foreach(_.foreach { v =>
            if (!b.getOrElse(v, false)) { b(v) = true; nb += v }
          })
        }
        frontF = nf.toSeq
        frontB = nb.toSeq
        done = nf.isEmpty && nb.isEmpty
      }
      if (!done) throw new IllegalStateException(
        s"reachability frontier still growing after $maxRounds rounds")
      val out = mutable.LongMap[Unit]()
      f.keysIterator.foreach(out(_) = ())
      b.keysIterator.foreach(out(_) = ())
      out.keysIterator.map(id =>
        (id, f.getOrElse(id, false), b.getOrElse(id, false)))
    }.toDF("id", "f", "b").transform(eager)
  }

  // ----------------------------------------------------------- k-truss

  /** Synchronous k-truss peel — [[Graph.kTruss]] semantics verbatim:
    * support = triangle count within the current edge set, edges in
    * zero triangles vanish the round they occur, removed = support
    * below k−2, loop admits rounds 1..maxIter and throws beyond.
    * Input canonical (a < b) edges; output (a, b, support). */
  def kTrussPeel(canonicalEdges: DataFrame, k: Int, maxIter: Int): DataFrame = {
    val sp = canonicalEdges.sparkSession
    import sp.implicits._
    val thr = (k - 2).toLong
    oneTask(canonicalEdges.select("a", "b").as[(Long, Long)]) { it =>
      var edges = it.toArray
      // supports within the CURRENT edge set; edges in zero triangles
      // are dropped (they are absent from the map)
      def supports(es: Array[(Long, Long)]): mutable.HashMap[(Long, Long), Long] = {
        val nbr = new mutable.LongMap[mutable.TreeSet[Long]]()
        es.foreach { case (a, b) =>
          nbr.getOrElseUpdate(a, mutable.TreeSet.empty[Long]) += b
          nbr.getOrElseUpdate(b, mutable.TreeSet.empty[Long]) += a
        }
        val sup = new mutable.HashMap[(Long, Long), Long]()
        es.foreach { case (a, b) =>
          val (sm, lg) =
            if (nbr(a).size <= nbr(b).size) (nbr(a), nbr(b)) else (nbr(b), nbr(a))
          var s = 0L
          sm.foreach { c => if (c != a && c != b && lg.contains(c)) s += 1L }
          if (s > 0L) sup((a, b)) = s
        }
        sup
      }
      var live = supports(edges)
      var removedCount = live.valuesIterator.count(_ < thr).toLong
      var iter = 1
      while (removedCount > 0 && iter <= maxIter) {
        edges = live.iterator.collect {
          case ((a, b), s) if s >= thr => (a, b)
        }.toArray
        live = supports(edges)
        removedCount = live.valuesIterator.count(_ < thr).toLong
        iter += 1
      }
      if (removedCount > 0) throw new IllegalStateException(
        s"k-truss peel did not reach fixpoint in $maxIter rounds")
      live.iterator.map { case ((a, b), s) => (a, b, s) }
    }.toDF("a", "b", "support").transform(eager)
  }

  // ---------------------------------------------------------- PageRank

  /** Power-iteration PageRank — [[Graph.pageRank]] semantics: pr₀ = 1/n,
    * pr'(v) = (1−d)/n + d·Σ pr(u)·w(u→v). Per-dst contributions
    * accumulate in (dst, src)-sorted order — a fixed order where the
    * distributed partial aggregation's is partition-dependent; both land
    * within float-ulp of each other, and every caller rounds (r4) at the
    * output, which is the contract that already absorbs the distributed
    * path's own run-to-run order variance. Input: (src, dst, w) weighted
    * edges (every node has an out-edge). Output (id, pr). */
  def pageRankLocal(ew: DataFrame, iters: Int, damping: Double): DataFrame = {
    val sp = ew.sparkSession
    import sp.implicits._
    oneTask(ew.select("src", "dst", "w").as[(Long, Long, Double)]) { it =>
      // dense-index decode (primitive arrays — the kernel must beat 32
      // cores of distributed join+agg, so no boxed sorts, no per-edge
      // hash ops in the iteration loop). Accumulation order is the
      // checkpoint's row order — deterministic (the weighted relation is
      // window-sorted per partition) and within float-ulp of the
      // distributed partial aggregation's own order; callers round (r4).
      val srcB = Array.newBuilder[Long]
      val dstB = Array.newBuilder[Long]
      val wB = Array.newBuilder[Double]
      while (it.hasNext) {
        val e = it.next(); srcB += e._1; dstB += e._2; wB += e._3
      }
      val srcs = srcB.result(); val dsts = dstB.result(); val ws = wB.result()
      val m = srcs.length
      val idx = new mutable.LongMap[Int]()
      val ids = new mutable.ArrayBuffer[Long]()
      var i = 0
      while (i < m) {
        val s = srcs(i)
        if (!idx.contains(s)) { idx(s) = ids.length; ids += s }
        i += 1
      }
      val n = ids.length
      val si = new Array[Int](m)
      val di = new Array[Int](m)
      i = 0
      while (i < m) {
        si(i) = idx(srcs(i))
        di(i) = idx.getOrElse(dsts(i), -1) // non-node dst: dropped (left join on nodes)
        i += 1
      }
      val base = (1.0 - damping) / n
      var pr = Array.fill(n)(1.0 / n)
      var round = 0
      while (round < iters) {
        val contrib = new Array[Double](n)
        i = 0
        while (i < m) {
          val d = di(i)
          if (d >= 0) contrib(d) += pr(si(i)) * ws(i)
          i += 1
        }
        val next = new Array[Double](n)
        var v = 0
        while (v < n) { next(v) = base + damping * contrib(v); v += 1 }
        pr = next
        round += 1
      }
      ids.iterator.zipWithIndex.map { case (id, j) => (id, pr(j)) }
    }.toDF("id", "pr").transform(eager)
  }
}
