package graft.dedup

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Sorted-neighborhood record linkage (Hernández & Stolfo 1995): sort
  * the corpus by a blocking key and compare only records within a
  * sliding window of `w` positions — the classic linkage move when
  * equality blocking (q_fuzzy_match's first-word hash join) is too
  * coarse or too brittle: near-misses that share no exact block key
  * still sort adjacently ("goldenrod lace" / "goldenrod lavender").
  *
  * Reference scope: pypeman routes messages through dedup/match nodes
  * one at a time (reference: pypeman/nodes.py message callbacks); this
  * is the corpus-scale batch form of the same matching concern.
  *
  * Scale shape: the sort is a range-repartition (Spark's scalable
  * total-order primitive — sampled bounds, no single-partition window
  * anywhere); sequence positions come from per-partition row counts
  * (ONE long per partition to the driver) + local indexes — the same
  * offset trick `ops.SuffixArrays` uses for global suffix ranks. Pair
  * generation is an explode of the w−1 window offsets followed by ONE
  * uniform equi-join on position — no range join, no self-join on an
  * unbounded key, fan-out exactly w−1 per record. Comparisons drop
  * from O(n²) to O(n·w) regardless of key skew (a million records
  * sharing one block key cost the hash-blocking join a 10¹²-pair
  * explosion; here they cost 10⁶·w).
  */
object SortedNeighborhood {

  /** Global 0-based sequence position of every record in the total
    * order (sortCols…, idCol) — the id tiebreak makes the order (and
    * therefore every downstream pair set) deterministic under
    * duplicate sort keys. Returns (idCol, pos). No global window: rows
    * are range-repartitioned and sorted within partitions, and
    * `zipWithIndex` assigns offset+local index from one count job over
    * the checkpointed sorted relation. */
  def globalPositions(
      df: DataFrame, idCol: String, sortCols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val np = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val keyCols = sortCols.map(col) :+ col(idCol)
    val sorted = df
      .repartitionByRange(np, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
      .select(col(idCol))
      .localCheckpoint(true) // traversed twice: count pass + assign pass
    val idField = sorted.schema.fields(0)
    val withPos = sorted.rdd.zipWithIndex.map { case (row, i) =>
      Row(row.get(0), i)
    }
    spark.createDataFrame(withPos, StructType(Seq(
      idField, StructField("pos", LongType, nullable = false))))
  }

  /** Candidate pairs within the sliding window: every (a, b) with
    * 1 ≤ pos(b) − pos(a) ≤ w − 1 in the (sortCols, id) total order.
    * Returns (a_id, b_id, gap) with a the lower-positioned record —
    * each unordered pair appears exactly once. `w` is the classic
    * window size: w = 2 compares only adjacent records. */
  def candidatePairs(
      df: DataFrame, idCol: String, sortCols: Seq[String],
      window: Int): DataFrame = {
    require(window >= 2, s"window must be ≥ 2 (got $window)")
    val pos = globalPositions(df, idCol, sortCols)
      .localCheckpoint(true) // probe side AND build side of the join
    val probes = pos.select(col(idCol).as("a_id"), col("pos"),
        explode(sequence(lit(1L), lit(window - 1L))).as("gap"))
      .select(col("a_id"), (col("pos") + col("gap")).as("bpos"), col("gap"))
    probes
      .join(pos.select(col(idCol).as("b_id"), col("pos").as("bpos2")),
        col("bpos") === col("bpos2"))
      .select(col("a_id"), col("b_id"), col("gap"))
  }
}
