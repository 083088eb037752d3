package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed suffix-array construction by prefix doubling (Manber &
  * Myers, SIAM J. Comput. 1990) — the index structure behind
  * substring-level training-data dedup (Lee et al., ACL 2022 build a
  * corpus suffix array to find and cut repeated spans; graft's
  * `Dedup.spanDedup` is the hashed approximation, this is the exact
  * tool).
  *
  * Reference scope: pypeman has no text-index operators; this extends the
  * §2.6 training-data tier alongside `q_span_dedup` / `q_dup_ngrams`.
  *
  * Shape: ranks live per (doc, position) row; round k refines "rank by
  * first k chars" into "rank by first 2k chars" with two windows, both
  * partitioned by document — lead(rank, k) fetches the rank of the
  * suffix k positions ahead (contiguous positions make lead() exact),
  * dense_rank over (rank, next-rank) re-ranks. ceil(log2(cap)) rounds
  * total. Every window partitions by doc id, so the whole build is ONE
  * exchange keyed on doc id followed by in-partition sorts — per-doc
  * work is O(L·log²L) local CPU, parallelism is #docs, and no stage ever
  * materializes doc-length² bytes (the text column is dropped after the
  * initial character explode; only (id, pos, rank) longs flow between
  * rounds).
  *
  * A CORPUS-wide suffix array (Lee et al.'s actual form) is the same
  * loop with the windows unpartitioned — which in Spark would funnel
  * into a single partition. The scale path there is range-partitioned
  * global sorts (orderBy) with rank = partition-offset + local row
  * number; per-DOC arrays sidestep that machinery and already serve
  * within-document repetition analysis, so this module ships the
  * partitioned form only.
  */
object SuffixArrays {

  /** Suffix ranks for every position of every document: returns
    * (id, pos, sa_rank) where pos is 1-based and sa_rank is the 1-based
    * lexicographic position of suffix text[pos..] among the document's
    * suffixes (byte-order comparison; a proper prefix sorts before its
    * extensions, matching SQL string ordering). Text is truncated to
    * `cap` chars first; ranks are total (no ties — distinct suffix
    * lengths break any prefix tie by the end-of-string sentinel, which
    * ranks below every character).
    *
    * Collation caveat: cross-engine rank parity holds for ASCII text
    * (byte order == codepoint order); callers comparing against another
    * engine should pre-strip non-ASCII, as `q_suffix_array` does.
    */
  def suffixRanks(
      df: DataFrame, idCol: String, textCol: String, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be ≥ 1, got $cap")
    val docs = df
      .select(col(idCol).as("id"), substring(col(textCol), 1, cap).as("t"))
      .filter(length(col("t")) >= 1) // split("", "") yields [""], not []
    // seed: rank by first character. posexplode gives contiguous 0-based
    // positions, which lead() below depends on.
    var cur = docs
      .select(col("id"), posexplode(split(col("t"), "")))
      .toDF("id", "pos0", "ch")
      .select(col("id"), (col("pos0") + 1).cast("long").as("pos"),
        dense_rank().over(Window.partitionBy("id").orderBy("ch"))
          .cast("long").as("r"))
    var k = 1
    while (k < cap) {
      // rank of the suffix k ahead; 0 = past-the-end sentinel, below
      // every real rank (≥ 1) so shorter suffixes sort first
      val byPos = Window.partitionBy("id").orderBy("pos")
      val paired = cur.withColumn(
        "r2", coalesce(lead(col("r"), k).over(byPos), lit(0L)))
      cur = paired.select(col("id"), col("pos"),
        dense_rank()
          .over(Window.partitionBy("id").orderBy(col("r"), col("r2")))
          .cast("long").as("r"))
      k *= 2
    }
    cur.select(col("id"), col("pos"), col("r").as("sa_rank"))
  }

  /** CORPUS-GLOBAL suffix ranks — the Lee et al. 2022 form: every
    * suffix of every document ranked in ONE global lexicographic order
    * (ties between identical suffixes of different documents broken by
    * (id, pos)), equivalent to a suffix array over the concatenated
    * corpus with per-document terminators. Returns (id, pos, gsa_rank),
    * gsa_rank 1-based and total.
    *
    * Same prefix-doubling recurrence as [[suffixRanks]], but the
    * re-rank each round is GLOBAL, built the scale-safe way: a
    * range-repartition + in-partition sort on (rank, next-rank), a
    * per-partition distinct count (one long per partition to the
    * driver), then partition-offset + local dense index. No
    * single-partition window anywhere; every round's shuffle is the
    * range exchange, and the driver holds `shuffle.partitions` longs.
    * The seed ranks come from a broadcast character table (≤ alphabet
    * size rows) instead of a global window for the same reason.
    *
    * The per-document `lead(r, k)` lookup (window keyed on id) supplies
    * the continuation rank — a suffix's tail never crosses a document
    * boundary, so the ONLY global coordination is the rank order
    * itself. The end-of-document sentinel 0 compares below every real
    * rank, which reproduces SQL string ordering (a proper prefix sorts
    * before its extensions) and lets identical end-of-doc suffixes tie
    * until the final (id, pos) row-number pass. */
  def globalSuffixRanks(
      df: DataFrame, idCol: String, textCol: String, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be ≥ 1, got $cap")
    val spark = df.sparkSession
    val docs = df
      .select(col(idCol).as("id"), substring(col(textCol), 1, cap).as("t"))
      .filter(length(col("t")) >= 1)
    val chars = docs
      .select(col("id"), posexplode(split(col("t"), "")))
      .toDF("id", "pos0", "ch")
      .select(col("id"), (col("pos0") + 1).cast("long").as("pos"), col("ch"))
      .localCheckpoint(true)
    // seed rank: broadcast alphabet table (bounded by charset size),
    // never a global window. The collect is alphabet-bounded for TEXT
    // (≤ the Unicode codespace, in practice a few hundred chars); guard
    // it explicitly so arbitrary binary-as-string inputs fail loudly
    // instead of materializing an unbounded driver table
    val maxAlphabet = 1 << 16
    val alphabet = chars.select(col("ch")).distinct()
      .limit(maxAlphabet + 1).collect()
      .map(_.getString(0)).sorted.zipWithIndex
      .map { case (c, i) => (c, (i + 1).toLong) }.toSeq
    require(alphabet.size <= maxAlphabet,
      s"globalSuffixRanks: distinct-character alphabet exceeds " +
        s"$maxAlphabet — this input is not text; the broadcast seed-rank " +
        s"table is only bounded for bounded alphabets")
    if (alphabet.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("pos", LongType, nullable = false),
          StructField("gsa_rank", LongType, nullable = false))))
    val alphaDf = spark.createDataFrame(alphabet).toDF("ch", "cr")
    var cur = chars.join(broadcast(alphaDf), "ch")
      .select(col("id"), col("pos"), col("cr").as("r"))
      .localCheckpoint(true)
    var k = 1
    var allDistinct = false
    while (k < cap && !allDistinct) {
      val byPos = Window.partitionBy("id").orderBy("pos")
      val paired = cur.withColumn(
        "r2", coalesce(lead(col("r"), k).over(byPos), lit(0L)))
      // no extra checkpoint: globalRank's output is one lazy
      // assign-step above its own eagerly checkpointed sort, and `cur`
      // has a single consumer next round — lineage stays one step deep
      val (ranked, distinct) = globalRank(paired, dense = true)
      cur = ranked
      // once every rank is unique, further doubling is a no-op — the
      // classic prefix-doubling early exit, and it is FREE here: the
      // per-partition count pass already measured distinct vs total
      allDistinct = distinct
      k *= 2
    }
    // identical cross-document suffixes still share r — resolve to a
    // total order with the deterministic (id, pos) tiebreak
    globalRank(
      cur.withColumnRenamed("r", "r0")
        .select(col("id"), col("pos"), col("r0").as("r"), col("id").as("t1"),
          col("pos").as("t2")),
      dense = false, tiebreak = true)
      ._1.select(col("id"), col("pos"), col("r").as("gsa_rank"))
  }

  /** Global (dense) ranking of (r, r2[, t1, t2]) keys without a global
    * window: range-repartition so equal keys co-locate and partitions
    * are ordered, sort within partitions, count distinct keys and rows
    * per partition — two longs each to the driver — and assign
    * offset + local index per partition. Input must carry (id, pos, r,
    * r2) (+ t1, t2 when `tiebreak`); returns the (id, pos, r) frame
    * with the new rank, plus whether every key was unique (the
    * prefix-doubling early-exit signal, measured for free by the count
    * pass). */
  private def globalRank(
      df: DataFrame, dense: Boolean,
      tiebreak: Boolean = false): (DataFrame, Boolean) = {
    val spark = df.sparkSession
    val np = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val keyCols =
      if (tiebreak) Seq(col("r"), col("t1"), col("t2"))
      else Seq(col("r"), col("r2"))
    // repartitionByRange samples its input with a SEPARATE job to fit
    // range bounds — without this checkpoint the per-doc lead() window
    // feeding each round was computed twice (sampling pass + shuffle
    // map pass); materialize it once (round 19, guide §1/§2)
    val in = df.localCheckpoint(true)
    val sorted = in.repartitionByRange(np, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
      .select((keyCols ++ Seq(col("id"), col("pos"))): _*)
      .localCheckpoint(true) // traversed twice: count pass + assign pass
    val kw = keyCols.length
    val rdd = sorted.rdd
    val counts = rdd.mapPartitions { it =>
      var n = 0L
      var rows = 0L
      var prev: Seq[Long] = null
      it.foreach { row =>
        rows += 1
        val key = (0 until kw).map(row.getLong)
        if (!dense || key != prev) { n += 1; prev = key }
      }
      Iterator.single((n, rows))
    }.collect() // two longs per partition
    val offsets = counts.map(_._1).scanLeft(0L)(_ + _)
    // a key equal across a partition BOUNDARY would double-count here;
    // range partitioning co-locates equal keys, so boundaries never
    // split a key and per-partition distinct counts add exactly
    val allDistinct = counts.map(_._1).sum == counts.map(_._2).sum
    val bc = spark.sparkContext.broadcast(offsets)
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      var rank = bc.value(i)
      var prev: Seq[Long] = null
      it.map { row =>
        val key = (0 until kw).map(row.getLong)
        if (!dense || key != prev) { rank += 1; prev = key }
        Row(row.getLong(kw), row.getLong(kw + 1), rank)
      }
    }
    (spark.createDataFrame(out, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("pos", LongType, nullable = false),
      StructField("r", LongType, nullable = false)))), allDistinct)
  }
}
