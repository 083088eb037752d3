package graft.store

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}

/** Message-store search — graft's `MessageStore.search` (reference:
  * pypeman/msgstore.py:174 and the meta filter/sort semantics at
  * msgstore.py:215). The store itself is a date-partitioned parquet table of
  * Msg rows; search compiles to pushed-down filters + order + limit/offset,
  * so a "last 10 errors yesterday" query over a 100 TB store touches one
  * partition and prunes columns at the scan.
  *
  * Meta filters mirror the reference key grammar:
  *   - exact:   meta[name] == value
  *   - text_:   value substring-contains
  *   - rtext_:  regex search
  *   - start_/end_: numeric range (non-numeric values excluded, as the
  *     reference's isfloat guard does)
  *   - order_by meta field with optional '-' prefix for descending
  */
final case class Search(
    startDt: Option[String] = None,
    endDt: Option[String] = None,
    text: Option[String] = None,
    rtext: Option[String] = None,
    metaExact: Map[String, String] = Map.empty,
    metaText: Map[String, String] = Map.empty,
    metaRtext: Map[String, String] = Map.empty,
    metaStart: Map[String, Double] = Map.empty,
    metaEnd: Map[String, Double] = Map.empty,
    orderBy: String = "timestamp", // 'timestamp' | 'meta:<name>' | '-meta:<name>'
    count: Int = 10,
    start: Int = 0,
    /** resume after this message id, excluded (reference search start_id) —
      * keyset pagination: O(pruned scan), unlike offset which must skip.
      * Resolving the id to its (ts, uuid) anchor costs one lookup scan; at
      * store scale prefer `startAfter`, which the previous page's last row
      * supplies for free. */
    startId: Option[String] = None,
    /** caller-supplied keyset anchor (ts-millis, uuid), exclusive: page N+1
      * passes page N's last row — zero anchor-resolution scans. */
    startAfter: Option[(Long, String)] = None) {

  def predicate: Column = {
    val conds = Seq(
      startDt.map(d => col("ts") >= lit(d).cast("timestamp")),
      endDt.map(d => col("ts") <= lit(d).cast("timestamp")),
      text.map(t => col("payload").contains(t)),
      rtext.map(r => col("payload").rlike(r))).flatten ++
      metaExact.map { case (k, v) => col("meta")(k) === v } ++
      metaText.map { case (k, v) => col("meta")(k).contains(v) } ++
      metaRtext.map { case (k, v) => col("meta")(k).rlike(v) } ++
      // try_cast: non-numeric meta values are excluded, mirroring the
      // reference's isfloat guard (msgstore.py:218) — and ANSI-safe.
      metaStart.map { case (k, v) => col("meta")(k).try_cast("double") >= v } ++
      metaEnd.map { case (k, v) => col("meta")(k).try_cast("double") <= v }
    conds.reduceOption(_ && _).getOrElse(lit(true))
  }

  /** '-' prefix = reverse sort (msgstore.py:490, also what the reference
    * web client sends when toggling column order); field names map from
    * the wire's message-dict keys to store columns (`timestamp`→ts,
    * `id`→uuid). */
  def ordering: Seq[Column] = {
    def field(f: String): Column = f match {
      case "timestamp" => col("ts")
      case "id" => col("uuid")
      case other => col(other)
    }
    orderBy match {
      case "timestamp" => Seq(col("ts"), col("uuid"))
      case s if s.startsWith("-meta:") =>
        Seq(col("meta")(s.stripPrefix("-meta:")).desc, col("ts"), col("uuid"))
      case s if s.startsWith("meta:") =>
        Seq(col("meta")(s.stripPrefix("meta:")), col("ts"), col("uuid"))
      case s if s.startsWith("-") =>
        Seq(field(s.stripPrefix("-")).desc, col("ts").desc, col("uuid").desc)
      case other => Seq(field(other), col("ts"), col("uuid"))
    }
  }
}

/** Parquet-backed message store (reference msgstore.py FileMessageStore —
  * re-expressed as a columnar table instead of one file per message).
  *
  * State mutation (`changeMessageState`, msgstore.py:66/:704) and `delete`
  * (msgstore.py:297/:553) are APPEND-ONLY on parquet too: each call appends
  * one row to a `_mutations` side log under the store path (Spark's file
  * index skips `_`-prefixed dirs, so the base scan never sees it) and reads
  * reconcile latest-wins via a broadcast left join — the standard columnar
  * upsert/tombstone pattern. At 100 TB this is the only shape that works:
  * a point update rewrites ~100 bytes, not a partition, and the log (admin
  * actions — replays, acks, purges) stays orders of magnitude smaller than
  * the store, so the reconcile join is map-side. `compact()` folds the log
  * into the base table when it grows. Mutations are sequenced by an
  * in-process monotonic counter seeded from wall-clock micros (single
  * admin writer, the reference's deployment shape too).
  *
  * The single-admin-writer assumption is ENFORCED, not just documented
  * (round-12): every mutation append and every compact runs under a
  * sibling `<path>.lock` file lease acquired by atomic create-exclusive.
  * Competing writers SERIALIZE (bounded wait), then FAIL LOUDLY
  * (`ConcurrentModificationException`) — never silently interleave with
  * a compact's read→swap window, where a lost-update (mutation appended
  * after the fold's read, removed by the swap) was otherwise possible.
  * A lease older than `staleLockMs` is presumed crashed and broken. */
final class MessageStore(
    spark: SparkSession, path: String,
    /** Auto-compact policy (round-11): once the mutation log holds this
      * many FILES (one per mutation append — the natural unit of log
      * growth and of reconcile-side file-listing cost), the next mutation
      * triggers a synchronous [[compact]]. Bounds the log under continuous
      * `changeMessageState`/`delete` churn without an operator-run cron:
      * the log can never exceed `autoCompactMutationFiles` files between
      * reads. 0 disables (manual `compact()` / the CLI recipe only).
      * Single-admin-writer assumption as for all mutations. */
    val autoCompactMutationFiles: Int = MessageStore.DefaultAutoCompactMutationFiles,
    /** How long a writer waits for the store lease before failing loudly.
      * Brief overlaps (two admin actions racing) serialize inside this
      * window; longer contention is a deployment error and surfaces as
      * `ConcurrentModificationException`. */
    val lockWaitMs: Long = MessageStore.DefaultLockWaitMs,
    /** Lease age after which the holder is presumed crashed and the lock
      * is broken (a crash between acquire and release must not wedge the
      * store forever). */
    val staleLockMs: Long = MessageStore.DefaultStaleLockMs) {

  private val mutPath = s"$path/_mutations"
  private val seqGen =
    new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis() * 1000L)

  /** Append messages, partitioned by day for time-range pruning. A frame
    * without a `state` column is stored all-PENDING — the reference marks
    * every stored message pending at store time (msgstore.py:630) — so the
    * table schema stays uniform across appends. */
  def save(msgs: DataFrame): Unit = {
    val withState =
      if (msgs.columns.contains("state")) msgs
      else msgs.withColumn("state", lit(graft.model.Msg.PENDING))
    withState.withColumn("day", to_date(col("ts")))
      .write.mode("append").partitionBy("day").parquet(path)
  }

  /** Streaming append into the store (exactly-once via checkpoint) — the
    * channel-attached message store, continuously fed. */
  def saveStream(msgs: DataFrame, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    msgs.withColumn("day", to_date(col("ts")))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("day")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** True iff the store has BASE DATA — not merely the directory: a
    * mutation appended to an empty store creates `$path/_mutations` (and
    * with it `$path`), which the base scan's file index ignores, so the
    * directory alone proves nothing and reading it would fail schema
    * inference. Only non-`_`/`.` children count as data. */
  private def baseExists: Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  def all(): DataFrame =
    if (!baseExists)
      throw new NoSuchElementException(s"message store at $path is empty")
    else applyMutations(spark.read.parquet(path).drop("day"))

  def search(q: Search): DataFrame = MessageStore.search(all(), q)

  def total(): Long = if (!baseExists) 0L else all().count()

  /** change_message_state (msgstore.py:66, FileMessageStore :704): set one
    * message's state. Appends to the mutation log; visible to every
    * subsequent read. */
  def changeMessageState(uuid: String, newState: String): Unit =
    appendMutation(uuid, Some(newState), tombstone = false)

  /** delete (msgstore.py:297, FileMessageStore :553): drop a message by id.
    * A tombstone is terminal — later state changes cannot resurrect the
    * row (reference semantics: change_message_state on a deleted id is an
    * operator error). */
  def delete(uuid: String): Unit = appendMutation(uuid, None, tombstone = true)

  /** get (msgstore.py:132): one message with its current (reconciled)
    * state, or None if absent/deleted. */
  def get(uuid: String): Option[Row] =
    all().filter(col("uuid") === uuid).limit(1).collect().headOption

  private def appendMutation(
      uuid: String, newState: Option[String], tombstone: Boolean): Unit =
    withStoreLock("mutate") {
      spark.createDataFrame(
          java.util.List.of(Row(uuid, newState.orNull, tombstone, seqGen.incrementAndGet())),
          MessageStore.MutationSchema)
        .coalesce(1)
        .write.mode("append").parquet(mutPath)
      maybeAutoCompact()
    }

  /** Serialize store WRITERS (mutation appends and compacts) across
    * threads AND processes via a sibling `<path>.lock` lease: acquisition
    * is `FileSystem.create(…, overwrite = false)` — atomic on HDFS and
    * object-store semantics-equivalent layers — except on the local
    * `file` scheme, where that call is check-then-create and the acquire
    * instead uses `java.io.File.createNewFile` (O_CREAT|O_EXCL at the
    * syscall level, see the branch comment below). Sibling,
    * not child: compact() deletes and renames the store directory itself,
    * so a lock inside it would vanish mid-operation. Re-entrant per
    * thread (the auto-compact path runs inside the mutation's lease).
    * Waits up to [[lockWaitMs]] (serializing brief overlaps), breaks
    * leases older than [[staleLockMs]] (crashed holder), then throws
    * `ConcurrentModificationException` — a competing writer is a
    * deployment error that must be loud, never a silent lost update. */
  private def withStoreLock[T](op: String)(body: => T): T = {
    if (lockHeld.get()) return body // re-entrant: already under this store's lease
    val lockP = new org.apache.hadoop.fs.Path(path + ".lock")
    val fs = lockP.getFileSystem(spark.sessionState.newHadoopConf())
    // Hadoop create(…, overwrite=false) is atomic on HDFS (namenode
    // arbitration) but CHECK-THEN-CREATE on the local filesystem
    // (RawLocalFileSystem tests existence, then opens) — two racers can
    // both pass the check and both "acquire". On the file scheme the
    // acquire must be java.io.File.createNewFile, which is O_CREAT|O_EXCL
    // at the syscall level; the lease content is written after the
    // atomic win (mtime — the staleness clock — updates with it).
    val localLock = "file".equalsIgnoreCase(lockP.toUri.getScheme) ||
      fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem]
    def tryAcquire(): Boolean =
      if (localLock) {
        val f = new java.io.File(fs.makeQualified(lockP).toUri.getPath)
        Option(f.getParentFile).foreach(_.mkdirs())
        f.createNewFile() && {
          // lease content is best-effort metadata written AFTER the atomic
          // win. If the write throws (disk full, fs error) the lock file
          // already exists — leaving it would wedge every waiter until
          // staleLockMs — so release the just-won lease before failing.
          try java.nio.file.Files.writeString(f.toPath,
            s"$op ${System.currentTimeMillis()} ${
              java.lang.ProcessHandle.current().pid()}")
          catch {
            case e: Throwable =>
              f.delete()
              throw e
          }
          true
        }
      } else {
        val out = fs.create(lockP, false) // atomic create-exclusive (HDFS)
        // same orphan hazard as the local branch: the create won the
        // lease, so a failed content write must release it before failing
        try {
          out.write(s"$op ${System.currentTimeMillis()} ${
            java.lang.ProcessHandle.current().pid()}".getBytes("UTF-8"))
          out.close()
        } catch {
          case e: Throwable =>
            try out.close() catch { case _: Throwable => () }
            try fs.delete(lockP, false) catch { case _: Throwable => () }
            throw e
        }
        true
      }
    val deadline = System.currentTimeMillis() + lockWaitMs
    var acquired = false
    while (!acquired) {
      val won = try tryAcquire() catch { case _: java.io.IOException => false }
      if (won) acquired = true
      else {
          val held = try Some(fs.getFileStatus(lockP))
            catch { case _: java.io.FileNotFoundException => None }
          held match {
            case Some(st) if System.currentTimeMillis() - st.getModificationTime > staleLockMs =>
              // Holder presumed crashed: break the lease and re-race. The
              // break is rename-then-delete, not a bare delete — two
              // waiters that both observe the stale lock would each run
              // the delete, and the slower delete could remove the lock
              // the faster waiter just re-created, putting BOTH under the
              // lease. Rename is atomic per source: exactly one waiter's
              // rename succeeds (the other's source is gone), so exactly
              // one stale lease is retired per observation.
              val grave = new org.apache.hadoop.fs.Path(
                s"$path.lock.stale.${st.getModificationTime}.${
                  java.lang.ProcessHandle.current().pid()}.${
                  System.nanoTime()}")
              if (try fs.rename(lockP, grave) catch { case _: java.io.IOException => false })
                fs.delete(grave, false): Unit
            case _ if System.currentTimeMillis() > deadline =>
              throw new java.util.ConcurrentModificationException(
                s"message store at $path: another writer holds $lockP " +
                  s"(waited ${lockWaitMs} ms); concurrent admin writers " +
                  "are not supported — serialize them or remove the stale lock")
            case _ => Thread.sleep(25)
          }
      }
    }
    lockHeld.set(true)
    try body
    finally {
      lockHeld.set(false)
      fs.delete(lockP, false): Unit
    }
  }

  private val lockHeld = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Mutation-log size in FILES (the policy unit: one append = one file;
    * listing is one namenode/listStatus call, no data read). */
  def mutationLogFiles: Int = {
    val (fs, p) = hadoopFs
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  private def maybeAutoCompact(): Unit =
    if (autoCompactMutationFiles > 0 &&
        mutationLogFiles >= autoCompactMutationFiles && baseExists)
      // The triggering mutation is already durably appended; a compaction
      // failure (e.g. a rename race) must not surface as a failed state
      // change the caller would wrongly retry. Log and move on — the next
      // append re-crosses the threshold and retries the fold.
      try compactLocked() // already under the mutation's lease
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[message-store] auto-compact failed (mutation is durable; " +
              s"will retry on next append): ${e.getClass.getSimpleName}: ${e.getMessage}")
      }

  private def hadoopFs = {
    val p = new org.apache.hadoop.fs.Path(mutPath)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def hasMutations: Boolean = { val (fs, p) = hadoopFs; fs.exists(p) }

  /** Latest-wins reconcile: any tombstone kills the row; otherwise the
    * highest-seq state change overrides the stored state. The log is tiny
    * relative to the store, so the join side is broadcast — no shuffle of
    * the base table. A store written without a `state` column (bare Msg
    * frames in tests) is treated as all-PENDING, the state the reference
    * assigns at store time (msgstore.py:630). */
  private def applyMutations(base: DataFrame): DataFrame =
    if (!hasMutations) base
    else {
      // declared schema: inferring it would start a job on every read
      val latest = spark.read.schema(MessageStore.MutationSchema).parquet(mutPath)
        .groupBy("uuid")
        .agg(
          max(col("tombstone")).as("_mut_tombstone"),
          max(when(!col("tombstone"), struct(col("seq"), col("new_state")))).as("_mut"))
        .select(col("uuid"), col("_mut_tombstone"), col("_mut.new_state").as("_mut_state"))
      val withState =
        if (base.columns.contains("state")) base
        else base.withColumn("state", lit(graft.model.Msg.PENDING))
      withState.join(broadcast(latest), Seq("uuid"), "left")
        .filter(col("_mut_tombstone").isNull || !col("_mut_tombstone"))
        .withColumn("state", coalesce(col("_mut_state"), col("state")))
        .drop("_mut_tombstone", "_mut_state")
    }

  /** Fold the mutation log into the base table and clear it (the periodic
    * maintenance job a long-lived store runs: rewrite once, reads stop
    * paying the reconcile join).
    *
    * Crash-safe by staging: ONE pass writes the reconciled table into a
    * SIBLING directory from the untouched base, then delete+rename swaps
    * it in. The crash window between delete and rename is covered by the
    * recovery step at the top of the next compact(): if the base is gone
    * but a staged copy exists, that copy is the ONLY copy and is promoted
    * — never deleted. A store whose every row is tombstoned compacts to
    * the removed directory (the empty store); `total()` reads that as 0. */
  def compact(): Unit = withStoreLock("compact")(compactLocked())

  private def compactLocked(): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val storeDir = new org.apache.hadoop.fs.Path(path)
    val fs = storeDir.getFileSystem(conf)
    val staging = new org.apache.hadoop.fs.Path(path + ".compacting")
    if (!baseExists) {
      if (fs.exists(staging)) {
        // interrupted swap: the staged copy is the only data — finish it
        fs.delete(storeDir, true) // clear a possible _mutations-only shell
        if (!fs.rename(staging, storeDir))
          throw new java.io.IOException(
            s"compact recovery: rename $staging -> $storeDir failed")
      }
      return
    }
    fs.delete(staging, true) // clear any dead pre-swap attempt
    // single pass over base + log; the durable copy is the base itself
    all().withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(staging.toString)
    val stagedHasData = fs.listStatus(staging).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (!stagedHasData) { // all rows tombstoned → the empty store
      fs.delete(staging, true)
      fs.delete(storeDir, true)
    } else {
      if (!fs.delete(storeDir, true))
        throw new java.io.IOException(s"compact: could not remove $storeDir")
      if (!fs.rename(staging, storeDir))
        throw new java.io.IOException(
          s"compact: rename $staging -> $storeDir failed; staged copy retained " +
            "(the next compact() will promote it)")
    }
  }

  /** Replay (channels.py:857): re-run a channel on stored messages. The
    * results are RENEWED (fresh uuid + timestamp, message.py:80) and saved
    * back as `processed` — the reference flow, where handle() stores the
    * renewed message and the worst-sub-state recompute marks it processed
    * (channels.py:697-714, :828-832). */
  def replay(q: Search, channel: graft.api.Channel): DataFrame =
    replayFrame(search(q), channel)

  /** Replay one message by id (the remote-admin `replay_msg` path,
    * remoteadmin.py:169). */
  def replayById(msgId: String, channel: graft.api.Channel): DataFrame =
    replayFrame(all().filter(col("uuid") === msgId), channel)

  private def replayFrame(src: DataFrame, channel: graft.api.Channel): DataFrame = {
    val renewed = MessageStore
      .renewProcessed(channel.runMain(src), seqGen.incrementAndGet())
      .localCheckpoint(true) // pin uuid/ts before the side-effecting save
    save(renewed)
    renewed
  }

  /** `pypeman.tools.send_from_store` parity: POST each selected message's
    * payload to `url`, optionally pre-filtered by a payload JSON field
    * equality (`tools/view_store.py` Filter `name=value`). Sends are
    * partition-parallel through the pluggable transport; the returned
    * frame carries response status/url in meta (check it — nothing is
    * swallowed). */
  def sendTo(
      q: Search,
      transport: graft.net.HttpTransport,
      url: String,
      payloadFilter: Option[(String, String)] = None): DataFrame = {
    val base = search(q)
    val selected = payloadFilter.fold(base) { case (k, v) =>
      base.filter(get_json_object(col("payload"), "$." + k) === v)
    }
    graft.net.Http.request(transport, url = url, method = "POST")(selected)
  }
}

object MessageStore {
  /** Default writer-lease wait: 30 s serializes brief admin overlaps
    * (a compact takes seconds at admin-log scale); anything longer is
    * contention worth failing loudly over. */
  val DefaultLockWaitMs = 30000L
  /** Default stale-lease age: 10 min >> any healthy compact/mutation,
    * so breaking an older lease only ever evicts a crashed holder. */
  val DefaultStaleLockMs = 600000L
  /** Default auto-compact threshold: 64 mutation files ≈ 64 admin actions
    * between folds — the reconcile join side stays a trivially-broadcast
    * few-KB relation, and a compact (one base rewrite) amortizes over 64
    * point updates. Tune per store via the constructor. */
  val DefaultAutoCompactMutationFiles = 64

  /** One mutation-log record: a state change or a tombstone, ordered by
    * `seq`. Written by every mutation and read back with this schema. */
  private val MutationSchema = StructType(Seq(
    StructField("uuid", StringType),
    StructField("new_state", StringType),
    StructField("tombstone", BooleanType, nullable = false),
    StructField("seq", LongType, nullable = false)))

  /** Search over any Msg-shaped DataFrame (store-backed or in-flight). */
  def search(df: DataFrame, q: Search): DataFrame = {
    // Keyset anchors must advance in the DISPLAY order: under the
    // '-timestamp' reverse listing, "after the anchor" means strictly
    // OLDER rows — a forward filter there would re-serve page 1 forever.
    val reverse = q.orderBy == "-timestamp"
    def afterAnchor(ts0: Column, uuid0: String): Column =
      if (reverse)
        col("ts") < ts0 || (col("ts") === ts0 && col("uuid") < uuid0)
      else
        col("ts") > ts0 || (col("ts") === ts0 && col("uuid") > uuid0)
    val timeOrdered = q.orderBy == "timestamp" || reverse
    val afterStartId = (q.startAfter, q.startId) match {
      case (Some(_), _) if !timeOrdered =>
        // same refusal as startId below: the (ts, uuid) anchor predicate
        // only matches the display order under a timestamp ordering —
        // applying it under '-id'/'meta:' orderings would silently skip
        // or duplicate rows across pages
        throw new IllegalArgumentException(
          s"startAfter pagination requires a timestamp ordering, got '${q.orderBy}'")
      case (Some((tsMs, uuid0)), _) =>
        // caller-supplied keyset anchor: pure filter, no anchor lookup —
        // the 100 TB pagination path (the previous page's last row is the
        // anchor, so paging a petabyte store never re-scans)
        df.filter(afterAnchor(timestamp_millis(lit(tsMs)), uuid0))
      case (None, Some(id)) if timeOrdered =>
        // id-only anchor (reference start_id): resolving it costs one
        // lookup scan of the store — convenient locally, prefer startAfter
        // at scale
        val anchor = df.filter(col("uuid") === id).select(col("ts"), col("uuid")).head()
        df.filter(afterAnchor(lit(anchor.getTimestamp(0)), anchor.getString(1)))
      case (None, Some(_)) =>
        // anchors under meta/field orderings are not keyset-resolvable
        // (the sort key need not be unique); refuse loudly rather than
        // silently ignoring the caller's anchor
        throw new IllegalArgumentException(
          s"startId pagination requires a timestamp ordering, got '${q.orderBy}'")
      case _ => df
    }
    val filtered = afterStartId.filter(q.predicate).orderBy(q.ordering: _*)
    val paged = if (q.start > 0) filtered.offset(q.start) else filtered
    paged.limit(q.count)
  }

  /** get_preview_str (msgstore.py:140). */
  def preview(payload: Column, n: Int = 1000): Column = substring(payload, 1, n)

  /** message.py:80 renew() + the handle()-flow save-back state: fresh uuid
    * (deterministic per nonce) + now() timestamp, marked processed. Shared
    * by the parquet and memory stores' replay paths so the renewal
    * semantics cannot drift between them. */
  private[store] def renewProcessed(df: DataFrame, nonce: Long): DataFrame =
    df.withColumn("uuid", md5(concat(col("uuid"), lit(s":replay:$nonce"))))
      .withColumn("ts", current_timestamp())
      .withColumn("state", lit(graft.model.Msg.PROCESSED))

  /** Store meta-infos for nodes' `store_meta` option (nodes.py:117,215-220):
    * for each message id and requested meta name, the stored values as a
    * LIST — a yielded message's sub-messages each append their value, which
    * is why the reference always stores a list. Relational form: one narrow
    * (uuid, name, value) relation aggregated per (uuid, name); values are
    * sorted for deterministic list order (the reference's append order is
    * processing order, which a distributed engine cannot reproduce). */
  def metaInfos(msgs: DataFrame, names: Seq[String]): DataFrame = {
    val narrow = names.map { n =>
      msgs.select(col("uuid"), lit(n).as("name"), col("meta")(n).as("value"))
    }.reduce(_ unionByName _)
    narrow.filter(col("value").isNotNull)
      .groupBy(col("uuid"), col("name"))
      .agg(sort_array(collect_list(col("value"))).as("values"))
  }
}
