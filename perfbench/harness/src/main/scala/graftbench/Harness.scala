package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{GraftSession, SparkEntry, Tables}
import graft.api.{Channel, Node}
import graft.model.Msg
import graft.store.{MessageStore, Search}
import graft.streaming.{FileWatcherChannel, Sessionize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

/** One public call into a graft module. `build` runs the call itself and
  * returns the frame whose materialization is the call's action (None when
  * the call's work is all inside it, as for a store write). */
final case class Call(name: String, layer: String, build: Int => Option[DataFrame])

/** The benchmark harness. It drives graft from outside, through its public
  * functions, and reports raw timings and counters as JSON for run.py.
  *
  *   setup <work>              start a session, print READY, stop
  *   oracle <out.json> names.. dump SparkEntry.oracleSql for the names
  *   run <params.json>         run one workload (see run.py for params)
  */
object Harness {
  def clock: Long = System.currentTimeMillis()

  /** Reads params.json and writes the result, trace and oracle files. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def session(cores: Int, work: String): SparkSession = {
    val s = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftSession.install(s)
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "setup" :: work :: Nil =>
      val s = session(Runtime.getRuntime.availableProcessors(), work)
      println("READY")
      System.out.flush()
      s.stop()
    case "oracle" :: out :: names =>
      val sql = SparkEntry.oracleSql
      json.writeValue(Paths.get(out).toFile, names.flatMap(n => sql.get(n).map(n -> _)).toMap)
    case "run" :: params :: Nil =>
      new Run(json.readTree(Paths.get(params).toFile)).run()
    case _ =>
      System.err.println("usage: Harness setup <work> | oracle <out> <names..> | run <params.json>")
      sys.exit(2)
  }

  def vmHwmKb: Long = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
}

final class Run(p: JsonNode) {
  import Harness._

  private val workload = p.get("workload").asText
  private val data = p.get("data").asText
  private val work = p.get("work").asText
  private val seconds = p.get("seconds").asDouble
  private val traced = p.get("trace").asInt == 1
  private val cores = p.get("cores").asInt
  private val calls = p.get("calls").elements.asScala.map(c =>
    c.get("name").asText -> c.get("layer").asText).toVector

  private val spark = session(cores, work)
  println("READY")
  System.out.flush()
  private val sc = spark.sparkContext
  private val trace = new Trace(spark)
  private val errors = mutable.LinkedHashMap.empty[String, String]
  private var attempted = 0
  private var failedCalls = 0
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val passTraced = mutable.ArrayBuffer.empty[Boolean]
  private val extra = mutable.LinkedHashMap.empty[String, Any]

  private val registry = SparkEntry.queries

  /** Pypeman's message store surface, driven directly: save a channel's
    * output, change the state of a seed-chosen sample (the mutation log,
    * with an auto-compact inside the sample), then search and replay. */
  private lazy val mutateIds = p.get("mutate_ids").elements.asScala.map(_.asText).toVector
  private def storeAt(pass: Int) =
    new MessageStore(spark, s"$work/store/p$pass", autoCompactMutationFiles = 2)
  private def channelOutput: DataFrame =
    Channel("persist").dropWhen(col("value") < 1.0).runMain(Tables(spark, data).events)
      .select(col("event_id").cast("string").as("uuid"), col("ts"),
        col("props").as("payload"),
        map(lit("event_type"), col("event_type"),
          lit("user_id"), col("user_id").cast("string")).as("meta"),
        lit(Msg.PROCESSED).as("state"))
  private val storeSearch = Search(startDt = Some("2024-01-05 00:00:00"),
    endDt = Some("2024-01-20 00:00:00"), metaExact = Map("event_type" -> "click"), count = 50)
  private val replaySearch = Search(metaExact = Map("event_type" -> "signup"), count = 20)
  private val storeCalls = Vector(
    Call("store.save", "store", pass => { storeAt(pass).save(channelOutput); None }),
    Call("store.change_state", "store", pass => {
      val st = storeAt(pass); mutateIds.foreach(st.changeMessageState(_, Msg.ERROR)); None
    }),
    Call("store.search", "store", pass => Some(storeAt(pass).search(storeSearch))),
    Call("store.replay", "store", pass =>
      Some(storeAt(pass).replay(replaySearch, Channel("replay")))))

  private def callList: Vector[Call] = calls.map { case (name, layer) =>
    registry.get(name) match {
      case Some(fn) => Call(name, layer, _ => Some(fn(spark, data)))
      case None => storeCalls.find(_.name == name).getOrElse(
        streamCalls.find(_.name == name).getOrElse(sys.error(s"unknown call $name")))
    }
  }

  private def cleanup(): Unit = {
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  private def runCall(pass: Int, c: Call): Span = {
    val sink: DataFrame => Unit =
      if (pass == 0 && registry.contains(c.name)) df => writeCheck(c.name, df)
      else _.write.format("noop").mode("overwrite").save()
    val g = Trace.group(pass, c.name)
    sc.setJobGroup(g, c.name, interruptOnCancel = false)
    trace.current = g
    attempted += 1
    val t0 = clock
    var t1 = t0
    try {
      val out = c.build(pass)
      t1 = clock
      out.foreach(sink)
    } catch {
      case e: Throwable =>
        if (t1 == t0) t1 = clock
        failedCalls += 1
        errors.getOrElseUpdate(c.name,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    val t2 = clock
    sc.clearJobGroup()
    if (traced) trace.settle()
    cleanup()
    Span(pass, c.name, c.layer, t0, t1 - t0, t2 - t1)
  }

  private def runPass(pass: Int, list: Seq[Call], withTrace: Boolean): Unit = {
    System.gc()
    if (withTrace) trace.register()
    spans ++= list.map(runCall(pass, _))
    if (withTrace) trace.unregister()
    passTraced += withTrace
  }

  /** Cold pass, one warm-up pass (the JIT is still compiling through it),
    * then measured passes until `seconds` have passed since the warm-up
    * ended: at least one, or in a traced run at least two, alternating
    * traced and untraced so the gap between them measures the tracing
    * overhead. */
  private def measure(list: Seq[Call], between: () => Unit): Unit = {
    runPass(0, list, withTrace = false)
    between()
    runPass(1, list, withTrace = false)
    val start = clock
    val minPasses = if (traced) 4 else 3
    var pass = 2
    while (pass < minPasses || clock - start < seconds * 1000) {
      runPass(pass, list, withTrace = traced && pass % 2 == 0)
      pass += 1
    }
  }

  // ---- output check: inputs for run.py, which compares them untimed ----

  private val checkDir = s"$work/check"
  private val checkRows = mutable.LinkedHashMap.empty[String, Long]

  /** The cold pass writes each registry call's output here (a one-shot
    * job writes its result; warm passes write to the noop sink). */
  private def writeCheck(name: String, df: DataFrame): Unit = {
    val out = s"$checkDir/$name"
    df.write.mode("overwrite").parquet(out)
  }

  /** The store's final state after the cold pass, for the output check. */
  private def checkStore(list: Seq[Call]): Unit =
    if (list.exists(_.name.startsWith("store."))) try {
      writeCheck("store.search", storeAt(0).search(storeSearch).select("uuid"))
      writeCheck("store.states", storeAt(0).all().groupBy("state").count())
    } catch {
      case e: Throwable => errors.getOrElseUpdate("store.check", e.toString.take(300))
    }

  // ---- streaming: the sessionize drain and the open loop ----

  private lazy val streamP = p.get("stream")
  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts_ms", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))
  /** The routed ingest channel: case routing into value bands, then error
    * events rejected to the channel's reject output. */
  private val ingest = Channel("ingest")
    .add(Node("tag")(_.withColumn("route", lit("high"))))
    .caseOf(
      (col("value") < 25, (c: Channel) => c.add(Node("low")(_.withColumn("route", lit("low"))))),
      (col("value") < 75, (c: Channel) => c.add(Node("mid")(_.withColumn("route", lit("mid"))))))
    .rejectWhen(col("event_type") === "error")

  private def drainDir(pass: Int): String = {
    val d = Paths.get(s"$work/stream/drain/p$pass")
    val watch = d.resolve("watch")
    Files.createDirectories(watch)
    if (Files.list(watch).count() == 0)
      Files.list(Paths.get(streamP.get("drain_stage").asText)).iterator.asScala
        .foreach(f => Files.createLink(watch.resolve(f.getFileName), f))
    d.toString
  }
  private var stateProgress: Option[StreamingQueryProgress] = None

  private lazy val streamCalls = Vector(
    Call("stream.sessionize", "streaming", pass => {
      val d = drainDir(pass)
      val prev = GraftSession.useRocksDBStateStore(spark)
      try {
        val src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 50)
          .json(s"$d/watch")
          .select(col("user_id").as("userId"), col("ts_ms").as("tsMs"),
            col("event_type").as("eventType"))
        val q = Sessionize.sessions(Sessionize.withEventTimeWatermark(src),
            streamP.get("gap_ms").asLong)
          .writeStream.format("parquet").outputMode("append")
          .option("path", s"$d/sessions").option("checkpointLocation", s"$d/sckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        stateProgress = q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
      } finally GraftSession.restoreStateStore(spark, prev)
      None
    }))

  /** The open loop: one generator thread moves pre-staged event files into
    * the watched directory on a fixed schedule; the watcher channel runs
    * with a 250 ms trigger into a parquet sink. Each file is timed from when
    * it was due to the commit of the micro-batch that ingested it. */
  private def openLoop(): Unit = {
    val base = Paths.get(s"$work/stream/open")
    val watch = base.resolve("watch")
    Files.createDirectories(watch)
    val files = Files.list(Paths.get(streamP.get("open_stage").asText)).iterator.asScala
      .toVector.sortBy(_.getFileName.toString)
    val rate = streamP.get("rate").asDouble
    val q = new FileWatcherChannel(spark, watch.toString, schema, ingest,
      base.resolve("out").toString, base.resolve("ckpt").toString,
      format = "json", intervalMs = 250, maxFilesPerTrigger = 100).start()
    val due = new Array[Long](files.size)
    val moved = new Array[Long](files.size)
    val t0 = clock + 200
    val gen = new Thread(() => files.indices.foreach { i =>
      due(i) = t0 + (i * 1000.0 / rate).toLong
      val w = due(i) - clock
      if (w > 0) Thread.sleep(w)
      Files.move(files(i), watch.resolve(files(i).getFileName), StandardCopyOption.ATOMIC_MOVE)
      moved(i) = clock
    }, "graft-bench-generator")
    gen.start()
    gen.join()
    // done once every file is in the source log and its batch has committed
    val log = base.resolve("ckpt/sources/0")
    val deadline = clock + 60000
    def done: Boolean = Files.isDirectory(log) && {
      val b = fileBatches(log)
      files.forall(f => b.contains(f.getFileName.toString)) &&
        Option(q.lastProgress).exists(_.batchId >= b.values.max)
    }
    while (!done && clock < deadline && q.isActive) Thread.sleep(50)
    val progress = q.recentProgress.filter(_.numInputRows > 0).toVector
    q.stop()
    val commit = progress.map { pr =>
      pr.batchId -> (java.time.Instant.parse(pr.timestamp).toEpochMilli + pr.batchDuration)
    }.toMap
    val batchOf = fileBatches(log)
    val index = files.map(_.getFileName.toString).zipWithIndex.toMap
    val lat = mutable.ArrayBuffer.empty[Double]
    val committedAt = new Array[Long](files.size)
    batchOf.foreach { case (name, b) =>
      for (i <- index.get(name); c <- commit.get(b)) { lat += (c - due(i)).toDouble; committedAt(i) = c }
    }
    val backlog = progress.map { pr =>
      val s = java.time.Instant.parse(pr.timestamp).toEpochMilli
      files.indices.count(i => moved(i) <= s && (committedAt(i) == 0 || committedAt(i) > s))
    }
    def dur(pr: StreamingQueryProgress, keys: String*) =
      keys.map(k => Option(pr.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum.toDouble
    extra("open_latency_ms") = lat.toVector
    extra("open_files") = files.size
    extra("open_files_committed") = lat.size
    extra("open_sink_rows") = spark.read.parquet(base.resolve("out").toString).count()
    extra("streaming.batches") = progress.size
    extra("streaming.batch_p50_ms") = median(progress.map(_.batchDuration.toDouble))
    extra("streaming.source_ms") = median(progress.map(dur(_, "latestOffset", "getBatch")))
    extra("streaming.commit_ms") = median(progress.map(dur(_, "walCommit", "commitOffsets")))
    extra("streaming.backlog_files") = if (backlog.isEmpty) 0 else backlog.max
    extra("streaming.gen_lag_ms") = quantile(files.indices.map(i => (moved(i) - due(i)).toDouble), 0.9)
  }

  private def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(math.min(s.size - 1, (q * s.size).toInt)) }

  /** Which micro-batch read each file, from the file source's metadata log
    * (`<batch>` files, folded into `<batch>.compact` every tenth batch). */
  private def fileBatches(log: Path): Map[String, Long] = {
    Files.list(log).iterator.asScala.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala.drop(1)).map { l =>
        val n = json.readTree(l)
        Paths.get(new java.net.URI(n.get("path").asText)).getFileName.toString ->
          n.get("batchId").asLong
      }.toMap
  }

  def run(): Unit = {
    val list = callList
    val hasStream = list.exists(_.layer == "streaming")
    try {
      measure(list, between = () => {
        checkStore(list)
        if (hasStream) {
          if (traced) trace.register()
          openLoop()
          if (traced) trace.unregister()
        }
      })
      if (traced) list.filter(c => registry.contains(c.name)).foreach { c =>
        try checkRows(c.name) = spark.read.parquet(s"$checkDir/${c.name}").count()
        catch { case _: Throwable => () }
      }
      if (hasStream) {
        extra("session_counts") = passTraced.indices.map(pass =>
          spark.read.parquet(s"$work/stream/drain/p$pass/sessions").count())
        stateProgress.foreach { pr =>
          extra("streaming.state_rows") = pr.stateOperators.map(_.numRowsTotal).sum
          extra("streaming.state_mb") = pr.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0
        }
      }
    } catch {
      case e: Throwable => errors.getOrElseUpdate("harness", e.toString.take(500))
    }
    val out = Map(
      "workload" -> workload,
      "attempted" -> attempted,
      "failed" -> failedCalls,
      "errors" -> errors.toMap,
      "passes" -> passTraced.indices.map { i =>
        Map("pass" -> i, "traced" -> passTraced(i), "calls" ->
          spans.filter(_.pass == i).map(s => Map("call" -> s.call, "layer" -> s.layer,
            "build_ms" -> s.buildMs, "action_ms" -> s.actionMs)))
      },
      "check_rows" -> checkRows.toMap,
      "extra" -> extra.toMap,
      "layers" -> (if (traced) layerStats() else Map.empty),
      "vm_hwm_kb" -> vmHwmKb)
    json.writeValue(Paths.get(s"$work/result.json").toFile, out)
    if (traced) json.writeValue(Paths.get(s"$work/trace.json").toFile, trace.spans(spans.toSeq))
    spark.stop()
  }

  /** Per-layer counters of each traced pass, reduced to the median over
    * traced passes. */
  private def layerStats(): Map[String, Map[String, Double]] = {
    val tracedPasses = passTraced.indices.filter(passTraced)
    val perPass = tracedPasses.map { pass =>
      spans.filter(_.pass == pass).groupBy(_.layer).map { case (layer, ss) =>
        val st = ss.map(s => trace.stats.getOrElse(s.group, new CallStats))
        val wall = ss.map(_.wallMs).sum.toDouble
        val yieldBase = st.map(_.maxJoinRows).sum.toDouble
        val outRows = ss.map(s => checkRows.getOrElse(s.call, 0L)).sum.toDouble
        layer -> Map(
          "build_s" -> ss.map(_.buildMs).sum / 1000.0,
          "action_s" -> ss.map(_.actionMs).sum / 1000.0,
          "jobs" -> st.map(_.jobs).sum.toDouble,
          "tasks" -> st.map(_.tasks).sum.toDouble,
          "shuffle_write_mb" -> st.map(_.shuffleWriteBytes).sum / 1048576.0,
          "spill_mb" -> st.map(_.spillBytes).sum / 1048576.0,
          "gc_s" -> st.map(_.gcMs).sum / 1000.0,
          "driver_gap_s" -> ss.zip(st).map { case (s, c) =>
            Trace.uncovered(s.startMs, s.startMs + s.wallMs, c.jobIntervals.toSeq) }.sum / 1000.0,
          "core_busy" -> (if (wall > 0) st.map(_.taskMs).sum / (wall * cores) else 0.0),
          "one_task_stage_s" -> st.map(_.oneTaskStageMs).sum / 1000.0,
          "task_skew" -> st.map(_.skew).max,
          "pair_yield" -> (if (yieldBase > 0) outRows / yieldBase else 0.0))
      }
    }
    val layers = perPass.flatMap(_.keys).distinct
    val merged = layers.map { l =>
      val ms = perPass.flatMap(_.get(l))
      l -> ms.head.keys.map(k => k -> median(ms.map(_(k)))).toMap
    }.toMap
    def passWall(pred: Boolean) = median(passTraced.indices.drop(2)
      .filter(i => passTraced(i) == pred).map(i => spans.filter(_.pass == i).map(_.wallMs).sum / 1000.0))
    merged + ("trace" -> Map("overhead_s" -> (passWall(true) - passWall(false))))
  }
}
