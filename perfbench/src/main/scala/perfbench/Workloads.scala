package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkEntry
import graft.streaming.EventPipeline
import perfbench.Harness._

/** read_api: the 14 headline read queries, closed loop, over a warm alert
  * store. Each request builds the query's operators, plans it and
  * collects every row.
  */
object ReadApi {
  val queries: Seq[String] = graft.Bench.headline
  /** Seconds of --seconds per timed pass over the queries, and the
    * fewest timed passes: 10 s gives two passes, 28 requests. */
  val PassSeconds = 5.0
  val MinPasses = 2

  /** The loader a request resolves: q1_pricing reads lineitem, the other
    * headline queries read events.
    */
  def resolve(spark: SparkSession, dir: String, q: String): Unit =
    if (q == "q1_pricing") graft.Tables.lineitem(spark, dir).schema
    else graft.Tables.events(spark, dir).schema

  /** Runs every query once over `dir`; a failure there is counted, not
    * fatal, and shows again as a failed timed request.
    */
  def warm(spark: SparkSession, dir: String): Seq[String] =
    queries.flatMap { q =>
      try { SparkEntry.queries(q)(spark, dir).collect(); None }
      catch { case NonFatal(_) => Some(q) }
    }

  def run(ctx: Ctx): Map[String, Any] = {
    var warmFailures = Seq.empty[String]
    val (spark, warmS, setups) = setUp(
      ctx,
      // the hot store: the persisted scored-event frame every alert query
      // reads, built once per session like the reference's store
      s => { SparkEntry.queries("alerts_stats")(s, ctx.data).collect(); () => () },
      s => warmFailures = warm(s, ctx.data))
    val client = new Client(spark, ctx, timeoutS = 30)
    val results = new Results(ctx)
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    // One unbilled pass in the timed session, after the warmup's pass in
    // its own session. A query's first request in the timed session took
    // up to 1.7x its later ones, and its second about 1.1x (lazy
    // per-session state, code not yet compiled); timing them mixed
    // regimes into every run.
    val firstPass0 = System.nanoTime()
    warmFailures = (warmFailures ++ warm(spark, ctx.data)).distinct
    val firstPassS = (System.nanoTime() - firstPass0) / 1e9
    listen(spark, ctx)
    resetHeapPeaks()
    val jvm0 = jvmCounters()
    val t0 = System.nanoTime()
    // whole passes, each in a fresh seed-drawn order, so every run weighs
    // every query equally. The pass count follows --seconds alone, never
    // the speed of the code under test, so both sides of a comparison
    // have the same number of samples and the same tail percentile.
    val passes = math.max(MinPasses, math.round(ctx.seconds / PassSeconds).toInt)
    for (pass <- 0 until passes) {
      for (q <- ctx.rng.shuffle(queries)) {
        if (ctx.trace)
          ctx.tracer.span("tables.resolve", "name" -> q)(resolve(spark, ctx.data, q))
        val (op, v) = client.run("request", q) {
          buildPlanCollect(ctx, SparkEntry.queries(q)(spark, ctx.data))
        }
        ops += (v match {
          case Some((df, rows)) =>
            val scans = df.queryExecution.executedPlan
              .collect { case s: InMemoryTableScanExec => s }.size
            op.copy(result = Some(results.keep(q, df.schema, rows)),
                    tags = Map("pass" -> pass, "rows" -> rows.length,
                               "planner" -> plannerPhases(df),
                               "cache_scans" -> scans)).record
          case None => op.copy(tags = Map("pass" -> pass)).record
        })
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val jvm1 = jvmCounters()
    val liveHeap = liveHeapMb()
    client.close()
    Listeners.drain(spark)
    Map("setup_s" -> setups, "warm_s" -> warmS,
        "first_pass_s" -> firstPassS, "warm_failures" -> warmFailures,
        "ops" -> ops.toSeq, "wall_s" -> wall,
        "jvm_start" -> jvm0, "jvm_end" -> jvm1, "live_heap_mb" -> liveHeap,
        "cache" -> cacheCounters(spark),
        "results" -> results.write(spark),
        "oracle" -> queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)
  }
}

/** alert_stream: an open loop at a fixed arrival rate through the fused
  * detector + cooldown, rule routing and the idempotent batch sink.
  */
object AlertStream {
  val Rate = 2500L
  val Types: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
  /** Event time advances 20 ms per event id from 2024-01-01T00:00:00Z, so
    * the cooldown and rolling statistics see minutes of event time.
    */
  val BaseMicros = 1704067200000000L
  val StepMicros = 20000L
  /** How long the stream may take to settle onto whole-second triggers,
    * and how late after a whole second a settled trigger may start.
    */
  val AlignTimeoutMs = 20000L
  val AlignSlackMs = 50L
  /** How long after the window closes an event may still commit. */
  val DrainTimeoutMs = 15000L
  /** The rate source's schedule starts this long before a whole wall
    * second; the 1 s processing-time trigger fires on whole wall seconds,
    * so each second of events is ready this long before the trigger
    * that picks it up, in every run.
    */
  val PhaseLeadMs = 200L

  /** The event generator: every column a pure function of (seed, id).
    * Five event types; value N(50, 15) floored at 0, with 5% outliers
    * uniform in [100, 500]; both rounded to 2 decimals.
    */
  def events(ids: DataFrame, seed: Long): DataFrame = {
    def h(k: Int) = xxhash64(lit(seed), col("id"), lit(k))
    def u(k: Int) = (pmod(h(k), lit(1L << 30)) + lit(0.5)) / lit((1L << 30).toDouble)
    val normal = lit(50.0) + lit(15.0) * sqrt(lit(-2.0) * log(u(1))) *
      cos(lit(2 * math.Pi) * u(2))
    val value = when(pmod(h(3), lit(100L)) < 5, lit(100.0) + lit(400.0) * u(4))
      .otherwise(greatest(normal, lit(0.0)))
    ids.select(
      col("id").as("event_id"),
      timestamp_micros(lit(BaseMicros) + col("id") * lit(StepMicros)).as("ts"),
      pmod(h(6), lit(1500L)).as("user_id"),
      element_at(array(Types.map(lit): _*),
                 (pmod(h(5), lit(Types.size.toLong)) + 1).cast("int"))
        .as("event_type"),
      round(value, 2).as("value"),
      concat(lit("{\"k\": "), pmod(h(7), lit(100L)).cast("string"), lit("}"))
        .as("props"))
  }

  private def topology(spark: SparkSession, ids: DataFrame, seed: Long) =
    EventPipeline.routedAlerts(
      spark, EventPipeline.fusedAlertStream(spark, events(ids, seed)))

  /** Starts the same topology on the `rate-micro-batch` source, which
    * does not wait for the wall clock, and returns once two micro-batches
    * have committed, with the query still running. Returns the call that
    * stops it: stopping interrupts whichever batch runs next, so its cost
    * varies and is left out of the set-up time.
    */
  private def warm(spark: SparkSession, ctx: Ctx): () => Unit = {
    val dir = Files.createTempDirectory(Paths.get(ctx.work("warm")), "alert")
    val q = topology(
      spark,
      spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", Rate).option("numPartitions", ctx.cpus).load()
        .select(col("value").as("id")),
      ctx.seed)
      .writeStream.outputMode(OutputMode.Update)
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch(EventPipeline.idempotentBatchWriter(s"$dir/store"))
      .start()
    try {
      while (q.isActive && q.recentProgress.count(_.numInputRows > 0) < 2)
        Thread.sleep(5)
      q.exception.foreach(e => throw e)
    } catch { case e: Throwable => q.stop(); throw e }
    () => q.stop()
  }

  /** Pins the rate source's start time by writing the source metadata
    * the rate source would otherwise write itself on first start.
    */
  private def pinRateStart(ckpt: String, startMs: Long): Unit = {
    val dir = Paths.get(ckpt, "sources", "0")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("0"), s"v1\n$startMs")
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val (spark, warmS, setups) = setUp(ctx, warm(_, ctx))
    listen(spark, ctx)
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val store = ctx.work("alert_store")
    val ckpt = ctx.work("alert_ckpt")
    val sinkReturn = new ConcurrentHashMap[Long, Long]
    val writer = EventPipeline.idempotentBatchWriter(store)
    // start just after a whole second: the late first triggers then have
    // the least ground to make up before they settle (see below)
    while (System.currentTimeMillis() % 1000 > 20) Thread.sleep(1)
    val startMs = System.currentTimeMillis() / 1000 * 1000 - PhaseLeadMs
    pinRateStart(ckpt, startMs)
    val raw = spark.readStream.format("rate")
      .option("rowsPerSecond", Rate).option("numPartitions", ctx.cpus).load()
    val q = topology(spark, raw.select(col("value").as("id")), ctx.seed)
      .writeStream.queryName("alert_stream").outputMode(OutputMode.Update)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (b: DataFrame, id: Long) =>
        ctx.tracer.span("sink.write", "batch" -> id)(writer(b, id))
        sinkReturn.put(id, System.currentTimeMillis())
        ()
      }
      .start()

    def triggers = progress.progress.asScala.filter(_.name == "alert_stream")
    def committedSeconds: Long = triggers
      .flatMap(p => p.sources.headOption.map(_.endOffset.trim.toLong))
      .foldLeft(0L)(math.max)
    // The first triggers run late (query start, first-batch planning) and
    // each starts as soon as the previous one ends, until the slack of
    // successive batches brings them back onto whole wall seconds. The
    // window opens two rate seconds after the first trigger that started
    // on a whole second, so that every run is timed in the same regime.
    val alignBy = System.currentTimeMillis() + AlignTimeoutMs
    def aligned = triggers.find { p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli % 1000 < AlignSlackMs
    }
    while (q.isActive && aligned.isEmpty && System.currentTimeMillis() < alignBy)
      Thread.sleep(20)
    val firstSecond = 2 + aligned
      .flatMap(_.sources.headOption.map(_.endOffset.trim.toLong))
      .getOrElse(committedSeconds)
    val windowStart = startMs + firstSecond * 1000L
    val windowEnd = windowStart + (ctx.seconds * 1000).toLong
    val lastSecond = firstSecond + math.ceil(ctx.seconds).toLong
    while (System.currentTimeMillis() < windowStart && q.isActive)
      Thread.sleep(5)
    resetHeapPeaks()
    val jvm0 = jvmCounters()
    val deadline = windowEnd + DrainTimeoutMs
    while (q.isActive && committedSeconds < lastSecond &&
           System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    val jvm1 = jvmCounters()
    val error = q.exception.map(e => s"${e.getClass.getName}: ${e.getMessage}")
    q.stop()
    // once the query has stopped, so that no batch is in flight
    val liveHeap = liveHeapMb()
    Listeners.drain(spark)

    val lastBatch = triggers.map(_.batchId).foldLeft(-1L)(math.max)
    val lastId = committedSeconds * Rate
    val results = new Results(ctx)
    val routed = spark.read.parquet(store)
      .filter(col("batch_id") <= lastBatch).drop("batch_id")
      .orderBy(col("event_id"), col("rule_id"))
    val resultKey = results.keep("alert_stream", routed.schema, routed.collect())
    val eventsPath = Paths.get(ctx.out, "alert_events").toString
    events(spark.range(0, lastId).toDF("id"), ctx.seed)
      .write.mode("overwrite").parquet(eventsPath)

    Map(
      "setup_s" -> setups, "warm_s" -> warmS, "rate" -> Rate, "start_ms" -> startMs,
      "window_ms" -> Seq(windowStart, windowEnd),
      "aligned" -> aligned.isDefined, "window_first_second" -> firstSecond,
      "stream_error" -> error.orNull,
      "sink_return_ms" -> sinkReturn.asScala.toMap.map { case (k, v) =>
        k.toString -> v },
      "progress" -> progress.records,
      "jvm_start" -> jvm0, "jvm_end" -> jvm1, "live_heap_mb" -> liveHeap,
      "cache" -> cacheCounters(spark),
      "result_key" -> resultKey,
      "results" -> results.write(spark),
      "events_path" -> eventsPath, "events_count" -> lastId,
      "oracle" -> Map(
        "alert_stream" -> SparkEntry.oracleSql("stream_fused_routed_drain")))
  }
}
