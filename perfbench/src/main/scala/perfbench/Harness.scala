package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One benchmark run of one workload, in one JVM. run.py generates the
  * inputs, launches this, checks the written results against the DuckDB
  * oracle and computes every metric from the raw record written to
  * `<out>/raw.json`.
  *
  * Usage: perfbench.Harness --workload W --setups K [--data DIR[,DIR...]]
  *        --out DIR --seed N --seconds S --trace 0|1
  */
object Harness {

  final class Ctx(opts: Map[String, String]) {
    private def get(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload: String = get("workload")
    /** One copy of the inputs per set-up, the warmup's included (the last
      * is the timed one): the library's shared-frame stores key on
      * (session, path) while Spark's cache is shared by every session of a
      * context, so a later session over the same path would alias, and on
      * eviction drop, an earlier session's cached frames. alert_stream
      * reads no table and passes none.
      */
    private val dataCopies: Seq[String] =
      opts.get("data").map(_.split(",").toSeq).getOrElse(Seq(""))
    val setups: Int = get("setups").toInt
    private var copy = 0
    def data: String = dataCopies(math.min(copy, dataCopies.size - 1))
    def nextCopy(): Unit = copy += 1
    val out: String = get("out")
    val seed: Long = get("seed").toLong
    val seconds: Double = get("seconds").toDouble
    val trace: Boolean = get("trace") == "1"
    val cpus: Int = Runtime.getRuntime.availableProcessors()
    val tracer = new Tracer(trace)
    val rng = new scala.util.Random(seed)
    def work(name: String): String = {
      val p = Paths.get(out, "work", name)
      Files.createDirectories(p)
      p.toString
    }
  }

  /** The benchmark posture: the library's own Bench settings (8 shuffle
    * partitions, no adaptive re-planning), one local executor per core.
    * Spark's status stores keep only the last 100 jobs, stages and SQL
    * executions, so that what they hold, which `live_heap_mb` counts, is
    * bounded and does not grow with the length of a run.
    */
  def newSession(ctx: Ctx): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${ctx.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", 100)
      .config("spark.ui.retainedStages", 100)
      .config("spark.sql.ui.retainedExecutions", 100)
      .config("spark.local.dir", ctx.work("spark-local"))
      .config("spark.sql.warehouse.dir", ctx.work("warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Starts the SparkContext and runs the unbilled warmup: one set-up
    * followed by `warm` in its session. Then sets up `ctx.setups` times —
    * a fresh session plus the workload's own preparation — and returns the
    * last session, the warmup time and every set-up time, so run.py can
    * report their median. Without the warmup, the first set-ups ran cold
    * code (a new session's state, a query's start) and took up to half
    * again as long as the later ones. Before each set-up the context's
    * cache is cleared, so that only the timed session's frames are cached
    * during the timed interval. `prepare` returns an untimed teardown.
    */
  def setUp(ctx: Ctx, prepare: SparkSession => (() => Unit),
            warm: SparkSession => Unit = _ => ())
      : (SparkSession, Double, Seq[Double]) = {
    val first = newSession(ctx)
    var session = first
    def setUpOnce(): (Double, () => Unit) = {
      first.catalog.clearCache()
      val t = System.nanoTime()
      session = first.newSession()
      val teardown = prepare(session)
      ((System.nanoTime() - t) / 1e9, teardown)
    }
    val t0 = System.nanoTime()
    val (_, warmTeardown) = setUpOnce()
    warm(session)
    warmTeardown()
    val warmS = (System.nanoTime() - t0) / 1e9
    val times = (1 to ctx.setups).map { _ =>
      ctx.nextCopy()
      val (s, teardown) = setUpOnce()
      teardown()
      s
    }
    (session, warmS, times)
  }

  /** Outcome of one timed operation. `error` is None for a success. */
  final case class Op(kind: String, name: String, ms: Double,
                      error: Option[String], result: Option[String],
                      tags: Map[String, Any] = Map.empty) {
    def record: Map[String, Any] =
      Map("kind" -> kind, "name" -> name, "ms" -> ms,
          "error" -> error.orNull, "result" -> result.orNull) ++ tags
  }

  /** The one client thread that issues every timed operation. A
    * non-fatal throw or a timeout becomes a failed [[Op]]; a fatal error
    * propagates and aborts the run.
    */
  final class Client(spark: SparkSession, ctx: Ctx, timeoutS: Double) {
    private val pool = Executors.newSingleThreadExecutor()
    private implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(pool)

    def run[T](kind: String, name: String)(body: => T): (Op, Option[T]) = {
      val id = ctx.tracer.nextId()
      val t0 = System.nanoTime()
      val f = Future {
        spark.sparkContext.setJobGroup(Tracer.group(id), name,
                                       interruptOnCancel = true)
        try ctx.tracer.spanWithId(id, kind, "name" -> name)(body)
        finally spark.sparkContext.clearJobGroup()
      }
      val outcome =
        try Right(Await.result(f, timeoutS.seconds))
        catch {
          case e: TimeoutException =>
            spark.sparkContext.cancelJobGroup(Tracer.group(id))
            Left(s"timeout after ${timeoutS}s")
          case NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}")
        }
      val ms = (System.nanoTime() - t0) / 1e6
      outcome match {
        case Right(v) => (Op(kind, name, ms, None, None), Some(v))
        case Left(err) => (Op(kind, name, ms, Some(err.take(500)), None), None)
      }
    }

    def close(): Unit = {
      pool.shutdown()
      pool.awaitTermination(60, TimeUnit.SECONDS)
    }
  }

  /** Collected results, one copy per distinct content, written after the
    * timed interval for the oracle check. Every timed result is hashed,
    * so a request whose rows differ from its peers is written too.
    */
  final class Results(ctx: Ctx) {
    private val kept = mutable.LinkedHashMap.empty[(String, String),
                                                   (StructType, Array[Row])]

    def keep(query: String, schema: StructType, rows: Array[Row]): String = {
      val h = "%08x".format(
        scala.util.hashing.MurmurHash3.orderedHash(rows.iterator.map(_.toString)))
      kept.getOrElseUpdate((query, h), (schema, rows))
      h
    }

    def write(spark: SparkSession): Seq[Map[String, Any]] =
      kept.toSeq.map { case ((q, h), (schema, rows)) =>
        val path = Paths.get(ctx.out, "results", q, h).toString
        spark.createDataFrame(rows.toSeq.asJava, schema)
          .coalesce(1).write.mode("overwrite").parquet(path)
        Map("query" -> q, "result" -> h, "path" -> path)
      }
  }

  /** Builds a query's frame, forces its physical plan, then collects every
    * row — the work a read request does. Returns the frame for its
    * planner timings and the rows for the oracle check.
    */
  def buildPlanCollect(ctx: Ctx, build: => DataFrame): (DataFrame, Array[Row]) = {
    val df = ctx.tracer.span("operators.build")(build)
    ctx.tracer.span("planner")(df.queryExecution.executedPlan)
    val rows = ctx.tracer.span("exec.action")(df.collect())
    (df, rows)
  }

  /** Catalyst's phase times for a frame that has been executed. */
  def plannerPhases(df: DataFrame): Map[String, Any] =
    df.queryExecution.tracker.phases.map { case (k, v) =>
      k -> (v.endTimeMs - v.startTimeMs)
    }.toMap

  /** Registers the stage listener when tracing. */
  def listen(spark: SparkSession, ctx: Ctx): Unit =
    if (ctx.trace)
      spark.sparkContext.addSparkListener(new StageListener(ctx.tracer))

  def cacheCounters(spark: SparkSession): Map[String, Any] = Map(
    "persisted" -> spark.sparkContext.getPersistentRDDs.size,
    "cached_bytes" -> spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum)

  def jvmCounters(): Map[String, Any] = {
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
    val heapPeak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    Map("gc_ms" -> gc, "heap_peak_bytes" -> heapPeak)
  }

  def resetHeapPeaks(): Unit =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .foreach(_.resetPeakUsage())

  /** The heap the program holds at the end of the timed interval: the
    * used heap once full collections stop freeing memory, so that neither
    * garbage nor the collector's sizing choices count. Spark's context
    * cleaner releases the blocks, broadcasts and shuffles of unreachable
    * jobs asynchronously, after a collection has found them: right after
    * two back-to-back collections the used heap still varied from 280 to
    * 380 MB over alert_stream runs, and about a second later it read 86 MB
    * on each. So collections repeat, 300 ms apart, until one frees less
    * than 1 MB, after at least three. Called after the interval's own
    * counters are read.
    */
  def liveHeapMb(): Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc()
      heap.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collect()
    var next = prev
    var rounds = 0
    while (rounds < 3 || (prev - next >= 1.0 && rounds < 20)) {
      Thread.sleep(300)
      prev = next
      next = collect()
      rounds += 1
    }
    next
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val ctx = new Ctx(opts)
    val calib = graft.HostCalib.calibrate()
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> ctx.workload, "seed" -> ctx.seed,
      "seconds" -> ctx.seconds, "trace" -> ctx.trace, "cpus" -> ctx.cpus,
      "cpu_model" -> graft.HostCalib.cpuModel, "calib_s" -> calib)
    val workload: Ctx => Map[String, Any] = ctx.workload match {
      case "read_api"        => ReadApi.run
      case "alert_stream"    => AlertStream.run
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    record ++= workload(ctx)
    record("peak_rss_mb") = peakRssMb()
    record("spans") = ctx.tracer.all.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "t0" -> s.t0, "t1" -> s.t1, "tags" -> s.tags)
    }
    Files.writeString(Paths.get(ctx.out, "raw.json"),
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsString(record))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
