package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One workload. Set-up generates and loads the inputs several times (the
  * last copy serves the timed phase) and then warms up once; `unit` then
  * runs in a closed loop until the time is up. */
trait Workload {
  /** Generates the inputs from the seed and loads them. */
  def prepare(): Unit
  /** Untimed ops, so caches fill and code generation and JIT finish. */
  def warmUp(): Unit
  /** One closed-loop unit: each op starts only after the previous returns. */
  def unit(): Unit
  /** Fewest timed queries a run needs for its latency percentiles. */
  def minQueries: Int = 1
  /** Traced run only, after the timed phase: floors and codec probes. */
  def traceExtras(out: mutable.Map[String, Double]): Unit
  def inputDigest: String
  /** Extra facts about the checks, for the run record. */
  def checkNotes: Map[String, Any] = Map.empty
  def userBytes: Long
  def storedBytes: Long
}

/** Shared state of one run: the session, the tracer and the tallies of
  * the timed phase. */
final class Ctx(val spark: SparkSession, val args: Args, val work: Path,
    val tracer: Tracer) {
  val smoke: Boolean = args.scale == "smoke"
  def seed: Long = args.seed

  var timed = false
  private var opSeq = 0L
  val queryMs = ArrayBuffer.empty[Double]
  val queryMsByKind = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  var queryRowsIn, resultRows, opsTimed, attempted, failed, setupFailed = 0L
  /** (user bytes, ms) of the set-up load steps. */
  val loads = ArrayBuffer.empty[(Long, Double)]
  /** (user bytes, ms, segments) of `df.write.format("pinot")` calls. */
  val pinotWrites = ArrayBuffer.empty[(Long, Double, Int)]

  private var dirSeq = 0
  def freshDir(prefix: String): Path = {
    dirSeq += 1
    Files.createDirectories(work.resolve(f"$prefix-$dirSeq%03d"))
  }

  private def fail(kind: String, msg: String): Unit = {
    if (timed) failed += 1 else setupFailed += 1
    System.err.println(s"graftbench: $kind failed: $msg")
  }

  private def beginOp(): Unit =
    if (timed) { opSeq += 1; opsTimed += 1; attempted += 1; tracer.op = opSeq }
    else tracer.op = -1

  /** One checked query: build the DataFrame (`mk` may itself call into a
    * layer), force planning, run the action. Latency covers all three;
    * the check runs afterwards, untimed. */
  def query(kind: String, rowsIn: Long)(mk: => DataFrame)(
      check: Answers.Rows => Option[String]): Unit = {
    beginOp()
    val t0 = System.nanoTime()
    val res = try Right(tracer.span("bench", kind) {
      val df = mk
      tracer.span("spark", "spark.plan")(df.queryExecution.executedPlan)
      tracer.span("spark", "spark.exec")(df.collect())
    }) catch { case NonFatal(e) => Left(e) }
    val ms = Util.ms(t0)
    res match {
      case Left(e) => fail(kind, e.toString)
      case Right(rows) =>
        check(Answers.of(rows)) match {
          case Some(msg) => fail(kind, msg)
          case None if timed =>
            queryMs += ms
            queryMsByKind.getOrElseUpdate(kind, ArrayBuffer.empty) += ms
            queryRowsIn += rowsIn
            resultRows += rows.length
          case None =>
        }
    }
  }

  /** One set-up load step of `bytes` user bytes. */
  def load(kind: String, bytes: Long)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try tracer.span("bench", kind)(body) catch { case NonFatal(e) => fail(kind, e.toString) }
    loads += ((bytes, Util.ms(t0)))
  }

  private def segments(dir: Path): Int =
    if (!Files.exists(dir)) 0
    else {
      val ls = Files.list(dir)
      try ls.filter(_.getFileName.toString.startsWith("seg_")).count().toInt finally ls.close()
    }

  /** `df.write.format("pinot").mode("append")` with table options. */
  def pinotAppend(df: DataFrame, dir: Path, bytes: Long,
      opts: Map[String, String] = Map.empty): Unit = {
    val before = segments(dir)
    val t0 = System.nanoTime()
    tracer.span("sources.pinot", "sources.pinot.write") {
      df.write.format("pinot").mode("append").options(opts).save(dir.toString)
    }
    pinotWrites += ((bytes, Util.ms(t0), segments(dir) - before))
  }

  def pinotTable(dir: Path): DataFrame =
    tracer.span("sources.pinot", "sources.pinot.load") {
      spark.read.format("pinot").load(dir.toString)
    }
}

object Main {
  /** Generate-and-load repetitions per run; `setup_s` takes their median. */
  val SetupReps = 5

  def session(threads: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // the repo's own benchmark mains size the codegen class cache so a
      // timed op never re-compiles generated code; the same here
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val nproc = Runtime.getRuntime.availableProcessors()
    val args = Args.parse(argv, nproc) match {
      case Right(a) => a
      case Left(msg) =>
        System.err.println(s"graftbench: $msg")
        sys.exit(2)
    }
    val work = Paths.get(sys.props.getOrElse("graftbench.work", "bench-work")).toAbsolutePath
    Files.createDirectories(work)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(args.threads, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val code = try run(spark, args, work, sessionS) finally spark.stop()
    sys.exit(code)
  }

  def run(spark: SparkSession, args: Args, work: Path, sessionS: Double): Int = {
    val tracer = new Tracer(args.trace)
    val ctx = new Ctx(spark, args, work, tracer)
    val sparkC = new SparkCounters
    val planC = new PlanCounters
    val streamC = new StreamCounters
    if (args.trace) {
      spark.sparkContext.addSparkListener(sparkC)
      spark.listenerManager.register(planC)
      spark.streams.addListener(streamC)
    }
    val wl: Workload = args.workload match {
      case "olap_point" => new Olap(ctx)
      case "llm_dedup" => new Dedup(ctx)
    }

    def seconds(f: => Unit): Double = { val t0 = System.nanoTime(); f; Util.ms(t0) / 1e3 }
    val prepareS = (1 to SetupReps).map(_ => seconds(wl.prepare()))
    val warmUpS = seconds(wl.warmUp())

    def drained[T](f: => T): T = {
      if (args.trace) org.apache.spark.BenchHooks.drainListeners(spark.sparkContext)
      f
    }
    case class Snap(jobs: Long, stages: Long, tasks: Long, run: Long, waitMs: Long,
        shw: Long, fw: Long, spill: Long, rowsOut: Long, parts: Long,
        scans: Long, joins: Long, trig: Long, dur: Map[String, Long], jvm: JvmSnapshot)
    def snap(): Snap = drained(Snap(sparkC.jobs, sparkC.stages, sparkC.tasks,
      sparkC.taskRunMs, sparkC.taskWaitMs, sparkC.shuffleWriteB, sparkC.fetchWaitMs,
      sparkC.spillB, planC.scanRowsOut, planC.inputPartitions,
      planC.pinotScans, planC.joinRowsOut, streamC.triggers, streamC.durationMs.toMap,
      JvmSnapshot.take()))

    val s0 = snap()
    ctx.timed = true
    val t0 = System.nanoTime()
    val deadline = t0 + args.seconds * 1000000000L
    while (System.nanoTime() < deadline || ctx.queryMs.length < wl.minQueries) {
      wl.unit()
      if (ctx.attempted > 0 && ctx.failed == ctx.attempted)
        throw new IllegalStateException("every timed op failed")
    }
    val timedS = Util.ms(t0) / 1e3
    ctx.timed = false
    tracer.op = -1
    val s1 = snap()

    val loads = ctx.loads
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (sessionS + Util.median(prepareS) + warmUpS, "s"),
      "query_p50_ms" -> (Util.quantile(ctx.queryMs.toSeq, 0.5), "ms"),
      "query_p90_ms" -> (Util.quantile(ctx.queryMs.toSeq, 0.9), "ms"),
      "load_mb_per_s" -> (Util.median(loads.map { case (b, ms) => b / 1e3 / ms }.toSeq), "MB/s"),
      "scan_mrows_per_s" -> (ctx.queryRowsIn / 1e6 / (ctx.queryMs.sum / 1e3), "Mrows/s"),
      "stored_bytes_per_input_byte" -> (wl.storedBytes.toDouble / wl.userBytes, "ratio"),
      "peak_rss_mb" -> (Util.peakRssMb, "MB"))

    val layer = mutable.LinkedHashMap.empty[String, Double]
    if (args.trace) {
      val ops = math.max(1L, ctx.opsTimed).toDouble
      def med(name: String): Double = {
        val d = tracer.durations(name)
        if (d.isEmpty) 0.0 else Util.median(d)
      }
      def per(x: Long, n: Double): Double = if (n == 0) 0.0 else x / n
      layer ++= Seq(
        "spark.plan_ms" -> med("spark.plan"),
        "spark.exec_ms" -> med("spark.exec"),
        "spark.jobs_per_op" -> per(s1.jobs - s0.jobs, ops),
        "spark.stages_per_op" -> per(s1.stages - s0.stages, ops),
        "spark.tasks_per_op" -> per(s1.tasks - s0.tasks, ops),
        "spark.task_run_ms" -> per(s1.run - s0.run, ops),
        "spark.task_wait_ms" -> per(s1.waitMs - s0.waitMs, (s1.tasks - s0.tasks).toDouble),
        "spark.gc_ms" -> per(s1.jvm.gcMs - s0.jvm.gcMs, ops),
        "spark.shuffle_write_mb" -> per(s1.shw - s0.shw, ops) / 1e6,
        "spark.shuffle_fetch_wait_ms" -> per(s1.fw - s0.fw, ops),
        "spark.spill_mb" -> per(s1.spill - s0.spill, ops) / 1e6,
        "spark.codegen_compiles" -> (s1.jvm.codegen - s0.jvm.codegen).toDouble,
        "sources.pinot.load_ms" -> med("sources.pinot.load"),
        "sources.pinot.input_partitions" -> per(s1.parts - s0.parts, (s1.scans - s0.scans).toDouble),
        "sources.pinot.rows_out" -> per(s1.rowsOut - s0.rowsOut, ops),
        "sources.pinot.rows_out_per_result_row" ->
          per(s1.rowsOut - s0.rowsOut, math.max(1L, ctx.resultRows).toDouble),
        "sources.pinot.write_mb_per_s" -> {
          val ws = ctx.pinotWrites
          if (ws.isEmpty) 0.0 else ws.map(_._1).sum / 1e6 / (ws.map(_._2).sum / 1e3)
        },
        "sources.pinot.segments_written" ->
          per(ctx.pinotWrites.map(_._3.toLong).sum, math.max(1, loads.length).toDouble),
        "pinot.read_mb" -> per(s1.jvm.rchar - s0.jvm.rchar, ops) / 1e6)
      val trig = s1.trig - s0.trig
      // the near-dup counts are per pass over the family
      val dedup = args.workload == "llm_dedup"
      val passes = ops / Dedup.Pipelines.length
      Seq("triggerExecution" -> "trigger_ms", "addBatch" -> "add_batch_ms",
        "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms",
        "queryPlanning" -> "query_planning_ms", "getBatch" -> "get_batch_ms",
        "latestOffset" -> "latest_offset_ms").foreach { case (k, name) =>
        layer(s"streaming.$name") =
          per(s1.dur.getOrElse(k, 0L) - s0.dur.getOrElse(k, 0L), trig.toDouble)
      }
      layer("streaming.triggers") = trig / passes
      Dedup.Pipelines.foreach { case (short, q) => layer(s"queries.neardup.${short}_ms") = med(q) }
      val joins = s1.joins - s0.joins
      layer("queries.neardup.join_rows_out") = if (dedup) joins / passes else 0.0
      layer("queries.neardup.useful_ratio") =
        if (dedup && joins > 0) ctx.resultRows.toDouble / joins else 0.0
      val self = tracer.selfMs
      Seq("bench", "spark", "sources.pinot", "queries").foreach(l =>
        layer(s"$l.self_ms") = self.getOrElse(l, 0.0) / ops)
      wl.traceExtras(layer)
      // a workload that writes no segment never calls the codec
      Codec.MetricNames.foreach(layer.getOrElseUpdate(_, 0.0))
      writeTrace(args, tracer, layer, e2e)
    }

    val correct = ctx.failed == 0 && ctx.setupFailed == 0
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "scale" -> args.scale,
      "trace" -> args.trace, "threads" -> args.threads,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "commit" -> sys.props.getOrElse("graftbench.commit", "unknown"),
      "input_sha256" -> wl.inputDigest,
      "user_mb" -> wl.userBytes / 1e6, "stored_mb" -> wl.storedBytes / 1e6,
      "session_s" -> sessionS, "prepare_s" -> prepareS, "warm_up_s" -> warmUpS,
      "timed_s" -> timedS, "queries" -> ctx.queryMs.length,
      "query_ms_by_kind" -> ctx.queryMsByKind.map { case (k, v) => k -> Util.median(v.toSeq) },
      "failed_ratio" -> (if (ctx.attempted == 0) 0.0 else ctx.failed.toDouble / ctx.attempted),
      "setup_failed" -> ctx.setupFailed, "checks" -> wl.checkNotes,
      "end_to_end" -> e2e.map { case (k, (v, _)) => k -> v })
    println(Json(Map("record" -> record)))
    val metrics =
      if (args.trace) layer.map { case (k, v) => k -> Map("value" -> v, "unit" -> Units.of(k)) }
      else e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    println(Json(mutable.LinkedHashMap[String, Any]("correct" -> correct,
      "attempted" -> math.max(1L, ctx.attempted), "failed" -> ctx.failed,
      "metrics" -> metrics)))
    if (correct) 0 else 1
  }

  private def writeTrace(args: Args, tracer: Tracer, layer: collection.Map[String, Double],
      e2e: collection.Map[String, (Double, String)]): Unit =
    sys.props.get("graftbench.traceDir").foreach { d =>
      val dir = Files.createDirectories(Paths.get(d))
      val spans = tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "layer" -> s.layer, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      val doc = Map("workload" -> args.workload, "seed" -> args.seed,
        "self_ms" -> tracer.selfMs, "per_layer" -> layer,
        "end_to_end_traced" -> e2e.map { case (k, (v, _)) => k -> v }, "spans" -> spans)
      Files.writeString(dir.resolve(s"${args.workload}-seed${args.seed}.json"), Json(doc))
    }
}

/** Unit of each per-layer metric, from its name. */
object Units {
  def of(name: String): String = name match {
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_ns") || n.contains("_ns_per_value") => "ns"
    case n if n.endsWith("_mb_per_s") => "MB/s"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("_ratio") || n.endsWith("_per_result_row") => "ratio"
    case _ => "count"
  }
}
