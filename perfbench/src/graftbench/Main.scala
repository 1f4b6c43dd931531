package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the command line. `work` is a scratch
  * directory private to this run; `data` holds generated input tables.
  */
final case class Ctx(spark: SparkSession, workload: String, seed: Long,
    seconds: Double, trace: Boolean, work: String, data: String)

/** One attempted operation. Failed operations are kept for the count only. */
final case class OpRec(kind: String, name: String, start: Long, end: Long,
    ok: Boolean, traced: Boolean) {
  def ms: Double = (end - start) / 1e6
}

/** Metrics, counts and correctness findings of one run, written as JSON. */
final class Result(val workload: String) {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val mismatches = mutable.ArrayBuffer[String]()
  val extra = mutable.LinkedHashMap[String, String]() // name -> raw JSON
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (if (value.isNaN || value.isInfinite) 0.0 else value, unit)

  def check(ok: Boolean, what: => String): Unit = if (!ok) synchronized(mismatches += what)

  def toJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val ex = extra.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    s"""{"workload":${Json.str(workload)},"attempted":$attempted,"failed":$failed,""" +
      s""""mismatches":${mismatches.map(Json.str).mkString("[", ",", "]")},""" +
      s""""metrics":$ms,"extra":$ex}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Operation log shared by a workload's client threads. */
final class Ops {
  val recs = new ConcurrentLinkedQueue[OpRec]()

  /** Runs `body` as one operation. An exception is counted as a failure,
    * logged to stderr, and never timed.
    */
  def timed[A](spark: SparkSession, kind: String, name: String)(body: => A): Option[A] = {
    val traced = Trace.on
    val t0 = Trace.now()
    try {
      val a = Trace.op(spark, kind)(body)
      recs.add(OpRec(kind, name, t0, Trace.now(), ok = true, traced))
      Some(a)
    } catch {
      case NonFatal(e) =>
        recs.add(OpRec(kind, name, t0, Trace.now(), ok = false, traced))
        System.err.println(s"[graftbench] $kind $name failed: ${e.toString.take(400)}")
        None
    }
  }

  def all: Seq[OpRec] = recs.asScala.toSeq

  def ok(kind: String, traced: Boolean): Seq[OpRec] =
    all.filter(r => r.kind == kind && r.ok && r.traced == traced)
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opts("work")
    Files.createDirectories(Paths.get(work))
    val spark = GraftSessionFactory.create(work)
    val ctx = Ctx(spark, opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", work, opts.getOrElse("data", ""))
    def stopStreams(): Unit =
      spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => })
    val res = try ctx.workload match {
      case "query_board" => QueryBoard.run(ctx)
      case "lake_ingest" => LakeIngest.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case NonFatal(e) =>
        // no result is written; stopping Spark lets the JVM exit at once
        stopStreams()
        spark.stop()
        throw e
    }
    stopStreams()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    res.extra("jvm_s") = Json.num((System.currentTimeMillis() - jvmStart) / 1e3)
    Files.writeString(Paths.get(opts("out")), res.toJson)
    if (ctx.trace) Harness.writeSpans(s"$work/spans.jsonl")
    spark.stop()
  }
}

object GraftSessionFactory {
  /** The session every workload runs on: four local cores, and all Spark
    * scratch space inside the run's own directory.
    */
  def create(work: String): SparkSession = {
    val spark = graft.GraftSession.prepare(SparkSession.builder()
      .master("local[4]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Measurement scaffolding shared by the workloads. */
object Harness {
  val SetupReps = 3

  /** Runs `once(rep)` SetupReps times, each building the workload's
    * fixtures and tables afresh and warming every operation of the mix on
    * them; the last build is the one the timed phase uses. setup_s is the
    * median: the first repetition also pays the JVM's and Spark's
    * first-touch costs (class loading, JIT, codegen), which the median
    * leaves out, while work a build or its warm-up does shows in every one.
    */
  def setup(res: Result)(once: Int => Unit): Unit = {
    val reps = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      once(rep)
      (System.nanoTime() - t0) / 1e9
    }
    res.put("setup_s", Stats.median(reps), "s")
    res.extra("setup_reps_s") = reps.map(Json.num).mkString("[", ",", "]")
  }

  /** Counters of the traced half of a run. */
  final class Traced(val layers: SparkLayers, val jvm: JvmCounters, val start: Long) {
    var end = 0L
    var jvmDelta: JvmCounters = JvmCounters(0, 0, 0, 0)
  }

  /** Runs the timed phase: `clients(deadline)` starts the workload's
    * client threads, which loop until `deadline` (System.nanoTime). With
    * tracing, the first half runs untraced; at the midpoint `beforeTrace`
    * runs and tracing starts. An operation belongs to the half it starts
    * in; the Spark counters of an operation in flight at the switch land in
    * the traced half. Returns the traced half's counters once every client
    * has ended, or throws what ended a client early.
    */
  def measure(ctx: Ctx, beforeTrace: => Unit = ())(clients: Long => Seq[Thread]): Option[Traced] = {
    val start = System.nanoTime()
    val total = (ctx.seconds * 1e9).toLong
    val threads = clients(start + total)
    val traced = if (!ctx.trace) None else {
      val waitMs = (start + total / 2 - System.nanoTime()) / 1000000L
      if (waitMs > 0) Thread.sleep(waitMs)
      beforeTrace
      Some(startTrace(ctx.spark))
    }
    threads.foreach(_.join())
    traced.foreach(stopTrace(ctx.spark, _))
    Option(clientFailures.poll()).foreach(e => throw e)
    traced
  }

  private val clientFailures = new ConcurrentLinkedQueue[Throwable]()

  /** A started daemon thread running `body`; what it throws is rethrown by
    * `measure`.
    */
  def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, s"graftbench-$name")
    t.setDaemon(true)
    t.setUncaughtExceptionHandler((_, e) => clientFailures.add(e))
    t.start()
    t
  }

  private def startTrace(spark: SparkSession): Traced = {
    org.apache.spark.SparkBus.drain(spark.sparkContext)
    val layers = new SparkLayers
    layers.attach(spark)
    val t = new Traced(layers, JvmCounters.read(), Trace.now())
    Trace.on = true
    t
  }

  private def stopTrace(spark: SparkSession, t: Traced): Unit = {
    Trace.on = false
    t.end = Trace.now()
    t.jvmDelta = JvmCounters.delta(t.jvm, JvmCounters.read())
    t.layers.detach(spark)
  }

  /** Completed operations per second over the interval they span. */
  def rate(rs: Seq[OpRec]): Double =
    if (rs.size < 2) 0.0 else rs.size / ((rs.map(_.end).max - rs.map(_.start).min) / 1e9)

  /** End-to-end read metrics from untraced reads. */
  def readMetrics(res: Result, ops: Ops): Unit = {
    val reads = ops.ok("read", traced = false)
    res.put("query_p50_ms", Stats.median(reads.map(_.ms)), "ms")
    res.put("query_p90_ms", Stats.pct(reads.map(_.ms), 90), "ms")
    res.put("queries_per_s", rate(reads), "1/s")
    res.extra("read_samples") = reads.size.toString
    res.extra("read_ms") = reads.sortBy(_.start).map(r => Json.num(r.ms)).mkString("[", ",", "]")
  }

  def countOps(res: Result, ops: Ops): Unit = {
    res.extra("ops") = ops.all.groupBy(r => s"${r.kind}.${r.name}").toSeq.sortBy(_._1).map {
      case (k, rs) =>
        val ok = rs.filter(_.ok)
        s"""${Json.str(k)}:{"ok":${ok.size},"failed":${rs.size - ok.size},""" +
          s""""p50_ms":${Json.num(if (ok.isEmpty) 0.0 else Stats.median(ok.map(_.ms)))}}"""
    }.mkString("{", ",", "}")
    res.attempted = ops.all.size.toLong
    res.failed = ops.all.count(!_.ok).toLong
    res.put("failed_ratio", res.failed.toDouble / math.max(1L, res.attempted), "ratio")
  }

  /** Spark, JVM and trace-overhead metrics of the traced half, as means
    * over its operations of kind `opKind`.
    */
  def sparkLayers(res: Result, ops: Ops, t: Traced, opKind: String): Unit = {
    val l = t.layers
    val traced = ops.ok(opKind, traced = true)
    val n = math.max(1, traced.size).toDouble
    val jobs = l.jobs.asScala.toSeq
      .filter(j => j.start * 1000000L >= t.start && j.start * 1000000L <= t.end)
    val jobWall = Intervals.union(jobs.map(j => (j.start, j.end))).toDouble
    res.put("spark.analysis_ms", l.phase("analysis") / n, "ms")
    res.put("spark.optimization_ms", l.phase("optimization") / n, "ms")
    res.put("spark.planning_ms", l.phase("planning") / n, "ms")
    res.put("spark.codegen_compiles", t.jvmDelta.compiles / n, "count")
    res.put("spark.codegen_ms", t.jvmDelta.compileNs / 1e6 / n, "ms")
    res.put("spark.task_ms", l.taskMs.sum / n, "ms")
    res.put("spark.task_cpu_ms", l.taskCpuNs.sum / 1e6 / n, "ms")
    res.put("spark.gc_ms", l.gcMs.sum / n, "ms")
    res.put("spark.cores_busy", if (jobWall > 0) l.taskMs.sum / jobWall else 0.0, "cores")
    res.put("spark.shuffle_records", l.shuffleRecords.sum / n, "count")
    res.put("spark.shuffle_bytes", l.shuffleBytes.sum / n, "bytes")
    res.put("spark.input_bytes", l.inputBytes.sum / n, "bytes")
    jvmLayers(res, ops, t, opKind)
  }

  /** GC rates of the traced half, and its read p50 over the untraced one. */
  def jvmLayers(res: Result, ops: Ops, t: Traced, opKind: String): Unit = {
    val sec = (t.end - t.start) / 1e9
    res.put("jvm.gc_ms", t.jvmDelta.gcMs / sec, "ms/s")
    res.put("jvm.gc_count", t.jvmDelta.gcCount / sec, "1/s")
    val traced = ops.ok(opKind, traced = true)
    val untraced = Stats.median(ops.ok(opKind, traced = false).map(_.ms))
    val tracedP50 = Stats.median(traced.map(_.ms))
    res.put("trace.overhead_ratio", if (untraced > 0) tracedP50 / untraced else 0.0, "ratio")
  }

  /** Wall split of one traced operation. */
  final case class Split(name: String, wall: Double, build: Double, jobWall: Double,
      gap: Double, overlap: Double, buildJobs: Int, jobs: Int)

  /** Splits each traced operation of a single-client loop into the time
    * spent in `buildSpan` (DataFrame construction), in the union of Spark
    * jobs started after it, and the rest (driver gap), so that
    * build + job_wall + gap = wall. Spans named in `traceOnly` (work only
    * the traced run does) and the jobs they start are left out of the
    * wall. Jobs are matched to an operation by its local property, or by
    * time for jobs started from pool threads that do not inherit it.
    */
  def jobSplit(res: Result, ops: Ops, t: Traced, opKind: String, buildSpan: String,
      traceOnly: Set[String] = Set.empty): Seq[Split] = {
    val spans = Trace.all
    val roots = spans.filter(s => s.parent == 0 && s.name == opKind)
    val byOp = spans.groupBy(_.op)
    val jobs = t.layers.jobs.asScala.toSeq.filter(!_.streaming)
      .map(j => (j, j.start * 1000000L, j.end * 1000000L))
    val recs = ops.all.filter(r => r.kind == opKind && r.ok && r.traced).sortBy(_.start)
    val rows = recs.flatMap(rec => roots.find(r => r.start >= rec.start && r.end <= rec.end)
      .map(root => (rec.name, root))).map { case (name, root) =>
      val mine = byOp.getOrElse(root.id, Nil)
      def within(ss: Seq[Span], at: Long) = ss.exists(s => at >= s.start && at <= s.end)
      val builds = mine.filter(_.name == buildSpan)
      val skipped = mine.filter(s => traceOnly(s.name))
      val opJobs = jobs.filter { case (j, s, _) =>
        (j.op == root.id || (j.op == 0 && s >= root.start - 1000000L && s <= root.end)) &&
          !within(skipped, s)
      }
      val (inBuild, after) = opJobs.partition { case (_, s, _) => within(builds, s) }
      val buildNs = builds.map(s => s.end - s.start).sum
      val buildEnd = builds.map(_.end).maxOption.getOrElse(root.start)
      val clipped = after.map { case (_, s, e) => (math.max(s, buildEnd), math.min(e, root.end)) }
      val union = Intervals.union(clipped)
      val sum = clipped.map(c => math.max(0L, c._2 - c._1)).sum
      val wall = root.end - root.start - skipped.map(s => s.end - s.start).sum
      Split(name, wall / 1e6, buildNs / 1e6, union / 1e6, (wall - buildNs - union) / 1e6,
        (sum - union) / 1e6, inBuild.size, opJobs.size)
    }
    val n = math.max(1, rows.size).toDouble
    res.put("spark.jobs", rows.map(_.jobs).sum / n, "count")
    res.put("spark.job_wall_ms", rows.map(_.jobWall).sum / n, "ms")
    res.put("spark.driver_gap_ms", rows.map(_.gap).sum / n, "ms")
    res.put("spark.job_overlap_ms", rows.map(_.overlap).sum / n, "ms")
    res.extra(s"${opKind}_split") = rows.map { r =>
      s"""{"name":${Json.str(r.name)},"wall_ms":${Json.num(r.wall)},"build_ms":${Json.num(r.build)},""" +
        s""""job_wall_ms":${Json.num(r.jobWall)},"driver_gap_ms":${Json.num(r.gap)},""" +
        s""""job_overlap_ms":${Json.num(r.overlap)}}"""
    }.mkString("[", ",", "]")
    rows
  }

  def metaCache(res: Result, hits: Long, misses: Long, n: Double): Unit = {
    res.put("meta.manifest_cache_hits", hits / n, "count")
    res.put("meta.manifest_cache_misses", misses / n, "count")
    res.put("meta.manifest_cache_hit_ratio",
      if (hits + misses > 0) hits.toDouble / (hits + misses) else 0.0, "ratio")
  }

  def selfTimes(res: Result): Unit =
    res.extra("self_ms") = Trace.selfMs(Trace.all).toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")

  def writeSpans(path: String): Unit = {
    val lines = Trace.all.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""")
    Files.write(Paths.get(path), lines.asJava)
  }

  def heap(res: Result): Unit = res.put("heap_retained_mb", JvmCounters.retainedHeapMb(), "MiB")
}
