package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.meta.{Catalog, CommitConflictException, TableMetadata}

/** One timed interval at a layer boundary. Times are nanoseconds on the
  * epoch clock, so they line up with Spark listener event times (ms).
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** Span recorder for the traced run. Off, every call is a plain call: the
  * untraced run pays one volatile read per boundary.
  */
object Trace {
  @volatile var on = false
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = base + System.nanoTime()

  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  // (span id, op id) of the innermost open span on this thread
  private val current = new ThreadLocal[(Long, Long)] {
    override def initialValue(): (Long, Long) = (0L, 0L)
  }
  val OpProperty = "graftbench.op"

  /** Opens a new operation: a root span with a fresh operation id. Spark
    * jobs started on this thread carry the id as a local property.
    */
  def op[A](spark: SparkSession, name: String)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(OpProperty)
      sc.setLocalProperty(OpProperty, id.toString)
      try record(name, id, id)(body)
      finally sc.setLocalProperty(OpProperty, prevProp)
    }

  /** A child span of the innermost open span on this thread. */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val (_, opId) = current.get()
      record(name, ids.incrementAndGet(), opId)(body)
    }

  private def record[A](name: String, id: Long, opId: Long)(body: => A): A = {
    val saved = current.get()
    current.set((id, opId))
    val t0 = now()
    try body
    finally {
      spans.add(Span(id, saved._1, opId, name, t0, now()))
      current.set(saved)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Self time per span name: each span's duration minus the union of its
    * children's intervals.
    */
  def selfMs(ss: Seq[Span]): Map[String, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = Intervals.union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
        (s.end - s.start - covered) / 1e6
      }.sum
    }
  }
}

object Intervals {
  /** Total length covered by possibly overlapping [start, end) intervals. */
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** A finished Spark job: epoch-ms interval and the operation that ran it
  * (0 when the job started on a thread without the property).
  */
final case class JobRec(start: Long, end: Long, op: Long, streaming: Boolean)

/** Spark-side counters for the traced run: jobs, task metrics, Catalyst
  * phases and streaming trigger phases, all from Spark's public listeners.
  */
final class SparkLayers extends SparkListener {
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Boolean)]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val taskMs = new LongAdder
  val taskCpuNs = new LongAdder
  val gcMs = new LongAdder
  val shuffleRecords = new LongAdder
  val shuffleBytes = new LongAdder
  val inputBytes = new LongAdder
  val phaseMs = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]()
  val triggers = new LongAdder
  val triggerRows = new LongAdder

  def addPhase(name: String, ms: Double): Unit =
    phaseMs.computeIfAbsent(name, _ => new DoubleAdder).add(ms)
  def phase(name: String): Double = Option(phaseMs.get(name)).map(_.sum).getOrElse(0.0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(Trace.OpProperty)))
      .flatMap(_.toLongOption).getOrElse(0L)
    val streaming = props.exists(_.getProperty("sql.streaming.queryId") != null)
    starts.put(e.jobId, (e.time, op, streaming))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(starts.remove(e.jobId)).foreach { case (t0, op, st) =>
      jobs.add(JobRec(t0, e.time, op, st))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Option(e.taskInfo).foreach(i => taskMs.add(i.duration))
    Option(e.taskMetrics).foreach { m =>
      taskCpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffleRecords.add(m.shuffleWriteMetrics.recordsWritten)
      shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      inputBytes.add(m.inputMetrics.bytesRead)
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (name, p) => addPhase(name, p.durationMs.toDouble) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        triggers.increment()
        triggerRows.add(p.numInputRows)
        p.durationMs.asScala.foreach { case (k, v) => addPhase("stream." + k, v.doubleValue) }
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    SparkBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}

/** Codegen and JVM GC counters, read as deltas around the traced phase. */
final case class JvmCounters(compiles: Long, compileNs: Long, gcMs: Long, gcCount: Long)

object JvmCounters {
  def read(): JvmCounters = {
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    JvmCounters(
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
      gcs.map(_.getCollectionTime).filter(_ >= 0).sum,
      gcs.map(_.getCollectionCount).filter(_ >= 0).sum)
  }
  def delta(a: JvmCounters, b: JvmCounters): JvmCounters =
    JvmCounters(b.compiles - a.compiles, b.compileNs - a.compileNs,
      b.gcMs - a.gcMs, b.gcCount - a.gcCount)

  /** Heap in use after forced full collections, in MiB. Spark's context
    * cleaner frees shuffle and broadcast state only after a collection has
    * cleared their references, so it gets a moment between the two.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }
}

/** Delegating catalog for the traced run: counts loads, commit attempts
  * and CAS conflicts, and records `meta.load` / `meta.cas` spans.
  */
final class CountingCatalog(inner: Catalog) extends Catalog {
  val loads = new LongAdder
  val commits = new LongAdder
  val conflicts = new LongAdder

  def tableLocation(name: String): String = inner.tableLocation(name)
  def tableExists(name: String): Boolean = inner.tableExists(name)
  def listTables(): Seq[String] = inner.listTables()
  def create(name: String, metadata: TableMetadata): TableMetadata =
    inner.create(name, metadata)
  def load(name: String): TableMetadata = {
    loads.increment(); Trace.span("meta.load")(inner.load(name))
  }
  def currentVersion(name: String): Int = inner.currentVersion(name)
  def loadVersioned(name: String): (Int, TableMetadata) = {
    loads.increment(); Trace.span("meta.load")(inner.loadVersioned(name))
  }
  def commit(name: String, expectedVersion: Int, metadata: TableMetadata): Int = {
    commits.increment()
    try Trace.span("meta.cas")(inner.commit(name, expectedVersion, metadata))
    catch { case e: CommitConflictException => conflicts.increment(); throw e }
  }
  def dropTable(name: String): Unit = inner.dropTable(name)
  override def commitCreate(name: String, metadata: TableMetadata): Unit =
    inner.commitCreate(name, metadata)
  override def metadataLocation(name: String, version: Int): String =
    inner.metadataLocation(name, version)
  override def registerTable(name: String, metadataLocation: String): TableMetadata =
    inner.registerTable(name, metadataLocation)
  def renameTable(from: String, to: String): Unit = inner.renameTable(from, to)
  def readMetadataFile(path: String): String = inner.readMetadataFile(path)
  def deleteMetadataBefore(name: String, beforeVersion: Int): Unit =
    inner.deleteMetadataBefore(name, beforeVersion)
}
