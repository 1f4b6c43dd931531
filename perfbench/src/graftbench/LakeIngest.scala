package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.{IdentityTransform, Predicates => P, SchemaConv}
import graft.meta.{Catalog, CommitConflictException, FileCatalog, ManifestIO, PartitionSpec}
import graft.streaming.Ingest
import graft.table.IceTable

/** Streaming ingest beside batch writes and reads on one v3 table:
  *  - an open-loop generator makes one parquet batch visible in the source
  *    directory every `GenIntervalMs`, stamping its due time;
  *  - `Ingest.appendStream` appends each file (one per trigger);
  *  - a closed-loop writer runs seeded upserts and deletes on its own key
  *    range, with maintenance every `MaintEvery` commits, so two
  *    committers race through the catalog CAS;
  *  - a closed-loop reader refreshes and runs a seeded scan mix
  *    (`ReadKinds`), each read checked against the generator's model.
  * Every read follows new commits, so manifest reads are partly cold. The
  * table carries position, equality and deletion-vector deletes.
  */
object LakeIngest {
  val BatchRows = 200
  /** Below the rate the stream sustains: with the writer and reader running
    * on four cores a trigger takes about 0.7 s at the seed commit. At half
    * that rate (1.5 s) runs were noisier, and compaction could lose all its
    * CAS retries to the stream's commits.
    */
  val GenIntervalMs = 3000L
  val WarmBatches = 1
  val WriterBase = 1000000000L
  val WriterKeys = 2000
  val MaintEvery = 4
  /** The writer's operations, in this order; the seed picks keys and values. */
  val WriterCycle = Seq("upsert", "delete", "upsert", "delete_dv")
  val Parts = 2
  val ConflictRetries = 10
  val ReadKeys = 200
  val RangeRows = 400L
  val LimitRows = 20
  /** The reader's scan mix, run in this order round after round (the seed
    * picks only the keys, so every run reads the same mix): partition
    * point lookup, id range (pruned by file stats), full aggregate, time
    * travel to the oldest retained snapshot, projection + limit, and a
    * range of the writer's keys.
    */
  val ReadKinds = Seq("point", "range", "full", "travel", "limit", "writer")
  val DrainLimitNs = 30000000000L
  val TableName = "ingest"

  def streamRow(id: Long, seed: Long): Long = (id * 31 + seed) % 1000L
  def digest(id: Long, v: Long): Long = (id * 31 + v) % 1000000007L

  /** Everything one setup builds: catalog, table handles and the stream. */
  final class Rig(val catalog: Catalog, val staged: Path, val source: Path, val ckpt: String,
      val sink: IceTable, var query: StreamingQuery)

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val res = new Result(ctx.workload)
    val batches = (ctx.seconds * 1000 / GenIntervalMs).toInt + 2
    var rig: Rig = null
    Harness.setup(res) { rep =>
      if (rig != null) rig.query.stop()
      rig = build(ctx, rep, batches)
      // each writer operation and each read kind once, on a key outside
      // both models
      val t = IceTable.load(rig.catalog, TableName)
      val k = WriterBase - 1
      t.upsertCounted(spark, writerRows(spark, Seq(k), 0L), Seq("id"))
      t.deleteWhereDV(spark, P.in("id", Seq(k)))
      t.upsertCounted(spark, writerRows(spark, Seq(k), 0L), Seq("id"))
      t.deleteWhere(spark, P.and(P.gtEq("id", k), P.lt("id", k + 1)))
      ReadKinds.foreach(kind => read(spark, t, kind, 0, 0L, WriterBase, None))
    }

    val ops = new Ops
    val writerModel = scala.collection.mutable.Map[Long, Long]()
    (WriterBase until WriterBase + WriterKeys).foreach(k => writerModel(k) = 0L)
    val uncertain = scala.collection.mutable.Set[Long]()
    val created = new ConcurrentHashMap[Long, Long]() // generator batch -> due ms
    val committed = new ConcurrentHashMap[Long, Long]() // stream batch id -> commit ms
    val lateMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val dropped = new AtomicLong()
    val restarts = new AtomicLong()
    var cacheAtTrace = ManifestIO.manifestCacheStats
    var manifestsAtTrace = 0L
    val writerTable = IceTable.load(rig.catalog, TableName)

    def harvest(t: IceTable): Unit = t.metadata.snapshots.foreach { s =>
      s.summary.get(Ingest.StreamBatchIdKey).flatMap(_.toLongOption)
        .foreach(b => committed.putIfAbsent(b, s.timestampMs))
    }
    // a failed trigger stops the query; count it and restart from the
    // checkpoint, as a supervisor would
    def supervise(): Unit = if (!rig.query.isActive) {
      ops.recs.add(OpRec("stream", "restart", Trace.now(), Trace.now(), ok = false, Trace.on))
      restarts.incrementAndGet()
      rig.query = start(spark, rig)
    }

    val t0 = System.currentTimeMillis()
    val planStats = new PlanStats
    // the traced half starts midway
    val traced = Harness.measure(ctx, {
      cacheAtTrace = ManifestIO.manifestCacheStats
      manifestsAtTrace = manifestFiles(rig)
    }) { deadline =>
      val generator = Harness.thread("generator") {
        var b = 0
        while (b < batches && System.nanoTime() < deadline) {
          val due = t0 + b * GenIntervalMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          val f = rig.staged.resolve(f"b$b%05d.parquet")
          f.toFile.setLastModified(due)
          Files.move(f, rig.source.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
          created.put(b.toLong, due)
          lateMs.add((System.currentTimeMillis() - due).toDouble)
          dropped.incrementAndGet()
          supervise()
          b += 1
        }
      }

      val writer = Harness.thread("writer") {
        val rnd = new scala.util.Random(ctx.seed)
        var commits = 0
        while (System.nanoTime() < deadline) {
          // (name, keys touched, value upserted or None for a delete, commit)
          val (name, keys, value, body): (String, Seq[Long], Option[Long], IceTable => Unit) =
            WriterCycle(commits % WriterCycle.size) match {
              case "upsert" =>
                val ks = Seq.fill(40)(WriterBase + rnd.nextInt(WriterKeys)).distinct
                val v = rnd.nextInt(1000000).toLong
                ("upsert", ks, Some(v),
                  t => { t.upsertCounted(spark, writerRows(spark, ks, v), Seq("id")); () })
              case "delete" =>
                val from = WriterBase + rnd.nextInt(WriterKeys)
                ("delete", (from until from + 20).toSeq, None,
                  t => { t.deleteWhere(spark, P.and(P.gtEq("id", from), P.lt("id", from + 20))); () })
              case _ =>
                val ks = Seq.fill(10)(WriterBase + rnd.nextInt(WriterKeys)).distinct
                ("delete_dv", ks, None, t => { t.deleteWhereDV(spark, P.in("id", ks)); () })
            }
          ops.timed(spark, "commit", name)(withRetry(writerTable)(body(writerTable))) match {
            case Some(_) => value match {
              case Some(v) => keys.foreach(k => writerModel(k) = v)
              case None => keys.foreach(writerModel.remove)
            }
            case None => uncertain ++= keys
          }
          commits += 1
          if (commits % MaintEvery == 0 && System.nanoTime() < deadline) {
            val m = (commits / MaintEvery - 1) % 3
            ops.timed(spark, "maint", Seq("compact", "rewrite_manifests", "expire")(m)) {
              withRetry(writerTable) {
                m match {
                  case 0 => writerTable.compactSmallFiles(spark, smallerThanBytes = 1L << 20)
                  case 1 => writerTable.rewriteManifests()
                  case _ => writerTable.expireSnapshots(System.currentTimeMillis() - 5000, retainLast = 3)
                }
                ()
              }
            }
          }
        }
      }

      val reader = Harness.thread("reader") {
        val table = IceTable.load(rig.catalog, TableName)
        val rnd = new scala.util.Random(ctx.seed + 1)
        var reads = 0
        while (System.nanoTime() < deadline) {
          val kind = ReadKinds(reads % ReadKinds.size)
          reads += 1
          val part = rnd.nextInt(Parts)
          val streamed = (dropped.get + WarmBatches) * BatchRows
          val from = (rnd.nextDouble() * streamed).toLong
          val writerFrom = WriterBase + rnd.nextInt(WriterKeys - ReadKeys)
          ops.timed(spark, "read", kind) {
            table.refresh()
            read(spark, table, kind, part, from, writerFrom, if (Trace.on) Some(planStats) else None)
          }.foreach(got => checkRead(res, ctx.seed, kind, part, from, got))
          harvest(table)
        }
      }

      Seq(generator, writer, reader)
    }
    // epoch ms at which the traced half began
    val tracedFrom = traced.map(_.start / 1000000L).getOrElse(Long.MaxValue)
    val (h1, m1) = ManifestIO.manifestCacheStats

    // let the stream commit every batch made visible (bounded, so an
    // overloaded run still ends), then stop it; batches commit in order
    val drainStart = System.nanoTime()
    val visible = dropped.get + WarmBatches
    def drained = committed.keySet.asScala.maxOption.exists(_ >= visible - 1)
    var finalTable = IceTable.load(rig.catalog, TableName)
    harvest(finalTable)
    while (!drained && System.nanoTime() - drainStart < DrainLimitNs) {
      supervise()
      Thread.sleep(100)
      finalTable = IceTable.load(rig.catalog, TableName)
      harvest(finalTable)
    }
    res.extra("drain_ms") = Json.num((System.nanoTime() - drainStart) / 1e6)
    rig.query.stop()
    finalTable = IceTable.load(rig.catalog, TableName)
    harvest(finalTable)

    Harness.heap(res)
    Harness.readMetrics(res, ops)
    val commitOps = ops.ok("commit", traced = false)
    val commits = commitOps.map(_.ms)
    res.put("commit_p50_ms", Stats.median(commits), "ms")
    res.put("commit_p90_ms", Stats.pct(commits, 90), "ms")
    res.put("commits_per_s", Harness.rate(commitOps), "1/s")
    res.extra("commit_samples") = commits.size.toString
    val fresh = created.asScala.toSeq.sortBy(_._1).flatMap { case (b, due) =>
      Option(committed.get(b + WarmBatches)).map(c => (b, due, c))
    }
    val freshMs = fresh.filter(_._2 < tracedFrom).map(f => (f._3 - f._2).toDouble)
    res.put("freshness_p50_ms", Stats.median(freshMs), "ms")
    res.put("freshness_p90_ms", Stats.pct(freshMs, 90), "ms")
    res.extra("freshness_samples") = freshMs.size.toString
    res.extra("freshness_missing") = (created.size - fresh.size).toString
    res.extra("generator_late_p90_ms") = Json.num(Stats.pct(lateMs.asScala.toSeq.map(_.doubleValue), 90))
    res.extra("stream_restarts") = restarts.get.toString
    Harness.countOps(res, ops)
    res.put("bytes_per_row", Footprint.bytes(rig.catalog, TableName) /
      math.max(1L, rowCount(spark, finalTable)), "bytes")

    check(res, spark, finalTable, ctx.seed, visible, writerModel.toMap, uncertain.toSet)

    traced.foreach { t =>
      val c = rig.catalog.asInstanceOf[CountingCatalog]
      // task-level Spark counters would mix every client's work here; the
      // job split of reads is exact (jobs carry the reading operation's id)
      Harness.jvmLayers(res, ops, t, "read")
      val split = Harness.jobSplit(res, ops, t, "read", "table.df_build", Set("table.plan"))
      planStats.report(res, split)
      val n = math.max(1, ops.all.count(o => o.traced && o.ok)).toDouble
      Harness.metaCache(res, h1 - cacheAtTrace._1, m1 - cacheAtTrace._2, n)
      val loads = Trace.all.filter(_.name == "meta.load")
      res.put("meta.load_ms", Stats.mean(loads.map(_.ms)), "ms")
      res.put("meta.loads", loads.size / n, "count")
      val cas = Trace.all.filter(_.name == "meta.cas")
      res.put("meta.cas_ms", Stats.mean(cas.map(_.ms)), "ms")
      res.put("meta.commit_attempts", c.commits.sum.toDouble, "count")
      res.put("meta.commit_conflicts", c.conflicts.sum.toDouble, "count")
      res.put("meta.conflict_ratio", c.conflicts.sum.toDouble / math.max(1L, c.commits.sum), "ratio")
      writeLayers(res, ops, t)
      res.put("table.manifests_written", (manifestFiles(rig) - manifestsAtTrace).toDouble, "count")
      res.put("table.maintenance_ms", Stats.mean(ops.ok("maint", traced = true).map(_.ms)), "ms")
      streamLayers(res, t, fresh.filter(_._2 >= tracedFrom))
      Harness.selfTimes(res)
    }
    if (ctx.trace) {
      val meta = finalTable.metadata
      val metaFile = rig.catalog.metadataLocation(TableName, rig.catalog.currentVersion(TableName))
      res.put("meta.metadata_json_bytes", new java.io.File(stripScheme(metaFile)).length.toDouble,
        "bytes")
      res.put("meta.manifests_live", meta.currentSnapshot
        .map(s => ManifestIO.readManifestList(s.manifestList).size.toDouble).getOrElse(0.0), "count")
      val summary = meta.currentSnapshot.map(_.summary).getOrElse(Map.empty)
      res.put("table.live_data_files", summary.get("total-data-files").flatMap(_.toDoubleOption)
        .getOrElse(0.0), "count")
      res.put("table.live_delete_files", summary.get("total-delete-files").flatMap(_.toDoubleOption)
        .getOrElse(0.0), "count")
      val added = meta.snapshots.filter(_.timestampMs >= tracedFrom).map(_.summary)
      res.put("table.files_written", added.flatMap(_.get("added-data-files"))
        .flatMap(_.toDoubleOption).sum, "count")
      res.put("table.delete_files_written", added.flatMap(_.get("added-delete-files"))
        .flatMap(_.toDoubleOption).sum, "count")
    }
    res
  }

  /** Runs one read of the mix on `t` as of its current metadata; returns
    * (count, digest, highest batch) of the streamed rows it saw, or the
    * (id, v, gen) rows of a limit read.
    */
  private def read(spark: SparkSession, t: IceTable, kind: String, part: Int, from: Long,
      writerFrom: Long, stats: Option[PlanStats]): Seq[(Long, Long, Long)] = {
    val scan = kind match {
      case "point" => t.newScan(P.equalTo("part", part))
      case "range" => t.newScan(P.and(P.gtEq("id", from), P.lt("id", from + RangeRows)))
      case "travel" => t.newScan(snapshotId = t.metadata.snapshots.headOption.map(_.snapshotId))
      case "limit" => t.newScan(selected = Some(Seq("id", "v", "gen")), limit = Some(LimitRows))
      case "writer" => t.newScan(P.and(P.gtEq("id", writerFrom), P.lt("id", writerFrom + ReadKeys)))
      case _ => t.newScan()
    }
    stats.foreach(_.plan(scan, t))
    val df = Trace.span("table.df_build")(scan.toDF(spark))
    Trace.span("spark.collect")(kind match {
      case "limit" => df.limit(LimitRows).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .filter(_._1 < WriterBase - 1).toSeq
      case "writer" => df.agg(count(lit(1))).collect().toSeq.map(r => (r.getLong(0), 0L, 0L))
      case _ => df.where(col("id") < WriterBase - 1).agg(count(lit(1)),
          coalesce(sum(pmod(col("id") * 31 + col("v"), lit(1000000007L))), lit(0L)),
          coalesce(max(col("gen")), lit(-1L)))
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    })
  }

  /** Checks one read against the generator's model. Streamed rows are
    * immutable once committed, and batches commit in order, so a read that
    * saw batches up to `gen` must hold exactly the matching rows of gens
    * 0..gen. Reads of the writer's key range are checked only at the end.
    */
  private def checkRead(res: Result, seed: Long, kind: String, part: Int, from: Long,
      got: Seq[(Long, Long, Long)]): Unit = kind match {
    case "writer" =>
    case "limit" =>
      res.check(got.forall { case (id, v, gen) => v == streamRow(id, seed) && gen == id / BatchRows },
        s"lake_ingest limit read returned rows off the model: ${got.take(3)}")
    case _ =>
      val (n, d, gen) = got.head
      val all = 0L until (gen + 1) * BatchRows
      val ids = kind match {
        case "point" => all.filter(_ % Parts == part)
        case "range" => all.filter(id => id >= from && id < from + RangeRows)
        case _ => all
      }
      val expected = (ids.size.toLong, ids.map(id => digest(id, streamRow(id, seed))).sum)
      res.check((n, d) == expected, s"lake_ingest $kind read: expected $expected, got ($n, $d)")
  }

  private def writerRows(spark: SparkSession, keys: Seq[Long], v: Long): DataFrame = {
    import spark.implicits._
    keys.map(k => (k, (k % Parts).toInt, v, -1L, s"w$k")).toDF("id", "part", "v", "gen", "payload")
  }

  /** Retries `body` on CAS conflicts, refreshing the handle in between. */
  private def withRetry[A](t: IceTable)(body: => A): A = {
    var left = ConflictRetries
    while (true) {
      try return body
      catch {
        case _: CommitConflictException if left > 0 =>
          left -= 1
          t.refresh()
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def streamRows(spark: SparkSession, seed: Long, from: Long, until: Long): DataFrame =
    spark.range(from * BatchRows, until * BatchRows).toDF("id").select(
      col("id"), pmod(col("id"), lit(Parts.toLong)).cast("int").as("part"),
      pmod(col("id") * 31 + lit(seed), lit(1000L)).as("v"),
      (col("id") / BatchRows).cast("long").as("gen"),
      concat(lit("s"), col("id").cast("string")).as("payload"))

  /** Fresh warehouse, table and staged batches; starts the stream, runs
    * the warm-up batch through it, and backfills the writer's key range.
    */
  private def build(ctx: Ctx, rep: Int, batches: Int): Rig = {
    val spark = ctx.spark
    val root = Paths.get(ctx.work, s"ingest-$rep")
    val fc = new FileCatalog(root.resolve("wh").toString)
    val catalog = if (ctx.trace) new CountingCatalog(fc) else fc
    val schema = SchemaConv.fromSpark(streamRows(spark, ctx.seed, 0, 1).schema)
    IceTable.create(catalog, TableName, schema,
      PartitionSpec.of(0, ("part", IdentityTransform, "part"))(schema),
      Map("format-version" -> "3"))
    // every generator batch as one parquet file, written by one job
    val gen = root.resolve("gen")
    streamRows(spark, ctx.seed, 0, batches + WarmBatches)
      .repartition(batches + WarmBatches, col("gen"))
      .write.partitionBy("gen").parquet(gen.toString)
    val staged = Files.createDirectories(root.resolve("staged"))
    val source = Files.createDirectories(root.resolve("source"))
    (0 until batches + WarmBatches).foreach { g =>
      val dir = gen.resolve(s"gen=$g")
      val part = Files.list(dir).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val target = if (g < WarmBatches) source.resolve(f"w$g%05d.parquet")
        else staged.resolve(f"b${g - WarmBatches}%05d.parquet")
      Files.move(part, target)
      target.toFile.setLastModified(System.currentTimeMillis() - 60000L + g)
    }
    val sink = IceTable.load(catalog, TableName)
    val rig = new Rig(catalog, staged, source, root.resolve("ckpt").toString, sink, null)
    rig.query = start(spark, rig)
    rig.query.processAllAvailable()
    IceTable.load(catalog, TableName)
      .append(writerRows(spark, WriterBase until WriterBase + WriterKeys, 0L))
    rig
  }

  private def start(spark: SparkSession, rig: Rig): StreamingQuery = {
    val schema = streamRows(spark, 0, 0, 1).drop("gen").schema
    Ingest.appendStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(rig.source.toString)
        .withColumn("gen", (col("id") / BatchRows).cast("long"))
        .select("id", "part", "v", "gen", "payload"),
      rig.sink, rig.ckpt, Trigger.ProcessingTime(50L))
  }

  private def manifestFiles(rig: Rig): Long = {
    val dir = Paths.get(stripScheme(rig.catalog.tableLocation(TableName)), "metadata")
    val s = Files.list(dir)
    try s.iterator().asScala.count { p =>
      val n = p.getFileName.toString
      n.endsWith(".avro") && !n.startsWith("snap-")
    }.toLong
    finally s.close()
  }

  private def stripScheme(p: String): String = p.stripPrefix("file:")

  private def rowCount(spark: SparkSession, t: IceTable): Long =
    t.newScan().toDF(spark).count()

  /** The final table must hold every row of the `visible` streamed batches
    * once, and exactly the writer's model on its key range (keys touched by
    * a failed operation are left out, since its effect is unknown).
    */
  private def check(res: Result, spark: SparkSession, t: IceTable, seed: Long, visible: Long,
      model: Map[Long, Long], uncertain: Set[Long]): Unit = {
    val df = t.newScan().toDF(spark)
    val warmKey = WriterBase - 1
    val s = df.where(col("id") < warmKey)
      .agg(count(lit(1)), coalesce(sum(pmod(col("id") * 31 + col("v"), lit(1000000007L))), lit(0L)))
      .collect()(0)
    val ids = 0L until visible * BatchRows
    val expected = (ids.size.toLong, ids.map(id => digest(id, streamRow(id, seed))).sum)
    res.check((s.getLong(0), s.getLong(1)) == expected,
      s"lake_ingest streamed rows of $visible batches: expected $expected, " +
        s"got (${s.getLong(0)}, ${s.getLong(1)})")
    val got = df.where(col("id") >= WriterBase).select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    res.check(got.length == got.map(_._1).distinct.length, "lake_ingest duplicate writer keys")
    val gotMap = got.toMap.filter { case (k, _) => !uncertain(k) }
    val want = model.filter { case (k, _) => !uncertain(k) }
    res.check(gotMap == want,
      s"lake_ingest writer rows: ${(want.keySet -- gotMap.keySet).size} missing, " +
        s"${(gotMap.keySet -- want.keySet).size} extra, " +
        s"${want.count { case (k, v) => gotMap.get(k).exists(_ != v) }} changed")
    res.extra("uncertain_keys") = uncertain.size.toString
  }

  /** Write-path layers of the traced half: wall of each writer commit
    * minus its CAS time, and the Spark jobs it ran.
    */
  private def writeLayers(res: Result, ops: Ops, t: Harness.Traced): Unit = {
    val spans = Trace.all
    val roots = spans.filter(s => s.parent == 0 && s.name == "commit")
    val byOp = spans.groupBy(_.op)
    val jobs = t.layers.jobs.asScala.toSeq.groupBy(_.op)
    val walls = roots.map { r =>
      r.ms - byOp.getOrElse(r.id, Nil).filter(_.name == "meta.cas").map(_.ms).sum
    }
    res.put("table.write_ms", Stats.mean(walls), "ms")
    res.put("table.write_jobs", Stats.mean(roots.map(r => jobs.getOrElse(r.id, Nil).size.toDouble)),
      "count")
  }

  /** Trigger phases from the streaming listener, and the largest backlog of
    * batches made visible but not yet committed.
    */
  private def streamLayers(res: Result, t: Harness.Traced, fresh: Seq[(Long, Long, Long)]): Unit = {
    val l = t.layers
    val n = math.max(1L, l.triggers.sum).toDouble
    res.put("streaming.triggers", l.triggers.sum.toDouble, "count")
    res.put("streaming.rows_per_trigger", l.triggerRows.sum / n, "rows")
    res.put("streaming.trigger_ms", l.phase("stream.triggerExecution") / n, "ms")
    res.put("streaming.add_batch_ms", l.phase("stream.addBatch") / n, "ms")
    res.put("streaming.wal_commit_ms", l.phase("stream.walCommit") / n, "ms")
    res.put("streaming.latest_offset_ms", l.phase("stream.latestOffset") / n, "ms")
    res.put("streaming.query_planning_ms", l.phase("stream.queryPlanning") / n, "ms")
    val backlog = fresh.map { case (_, due, _) => fresh.count(f => f._2 <= due && f._3 > due) }
    res.put("streaming.backlog_files", backlog.maxOption.getOrElse(0).toDouble, "count")
  }
}

/** Bytes reachable from a table's current metadata: data and delete
  * files, manifests, the manifest list and the metadata JSON.
  */
object Footprint {
  def bytes(catalog: Catalog, name: String): Double = {
    val (version, meta) = catalog.loadVersioned(name)
    def size(p: String): Long = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(new org.apache.hadoop.conf.Configuration()).getFileStatus(path).getLen
    }
    val fileBytes = meta.currentSnapshot.toSeq.flatMap { snap =>
      val manifests = ManifestIO.readManifestList(snap.manifestList)
      val files = manifests.flatMap(mf => ManifestIO.readManifest(mf.path, meta.specs, meta.currentSchema)._2)
        .filter(_.status != graft.meta.ManifestEntryStatus.Deleted)
        .map(e => e.dataFile.filePath -> e.dataFile.fileSizeInBytes).toMap
      Seq(files.values.sum, manifests.map(_.length).sum, size(snap.manifestList))
    }.sum
    (fileBytes + size(catalog.metadataLocation(name, version))).toDouble
  }
}

/** Planning counters for the traced run. `planFiles` is called once more
  * before `toDF` (which plans again internally); its wall is the plan time,
  * and `table.df_build` minus it is the DataFrame build time.
  */
final class PlanStats {
  var scans = 0L
  var planNs = 0L
  var filesTotal = 0L
  var filesPlanned = 0L
  var deletesAttached = 0L

  def plan(scan: graft.table.IceScan, table: IceTable): Unit = synchronized {
    val t0 = System.nanoTime()
    val tasks = Trace.span("table.plan")(scan.planFiles())
    planNs += System.nanoTime() - t0
    scans += 1
    filesPlanned += tasks.size
    deletesAttached += tasks.map(t => t.deletes.size + t.eqDeletes.size + t.dvDeletes.size).sum
    filesTotal += table.currentSnapshot.flatMap(_.summary.get("total-data-files"))
      .flatMap(_.toLongOption).getOrElse(tasks.size.toLong)
  }

  /** `table.df_build` spans include toDF's own planning pass; the explicit
    * plan just before it stands in for that pass and is subtracted.
    */
  def report(res: Result, split: Seq[Harness.Split]): Unit = {
    val n = math.max(1L, scans).toDouble
    val planMs = planNs / 1e6 / n
    val buildMs = math.max(0.0, Stats.mean(split.map(_.build)) - planMs)
    res.put("table.plan_ms", planMs, "ms")
    res.put("table.files_total", filesTotal / n, "count")
    res.put("table.files_planned", filesPlanned / n, "count")
    res.put("table.prune_ratio",
      if (filesTotal > 0) 1.0 - filesPlanned.toDouble / filesTotal else 0.0, "ratio")
    res.put("table.deletes_attached", deletesAttached / n, "count")
    res.put("table.df_build_ms", buildMs, "ms")
    res.put("table.df_build_jobs", Stats.mean(split.map(_.buildJobs.toDouble)), "count")
    res.put("table.df_build_ms_per_file",
      if (filesPlanned > 0) buildMs * n / filesPlanned else 0.0, "ms")
  }
}
