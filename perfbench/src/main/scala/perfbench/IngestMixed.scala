package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, date_format}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.VersionedStore
import graft.streaming.StreamingIngest
import Common._

/** `ingest-mixed`: an open-loop generator places stamped tick files on a
  * fixed schedule; a keep-latest-per-token upsert stream commits them
  * into a month-partitioned versioned table while two reader clients
  * read the latest committed version in a closed loop. */
object IngestMixed {
  val SetupReps = 3
  val Readers = 2
  val OpLimitS = 30.0
  /** Tick files placed during set-up (due at 0): one per commit path. */
  val SetupFiles = 2
  /** Files the saturated drain replays: enough for several batches,
    * few enough to keep the drain to seconds. */
  val DrainFiles = 40

  /** One staged tick file and when the schedule makes it due (ms after
    * the steady phase starts). */
  final case class Due(file: String, dueMs: Long)

  private def schedule(ticks: String): Seq[Due] =
    Files.readAllLines(Paths.get(ticks, "schedule.txt")).asScala.toSeq
      .filter(_.nonEmpty).map { l => val p = l.split(" "); Due(p(0), p(1).toLong) }

  /** Atomic placement: the file source never sees a partial file. */
  private def place(ticks: String, input: String, file: String): Unit = {
    val tmp = Paths.get(input, s".$file.tmp")
    Files.copy(Paths.get(ticks, file), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(input, file), StandardCopyOption.ATOMIC_MOVE): Unit
  }

  private def startStream(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
                          input: String, table: String, ckpt: String,
                          maxFiles: Option[Int]): StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    val src = maxFiles.fold(reader)(n => reader.option("maxFilesPerTrigger", n.toLong))
      .parquet(input).withColumn("ym", date_format(col("ts"), "yyyyMM"))
    StreamingIngest.sinkVersionedUpsertLatest(src, table, Seq("token_id"),
      Seq("ts", "event_id"), ckpt, partCol = Some("ym"))
  }

  /** file name → micro-batch id, from the file source's own log in the
    * checkpoint (plain and compacted log files both list `batchId`). */
  private def fileBatches(ckpt: String): Map[String, Long] = {
    val Entry = """"path":"([^"]+)".*?"batchId":([0-9]+)""".r
    val dir = new File(ckpt, "sources/0")
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith(".")).flatMap { f =>
      Files.readAllLines(f.toPath).asScala.flatMap(l => Entry.findFirstMatchIn(l))
        .map(m => new File(new java.net.URI(m.group(1)).getPath).getName -> m.group(2).toLong)
    }.toMap
  }

  /** Commit wall-clock time (epoch ms) of table version `v`. */
  private def commitMs(table: String, v: Long): Option[Long] =
    Seq(s"v$v.mlist", s"v$v.manifest").map(n => new File(s"$table/manifests", n))
      .find(_.exists()).map(_.lastModified())

  def run(a: RunArgs): Map[String, Any] = {
    val tracer = new Tracer(a.trace)
    val listener = if (a.trace) Some(new ExecListener) else None
    var spark: SparkSession = null
    var query: StreamingQuery = null
    val dog = new Watchdog(() => spark)
    def dead = spark == null || spark.sparkContext.isStopped
    val plan = schedule(a.ticks)
    var attempted = 0L
    val opSeq = new java.util.concurrent.atomic.AtomicLong
    var failed = 0L

    /** One reader operation: read the latest committed version. */
    def readLatest(table: String, group: String, traced: Boolean): (Boolean, Long) =
      try {
        val rows = inGroup(spark, dog, group, OpLimitS) {
          if (!traced) VersionedStore.read(spark, table).collect().length.toLong
          else tracer.span("op", group) {
            val df = tracer.span("plan.build", group)(VersionedStore.read(spark, table))
            tracer.span("plan.optimize", group)(df.queryExecution.executedPlan)
            tracer.span("exec", group)(df.collect().length.toLong)
          }
        }
        (true, rows)
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] read failed: ${e.getMessage}"); (false, 0L) }

    // ---- set-up: session start → stream started, its first two
    // versions committed, one read; SetupReps times on fresh tables
    val setupS = mutable.ArrayBuffer.empty[Double]
    var dirs: (String, String, String) = null
    var schema: org.apache.spark.sql.types.StructType = null
    for (rep <- 0 until SetupReps if !(rep > 0 && dead)) {
      if (query != null) { query.stop(); query = null }
      if (spark != null) { spark.stop(); spark = null }
      val base = s"${a.work}/ingest/rep$rep"
      dirs = (s"$base/input", s"$base/table", s"$base/ckpt")
      new File(dirs._1).mkdirs()
      val t0 = System.nanoTime()
      attempted += 3
      val ok = tracer.span("setup", s"setup$rep") {
        spark = session(a, listener)
        if (schema == null) schema = spark.read.parquet(s"${a.ticks}/${plan.head.file}").schema
        val limit = System.nanoTime() + (OpLimitS * 1e9).toLong
        def committed(v: Int): Boolean = {
          while (VersionedStore.currentVersion(dirs._2) < v && query.isActive &&
            System.nanoTime() < limit) Thread.sleep(5)
          VersionedStore.currentVersion(dirs._2) >= v
        }
        // both commit paths (the bootstrap write, then a keyed merge that
        // leaves delete vectors), then the read every steady read repeats
        place(a.ticks, dirs._1, plan.head.file)
        query = tracer.span("streaming.start", s"setup$rep")(
          startStream(spark, schema, dirs._1, dirs._2, dirs._3, None))
        committed(1) && {
          place(a.ticks, dirs._1, plan(1).file)
          committed(2)
        } && readLatest(dirs._2, s"s$rep:read_latest", a.trace)._1
      }
      if (!ok) failed += 3
      setupS += seconds(t0)
    }
    if (dead || query == null || !query.isActive)
      return Map("status" -> "setup-failed", "attempted" -> attempted, "failed" -> math.max(1L, failed))
    val (input, table, ckpt) = dirs

    // ---- steady: open-loop generator + closed-loop reader
    val placed = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
    val t0Ms = System.currentTimeMillis()
    val t0Ns = System.nanoTime()
    val horizon = a.seconds * 1000L
    val versionAtHorizon = new java.util.concurrent.atomic.AtomicInteger
    val gen = new Thread(() => {
      for (d <- plan.drop(SetupFiles) if d.dueMs < horizon && !dead) {
        val wait = d.dueMs - (System.nanoTime() - t0Ns) / 1000000L
        if (wait > 0) Thread.sleep(wait)
        place(a.ticks, input, d.file)
        placed.add((d.file, t0Ms + d.dueMs, (System.nanoTime() - t0Ns) / 1000000L - d.dueMs))
      }
      versionAtHorizon.set(VersionedStore.currentVersion(table))
    }, "perfbench-generator")
    gen.start()
    val rowsOf = mutable.Map.empty[String, Long]
    val readers = math.min(Readers, a.cores)
    val loop = closedLoop(readers, a.seconds, a.seed, Seq("read_latest"), () => dead) {
      (name, client, cycle) =>
        val traced = a.trace && cycle % 2 == 0
        val group = s"${if (traced) "t" else "u"}$client:$cycle:${opSeq.incrementAndGet()}:$name"
        val t0 = System.nanoTime()
        val (ok, rows) = readLatest(table, group, traced)
        rowsOf.synchronized(rowsOf(group) = rows)
        Sample(name, seconds(t0), ok, traced, group)
    }
    gen.join()
    val samples = loop.all
    val wallS = loop.wallS
    attempted += samples.size
    failed += samples.count(!_.ok)
    val placedFiles = placed.asScala.toSeq
    // drain what the generator placed, then stop the stream
    val drained = try { query.processAllAvailable(); true }
      catch { case e: Throwable => System.err.println(s"[perfbench] stream: ${e.getMessage}"); false }
    val progress = query.recentProgress.toSeq.filter(_.numInputRows > 0)
    query.stop()
    if (dead || !drained)
      return Map("status" -> "stream-failed", "attempted" -> attempted, "failed" -> math.max(1L, failed))
    val rowsPerFile = spark.read.parquet(s"${a.ticks}/${plan.head.file}").count()

    // freshness: each placed file's due time → commit of the version
    // that contains it (version = batch id + 1)
    val batchOf = fileBatches(ckpt)
    val fresh = placedFiles.flatMap { case (f, dueMs, _) =>
      batchOf.get(f).flatMap(b => commitMs(table, b + 1)).map(c => (c - dueMs) / 1000.0)
    }
    // every event of a file shares its due time, so each counts once
    val freshSamples = fresh.flatMap(x =>
      Seq.fill(rowsPerFile.toInt)(Sample("fresh", x, ok = true, traced = false, "")))
    val (fresh50, _) = percentile(freshSamples, 0.5, 0.0)
    val (fresh90, freshAbove90) = percentile(freshSamples, 0.9, 0.0)
    val genLag = placedFiles.map(_._3 / 1000.0)

    // ---- store shape at end of run
    val cur = VersionedStore.currentVersion(table)
    val liveFiles = VersionedStore.filesAsOf(table, cur)
    val rowsInFiles = spark.read.parquet(liveFiles.map(f => s"$table/$f"): _*).count()
    val final_ = VersionedStore.read(spark, table).drop("ym")
    val outDir = s"${a.work}/out"
    final_.coalesce(1).write.mode("overwrite").parquet(s"$outDir/ingest_final")
    val liveRows = spark.read.parquet(s"$outDir/ingest_final").count()
    val liveBytes = treeBytes(new File(s"$outDir/ingest_final"), _.getName.endsWith(".parquet"))
    val tableBytes = treeBytes(new File(table))
    val manifestBytes = treeBytes(new File(table), f => !f.getName.endsWith(".parquet") ||
      f.getPath.contains("/manifests/"))
    val dataBytes = tableBytes - manifestBytes
    val streamed = plan.take(SetupFiles).map(_.file) ++ placedFiles.map(_._1)
    val inputBytes = streamed
      .map(f => new File(s"${a.ticks}/$f").length()).sum
    Files.writeString(Paths.get(s"$outDir/ingest_files.txt"),
      streamed.mkString("\n"))

    // ---- saturated drain of the same files into a fresh table
    val drainBase = s"${a.work}/ingest/drain"
    new File(s"$drainBase/input").mkdirs()
    val drainFiles = streamed.take(DrainFiles)
    drainFiles.foreach(f => place(a.ticks, s"$drainBase/input", f))
    val perTrigger = math.max(1, (plan.size.toDouble / math.max(1L, plan.last.dueMs) * 1000).round.toInt)
    val td = System.nanoTime()
    val dq = startStream(spark, schema, s"$drainBase/input", s"$drainBase/table",
      s"$drainBase/ckpt", Some(perTrigger))
    val drainOk = try { dq.processAllAvailable(); true } catch { case _: Throwable => false }
    val drainS = seconds(td)
    val drainRows = dq.recentProgress.map(_.numInputRows).sum
    dq.stop()
    if (!drainOk) failed += 1

    val diskHits = graft.model.Views.diskHits.get
    val (memB, diskB) = residentBytes(spark)
    val gb = 1024.0 * 1024 * 1024
    val batchS = progress.flatMap(p => Option(p.durationMs.get("triggerExecution"))).map(_.toLong / 1000.0)
    val addS = progress.flatMap(p => Option(p.durationMs.get("addBatch"))).map(_.toLong / 1000.0)
    val batchSamples = batchS.map(x => Sample("batch", x, ok = true, traced = false, ""))
    val placedRows = streamed.size * rowsPerFile

    val e2e = Map(
      "setup_s" -> median(setupS.toSeq),
      "op_p50_s" -> percentile(samples, 0.5, OpLimitS)._1, "op_p90_s" -> percentile(samples, 0.9, OpLimitS)._1,
      "ops_per_s" -> loop.opsPerS,
      "failed_ratio" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted),
      "ingest_eps" -> (if (drainS > 0) drainRows / drainS else 0.0),
      "fresh_p50_s" -> fresh50, "fresh_p90_s" -> fresh90,
      "space_amp" -> tableBytes.toDouble / math.max(1L, liveBytes))
    val report = Map(
      "setup_reps_s" -> setupS.toSeq, "op_samples" -> samples.size,
      "op_samples_above_p90" -> percentile(samples, 0.9, OpLimitS)._2, "steady_wall_s" -> wallS,
      "fresh_samples" -> freshSamples.size, "fresh_samples_above_p90" -> freshAbove90,
      "files_placed" -> placedFiles.size, "rows_per_file" -> rowsPerFile,
      "events_per_s_offered" -> placedRows / (horizon / 1000.0),
      "drain_rows" -> drainRows, "drain_s" -> drainS, "drain_files_per_trigger" -> perTrigger,
      "versions" -> cur, "live_rows" -> liveRows, "rows_in_live_files" -> rowsInFiles,
      "table_bytes" -> tableBytes, "live_bytes" -> liveBytes,
      "readers" -> readers, "cores" -> a.cores, "heap" -> a.heap,
      "storage_pool_gb" -> storagePool(spark) / gb, "resident_gb" -> (memB + diskB) / gb,
      "mv_disk_gb" -> diskB / gb, "mv_disk_hits" -> diskHits)

    val layers: Map[String, Any] = listener match {
      case None => Map.empty
      case Some(l) =>
        Thread.sleep(1000)
        val traced = samples.filter(s => s.traced && s.ok)
        val scanned = traced.flatMap(s => l.get(s.group)).map(_.inRows).sum
        val returned = traced.map(s => rowsOf.getOrElse(s.group, 0L)).sum
        // stream batches and their sink commits as spans
        progress.foreach { p =>
          val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
          val startNs = t0Ns + (startMs - t0Ms) * 1000000L
          val total = Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L)
          val add = Option(p.durationMs.get("addBatch")).map(_.toLong).getOrElse(0L)
          val id = tracer.add("streaming.batch", startNs, startNs + total * 1000000L, 0, s"batch${p.batchId}")
          tracer.add("store.commit", startNs, startNs + add * 1000000L, id, s"batch${p.batchId}")
        }
        Layers.exec(l, traced.map(_.group), tracer, a.cores, attempted) ++
          Layers.overhead(samples) ++
          Layers.selfTimes(tracer) ++
          Map(
            "streaming.batch_p50_s" -> percentile(batchSamples, 0.5, 0.0)._1,
            "streaming.batch_p90_s" -> percentile(batchSamples, 0.9, 0.0)._1,
            "streaming.add_batch_s" -> median(addS),
            "streaming.batches" -> progress.size.toDouble,
            "streaming.input_rows" -> progress.map(_.numInputRows).sum.toDouble,
            "streaming.rows_per_s" -> progress.map(_.numInputRows).sum / wallS,
            "streaming.backlog_events" -> ((streamed.size -
              batchOf.count(_._2 + 1 <= versionAtHorizon.get)) * rowsPerFile).toDouble,
            "store.commit_s" -> median(addS),
            "store.write_amp" -> dataBytes.toDouble / math.max(1L, inputBytes),
            "store.dead_ratio" -> (1.0 - liveRows.toDouble / math.max(1L, rowsInFiles)),
            "store.files_per_version" -> liveFiles.size.toDouble,
            "store.manifest_bytes_per_commit" -> manifestBytes.toDouble / math.max(1, cur),
            "store.read_amp" -> scanned.toDouble / math.max(1L, returned),
            "client.gen_lag_s" -> percentile(genLag.map(x => Sample("lag", x, ok = true,
              traced = false, "")), 0.9, 0.0)._1,
            "ingest_eps" -> e2e("ingest_eps"), "fresh_p50_s" -> fresh50,
            "fresh_p90_s" -> fresh90, "space_amp" -> e2e("space_amp"))
    }
    dog.stop()
    spark.stop()
    Map("status" -> (if (diskHits > 0) "mv-disk-hit" else "ok"),
      "attempted" -> attempted, "failed" -> failed,
      "e2e" -> e2e, "report" -> report, "layers" -> layers, "spans" -> tracer.all)
  }
}
