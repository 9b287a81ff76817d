package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, md5}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types.TimestampType

import graft.streaming.{DocStreams, EventStreams}
import Harness._

/** Open-loop stream workload. A generator thread releases staged parquet
  * files (documents and events) into watched directories on a fixed
  * schedule; two streaming queries consume them:
  *  - docs:   incrementalDedup against a static reference set, then
  *            gopherAdmission (append);
  *  - events: EventStreams.windowedCounts (update).
  * Latency is measured per emitted document, from its file's scheduled
  * release to the end of the micro-batch that emits it. A drain phase then releases a
  * fixed backlog at once and times until both queries have committed it.
  */
object StreamLoad {
  val RatePerS = 10.0   // files per second in the open loop (each file: 4 docs + 20 events)
  val WarmFiles = 12
  val DrainFiles = 30
  val DrainReps = 5
  val DocsPerFile = 4
  val DocIdBase = 1000000L
  val MaxGenLateS = 1.0

  final case class Batch(query: String, id: Long, endNs: Long, ids: Seq[Long])

  def run(a: Args): String = {
    val staged = s"${a.data}/staged"
    val nFiles = new File(s"$staged/docs").list().count(_.endsWith(".parquet"))
    val live = s"${a.out}/live"
    val failures = mutable.ArrayBuffer[String]()
    val batches = new ConcurrentLinkedQueue[Batch]()
    val windowRows = mutable.Map[(Any, Any), Row]()
    val progress = new ConcurrentLinkedQueue[(String, org.apache.spark.sql.streaming.StreamingQueryProgress)]()

    var spark: SparkSession = null
    var queries: Seq[StreamingQuery] = Nil
    val builds, setups = mutable.ArrayBuffer[Double]()

    def start(rep: Int): Unit = {
      Seq("docs", "events").foreach(d => Files.createDirectories(Paths.get(s"$live/$d")))
      val docSchema = spark.read.parquet(s"$staged/docs/part-00000.parquet").schema
      val reference = spark.read.parquet(s"${a.data}/reference")
      val docs = spark.readStream.schema(docSchema).parquet(s"$live/docs")
      val kept = DocStreams.gopherAdmission(
        DocStreams.incrementalDedup(docs, reference, "doc_id", "text", "ts"), "doc_id", "text")
      val events = spark.readStream.schema(EventStreams.rawSchema(TimestampType))
        .parquet(s"$live/events")
      val counts = EventStreams.windowedCounts(events)
      val q1 = kept.writeStream.option("checkpointLocation", s"${a.out}/ckpt$rep/docs")
        .foreachBatch { (df: DataFrame, id: Long) =>
          val ids = df.select(col("doc_id")).collect().map(_.getLong(0)).toSeq
          batches.add(Batch("docs", id, System.nanoTime(), ids))
          ()
        }.queryName("docs").start()
      val q2 = counts.writeStream.outputMode("update")
        .option("checkpointLocation", s"${a.out}/ckpt$rep/events")
        .foreachBatch { (df: DataFrame, id: Long) =>
          val rows = df.collect()
          windowRows.synchronized(rows.foreach(r => windowRows((r.get(0), r.get(1))) = r))
          batches.add(Batch("events", id, System.nanoTime(), Nil))
          ()
        }.queryName("events").start()
      queries = Seq(q1, q2)
    }

    // -- set-up: session, inputs and query start, several times
    for (rep <- 0 until SetupReps) {
      if (spark != null) {
        queries.foreach(_.stop())
        stopSession(spark)
      }
      val t0 = System.nanoTime()
      spark = newSession(a.nproc)
      val t1 = System.nanoTime()
      start(rep)
      val t2 = System.nanoTime()
      builds += (t1 - t0) / 1e9
      setups += (t2 - t0) / 1e9
    }
    val meter = new StageMeter
    if (a.trace) spark.sparkContext.addSparkListener(meter)

    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add((e.progress.name, e.progress))
    })

    val released = mutable.ArrayBuffer[Int]()
    var releasedBytes = 0L
    def release(k: Int): Unit = {
      Seq("docs", "events").foreach { d =>
        val name = f"part-$k%05d.parquet"
        val dst = Paths.get(s"$live/$d/$name")
        Files.move(Paths.get(s"$staged/$d/$name"), dst, StandardCopyOption.ATOMIC_MOVE)
        Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
        releasedBytes += Files.size(dst)
      }
      released += k
    }
    def drainAll(): Unit = queries.foreach(_.processAllAvailable())

    // -- untimed warm phase
    val tw = System.nanoTime()
    (0 until WarmFiles).foreach(release)
    drainAll()
    val warmupS = (System.nanoTime() - tw) / 1e9

    // -- open loop at a fixed offered rate
    val nOpen = math.max(1, math.min((RatePerS * a.seconds).toInt, nFiles - WarmFiles - DrainFiles * DrainReps))
    val openFiles = WarmFiles until WarmFiles + nOpen
    val scheduled = mutable.Map[Int, Long]()
    val lateness = mutable.ArrayBuffer[Double]()
    val firstOpenBatch = batches.asScala.count(_.query == "docs")
    val progressMark = progress.size
    val t0 = System.nanoTime() + 100000000L
    val gen = new Thread(() => {
      openFiles.zipWithIndex.foreach { case (k, i) =>
        val at = t0 + (i / RatePerS * 1e9).toLong
        scheduled(k) = at
        val wait = at - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lateness += (System.nanoTime() - at) / 1e9
        release(k)
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val processedAtGenEnd = progress.asScala.filter(_._1 == "docs").map(_._2.numInputRows).sum
    val backlogRows = math.max(0L, released.size * DocsPerFile - processedAtGenEnd)
    drainAll()
    val openWallS = (System.nanoTime() - t0) / 1e9

    // latency: scheduled release of a file -> end of the batch emitting its docs
    val fileOf = (id: Long) => ((id - DocIdBase) / DocsPerFile).toInt
    val docBatches = batches.asScala.filter(_.query == "docs").toSeq
    val lat = docBatches.drop(firstOpenBatch).flatMap(b =>
      b.ids.map(fileOf).filter(scheduled.contains).map(k => (b.endNs - scheduled(k)) / 1e9))
    val openProgress = progress.asScala.toSeq.drop(progressMark)

    // -- drain: release a fixed backlog at once, time until committed
    val drains = mutable.ArrayBuffer[(Double, Double)]()
    var next = WarmFiles + nOpen
    for (_ <- 0 until DrainReps) {
      val b0 = releasedBytes
      val td = System.nanoTime()
      (next until next + DrainFiles).foreach(release)
      drainAll()
      val s = (System.nanoTime() - td) / 1e9
      drains += ((s, (releasedBytes - b0) / 1e6 / s))
      next += DrainFiles
    }

    // -- correctness: the stream's emitted set equals its batch twin's
    queries.foreach(_.stop())
    val files = released.toSeq.map(k => f"part-$k%05d.parquet")
    val allDocs = spark.read.parquet(files.map(f => s"$live/docs/$f"): _*)
    val fp = allDocs.select(col("doc_id"), md5(col("text")).as("fp")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val emitted = batches.asScala.toSeq.filter(_.query == "docs").flatMap(_.ids)
    // batch twin of incrementalDedup (every duplicate is inside its
    // watermark horizon): anti-join the reference fingerprints, keep one
    // document per fingerprint; then the same gopherAdmission
    val refFp = spark.read.parquet(s"${a.data}/reference").select(md5(col("text")).as("__fp"))
    val deduped = allDocs.withColumn("__fp", md5(col("text")))
      .join(refFp, Seq("__fp"), "left_anti").dropDuplicates("__fp").drop("__fp")
    val twinIds = DocStreams.gopherAdmission(deduped, "doc_id", "text")
      .select(col("doc_id")).collect().map(_.getLong(0))
    val emittedFps = emitted.map(fp)
    if (emittedFps.distinct.size != emittedFps.size)
      failures += s"stream emitted ${emittedFps.size - emittedFps.distinct.size} duplicate documents"
    if (emittedFps.toSet != twinIds.map(fp).toSet)
      failures += s"stream kept ${emittedFps.toSet.size} fingerprints, batch twin ${twinIds.map(fp).toSet.size}"

    val allEvents = spark.read.schema(EventStreams.rawSchema(TimestampType))
      .parquet(files.map(f => s"$live/events/$f"): _*)
    val twinWin = EventStreams.windowedCounts(allEvents).collect()
      .map(r => (r.get(0), r.get(1)) -> r).toMap
    if (twinWin.keySet != windowRows.keySet ||
        twinWin.exists { case (k, r) => r != windowRows(k) })
      failures += s"windowed counts differ from the batch twin (${windowRows.size} vs ${twinWin.size} windows)"
    val genLate = if (lateness.isEmpty) 0.0 else lateness.max
    if (genLate > MaxGenLateS) failures += f"generator ran $genLate%.3f s late (limit $MaxGenLateS s)"

    val layer = mutable.LinkedHashMap[String, Double]()
    if (a.trace) {
      org.apache.spark.PerfbenchBus.flush(spark.sparkContext)
      val tracer = new Tracer
      val root = tracer.add(0, "workload", "stream", tw, System.nanoTime())
      docBatches.foreach(b => tracer.add(root, "batch", b.query, b.endNs, b.endNs, blocking = false))
      Files.writeString(Paths.get(a.out, "spans.json"), tracer.json)
      def dur(k: String) = median(openProgress.filter(_._1 == "docs").map(p =>
        Option(p._2.durationMs.get(k)).map(_.toDouble / 1e3).getOrElse(0.0)))
      val tasks = meter.tasks.asScala.toSeq
      val busy = tasks.map(_.busyMs).sum / 1e3
      val state = openProgress.flatMap(_._2.stateOperators.toSeq)
      layer("session.build_s") = median(builds.toSeq)
      layer("warmup_s") = warmupS
      layer("stream.trigger_s") = dur("triggerExecution")
      layer("stream.plan_s") = dur("queryPlanning")
      layer("stream.add_batch_s") = dur("addBatch")
      layer("stream.commit_s") = dur("commitOffsets") + dur("walCommit")
      layer("stream.state_rows") = if (state.isEmpty) 0.0 else state.map(_.numRowsTotal).max.toDouble
      layer("stream.state_mb") = if (state.isEmpty) 0.0 else state.map(_.memoryUsedBytes).max / 1e6
      layer("stream.backlog_rows") = backlogRows.toDouble
      layer("stream.gen_late_s") = genLate
      layer("stream.latency_p90_s") = pct(lat, 0.9)
      layer("stream.drain_eps") = median(drains.map(d => DrainFiles * (DocsPerFile + 20) / d._1).toSeq)
      layer("stage.jobs") = meter.jobs.size.toDouble
      layer("stage.stages") = meter.stages.size.toDouble
      layer("stage.tasks") = tasks.size.toDouble
      layer("stage.task_busy_s") = busy
      layer("stage.cpu_s") = tasks.map(_.cpuNs).sum / 1e9
      layer("stage.gc_s") = tasks.map(_.gcMs).sum / 1e3
      layer("stage.core_util") = busy / (openWallS * a.nproc)
      layer("stage.shuffle_write_mb") = tasks.map(_.shWrite).sum / 1e6
      layer("stage.shuffle_read_mb") = tasks.map(_.shRead).sum / 1e6
      layer("stage.spill_mb") = tasks.map(_.spill).sum / 1e6
      layer("stage.failed_tasks") = tasks.count(_.failed).toDouble
      layer("sources.input_mb") = tasks.map(_.input).sum / 1e6
      layer("jvm.peak_heap_mb") = jvmPeakHeapMb
      layer("jvm.gc_s") = jvmGcS
    }
    val nBatches = batches.size
    stopSession(spark)
    Json.obj(
      "workload" -> "stream",
      "setup_s" -> median(setups.toSeq),
      "setup_samples" -> setups.toSeq,
      "warmup_s" -> warmupS,
      "end_to_end" -> Map(
        "run_s" -> median(drains.map(_._1).toSeq),
        "latency_p50_s" -> median(lat),
        "input_mb_s" -> median(drains.map(_._2).toSeq),
        "samples" -> lat.size.toDouble),
      "offered_files_per_s" -> RatePerS,
      "open_files" -> nOpen,
      "per_layer" -> layer.toMap,
      "attempted" -> nBatches,
      "failures" -> failures.toSeq,
      "ops" -> Seq("docs", "events"))
  }
}
