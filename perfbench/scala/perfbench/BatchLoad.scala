package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.sources.Tables
import graft.functions.{Sketches, TextFunctions, VectorFunctions}
import graft.operators.{Dedup, Similarity}
import Harness._

/** Closed-loop batch workload (analytics, curation): one client runs
  * untimed warm passes, then seed-shuffled timed passes over the workload's
  * ops until `seconds` have elapsed and at least MinPasses are done. With
  * tracing on, the timed budget is split: untraced passes first, then
  * traced passes, so the tracing overhead is measured in the same JVM.
  */
final class BatchLoad(a: Args) {
  private val opList = ops(a.workload)
  private val dumpDir = s"${a.out}/dumps"
  private val writeDir = s"${a.out}/writes"
  private val epochOffNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def msToNs(ms: Long): Long = ms * 1000000L - epochOffNs

  private var spark: SparkSession = _
  private val tracer = new Tracer
  private val meter = new StageMeter
  private var opSeq = 0
  private var attempted = 0
  private val failures = mutable.ArrayBuffer[String]()

  /** One execution of one op. */
  final case class Exec(op: Op, group: String, latencyS: Double, buildS: Double,
                        optimizeS: Double, spanId: Int,
                        execSpanId: Int, rows: Array[Row], schema: StructType,
                        census: Map[String, Int])

  private def exec(op: Op, traced: Boolean, rootSpan: Int, canaryMs: Int = 0): Exec = {
    opSeq += 1
    attempted += 1
    val group = s"op#$opSeq"
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    sc.setJobGroup(group + ":build", op.name, false)
    val df = op.build(spark, a.data)
    val t1 = System.nanoTime()
    sc.setJobGroup(group, op.name, false)
    if (traced) df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    val rows =
      if (op.writes) {
        df.write.mode("overwrite").parquet(s"$writeDir/${op.name}")
        null
      } else df.collect()
    if (canaryMs > 0) {
      val n = a.nproc
      val ms = canaryMs
      sc.parallelize(0 until n, n).foreach { _ =>
        val end = System.nanoTime() + ms * 1000000L
        while (System.nanoTime() < end) {}
      }
    }
    val t3 = System.nanoTime()
    sc.clearJobGroup()
    var spanId, execId = 0
    var census = Map.empty[String, Int]
    if (traced) {
      spanId = tracer.add(rootSpan, "op", op.name, t0, t3)
      tracer.add(spanId, "entry.build", op.name, t0, t1)
      tracer.add(spanId, "plan.optimize", op.name, t1, t2)
      execId = tracer.add(spanId, "execute", op.name, t2, t3)
      census = PlanCensus.of(df)
    }
    val (out, schema) =
      if (op.writes) {
        val back = spark.read.parquet(s"$writeDir/${op.name}")
        (back.collect(), back.schema)
      } else (rows, df.schema)
    Exec(op, group, (t3 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
      spanId, execId, out, schema, census)
  }

  private val reference = mutable.Map[String, (Long, Int)]()

  private def verify(e: Exec): Unit = {
    val c = checksum(e.rows)
    if (!reference.get(e.op.name).contains(c)) {
      failures += s"${e.op.name}: result digest $c differs from the warm pass ${reference.get(e.op.name)}"
    }
  }

  /** Passes until `budgetS` has elapsed and at least `minPasses` are done. */
  private def timedPasses(budgetS: Double, minPasses: Int, traced: Boolean, root: Int,
                          rng: scala.util.Random): (Seq[Exec], Int, Double) = {
    val execs = mutable.ArrayBuffer[Exec]()
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < minPasses || (System.nanoTime() - t0) / 1e9 < budgetS) {
      rng.shuffle(opList).foreach { op =>
        val e = exec(op, traced, root)
        verify(e)
        execs += e
      }
      passes += 1
    }
    (execs.toSeq, passes, (System.nanoTime() - t0) / 1e9)
  }

  /** One pass is the sum of each op's median timed latency; the latency
    * median is that of the median op. A median pooled over all executions
    * falls between the latency clusters of neighbouring ops and jumps with
    * single executions. No higher percentile is reported: a run's 15-28
    * timed executions leave fewer than ten samples beyond a p90.
    */
  private def endToEnd(execs: Seq[Exec]): Map[String, Double] = {
    val perOp = execs.groupBy(_.op.name).values.map(es => median(es.map(_.latencyS))).toSeq
    Map(
      "run_s" -> perOp.sum,
      "latency_p50_s" -> median(perOp),
      "samples" -> execs.size.toDouble)
  }

  def run(): String = {
    // -- set-up: build the session and open the inputs, several times
    val builds = mutable.ArrayBuffer[Double]()
    val setups = mutable.ArrayBuffer[Double]()
    for (i <- 0 until SetupReps) {
      if (spark != null) stopSession(spark)
      val t0 = System.nanoTime()
      spark = newSession(a.nproc)
      val t1 = System.nanoTime()
      tables(a.workload).foreach(t => openTable(spark, a.data, t).schema)
      val t2 = System.nanoTime()
      builds += (t1 - t0) / 1e9
      setups += (t2 - t0) / 1e9
    }
    if (a.trace) spark.sparkContext.addSparkListener(meter)
    val rootStart = System.nanoTime()

    // -- untimed warm-up: the first pass sets the reference digests and
    // writes the oracle dumps; later warm passes are checked against it
    val tw = System.nanoTime()
    opList.foreach { op =>
      val e = exec(op, traced = false, 0)
      reference(op.name) = checksum(e.rows)
      spark.createDataFrame(e.rows.toSeq.asJava, e.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dumpDir/${op.name}")
    }
    for (_ <- 1 until warmPasses(a.workload)) opList.foreach(op => verify(exec(op, traced = false, 0)))
    val warmupS = (System.nanoTime() - tw) / 1e9

    // -- timed phase
    val rng = new scala.util.Random(a.seed)
    // a traced run splits the budget and the minimum passes between halves
    val (budget, need) = if (a.trace) (a.seconds / 2, (MinPasses + 1) / 2) else (a.seconds, MinPasses)
    val (plain, plainPasses, plainWall) = timedPasses(budget, need, traced = false, 0, rng)
    val e2e = endToEnd(plain)

    val layer = mutable.LinkedHashMap[String, Double]()
    if (a.trace) {
      val root = tracer.reserve()
      val (traced, passes, wall) = timedPasses(budget, need, traced = true, root, rng)
      layer ++= layerMetrics(traced, passes, wall, e2e, builds.toSeq, warmupS)
      layer ++= probes()
      layer ++= canarySelfTest(root)
      tracer.add(0, "workload", a.workload, rootStart, System.nanoTime(), id = root)
      org.apache.spark.PerfbenchBus.flush(spark.sparkContext)
      Files.writeString(Paths.get(a.out, "spans.json"), tracer.json)
    }
    val n = attempted
    stopSession(spark)
    Json.obj(
      "workload" -> a.workload,
      "setup_s" -> median(setups.toSeq),
      "setup_samples" -> setups.toSeq,
      "warmup_s" -> warmupS,
      "passes" -> plainPasses,
      "timed_wall_s" -> plainWall,
      "end_to_end" -> e2e,
      "timed_execs" -> plain.map(e => Seq(e.op.name, e.latencyS)),
      "per_layer" -> layer.toMap,
      "attempted" -> n,
      "failures" -> failures.toSeq,
      "ops" -> opList.map(_.name),
      "oracle_sql" -> opList.flatMap(o => SparkEntry.oracleSql.get(o.name).map(o.name -> _)).toMap,
      "oracle_stages" -> opList.flatMap(o => SparkEntry.oracleStages.get(o.name).map(ss =>
        o.name -> Json.Raw(Json.arr(ss.map(s => Json.obj(
          "name" -> s.name, "shards" -> s.shards, "sql" -> s.sql)))))).toMap)
  }

  private val families = Seq("mapreduceops", "relational", "dedup", "similarity",
    "textanalysis", "scoring", "curation", "links", "graph")
  private val namedHeavies = Seq("q21_sole_late_supplier", "q1_pricing_summary",
    "mr_inverted_index", "curation_pipeline", "crawl_pipeline", "host_reputation",
    "ngram_lm_backoff", "exact_substr_dedup", "dedup_minhash", "semantic_clusters",
    "semantic_dedup", "dedup_embedding", "knn_ivf_trained", "knn_ivfpq_refine")

  private def groupOf(g: String): String = g.takeWhile(_ != ':')

  private def children: Map[Int, Seq[Span]] = tracer.all.groupBy(_.parent)

  /** Task metrics per op execution, by job group. */
  private def tasksOf(groups: Set[String]) =
    meter.tasks.asScala.toSeq.filter(t => groups.contains(groupOf(t.group)))

  private def layerMetrics(execs: Seq[Exec], passes: Int, wallS: Double,
                           plain: Map[String, Double], builds: Seq[Double],
                           warmupS: Double): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.flush(spark.sparkContext)
    val per = passes.toDouble
    val groups = execs.map(_.group).toSet
    val byGroup = execs.map(e => e.group -> e).toMap
    val spans = tracer.all
    val spanById = spans.map(s => s.id -> s).toMap
    // job and stage spans, linked to their op's execute/build span
    meter.synchronized {
      meter.jobs.values.toSeq.filter(j => groups.contains(groupOf(j.group)) && j.endMs > 0)
        .sortBy(_.id).foreach { j =>
          val e = byGroup(groupOf(j.group))
          val parent = if (j.group.endsWith(":build")) e.spanId else e.execSpanId
          tracer.add(parent, "job", e.op.name, msToNs(j.startMs), msToNs(j.endMs), blocking = false)
        }
      meter.stages.values.toSeq.filter(s => groups.contains(groupOf(s.group)) && s.endMs > 0)
        .sortBy(_.id).foreach { s =>
          val e = byGroup(groupOf(s.group))
          tracer.add(e.execSpanId, "stage", e.op.name, msToNs(s.submitMs), msToNs(s.endMs),
            blocking = false)
        }
    }
    val kids = children
    val tasks = tasksOf(groups)
    val jobs = meter.synchronized(meter.jobs.values.toSeq.filter(j => groups.contains(groupOf(j.group))))
    val stages = meter.synchronized(meter.stages.values.toSeq.filter(s => groups.contains(groupOf(s.group))))
    val execSelf = execs.map(e => e -> tracer.selfS(spanById(e.execSpanId), kids))
    val coverage = execs.map { e =>
      val op = spanById(e.spanId)
      1.0 - tracer.selfS(op, kids) / math.max(op.durS, 1e-9)
    }
    val busyS = tasks.map(_.busyMs).sum / 1e3
    val skew = stages.filter(s => s.durations.size >= 2 && s.durations.max >= 50).map { s =>
      s.durations.max.toDouble / math.max(1.0, median(s.durations.map(_.toDouble).toSeq))
    }
    val traced = endToEnd(execs)
    val m = mutable.LinkedHashMap[String, Double]()
    m("session.build_s") = median(builds)
    m("warmup_s") = warmupS
    m("sources.input_mb") = tasks.map(_.input).sum / 1e6 / per
    m("sources.ingest_s") = median(execs.filter(_.op.name == IngestOp).map(_.latencyS))
    m("entry.build_s") = execs.map(_.buildS).sum / per
    m("entry.eager_jobs") = jobs.count(_.group.endsWith(":build")) / per
    m("plan.optimize_s") = execs.map(_.optimizeS).sum / per
    PlanCensus.keys.foreach(k => m(s"plan.$k") = execs.map(_.census.getOrElse(k, 0)).sum / per)
    families.foreach(f => m(s"family.${f}_s") =
      execSelf.filter(_._1.op.family == f).map(_._2).sum / per)
    namedHeavies.foreach(n => m(s"query.${n}_s") =
      median(execs.filter(_.op.name == n).map(_.latencyS)))
    m("stage.jobs") = jobs.size / per
    m("stage.stages") = stages.size / per
    m("stage.tasks") = tasks.size / per
    m("stage.task_busy_s") = busyS / per
    m("stage.cpu_s") = tasks.map(_.cpuNs).sum / 1e9 / per
    m("stage.gc_s") = tasks.map(_.gcMs).sum / 1e3 / per
    m("stage.core_util") = busyS / (wallS * a.nproc)
    m("stage.sched_wait_s") = stages.filter(_.firstLaunchMs > 0)
      .map(s => math.max(0L, s.firstLaunchMs - s.submitMs)).sum / 1e3 / per
    m("stage.shuffle_write_mb") = tasks.map(_.shWrite).sum / 1e6 / per
    m("stage.shuffle_read_mb") = tasks.map(_.shRead).sum / 1e6 / per
    m("stage.spill_mb") = tasks.map(_.spill).sum / 1e6 / per
    m("stage.skew") = if (skew.isEmpty) 1.0 else skew.max
    m("stage.failed_tasks") = tasks.count(_.failed) / per
    m("jvm.peak_heap_mb") = jvmPeakHeapMb
    m("jvm.gc_s") = jvmGcS
    m("span.coverage_min") = if (coverage.isEmpty) 1.0 else coverage.min
    if (coverage.exists(_ < SpanCoverageBound))
      failures += f"span coverage ${coverage.min}%.4f below the bound $SpanCoverageBound"
    Seq("run_s", "latency_p50_s").foreach { k =>
      m(s"trace.overhead_$k") = traced(k) / math.max(plain(k), 1e-9) - 1.0
    }
    m.toMap
  }

  /** Blocking child spans must cover at least this share of each op. */
  val SpanCoverageBound = 0.98

  private def noopS(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def bestOf(n: Int)(f: => Double): Double = (0 until n).map(_ => f).min

  /** Scan and kernel probes over the workload's own inputs, in ns/row:
    * (kernel pass − plain pass of the same rows) / rows.
    */
  private def probes(): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    m("sources.scan_s") = tables(a.workload).map(t =>
      bestOf(2)(noopS(openTable(spark, a.data, t)))).sum
    val kernels = Seq("tokens", "shingles", "minhash", "winnow", "quality", "cosine",
      "kmeans_argmin", "pq_encode", "topk_per_key", "kmin_by_hash")
    kernels.foreach(k => m(s"kernel.${k}_ns") = 0.0)
    val reps = 20
    def rep(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(reps).withColumnRenamed("id", "__rep")).cache()
    def perRow(base: DataFrame, rows: Long)(kernel: DataFrame => DataFrame): Double = {
      val plain = bestOf(3)(noopS(base))
      val k = bestOf(3)(noopS(kernel(base)))
      math.max(0.0, (k - plain) * 1e9 / rows)
    }
    a.workload match {
      case "curation" =>
        val docs = rep(Tables.load(spark, a.data, "documents").select("doc_id", "text"))
        val n = docs.count()
        val tk = TextFunctions.tokens(col("text"))
        m("kernel.tokens_ns") = perRow(docs, n)(_.select(tk))
        m("kernel.shingles_ns") = perRow(docs.select(tk.as("t")), n)(
          _.select(TextFunctions.shingles(col("t"), 3)))
        m("kernel.winnow_ns") = perRow(docs.select(tk.as("t")), n)(
          _.select(TextFunctions.winnowFps(col("t"), 4, 5)))
        m("kernel.quality_ns") = perRow(docs, n)(_.select(TextFunctions.qualityStats(col("text"))))
        m("kernel.minhash_ns") = perRow(docs, n)(d =>
          Dedup.minhashSignatures(d.withColumn("doc_id", col("doc_id") * reps + col("__rep")),
            "doc_id", "text"))
        docs.unpersist()
        val emb = rep(Tables.embeddings(spark, a.data).select("vec_id", "embedding"))
        val nv = emb.count()
        val r = new scala.util.Random(a.seed)
        val cents = Array.fill(8)(Array.fill(64)(r.nextGaussian()))
        val cb = Array.fill(16)(Array.fill(32)(Array.fill(4)(r.nextGaussian())))
        val v = col("embedding")
        import org.apache.spark.sql.classic.GraftPlanFactory
        m("kernel.cosine_ns") = perRow(emb, nv)(_.select(VectorFunctions.cosineNative(v, v)))
        m("kernel.kmeans_argmin_ns") = perRow(emb, nv)(
          _.select(Similarity.kmeansAssignExpr(v, cents)))
        m("kernel.pq_encode_ns") = perRow(emb, nv)(_.select(GraftPlanFactory.column(
          graft.plans.PqEncodeExpr(GraftPlanFactory.expression(v), cb))))
        emb.unpersist()
      case "analytics" =>
        val ev = rep(Tables.events(spark, a.data).select("user_id", "event_id", "value"))
        val n = ev.count()
        m("kernel.topk_per_key_ns") = perRow(ev, n)(d =>
          graft.plans.TopK.perKey(d, Seq("user_id"), Seq("value", "event_id"), 3))
        m("kernel.kmin_by_hash_ns") = perRow(ev, n)(_.groupBy("user_id").agg(
          Sketches.kminBy(xxhash64(col("event_id"), col("__rep")), col("value"), 64)))
        ev.unpersist()
      case _ =>
    }
    m.toMap
  }

  /** Attribution self-test: add a known amount of engine work (one job of
    * `nproc` busy tasks, CanaryMs each) to one op's action and check that
    * the traced run puts it in that op's execute self time, in
    * stage.task_busy_s and in the op's wall time, and not in another op.
    */
  private def canarySelfTest(root: Int): Map[String, Double] = {
    val (target, other) = canaryPair(a.workload)
    val opT = opList.find(_.name == target).get
    val opO = opList.find(_.name == other).get
    val base, withC, otherBase, otherWith = mutable.ArrayBuffer[Exec]()
    for (_ <- 0 until 3) {
      base += exec(opT, traced = true, root)
      otherBase += exec(opO, traced = true, root)
      withC += exec(opT, traced = true, root, CanaryMs)
      otherWith += exec(opO, traced = true, root)
    }
    org.apache.spark.PerfbenchBus.flush(spark.sparkContext)
    val kids = children
    val spanById = tracer.all.map(s => s.id -> s).toMap
    def self(es: Seq[Exec]) = median(es.map(e => tracer.selfS(spanById(e.execSpanId), kids)))
    def busy(es: Seq[Exec]) = median(es.map(e =>
      tasksOf(Set(e.group)).map(_.busyMs).sum / 1e3))
    def wall(es: Seq[Exec]) = median(es.map(_.latencyS))
    val c = CanaryMs / 1e3
    val m = Map(
      "canary.exec_ratio" -> (self(withC.toSeq) - self(base.toSeq)) / c,
      "canary.busy_ratio" -> (busy(withC.toSeq) - busy(base.toSeq)) / (c * a.nproc),
      "canary.wall_ratio" -> (wall(withC.toSeq) - wall(base.toSeq)) / c,
      "canary.other_ratio" -> math.abs(self(otherWith.toSeq) - self(otherBase.toSeq)) / c)
    val ok = Seq("canary.exec_ratio", "canary.busy_ratio", "canary.wall_ratio")
      .forall(k => m(k) >= 0.6 && m(k) <= 1.6) && m("canary.other_ratio") <= 0.35
    if (!ok) failures += s"canary self-test failed: $m"
    m + ("canary.ok" -> (if (ok) 1.0 else 0.0))
  }
}
