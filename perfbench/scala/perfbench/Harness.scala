package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{GraftSession, SparkEntry}
import graft.sources.{Formats, Tables}

/** One benchmark run of one workload in one JVM. Writes a raw result
  * file (`<out>/result.json`) that `run.py` turns into the final line;
  * output dumps for the DuckDB oracle go under `<out>/dumps`.
  *
  * Usage: Harness <workload> <dataDir> <outDir> <seconds> <trace 0|1> <seed> <nproc>
  */
object Harness {
  final case class Args(workload: String, data: String, out: String, seconds: Double,
                        trace: Boolean, seed: Long, nproc: Int)

  /** A named op: one call into `SparkEntry.queries` (or a source reader)
    * and one action. `family` is the operators module doing the work.
    */
  final case class Op(name: String, family: String,
                      build: (SparkSession, String) => DataFrame, writes: Boolean = false)

  val SetupReps = 3

  /** Timed passes at least: each op's median latency over three or more. */
  val MinPasses = 3

  /** Untimed passes before the timed phase. Ops still speed up (JIT) for
    * several passes after the first; the per-op median absorbs a slower
    * first timed pass. Analytics' short queries get a second warm pass;
    * a curation pass costs 5 s, so curation gets one.
    */
  def warmPasses(workload: String): Int = if (workload == "analytics") 2 else 1
  val CanaryMs = 400

  private def q(name: String, family: String, writes: Boolean = false): Op =
    Op(name, family, SparkEntry.queries(name), writes)

  val IngestOp = "ingest_warc_gz"

  def ops(workload: String): Seq[Op] = workload match {
    case "analytics" =>
      Seq("mr_wordcount", "mr_inverted_index").map(q(_, "mapreduceops")) ++
        Seq("q1_pricing_summary", "q3_top_orders", "q21_sole_late_supplier",
          "q_topk_per_key", "q_approx_stats").map(q(_, "relational"))
    case "curation" => Seq(
      Op(IngestOp, "sources", (s, d) =>
        Formats.readWarcGz(s, s"$d/warc/documents.warc.gz")
          .select(col("target_uri"), col("block"), col("length_ok"))),
      q("dedup_minhash", "dedup"), q("training_shards", "curation", writes = true),
      q("knn_ivf_trained", "similarity"), q("semantic_clusters", "similarity"))
  }

  def tables(workload: String): Seq[String] = workload match {
    case "analytics" => Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents")
    case "curation" => Seq("documents", "embeddings")
    case "stream" => Nil
  }

  /** The op that receives the attribution canary, and an op that must not. */
  val canaryPair: Map[String, (String, String)] = Map(
    "analytics" -> ("q_topk_per_key", "mr_wordcount"),
    "curation" -> (IngestOp, "training_shards"))

  def openTable(s: SparkSession, d: String, t: String): DataFrame = t match {
    case "events" => Tables.events(s, d)
    case "embeddings" => Tables.embeddings(s, d)
    case other => Tables.load(s, d, other)
  }

  def newSession(nproc: Int): SparkSession = {
    val s = GraftSession.builder(s"local[$nproc]", nproc).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Percentile with linear interpolation between order statistics. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val k = p * (s.size - 1)
      val f = k.toInt
      s(f) + (s(math.min(f + 1, s.size - 1)) - s(f)) * (k - f)
    }

  private def hashValue(v: Any): Int = v match {
    case null => 0
    case b: Array[Byte] => java.util.Arrays.hashCode(b)
    case r: Row => MurmurHash3.orderedHash(r.toSeq.map(hashValue))
    case m: scala.collection.Map[_, _] =>
      MurmurHash3.unorderedHash(m.map { case (k, x) => (hashValue(k), hashValue(x)) })
    case s: scala.collection.Seq[_] => MurmurHash3.orderedHash(s.map(hashValue))
    case other => other.hashCode
  }

  /** Order-insensitive digest of a result: row count and multiset hash. */
  def checksum(rows: Array[Row]): (Long, Int) =
    (rows.length.toLong, MurmurHash3.unorderedHash(rows.toSeq.map(hashValue)))

  def jvmPeakHeapMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed.toDouble).sum / 1e6

  def jvmGcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1), argv(2), argv(3).toDouble, argv(4) == "1",
      argv(5).toLong, argv(6).toInt)
    Files.createDirectories(Paths.get(a.out))
    val result = if (a.workload == "stream") StreamLoad.run(a) else new BatchLoad(a).run()
    Files.writeString(Paths.get(a.out, "result.json"), result)
  }
}
