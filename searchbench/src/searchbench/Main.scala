package searchbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.bench.CorpusGen

/** Everything a workload needs: the session, the tracer, a private work
  * directory inside the checkout, and the run's arguments.
  */
final class Env(val spark: SparkSession, val tracer: Tracer, val work: java.io.File,
                val seed: Long, val seconds: Int, val cores: Int, val trace: Boolean) {
  private var tables = 0
  /** The op class of each query call, by request id. */
  val opOfRequest = mutable.HashMap.empty[Int, String]

  /** Materialize `CorpusGen(seed)` rows [from, from + n) as a Parquet table
    * (the input table a user would index) and read it back.
    */
  def corpus(from: Long, n: Long): DataFrame = {
    import spark.implicits._
    val s = seed
    tables += 1
    val path = new java.io.File(work, s"corpus-$tables").toString
    spark.range(from, from + n, 1, cores).map(i => CorpusGen.row(s, i))
      .write.parquet(path)
    spark.read.parquet(path)
  }

  def contentBytes(df: DataFrame): Long =
    df.agg(sum(octet_length(col("content")))).head().getLong(0)

  def dir(name: String): String = new java.io.File(work, name).toString

  def log(msg: String): Unit = Main.log(msg)

  /** End of a workload: `keep` (its index, searcher, ...) is still reachable
    * here, so whatever the engine caches shows in the retained heap. A
    * traced run then writes its spans and fills in the per-layer set.
    */
  def finish(report: Report, keep: Seq[AnyRef]): Unit = {
    val heap = Main.retainedHeapMb()
    if (trace) {
      report.layer("analysis.mb_per_s", Layers.analysisMbPerS(seed), "MB/s")
      tracer.writeTo(new java.io.File(work.getAbsoluteFile.getParentFile,
        s"spans-${spark.sparkContext.appName}-$seed.jsonl").toPath)
      tracer.clear()
      val plain = Main.retainedHeapMb()
      report.e2e("heap_retained_mb", plain, "MB")
      report.layer("overhead.heap_retained_mb", heap - plain, "MB")
      report.layer("overhead.index_bytes_per_input_byte", 0.0, "ratio")
    } else report.e2e("heap_retained_mb", heap, "MB")
    keep.foreach(java.lang.ref.Reference.reachabilityFence)
  }
}

/** What a run measured. End-to-end metrics are printed by an untraced run,
  * per-layer metrics by a traced one.
  */
final class Report {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  var wrong = 0L

  def e2e(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)
}

object Main {

  val Workloads: Seq[String] = Seq("query_mix", "ingest_refresh")

  private def usage(msg: String): Nothing = {
    System.err.println(s"searchbench: $msg\nusage: --workload <${Workloads.mkString("|")}> " +
      "--seed <n> --seconds <n> --trace <0|1>")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def opt(k: String): String = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = opt("workload")
    if (!Workloads.contains(workload)) usage(s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1, not $t")
    }

    val work = new java.io.File(sys.props.getOrElse("searchbench.work", "searchbench-work"))
    val cores = math.min(Runtime.getRuntime.availableProcessors(), 4)
    val master = s"local[$cores]"
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"searchbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", new java.io.File(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", new java.io.File(work, "hadoop").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val env = new Env(spark, new Tracer(spark.sparkContext, trace), work, seed, seconds, cores, trace)
    val report = new Report
    val heapMax = Runtime.getRuntime.maxMemory()
    report.info ++= Seq(
      "workload" -> workload, "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> (if (trace) "1" else "0"),
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "master" -> master, "heap_max_mb" -> (heapMax >> 20).toString,
      "source" -> sys.props.getOrElse("searchbench.source", "unknown"),
      "commit" -> sys.props.getOrElse("searchbench.commit", "unknown"))

    try {
      workload match {
        case "query_mix" => QueryWorkload.run(env, report)
        case "ingest_refresh" => IngestWorkload.run(env, report)
      }
    } finally spark.stop()

    val errorRate = (report.failed + report.wrong).toDouble / math.max(report.attempted, 1L)
    report.info("error_rate") = f"$errorRate%.6f"
    report.info("wrong_answers") = report.wrong.toString
    report.layer("error_rate", errorRate, "ratio")
    val metrics =
      if (trace) Layers.All.map { case (k, u) => k -> report.layers.getOrElse(k, (0.0, u)) }
      else report.endToEnd.toSeq
    env.log("run info: " + report.info.map { case (k, v) => s"$k=$v" }.mkString(" "))
    metrics.foreach { case (k, (v, u)) => env.log(f"  $k%-40s $v%14.4f $u") }
    println("{\"info\": {" + report.info.map { case (k, v) => s""""$k": "$v"""" }
      .mkString(", ") + "}}")
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${report.failed + report.wrong == 0}, "attempted": ${math.max(report.attempted, 1L)}, """ +
      s""""failed": ${report.failed + report.wrong}, "metrics": {$body}}""")
  }

  /** Progress goes to stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(
    f"[searchbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%6.1f] $msg")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Driver heap in use after full collections, in MiB. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
