package perfbench

import graft.spec.EngineConfig
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

final case class Metric(name: String, value: Double, unit: String)

/** What one run reports: the operations it attempted (passes or handed-over
  * micro-batches), how many failed, whether every output check held, and
  * its metrics. */
final case class Result(attempted: Long, failed: Long, problems: Seq[String],
    metrics: Seq[Metric]) {
  def correct: Boolean = problems.isEmpty

  def json: String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = metrics.map(m => s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }
}

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Trace, val sessionS: Double, val work: Path, val conf: Path,
    val cores: Int) {
  val profile: Profile = Gen.profile(seed)
  /** The deployed engine settings, with the seed's window size. */
  val config: EngineConfig = EngineConfig(windowSize = profile.windowSec, windowLag = profile.lagSec)
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  def log(s: String): Unit =
    System.err.println(f"[perfbench +${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1fs] $s")
}

trait Workload {
  def run(c: Ctx): Result
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --cores C --work DIR --conf DIR`, or `--workload selftest`. Prints the
  * result object as the last line of standard output. */
object Main {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "input_rows_per_s" -> "rows/s",
    "batch_latency_p50_ms" -> "ms", "emit_latency_p50_ms" -> "ms")

  val perLayer: Seq[(String, String)] = Seq(
    "scan_s" -> "s", "input_bytes" -> "bytes", "scan_amplification" -> "ratio",
    "parse_s" -> "s", "rows_corrupt" -> "count", "plan_s" -> "s",
    "match_s" -> "s", "match_ratio" -> "ratio", "aggregate_s" -> "s",
    "rollup_s" -> "s", "project_s" -> "s", "serialize_s" -> "s",
    "groups_out" -> "count", "rows_out" -> "count",
    "shuffle_write_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes",
    "tasks" -> "count", "task_time_s" -> "s", "gc_s" -> "s",
    "jobs" -> "count", "stages" -> "count", "stream_queries" -> "count",
    "batch_trigger_ms" -> "ms", "batch_planning_ms" -> "ms",
    "batch_add_ms" -> "ms", "batch_wal_commit_ms" -> "ms",
    "batch_commit_offsets_ms" -> "ms", "state_rows" -> "count",
    "state_memory_bytes" -> "bytes", "state_commit_ms" -> "ms",
    "rows_dropped_by_watermark" -> "count", "driver_gap_ms" -> "ms")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    SelfTest.run()
    if (a.get("workload").contains("selftest")) {
      println("""{"selftest":"ok"}""")
      return
    }
    val workload: Workload = a("workload") match {
      case "ingest_json_1rule" => Ingest
      case "stream_service" => StreamService
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = startSession(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val trace = new Trace(traced)
    val ctx = new Ctx(spark, a("seed").toLong, a("seconds").toDouble, trace, sessionS,
      work, Paths.get(a("conf")).toAbsolutePath, cores)
    ctx.log(ctx.profile.describe)
    val r = try workload.run(ctx) finally spark.stop()
    trace.write(work.getParent.resolve(s"traces/${a("workload")}-seed${a("seed")}.jsonl"))
    r.problems.foreach(p => ctx.log(s"CHECK FAILED: $p"))

    // every run reports the full metric list of its mode, by name
    val wanted = if (traced) perLayer else endToEnd
    val got = r.metrics.map(m => m.name -> m).toMap
    val extra = got.keySet -- wanted.map(_._1)
    require(extra.isEmpty, s"unlisted metrics: $extra")
    val all = wanted.map { case (n, u) =>
      val m = got.getOrElse(n, Metric(n, 0.0, u))
      require(m.unit == u, s"$n reported in ${m.unit}, listed in $u")
      m
    }
    println(r.copy(metrics = all).json)
    System.out.flush()
    sys.exit(0)
  }

  /** The session graft.Main builds (GraftExtensions, UTC, the EngineConfig
    * default state store), run locally on `cores` threads with one shuffle
    * partition per thread and its scratch space inside the work directory. */
  def startSession(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("monasca-aggregator-spark")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.sql.streaming.stateStore.providerClass",
        EngineConfig().stateStoreProviderClass)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // progress is read back from each query after the run; keep all of it
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      // graft.Main leaves this at Spark's 200, which gives every rule query
      // 200 RocksDB state partitions per stateful operator: at that setting
      // one 5,000-row batch through the ten stream rules ran past 170 s with
      // the driver above 2.4 GB. One partition per core keeps runs short.
      .config("spark.sql.shuffle.partitions", cores.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
