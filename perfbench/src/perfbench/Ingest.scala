package perfbench

import graft.model.AggregationSpec
import graft.plan.RuleCompiler
import graft.sources.EnvelopeJson
import graft.spec.SpecLoader
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Layer prefixes of the compiled rule pipeline over JSON lines: the stages
  * `RuleCompiler.compile` chains, cut one layer later at each level, one
  * branch per rule, each branch parsing the lines itself. */
object Layers {
  def levels(specs: Seq[AggregationSpec], windowSec: Long, src: () => DataFrame,
      preFilter: Boolean): Seq[(String, () => Seq[DataFrame])] = {
    val names = specs.map(_.filteredMetricName).distinct
    def parsed() = EnvelopeJson.parse(src())
    // the shared `metric.name IN (...)` filter compileAll puts in front of every branch
    def pre() = if (preFilter) parsed().filter(col("metric.name").isin(names: _*)) else parsed()
    def matched(s: AggregationSpec) = RuleCompiler.prepare(s)(pre())
    def aggregated(s: AggregationSpec) = RuleCompiler.aggregate(s, windowSec)(matched(s))
    def rolled(s: AggregationSpec) =
      if (s.rollup.isDefined) RuleCompiler.rollup(s, windowSec)(aggregated(s)) else aggregated(s)
    def projected(s: AggregationSpec) = RuleCompiler.project(s)(rolled(s))
    def each(f: AggregationSpec => DataFrame) = () => specs.map(f)
    Seq(
      Some("scan" -> each(_ => src())),
      Some("parse" -> each(_ => parsed())),
      Some("match" -> each(matched)),
      Some("aggregate" -> each(aggregated)),
      if (specs.exists(_.rollup.isDefined)) Some("rollup" -> each(rolled)) else None,
      Some("project" -> each(projected)),
      Some("serialize" -> each(s => EnvelopeJson.serialize(projected(s))))
    ).flatten
  }

  /** Per-layer metrics from a ladder run over `lines` input lines. */
  def metrics(ls: Seq[Ladder.Level], branches: Int, lines: Long): Seq[Metric] = {
    val inc = Ladder.increments(ls)
    val rows = ls.map(l => l.name -> l.rows).toMap
    def s(n: String, layer: String) = Metric(n, inc.getOrElse(layer, 0.0), "s")
    Seq(s("scan_s", "scan"), s("parse_s", "parse"), s("match_s", "match"),
      s("aggregate_s", "aggregate"), s("rollup_s", "rollup"), s("project_s", "project"),
      s("serialize_s", "serialize"),
      Metric("scan_amplification", rows("scan").toDouble / lines, "ratio"),
      Metric("rows_corrupt", (rows("scan") - rows("parse")).toDouble / branches, "count"),
      Metric("match_ratio", rows("match").toDouble / rows("parse"), "ratio"),
      Metric("groups_out", rows("aggregate").toDouble, "count"),
      Metric("rows_out", rows(ls.last.name).toDouble, "count"))
  }
}

/** One grouped `avg` rule over pre-serialized JSON envelopes cached in
  * memory: the path behind the reference's published ingest figure. Each
  * pass runs `EnvelopeJson.parse` → `RuleCompiler.compileAll` →
  * `EnvelopeJson.serialize` as one job, planned afresh (re-running a
  * DataFrame would reuse its shuffle files), and collects and checks the
  * output. Parse dominates. */
object Ingest extends Workload {
  val rulesFile = "ingest.yaml"
  val lines = 120000
  val linesPerWindow = 3000
  /** Passes before the timed phase: pass times fall by a third over the
    * first seven or so while the JIT compiles the generated code. */
  val warmupPasses = 6

  def pipeline(specs: Seq[AggregationSpec], windowSec: Long, src: DataFrame): DataFrame =
    EnvelopeJson.serialize(RuleCompiler.compileAll(specs.map(_ -> windowSec))(EnvelopeJson.parse(src)))

  def run(c: Ctx): Result = {
    val w = c.config.windowSize
    val gen = new Gen.Stream(c.profile, linesPerWindow, c.profile.windowMs)
    val input = c.trace("generate") {
      (0 until lines / linesPerWindow).flatMap(gen.batch).toArray
    }
    val rulesPath = c.conf.resolve(rulesFile).toString
    val src = c.trace("materialize") {
      val df = c.spark.createDataset(
        c.spark.sparkContext.parallelize(input.map(_.json).toSeq, c.cores * 2))(Encoders.STRING)
        .toDF("value").persist(StorageLevel.MEMORY_ONLY)
      df.count()
      df
    }

    val tRef = System.nanoTime()
    val expected = Ref.batch(RefRule.load(rulesPath), w,
      input.iterator.flatMap(l => Ref.parseLine(l.json)))
    c.log(f"reference: ${expected.size} outputs, " +
      f"${input.length / ((System.nanoTime() - tRef) / 1e9)}%.0f rows/s single-threaded")

    // set-up = spec load + validation + planning to an executed plan
    val reps = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      val specs = c.trace("spec.load")(SpecLoader.loadValidated(rulesPath))
      val t1 = System.nanoTime()
      c.trace("plan")(pipeline(specs, w, src).queryExecution.executedPlan)
      val t2 = System.nanoTime()
      ((t2 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    val specs = SpecLoader.loadValidated(rulesPath)
    c.log(f"session ${c.sessionS}%.2fs, set-up reps ${reps.map(r => f"${r._1}%.3f").mkString(" ")}")

    val problems = Seq.newBuilder[String]
    def pass(): Array[String] = c.trace("pass")(pipeline(specs, w, src).collect().map(_.getString(0)))
    def check(out: Array[String], what: String): Unit =
      problems ++= Ref.diff(out.map(Ref.parseOut).toSeq, expected).map(s"$what: " + _)
    (0 until warmupPasses).foreach(i => check(c.trace("warmup")(pass()), s"warm-up $i"))

    val layer = if (!c.trace.enabled) Nil else
      Layers.metrics(Ladder.run(c.trace, 3, Layers.levels(specs, w, () => src, preFilter = true)),
        specs.size, input.length)

    val counters = new TaskCounters
    if (c.trace.enabled) c.spark.sparkContext.addSparkListener(counters)
    var attempted, failed = 0L
    val lat = Seq.newBuilder[Double]
    var busy = 0.0
    while (busy < c.seconds) {
      attempted += 1
      counters.on = true
      val t = System.nanoTime()
      val out = try Some(pass()) catch {
        case e: Exception => failed += 1; problems += s"pass failed: $e"; None
      }
      val s = (System.nanoTime() - t) / 1e9
      counters.on = false
      busy += s
      lat += s * 1000
      out.foreach(check(_, s"pass $attempted"))
    }
    val lats = lat.result()
    val p50 = Stats.median(lats)
    c.log(f"passes=$attempted busy=$busy%.2fs rows/s=${input.length * attempted / busy}%.0f " +
      f"latencies=${lats.map(l => f"${l / 1000}%.2f").mkString(" ")}")
    Result(attempted, failed, problems.result().take(20),
      if (c.trace.enabled)
        layer ++ counters.perOp(attempted).map { case (n, v, u) => Metric(n, v, u) } :+
          Metric("plan_s", Stats.median(reps.map(_._2)), "s")
      else Seq(
        Metric("setup_s", c.sessionS + Stats.median(reps.map(_._1)), "s"),
        Metric("input_rows_per_s", input.length * (attempted - failed) / busy, "rows/s"),
        Metric("batch_latency_p50_ms", p50, "ms"),
        // a batch job emits every window when its pass ends
        Metric("emit_latency_p50_ms", p50, "ms")))
  }
}
