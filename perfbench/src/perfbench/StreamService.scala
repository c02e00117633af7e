package perfbench

import graft.sources.EnvelopeJson
import graft.spec.SpecLoader
import graft.streaming.{Observability, StreamRunner}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.storage.StorageLevel

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The streaming service: one stateful append-mode query per rule, built
  * like `StreamRunner.run` (shared JSON source, per-rule
  * `StreamRunner.buildStreaming`, `EnvelopeJson.serialize` at the sink), on
  * the deployed RocksDB state store. A `MemoryStream` of JSON lines stands in
  * for the Kafka topic and a collecting `foreachBatch` for the Kafka sink.
  *
  * Closed loop: a batch is handed over, then every query is driven until it
  * has committed it (and the no-data batch that emits what it closed), then
  * the next batch goes. Rows/s is therefore capacity and latency service
  * time. Triggers run back to back instead of every `windowSize` seconds, so
  * latency measures the engine, not the trigger timer. */
object StreamService extends Workload {
  val rulesFile = "stream.yaml"
  val rowsPerBatch = 5000
  val warmupBatches = 3

  final case class Arrival(rule: String, ns: Long, rows: Array[String])

  def run(c: Ctx): Result = {
    val p = c.profile
    val cfg = c.config
    val rulesPath = c.conf.resolve(rulesFile).toString
    val gen = new Gen.Stream(p, rowsPerBatch, p.windowMs)
    val sink = new ConcurrentLinkedQueue[Arrival]()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = c.spark.sqlContext
    Observability.attach(c.spark, cfg.windowSize)

    // set-up: spec load + validation, plan construction, query start
    def start(rep: Int): (MemoryStream[String], Seq[StreamingQuery], Double, Double) = {
      val t0 = System.nanoTime()
      val specs = c.trace("spec.load")(SpecLoader.loadValidated(rulesPath))
      val input = MemoryStream[String](c.cores)(Encoders.STRING, sqlCtx)
      val t1 = System.nanoTime()
      val source = EnvelopeJson.parse(input.toDF())
      val plans = c.trace("plan")(specs.map(s => s.name -> EnvelopeJson.serialize(
        StreamRunner.buildStreaming(s, cfg.windowSize, cfg.windowLag)(source))))
      val t2 = System.nanoTime()
      val queries = c.trace("query.start")(plans.map { case (name, df) =>
        val collect: (DataFrame, Long) => Unit = (b, _) => {
          val rows = b.collect().map(_.getString(0))
          if (rows.nonEmpty) sink.add(Arrival(name, System.nanoTime(), rows))
        }
        df.writeStream.foreachBatch(collect).outputMode("append")
          .option("checkpointLocation", c.work.resolve(s"ckpt/rep$rep/$name").toString)
          .queryName(name).start()
      })
      (input, queries, (System.nanoTime() - t0) / 1e9, (t2 - t1) / 1e9)
    }
    val setups = (0 until 3).map { rep =>
      val s = start(rep)
      if (rep < 2) s._2.foreach(_.stop())
      s
    }
    val (input, queries, _, _) = setups.last

    val listener = new BatchSpans(c.trace)
    if (c.trace.enabled) c.spark.streams.addListener(listener)
    val counters = new TaskCounters
    if (c.trace.enabled) c.spark.sparkContext.addSparkListener(counters)

    // handed-over batches: lines, hand-over instant and service time
    val handed = ArrayBuffer.empty[(Array[Line], Long, Double)]
    def cycle(k: Int): Double = {
      val lines = gen.batch(k)
      val t = System.nanoTime()
      c.trace("batch") {
        input.addData(lines.iterator.map(_.json).toSeq)
        queries.foreach(_.processAllAvailable())
      }
      val s = (System.nanoTime() - t) / 1e9
      handed += ((lines, t, s))
      s
    }
    (0 until warmupBatches).foreach(cycle)
    counters.on = true
    var busy = 0.0
    while (busy < c.seconds) busy += cycle(handed.size)
    counters.on = false
    val timed = handed.drop(warmupBatches)
    val progress = queries.map(q => q.name -> q.recentProgress.toSeq
      .filter(_.durationMs.containsKey("addBatch"))).toMap
    queries.foreach(_.stop())
    c.log(f"batches=${timed.size} busy=$busy%.2fs latencies=${handed.map(h => f"${h._3}%.2f").mkString(" ")}")

    val check = new StreamCheck(RefRule.load(rulesPath), p, handed.toSeq, sink.asScala.toSeq)
    val dropped = progress.map { case (n, ps) =>
      n -> ps.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    }
    val problems = check.problems(dropped)
    val rows = timed.map(_._1.length).sum

    val metrics =
      if (!c.trace.enabled) Seq(
        Metric("setup_s", c.sessionS + Stats.median(setups.map(_._3)), "s"),
        Metric("input_rows_per_s", rows / busy, "rows/s"),
        Metric("batch_latency_p50_ms", Stats.median(timed.map(_._3 * 1000).toSeq), "ms"),
        Metric("emit_latency_p50_ms", Stats.median(check.emitLatenciesMs(warmupBatches)), "ms"))
      else {
        val batchDf = c.spark.createDataset(c.spark.sparkContext.parallelize(
          timed.head._1.map(_.json).toSeq, c.cores))(Encoders.STRING).toDF("value")
          .persist(StorageLevel.MEMORY_ONLY)
        batchDf.count()
        val specs = SpecLoader.loadValidated(rulesPath)
        val ladder = Layers.metrics(Ladder.run(c.trace, 3, Layers.levels(specs,
          cfg.windowSize, () => batchDf, preFilter = false)), specs.size, rowsPerBatch)
          .filterNot(_.name == "rows_out")
        ladder ++ counters.perOp(timed.size).map { case (n, v, u) => Metric(n, v, u) } ++
          StreamLayers.metrics(progress, timed.map(t => (t._2, t._3)).toSeq) ++ Seq(
            Metric("plan_s", Stats.median(setups.map(_._4)), "s"),
            Metric("stream_queries", queries.size.toDouble, "count"),
            Metric("rows_out", check.emittedRows.toDouble / timed.size, "count"),
            Metric("rows_dropped_by_watermark", dropped.values.sum.toDouble, "count"))
      }
    Result(timed.size, 0, problems, metrics)
  }
}

/** Records one span per executed micro-batch of every query. */
final class BatchSpans(trace: Trace) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val d = e.progress.durationMs.get("triggerExecution")
    if (d != null) {
      val end = System.nanoTime()
      trace.add(s"microbatch.${e.progress.name}", end - d * 1000000L, end)
    }
  }
}

/** Per-layer figures of the stream from the queries' own progress reports,
  * each micro-batch assigned to the handed-over batch whose service it
  * completed. All `batch_*_ms` are per handed-over batch, summed over the
  * queries and their micro-batches, median over batches. */
object StreamLayers {
  def endMs(pr: StreamingQueryProgress): Long =
    java.time.Instant.parse(pr.timestamp).toEpochMilli + pr.durationMs.get("triggerExecution")

  def metrics(progress: Map[String, Seq[StreamingQueryProgress]],
      handed: Seq[(Long, Double)]): Seq[Metric] = {
    // hand-over instants on the wall clock, from the nano clock
    val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000
    val starts = handed.map(h => h._1 / 1000000 + offsetMs)
    def cycleOf(pr: StreamingQueryProgress): Int = {
      val e = endMs(pr)
      starts.lastIndexWhere(_ <= e)
    }
    val all = progress.toSeq.flatMap { case (q, ps) => ps.map(pr => (q, cycleOf(pr), pr)) }
      .filter(_._2 >= 0)
    val byCycle = all.groupBy(_._2)
    def perCycle(f: StreamingQueryProgress => Double): Double =
      Stats.median(handed.indices.map(i => byCycle.getOrElse(i, Nil).map(x => f(x._3)).sum))
    def dur(k: String)(pr: StreamingQueryProgress) =
      Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val gap = handed.indices.map { i =>
      val perQuery = byCycle.getOrElse(i, Nil).groupBy(_._1).values
        .map(_.map(x => dur("triggerExecution")(x._3)).sum)
      handed(i)._2 * 1000 - (if (perQuery.isEmpty) 0.0 else perQuery.max)
    }
    val last = progress.values.flatMap(_.lastOption).toSeq
    Seq(
      Metric("batch_trigger_ms", perCycle(dur("triggerExecution")), "ms"),
      Metric("batch_planning_ms", perCycle(dur("queryPlanning")), "ms"),
      Metric("batch_add_ms", perCycle(dur("addBatch")), "ms"),
      Metric("batch_wal_commit_ms", perCycle(dur("walCommit")), "ms"),
      Metric("batch_commit_offsets_ms", perCycle(dur("commitOffsets")), "ms"),
      Metric("state_commit_ms", perCycle(_.stateOperators.map(_.commitTimeMs.toDouble).sum), "ms"),
      Metric("state_rows", last.flatMap(_.stateOperators.map(_.numRowsTotal.toDouble)).sum, "count"),
      Metric("state_memory_bytes",
        last.flatMap(_.stateOperators.map(_.memoryUsedBytes.toDouble)).sum, "bytes"),
      Metric("driver_gap_ms", Stats.median(gap), "ms"))
  }
}

/** Output checks of the stream against [[StreamRef]] fed the same batches:
  * values, no window emitted twice, no window emitted before the batch that
  * closes it, every closed window emitted, rows dropped by the watermark
  * equal to the late rows offered, and corrupt lines never counted. */
final class StreamCheck(rules: Seq[RefRule], p: Profile,
    handed: Seq[(Array[Line], Long, Double)], arrivals: Seq[StreamService.Arrival]) {
  private val ref = new StreamRef(rules, p.windowSec, p.lagSec)
  /** Reference outputs with the index of the batch that closes them. */
  val expected: Seq[(Out, Int)] = handed.zipWithIndex.flatMap { case ((lines, _, _), k) =>
    ref.offer(lines.iterator.flatMap(l => Ref.parseLine(l.json)).toSeq).map(_ -> k)
  }
  private val starts = handed.map(_._2)
  /** Emitted outputs with the index of the batch being served when they arrived. */
  val actual: Seq[(Out, Int, Long, String)] = arrivals.flatMap { a =>
    val k = starts.lastIndexWhere(_ <= a.ns)
    a.rows.map(j => (Ref.parseOut(j), k, a.ns, a.rule))
  }
  def emittedRows: Int = actual.size

  def problems(droppedByRule: Map[String, Long]): Seq[String] = {
    val b = Seq.newBuilder[String]
    b ++= Ref.diff(actual.map(_._1), expected.map(_._1))
    val closedAt = expected.map { case (o, k) => o.key -> k }.toMap
    actual.foreach { case (o, k, _, _) =>
      closedAt.get(o.key).filter(_ > k).foreach(ck =>
        b += s"window still open when emitted (served batch $k, closes at $ck): ${o.key}")
    }
    rules.foreach { r =>
      val want = ref.lateGroups(r.name)
      val got = droppedByRule.getOrElse(r.name, -1L)
      if (got != want)
        b += s"${r.name}: dropped by watermark $got, late groups offered $want (${ref.lateRows(r.name)} rows)"
    }
    if (rules.map(r => ref.lateRows(r.name)).sum == 0) b += "no late rows were offered"
    val corrupt = handed.map(_._1.count(_.env == null)).sum
    if (corrupt == 0) b += "no corrupt lines were offered"
    rules.filter(_.function == "count").foreach { r =>
      val got = actual.filter(_._1.name == r.aggName).map(_._1.value).sum
      val want = expected.filter(_._1.name == r.aggName).map(_._1.value).sum
      if (got != want) b += s"${r.name}: counted $got rows, $want valid rows (corrupt lines aggregated?)"
    }
    b.result().take(20)
  }

  /** Hand-over of the closing batch → arrival at the sink, one sample per
    * (rule, window), for windows closed by batches after the warm-up. */
  def emitLatenciesMs(warmup: Int): Seq[Double] = {
    val closedAt = expected.map { case (o, k) => o.key -> k }.toMap
    actual.filter(a => closedAt.get(a._1.key).exists(_ >= warmup))
      .groupBy(a => (a._4, a._1.tsMs)).values.map { g =>
        (g.map(_._3).min - starts(closedAt(g.head._1.key))) / 1e6
      }.toSeq
  }
}
