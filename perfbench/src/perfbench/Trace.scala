package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** In-memory spans around the benchmark's calls into each layer; written
  * out once, when the run ends. Disabled (no allocation) in untraced runs. */
final class Trace(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicInteger()
  private var stack = List(0) // spans opened by the driving thread

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.head
      stack = id :: stack
      val t = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        synchronized { spans += Span(id, parent, name, t, System.nanoTime()) }
      }
    }

  /** Records a span measured on another thread (a streaming micro-batch). */
  def add(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) synchronized { spans += Span(ids.incrementAndGet(), 0, name, startNs, endNs) }

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Task- and job-level counters summed while `on` is set. */
final class TaskCounters extends SparkListener {
  @volatile var on = false
  val jobs, stages, tasks, runMs, gcMs, shuffleWrite, shuffleRead, inBytes =
    new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (on) stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
    val m = e.taskMetrics
    tasks.incrementAndGet()
    runMs.addAndGet(m.executorRunTime)
    gcMs.addAndGet(m.jvmGCTime)
    shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    inBytes.addAndGet(m.inputMetrics.bytesRead)
  }

  /** Per-operation averages of the layer counters over `ops` operations. */
  def perOp(ops: Long): Seq[(String, Double, String)] = {
    def avg(a: AtomicLong) = a.get.toDouble / ops
    Seq(("jobs", avg(jobs), "count"), ("stages", avg(stages), "count"),
      ("tasks", avg(tasks), "count"), ("task_time_s", avg(runMs) / 1000, "s"),
      ("gc_s", avg(gcMs) / 1000, "s"),
      ("shuffle_write_bytes", avg(shuffleWrite), "bytes"),
      ("shuffle_read_bytes", avg(shuffleRead), "bytes"),
      ("input_bytes", avg(inBytes), "bytes"))
  }
}

/** Layer timing by prefixes: each level is the compiled pipeline cut after
  * one more layer, all rule branches unioned into one job and written to the
  * noop sink. A layer's time is its level's median time minus the previous
  * level's; the row count at each level is observed in the same job. */
object Ladder {
  final case class Level(name: String, seconds: Double, rows: Long)

  def run(trace: Trace, reps: Int, levels: Seq[(String, () => Seq[DataFrame])]): Seq[Level] =
    levels.map { case (name, branches) =>
      var rows = 0L
      val times = (0 until reps).map { i =>
        val union = branches().reduce(_.unionByName(_, allowMissingColumns = true))
        val obs = new Observation(s"ladder_${name}_$i")
        val df = union.observe(obs, count(lit(1)).as("n"))
        val t = System.nanoTime()
        trace(s"ladder.$name") { df.write.format("noop").mode("overwrite").save() }
        val s = (System.nanoTime() - t) / 1e9
        rows = obs.get("n").asInstanceOf[Long]
        s
      }
      Level(name, Stats.median(times), rows)
    }

  /** Increment of each named level over the one before it. */
  def increments(ls: Seq[Level]): Map[String, Double] =
    ((ls.head.name -> ls.head.seconds) +: ls.zip(ls.tail).map { case (a, b) =>
      b.name -> (b.seconds - a.seconds)
    }).toMap
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
