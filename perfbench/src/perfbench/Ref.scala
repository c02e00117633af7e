package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import java.io.FileInputStream
import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class RefRollup(function: String, dims: Seq[String], windowSec: Option[Long])

/** A rule as the reference aggregator reads it, parsed from the YAML on its
  * own (snakeyaml directly), so a loader fault in the program shows up as an
  * output mismatch instead of being shared by both sides. */
final case class RefRule(name: String, function: String, metric: String,
    filtered: Map[String, String], rejected: Map[String, String],
    grouped: Seq[String], aggName: String, rollup: Option[RefRollup]) {

  /** F1–F4 of the documented match semantics. */
  def matches(e: Env): Boolean = {
    val d = e.dims
    e.name == metric &&
      filtered.forall { case (k, v) => d != null && d.get(k).contains(v) } &&
      (rejected.isEmpty || (d != null && !rejected.exists {
        case (k, "") => d.contains(k)
        case (k, v) => d.get(k).contains(v)
      })) &&
      grouped.forall(k => d != null && d.contains(k))
  }

  /** Output dimensions: filtered dims not emitted as keys, plus the emitted
    * grouping (the rollup's when there is one). */
  def outDims(keyDims: Seq[String], keyVals: Seq[String]): Map[String, String] =
    filtered.filterNot { case (k, _) => keyDims.contains(k) } ++ keyDims.zip(keyVals)
}

object RefRule {
  def load(path: String): Seq[RefRule] = {
    val in = new FileInputStream(path)
    val root = try new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, AnyRef]](in)
    finally in.close()
    root.get("aggregationSpecifications").asInstanceOf[java.util.List[java.util.Map[String, AnyRef]]]
      .asScala.toSeq.map { jm =>
        val m = jm.asScala
        def str(k: String) = m.get(k).map(_.toString).getOrElse("")
        def smap(k: String): Map[String, String] = m.get(k) match {
          case Some(x: java.util.Map[_, _]) =>
            x.asScala.map { case (a, b) => a.toString -> Option(b).map(_.toString).getOrElse("") }.toMap
          case _ => Map.empty
        }
        def sseq(v: Option[AnyRef]): Seq[String] = v match {
          case Some(l: java.util.List[_]) => l.asScala.map(_.toString).toSeq
          case _ => Seq.empty
        }
        val rollup = m.get("rollup").collect { case r: java.util.Map[_, _] =>
          val rm = r.asScala.map { case (a, b) => a.toString -> b.asInstanceOf[AnyRef] }
          RefRollup(rm.get("function").map(_.toString).getOrElse(""),
            sseq(rm.get("groupedDimensions")),
            rm.get("windowSize").filter(_ != null).map(_.toString.toLong))
        }
        RefRule(str("name"), str("function"), str("filteredMetricName"),
          smap("filteredDimensions"), smap("rejectedDimensions"),
          sseq(m.get("groupedDimensions")), str("aggregatedMetricName"), rollup)
      }
  }
}

/** One emitted aggregate, in the units the wire carries. */
final case class Out(name: String, tenant: String, dims: Map[String, String],
    tsMs: Double, value: Double) {
  def key: (String, String, Map[String, String], Double) = (name, tenant, dims, tsMs)
}

/** Running state of one group: everything the seven functions need. */
final class Acc {
  var n = 0L
  var sum = 0.0
  var min = Double.PositiveInfinity
  var max = Double.NegativeInfinity
  var minT = Double.PositiveInfinity
  var maxT = Double.NegativeInfinity
  var firstT, firstV, lastT, lastV = Double.NaN

  def add(t: Double, v: Double): Unit = {
    n += 1; sum += v
    if (v < min) min = v
    if (v > max) max = v
    if (t < minT) minT = t
    if (t > maxT) maxT = t
    // lexicographic (ts, value) bounds: equal timestamps break by value
    if (n == 1 || t < firstT || (t == firstT && v < firstV)) { firstT = t; firstV = v }
    if (n == 1 || t > lastT || (t == lastT && v > lastV)) { lastT = t; lastV = v }
  }

  def result(fn: String): Double = fn match {
    case "sum" => sum
    case "count" => n.toDouble
    case "avg" => sum / n
    case "min" => min
    case "max" => max
    case "delta" => lastV - firstV
    case "rate" => if (maxT == minT) 0.0 else (lastV - firstV) / ((maxT - minT) / 1000.0)
    case other => throw new IllegalArgumentException(s"reference has no function $other")
  }
}

/** The independent single-threaded reference: a plain loop over rows, every
  * rule per row, as the Go service does it. Batch semantics use every valid
  * row; [[StreamRef]] adds the watermark. */
object Ref {
  type Key = (Long, String, Seq[String]) // window start ms, tenant, key values

  def windowStart(tsMs: Long, windowMs: Long): Long = Math.floorDiv(tsMs, windowMs) * windowMs

  def keyOf(r: RefRule, e: Env, windowMs: Long): Key =
    (windowStart(e.tsMs, windowMs), if (e.tenant == null) "" else e.tenant,
      r.grouped.map(e.dims))

  /** Finalizes stage-1 groups: the rule's own outputs, or its rollup's. */
  def finish(r: RefRule, windowMs: Long, groups: Iterable[(Key, Acc)]): Seq[Out] =
    r.rollup match {
      case None =>
        groups.map { case ((w, t, vs), a) =>
          Out(r.aggName, t, r.outDims(r.grouped, vs), w.toDouble, a.result(r.function))
        }.toSeq
      case Some(ru) =>
        val idx = ru.dims.map(r.grouped.indexOf)
        val rwMs = ru.windowSec.map(_ * 1000).getOrElse(windowMs)
        val stage2 = mutable.HashMap.empty[Key, Acc]
        groups.foreach { case ((w, t, vs), a) =>
          stage2.getOrElseUpdate((windowStart(w, rwMs), t, idx.map(vs)), new Acc)
            .add(w.toDouble, a.result(r.function))
        }
        stage2.map { case ((w, t, vs), a) =>
          Out(r.aggName, t, r.outDims(ru.dims, vs), w.toDouble, a.result(ru.function))
        }.toSeq
    }

  /** Batch result of every rule over every valid row. */
  def batch(rules: Seq[RefRule], windowSec: Long, rows: Iterator[Env]): Seq[Out] = {
    val windowMs = windowSec * 1000
    val state = rules.map(_ => mutable.HashMap.empty[Key, Acc])
    rows.foreach { e =>
      var i = 0
      while (i < rules.size) {
        val r = rules(i)
        if (r.matches(e)) state(i).getOrElseUpdate(keyOf(r, e, windowMs), new Acc)
          .add(e.tsMs.toDouble, e.value)
        i += 1
      }
    }
    rules.zip(state).flatMap { case (r, s) => finish(r, windowMs, s) }
  }

  private val mapper = new ObjectMapper()

  /** The reference's own decoding of a wire line: `None` for a line the
    * service drops (not JSON, or `metric` not an object). */
  def parseLine(line: String): Option[Env] =
    try {
      val n = mapper.readTree(line)
      val m = if (n == null || !n.isObject) null else n.get("metric")
      if (m == null || !m.isObject) None
      else {
        def txt(o: JsonNode, f: String, d: String) =
          Option(o).flatMap(x => Option(x.get(f))).filterNot(_.isNull).map(_.asText).getOrElse(d)
        val dimsNode = m.get("dimensions")
        val dims =
          if (dimsNode == null || dimsNode.isNull) null
          else dimsNode.properties().asScala.map(en => en.getKey -> en.getValue.asText).toMap
        val meta = n.get("meta")
        val tenant = if (meta == null || meta.get("tenantId") == null) null else meta.get("tenantId").asText
        Some(Env(txt(m, "name", ""), dims, m.get("timestamp").asDouble.toLong,
          m.get("value").asDouble, tenant))
      }
    } catch { case _: com.fasterxml.jackson.core.JacksonException => None }

  /** An emitted JSON envelope decoded into [[Out]]. */
  def parseOut(json: String): Out = {
    val n = mapper.readTree(json)
    val m = n.get("metric")
    val dims = m.get("dimensions").properties().asScala.map(en => en.getKey -> en.getValue.asText).toMap
    Out(m.get("name").asText, n.get("meta").get("tenantId").asText, dims,
      m.get("timestamp").asDouble, m.get("value").asDouble)
  }

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  /** Differences between an output and the reference's, as messages (empty
    * when they agree): windows emitted twice, missing, extra, or with a
    * value outside the relative tolerance. */
  def diff(actual: Seq[Out], expected: Seq[Out], limit: Int = 5): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val byKey = actual.groupBy(_.key)
    byKey.foreach { case (k, vs) => if (vs.size > 1) problems += s"emitted ${vs.size} times: $k" }
    val exp = expected.map(o => o.key -> o).toMap
    if (exp.size != expected.size) problems += "reference emitted a key twice"
    exp.foreach { case (k, e) =>
      byKey.get(k) match {
        case None => problems += s"missing: $e"
        case Some(a) if !close(a.head.value, e.value) => problems += s"value ${a.head.value} != ${e.value}: $k"
        case _ =>
      }
    }
    byKey.keys.filterNot(exp.contains).foreach(k => problems += s"unexpected: $k")
    problems.result().take(limit)
  }
}

/** Micro-batch emulation of the streaming service for the same rules:
  * per-rule watermark = max matched event time − lag, a row is late when its
  * window ended at or before the watermark left by the previous batch, and a
  * window is emitted once, after the batch whose data moves the watermark
  * past its end (rollups emit their coarse window the same way). */
final class StreamRef(rules: Seq[RefRule], windowSec: Long, lagSec: Long) {
  private val windowMs = windowSec * 1000
  private final class RuleState {
    val groups = mutable.HashMap.empty[Ref.Key, Acc]
    var maxTs = Long.MinValue
    var wm = 0L
    var lateRows = 0L
    var lateGroups = 0L
  }
  private val st = rules.map(_ => new RuleState)

  /** Offers one batch; returns the outputs the batch makes closable. */
  def offer(batch: Iterable[Env]): Seq[Out] = {
    rules.zip(st).flatMap { case (r, s) =>
      val late = mutable.HashSet.empty[Ref.Key]
      batch.foreach { e =>
        if (r.matches(e)) {
          val k = Ref.keyOf(r, e, windowMs)
          if (k._1 + windowMs <= s.wm) { s.lateRows += 1; late += k }
          else s.groups.getOrElseUpdate(k, new Acc).add(e.tsMs.toDouble, e.value)
          s.maxTs = math.max(s.maxTs, e.tsMs)
        }
      }
      s.lateGroups += late.size
      if (s.maxTs != Long.MinValue) s.wm = math.max(s.wm, s.maxTs - lagSec * 1000)
      // a coarse rollup window closes only when its own end passes the mark
      val rwMs = r.rollup.flatMap(_.windowSec).map(_ * 1000).getOrElse(windowMs)
      val closable = s.groups.filter { case ((w, _, _), _) =>
        Ref.windowStart(w, rwMs) + rwMs <= s.wm
      }
      closable.keys.foreach(s.groups.remove)
      Ref.finish(r, windowMs, closable)
    }
  }

  def lateRows(rule: String): Long = st(rules.indexWhere(_.name == rule)).lateRows
  /** Late rows as Spark's stateful operator counts them: one per distinct
    * (window, tenant, key) group per batch, after the partial aggregate. */
  def lateGroups(rule: String): Long = st(rules.indexWhere(_.name == rule)).lateGroups
}
