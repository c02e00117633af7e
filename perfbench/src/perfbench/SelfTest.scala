package perfbench

/** Hand-computed cases for the reference aggregator, and proof that the
  * output checks fail on perturbed output. Runs before every benchmark run
  * (no Spark involved) and alone with `--workload selftest`. */
object SelfTest {
  private def check(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(s"selftest: $what")

  private def env(name: String, dims: Map[String, String], ts: Long, v: Double,
      tenant: String = "t") = Env(name, dims, ts, v, tenant)

  private def rule(fn: String, grouped: Seq[String] = Nil, filtered: Map[String, String] = Map.empty,
      rejected: Map[String, String] = Map.empty, rollup: Option[RefRollup] = None) =
    RefRule(s"r_$fn", fn, "m", filtered, rejected, grouped, s"agg_$fn", rollup)

  private def one(r: RefRule, rows: Seq[Env], windowSec: Long = 10): Map[(Double, Map[String, String]), Double] =
    Ref.batch(Seq(r), windowSec, rows.iterator).map(o => (o.tsMs, o.dims) -> o.value).toMap

  private def json(o: Out): String =
    s"""{"metric":{"name":"${o.name}","dimensions":{${o.dims.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")}},""" +
      s""""timestamp":${o.tsMs},"value":${o.value},"value_meta":{}},"meta":{"tenantId":"${o.tenant}"},"creation_time":0}"""

  def run(): Unit = {
    val h = Map("hostname" -> "a")
    // functions over one window; the row order is not the time order
    val pts = Seq(env("m", h, 1000, 5), env("m", h, 3000, 2), env("m", h, 2000, 9))
    val expect = Map("sum" -> 16.0, "count" -> 3.0, "avg" -> 16.0 / 3, "min" -> 2.0,
      "max" -> 9.0, "delta" -> -3.0, "rate" -> -1.5)
    expect.foreach { case (fn, v) =>
      check(one(rule(fn), pts) == Map((0.0, Map.empty[String, String]) -> v), s"$fn over three points")
    }
    // single point: delta = rate = 0; equal timestamps break ties by value
    check(one(rule("delta"), pts.take(1)).values.toSeq == Seq(0.0), "single-point delta")
    check(one(rule("rate"), pts.take(1)).values.toSeq == Seq(0.0), "single-point rate")
    val tie = Seq(env("m", h, 1000, 4), env("m", h, 1000, 1))
    check(one(rule("delta"), tie).values.toSeq == Seq(3.0), "equal-ts delta")
    check(one(rule("rate"), tie).values.toSeq == Seq(0.0), "equal-ts rate")
    // epoch-aligned windows: 9999 ms is in [0, 10 s), 10000 ms starts the next
    check(one(rule("count"), Seq(env("m", h, 0, 1), env("m", h, 9999, 1), env("m", h, 10000, 1))) ==
      Map((0.0, Map.empty[String, String]) -> 2.0, (10000.0, Map.empty[String, String]) -> 1.0),
      "window alignment")
    // F1–F4 and the output dimensions (filtered ∪ grouped)
    val r = rule("count", grouped = Seq("hostname"), filtered = Map("cluster" -> "c1"),
      rejected = Map("device" -> ""))
    val rows = Seq(
      env("m", Map("hostname" -> "a", "cluster" -> "c1"), 0, 1), // kept
      env("x", Map("hostname" -> "a", "cluster" -> "c1"), 0, 1), // F1 name
      env("m", Map("hostname" -> "a", "cluster" -> "c2"), 0, 1), // F2 value
      env("m", Map("hostname" -> "a"), 0, 1), // F2 absent key
      env("m", Map("hostname" -> "a", "cluster" -> "c1", "device" -> "d"), 0, 1), // F3
      env("m", Map("cluster" -> "c1"), 0, 1), // F4 grouped key absent
      env("m", null, 0, 1)) // no dimensions at all
    check(one(r, rows) == Map((0.0, Map("cluster" -> "c1", "hostname" -> "a")) -> 1.0), "F1-F4")
    check(rule("count").matches(env("m", null, 0, 1)), "no dims, no filters: matches")
    check(!rule("count", rejected = Map("device" -> "x")).matches(env("m", null, 0, 1)),
      "rejectedDimensions drop a metric without dimensions")
    // missing tenantId groups under ""
    check(Ref.batch(Seq(rule("count")), 10, Iterator(env("m", h, 0, 1, tenant = null))).head.tenant == "",
      "absent tenant")
    // rollup: per-(host, service) avg, then sum per service
    val ru = rule("avg", grouped = Seq("hostname", "service"), rollup = Some(RefRollup("sum", Seq("service"), None)))
    val rrows = Seq(
      env("m", Map("hostname" -> "a", "service" -> "s"), 0, 2),
      env("m", Map("hostname" -> "a", "service" -> "s"), 1, 4),
      env("m", Map("hostname" -> "b", "service" -> "s"), 2, 10))
    check(one(ru, rrows) == Map((0.0, Map("service" -> "s")) -> 13.0), "rollup sum of avgs")
    // a re-windowing rollup merges the 10 s windows of one 20 s window
    val rw = rule("sum", grouped = Seq("hostname"), rollup = Some(RefRollup("sum", Nil, Some(20))))
    check(one(rw, Seq(env("m", h, 0, 3), env("m", h, 10000, 5), env("m", h, 20000, 7))) ==
      Map((0.0, Map.empty[String, String]) -> 8.0, (20000.0, Map.empty[String, String]) -> 7.0),
      "re-windowing rollup")
    // corrupt lines are dropped by the reference's own decoder
    val good = Gen.toJson(env("m", h, 1234, 1.5))
    check(Ref.parseLine(good).contains(env("m", h, 1234, 1.5)), "decode a line")
    Seq(good.take(30), "metric=1 value=2", """{"metric":"1","meta":{}}""").foreach { l =>
      check(Ref.parseLine(l).isEmpty, s"corrupt line kept: $l")
    }

    // streaming: watermark = max ts − lag; late rows counted per group
    val sr = new StreamRef(Seq(rule("count")), 10, 2)
    val b0 = sr.offer(Seq(env("m", h, 5000, 1), env("m", h, 15000, 1)))
    check(b0.map(_.tsMs) == Seq(0.0), "window [0,10s) closes once the mark reaches 13 s")
    val b1 = sr.offer(Seq(env("m", h, 4000, 1), env("m", h, 4500, 1), env("m", h, 12500, 1)))
    check(b1.isEmpty && sr.lateRows("r_count") == 2 && sr.lateGroups("r_count") == 1,
      "rows of a closed window are late, one group")
    val b2 = sr.offer(Seq(env("m", h, 22000, 1)))
    check(b2.map(o => o.tsMs -> o.value) == Seq(10000.0 -> 2.0), "second window holds 15 s and 12.5 s")

    // the checks catch perturbed output
    val exp = Ref.batch(Seq(ru, rule("rate", Seq("hostname"))), 10, (rrows ++ pts).iterator)
    check(Ref.diff(exp, exp).isEmpty, "identical output passes")
    check(Ref.diff(exp.map(o => o.copy(value = o.value * (1 + 1e-12))), exp).isEmpty,
      "rounding within tolerance passes")
    check(Ref.diff(exp.updated(0, exp.head.copy(value = exp.head.value * (1 + 1e-6))), exp).nonEmpty,
      "perturbed value fails")
    check(Ref.diff(exp :+ exp.head, exp).exists(_.contains("emitted 2 times")), "duplicate fails")
    check(Ref.diff(exp.tail, exp).exists(_.startsWith("missing")), "missing row fails")
    check(Ref.diff(exp :+ exp.head.copy(tsMs = 90000), exp).exists(_.startsWith("unexpected")),
      "extra window fails")
    val lines0 = Array(Line(Gen.toJson(env("m", h, 5000, 1)), env("m", h, 5000, 1)))
    val lines1 = Array(Line(Gen.toJson(env("m", h, 15000, 1)), env("m", h, 15000, 1)),
      Line("garbage", null))
    val early = new StreamCheck(Seq(rule("count")), Gen.profile(0).copy(windowSec = 10, lagSec = 2),
      Seq((lines0, 0L, 0.0), (lines1, 100L, 0.0)),
      Seq(StreamService.Arrival("r_count", 50L,
        Array(json(Out("agg_count", "t", Map.empty, 0.0, 1.0))))))
    check(early.problems(Map("r_count" -> 0L)).exists(_.contains("still open")),
      "window emitted before the batch that closes it fails")
  }
}
