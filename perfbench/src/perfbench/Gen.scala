package perfbench

import java.util.SplittableRandom

/** One generated envelope. `dims == null` is an envelope without a
  * dimensions map; `tenant == null` is one whose meta carries no tenantId. */
final case class Env(name: String, dims: Map[String, String], tsMs: Long,
    value: Double, tenant: String)

/** One wire line. `env == null` marks a corrupt line the pipeline must drop. */
final case class Line(json: String, env: Env)

/** Everything the seed decides about a run's input. */
final case class Profile(seed: Long, windowSec: Long, lagSec: Long,
    tenants: Int, hosts: Int, hostSkew: Double, names: IndexedSeq[String],
    nameWeights: IndexedSeq[Double], oooShare: Double, lateShare: Double,
    corruptShare: Double) {
  def windowMs: Long = windowSec * 1000L
  /** Epoch-aligned event-time origin of the stream. */
  def t0Ms: Long = (1700000000000L / windowMs + seed.abs % 1000) * windowMs
  def describe: String =
    f"seed=$seed window=${windowSec}s lag=${lagSec}s tenants=$tenants hosts=$hosts " +
      f"hostSkew=$hostSkew%.2f ooo=$oooShare%.3f late=$lateShare%.3f " +
      f"corrupt=$corruptShare%.4f names=" +
      names.zip(nameWeights).map { case (n, w) => f"$n:$w%.3f" }.mkString(",")
}

/** Seeded input generator: one thread, deterministic in (seed, batch index).
  * The pipeline under test only ever sees the lines this object produces. */
object Gen {

  /** Metric names the rule configs filter on plus names no rule matches; the
    * seed perturbs their mix around these base weights. */
  private val baseMix: Seq[(String, Double)] = Seq(
    "cpu.idle" -> 3.0, "cpu.user" -> 2.0, "mem.used" -> 2.0,
    "disk.io" -> 1.5, "net.in" -> 1.5, "net.out" -> 1.0,
    "http.requests" -> 1.0, "http.errors" -> 0.5,
    "noise.a" -> 1.0, "noise.b" -> 0.5)

  val services: IndexedSeq[String] = (0 until 6).map(i => s"svc$i")
  val clusters: IndexedSeq[String] = IndexedSeq("c0", "c1", "test-cluster-01")
  val devices: IndexedSeq[String] = IndexedSeq("sda", "sdb", "nvme0")

  def profile(seed: Long): Profile = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val weights = baseMix.map { case (_, w) => w * (0.8 + 0.4 * r.nextDouble()) }
    val total = weights.sum
    Profile(seed,
      windowSec = Seq(10L, 20L, 30L)(r.nextInt(3)),
      lagSec = 2L,
      tenants = 3 + r.nextInt(2),
      hosts = 48 + r.nextInt(17),
      hostSkew = 0.9 + 0.4 * r.nextDouble(),
      names = baseMix.map(_._1).toIndexedSeq,
      nameWeights = weights.map(_ / total).toIndexedSeq,
      oooShare = 0.02 + 0.04 * r.nextDouble(),
      lateShare = 0.005 + 0.01 * r.nextDouble(),
      corruptShare = 0.005 + 0.01 * r.nextDouble())
  }

  private def cdf(ws: Seq[Double]): Array[Double] = {
    val c = ws.scanLeft(0.0)(_ + _).tail.toArray
    c.map(_ / c.last)
  }

  private def pick(c: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(c, u)
    math.min(if (i >= 0) i else -i - 1, c.length - 1)
  }

  /** Batches of one stream. Batch `k` holds `rows` lines whose base event
    * times sweep `[t0 + k·spanMs, t0 + (k+1)·spanMs)` in order; a share of
    * rows is set back by less than the lag (out of order), a share by three
    * to five windows past the lag (late), and a share of lines is corrupt. */
  final class Stream(val p: Profile, val rows: Int, val spanMs: Long) {
    private val nameCdf = cdf(p.nameWeights)
    private val hostCdf = cdf((1 to p.hosts).map(i => 1.0 / math.pow(i, p.hostSkew)))
    private val tenantCdf = cdf((1 to p.tenants).map(i => 1.0 / i))

    def batch(k: Int): Array[Line] = {
      val r = new SplittableRandom(p.seed * 1000003L + k)
      val out = new Array[Line](rows)
      val start = p.t0Ms + k * spanMs
      var i = 0
      while (i < rows) {
        val base = start + i * spanMs / rows
        val u = r.nextDouble()
        val ts =
          if (u < p.lateShare) start - p.lagSec * 1000 - (3 + r.nextInt(3)) * p.windowMs
          else if (u < p.lateShare + p.oooShare) base - 1 - r.nextLong(p.lagSec * 1000)
          else base
        val e = envelope(r, ts)
        val json = toJson(e)
        out(i) =
          if (r.nextDouble() < p.corruptShare) Line(corrupt(r, json), null)
          else Line(json, e)
        i += 1
      }
      out
    }

    private def envelope(r: SplittableRandom, ts: Long): Env = {
      val name = p.names(pick(nameCdf, r.nextDouble()))
      val dims: Map[String, String] =
        if (r.nextDouble() < 0.01) null
        else {
          var d = Map("hostname" -> f"host${pick(hostCdf, r.nextDouble())}%03d",
            "cluster" -> clusters(r.nextInt(clusters.size)))
          if (r.nextDouble() < 0.95) d += "service" -> services(r.nextInt(services.size))
          if (r.nextDouble() < 0.3) d += "device" -> devices(r.nextInt(devices.size))
          d
        }
      val tenant =
        if (r.nextDouble() < 0.01) null else s"tenant${pick(tenantCdf, r.nextDouble())}"
      Env(name, dims, ts, r.nextInt(1000000) / 1000.0, tenant)
    }
  }

  /** Three kinds of corrupt line: cut inside the metric object, not JSON at
    * all, and a `metric` that is not an object. */
  private def corrupt(r: SplittableRandom, json: String): String = r.nextInt(3) match {
    case 0 => json.substring(0, 12 + r.nextInt(json.length / 2 - 12))
    case 1 => s"metric=${json.length} value=${r.nextInt(100)}"
    case _ => s"""{"metric":"${json.length}","meta":{},"creation_time":0}"""
  }

  /** Envelope JSON in the reference's wire shape (Go json tags). */
  def toJson(e: Env): String = {
    val sb = new java.lang.StringBuilder(256)
    sb.append("{\"metric\":{\"name\":\"").append(e.name).append('"')
    if (e.dims != null) {
      sb.append(",\"dimensions\":{")
      var first = true
      e.dims.foreach { case (k, v) =>
        if (!first) sb.append(',')
        sb.append('"').append(k).append("\":\"").append(v).append('"')
        first = false
      }
      sb.append('}')
    }
    sb.append(",\"timestamp\":").append(e.tsMs)
      .append(",\"value\":").append(e.value)
      .append(",\"value_meta\":{}},\"meta\":{")
    if (e.tenant != null) sb.append("\"tenantId\":\"").append(e.tenant).append('"')
    sb.append("},\"creation_time\":").append(e.tsMs).append('}')
    sb.toString
  }
}
