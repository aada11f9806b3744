package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark's JVM side.
  *
  * `perfbench.Main --workload <w> --data <dir> --work <dir> --seconds <s>
  * --trace <0|1> --out <file>` runs one workload against the program's
  * public entry points and writes one JSON result to `--out`; `run.py`
  * builds it, generates the inputs, checks the outputs and prints the
  * final line.
  */
object Main {

  final case class Args(workload: String, data: String, work: String,
      seconds: Int, trace: Boolean, out: String, seed: Long) {
    def path(rel: String): String = Paths.get(work, rel).toString
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("data"), kv("work"), kv("seconds").toInt,
      kv("trace") == "1", kv("out"), kv.getOrElse("seed", "0").toLong)
    val r = new Result
    r.put("nproc", Runtime.getRuntime.availableProcessors)
    r.put("loadavg_start", Guards.loadavg)
    a.workload match {
      case "batch_10x" => BatchWorkload.run(a, r)
      case "serve_mix" => ServeWorkload.run(a, r)
      case "refresh_ticks" => RefreshWorkload.run(a, r)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    r.e2e("peak_rss_mb", Guards.peakRssMb, "MB")
    r.put("loadavg_end", Guards.loadavg)
    if (a.trace) Files.write(Paths.get(a.path("trace_spans.json")), Trace.dumpJson.getBytes(UTF_8))
    Files.write(Paths.get(a.out), r.json.getBytes(UTF_8))
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(0)
  }

  val SetupReps = 3

  /** Ops measured at least, whatever `--seconds` says. */
  val MinOps = 2

  /** Set up `reps` times (session plus the workload's own readiness step)
    * and keep the last one; `setup_s` is the median. The first repetition
    * also pays JVM class loading, which the median leaves out. */
  def setUp[T](r: Result, reps: Int)(make: () => (SparkSession, T))(
      teardown: T => Unit): (SparkSession, T) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: (SparkSession, T) = null
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      last = make()
      times += (System.nanoTime() - t0) / 1e9
      if (i < reps) { teardown(last._2); last._1.stop() }
    }
    r.e2e("setup_s", Stats.median(times.toSeq), "s")
    r.put("setup_samples_s", times.toSeq)
    last
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** Validity guards: a run that breaks one is reported invalid, not as a
  * number. External CPU is the `graft.Bench` discriminator: the box's CPU
  * share minus this JVM's, over the measured window. */
object Guards {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def loadavg: Double = os.getSystemLoadAverage

  /** Box CPU minus own CPU since the previous call (both are tick deltas). */
  def externalCpu(): Double = {
    val sys = os.getCpuLoad; val self = os.getProcessCpuLoad
    if (sys.isNaN || self.isNaN || sys < 0 || self < 0) 0.0 else math.max(0.0, sys - self)
  }

  def processCpuMs: Double = os.getProcessCpuTime / 1e6

  private val compilation = ManagementFactory.getCompilationMXBean

  /** CPU ms of the process since it was made, less the time its JIT
    * compilers spent: compilation is warm-up whose amount depends on
    * timing, not on the work measured. */
  final class CpuClock {
    private val p0 = processCpuMs
    private val c0 = compilation.getTotalCompilationTime
    def jitMs: Double = (compilation.getTotalCompilationTime - c0).toDouble
    def ms: Double = processCpuMs - p0 - jitMs
  }

  /** (steal, total) ticks of the box's CPUs from `/proc/stat`: steal is
    * time the hypervisor gave this machine's virtual CPUs to others. */
  def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  val MaxExternalCpu = 0.35

  /** Open a measured window: returns a closer that records the window's
    * guards into `r` under `name`. */
  def window(r: Result, name: String): () => Unit = {
    externalCpu()
    val cpu0 = processCpuMs
    val cpu = new CpuClock
    val (steal0, ticks0) = cpuTicks()
    () => {
      val ext = externalCpu()
      val (steal1, ticks1) = cpuTicks()
      r.put(s"guard_${name}_external_cpu", ext)
      r.put(s"guard_${name}_steal", (steal1 - steal0).toDouble / math.max(1L, ticks1 - ticks0))
      r.put(s"guard_${name}_cpu_ms", processCpuMs - cpu0)
      r.put(s"guard_${name}_jit_ms", cpu.jitMs)
      if (ext > MaxExternalCpu)
        r.invalid(f"external CPU share $ext%.2f over the $name window exceeds $MaxExternalCpu")
      if (loadavg > 3.0 * Runtime.getRuntime.availableProcessors)
        r.invalid(f"loadavg $loadavg%.1f exceeds 3x nproc")
    }
  }
}

/** What one run reports: end-to-end metrics, per-layer metrics, the
  * workload-specific report figures, failures and the checks left to
  * `run.py`. */
final class Result {
  private val fields = mutable.LinkedHashMap.empty[String, Any]
  val e2eMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val report = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  val failures = mutable.ArrayBuffer.empty[String]
  val invalidReasons = mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  def put(k: String, v: Any): Unit = fields(k) = v
  def e2e(k: String, v: Double, unit: String): Unit = e2eMetrics(k) = (v, unit)
  def layer(k: String, v: Double, unit: String): Unit = layerMetrics(k) = (v, unit)
  /** A workload-specific figure for the human report, with its sample count. */
  def named(k: String, v: Double, unit: String, n: Int): Unit = report(k) = (v, unit, n)
  def fail(msg: String): Unit = synchronized { failures += msg }
  def invalid(msg: String): Unit = synchronized { invalidReasons += msg }

  def json: String = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap
    Json.render(fields.toMap ++ Map(
      "attempted" -> attempted,
      "failures" -> failures.toSeq,
      "invalid" -> invalidReasons.toSeq,
      "e2e" -> metrics(e2eMetrics),
      "layers" -> metrics(layerMetrics),
      "report" -> report.map { case (k, (v, u, n)) =>
        k -> Map("value" -> v, "unit" -> u, "samples" -> n) }.toMap))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => str(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}
