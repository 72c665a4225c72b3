package perfbench

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** Harness entry point. Reads a workload spec generated by the benchmark,
  * runs it, and writes everything it measured as one JSON document:
  *
  * {{{
  *   perfbench.Main --spec <spec.json> --out <result.json> --work <dir>
  *                  --seconds <s> --trace <0|1> --setups <n> --cores <n>
  * }}}
  *
  * `--work` is a scratch directory the run owns (warehouses, Spark local
  * files); the caller deletes it. With `--trace 1` the run measures a
  * quarter of the time untraced, the full time traced, then another
  * untraced quarter, so the traced figures and the tracing overhead come
  * from one process. */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val startupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    implicit val formats: Formats = DefaultFormats
    val spec = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(opts("spec"))), "UTF-8"))
    val work = Paths.get(opts("work"))
    Files.createDirectories(work)
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val setups = opts.getOrElse("setups", "3").toInt
    val result = (spec \ "workload").extract[String] match {
      case "rest-read" => RestBench.restRead(spec, work, seconds, trace, setups)
      case "rest-commit" => RestBench.restCommit(spec, work, seconds, trace, setups)
      case "pack" => PackBench.run(spec, work, seconds, trace, opts("cores").toInt)
      case other => sys.error(s"unknown workload $other")
    }
    val out = result ++ Map("jvm_startup_s" -> startupS, "peak_rss_kb" -> vmHwmKb())
    Files.write(Paths.get(opts("out")), Serialization.write(out).getBytes("UTF-8"))
    // the REST server's handler pool and Spark keep non-daemon threads
    // alive; everything measured is written, so end the process here
    System.exit(0)
  }

  /** Peak resident set of this process (VmHWM), in kB; -1 if unknown. */
  def vmHwmKb(): Long =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }
}
