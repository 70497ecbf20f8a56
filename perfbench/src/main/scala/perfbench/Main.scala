package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run in one JVM: `Main <workload> <seed> <seconds> <trace 0|1>
  * <scratch dir> <result file>`. `run.py` builds the classpath, owns the
  * scratch directory and prints the result line; this side runs the
  * workload, checks its outputs and writes the result as one JSON object. */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, scratch, resultFile) = args
    val ctx = Ctx(seedS.toLong, secondsS.toInt, traceS == "1", scratch)
    val result =
      try {
        val spark = ctx.session
        try workload match {
          case "cdc_sync" => CdcSync.run(ctx)
          case "analytics_sf01" => Analytics.run(ctx)
          case other => throw new IllegalArgumentException(s"unknown workload: $other")
        } finally {
          ctx.trace.writeTo(s"$scratch/trace.jsonl")
          spark.stop()
        }
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Result.crashed(s"${e.getClass.getName}: ${e.getMessage}")
      }
    Files.write(Paths.get(resultFile), result.json.getBytes(StandardCharsets.UTF_8))
    // Spark leaves non-daemon threads behind; the result is on disk
    System.exit(0)
  }
}

/** Run-wide context: arguments, the Spark session, the trace, the clock. */
final case class Ctx(seed: Long, seconds: Int, traced: Boolean, scratch: String) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  /** JVM start, the zero of `setup_s`. */
  val jvmStartNanos: Long = {
    val upMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
    System.nanoTime() - upMs * 1000000L
  }
  lazy val session: SparkSession = {
    val s = graft.GraftSession.builder(cpus.toString)
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  lazy val trace: Trace = new Trace(session, traced)
  /** Seconds from JVM start until now. */
  def sinceStart: Double = (System.nanoTime() - jvmStartNanos) / 1e9
}

/** A workload's outcome: the operation counts, its metrics and the
  * correctness verdict with the reasons for a failed check. */
final case class Result(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    metrics: Seq[(String, Double, String)],
    problems: Seq[String]) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) => s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}, """ +
      s""""problems": [${problems.take(20).map(Json.str).mkString(", ")}]}"""
  }
}

object Result {
  def crashed(why: String): Result = Result(correct = false, 0, 0, Nil, Seq(why))
}

/** Collects failed correctness checks; a run with any is not correct. */
final class Checks {
  private val problems = mutable.ArrayBuffer[String]()
  def require(ok: Boolean, what: => String): Unit =
    if (!ok) problems.synchronized { problems += what; System.err.println(s"[check] FAILED: $what") }
  def all: Seq[String] = problems.synchronized(problems.toList)
  def ok: Boolean = all.isEmpty
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e6)
  }
}
