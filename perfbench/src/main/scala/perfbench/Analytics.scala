package perfbench

import graft.{Bench, SparkEntry}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** `analytics_sf01`: a fixed slice of the 91-query suite (`SparkEntry.queries`),
  * two or more queries from each family, on the read-only fixtures. Each
  * query is warmed once at sf0.001 (set-up), then timed at sf0.1 with its
  * full result written as parquet — every output column materialized, never
  * a `count()` — in a seeded order, in whole passes: another pass starts
  * only if it is expected to end within `--seconds`.
  * Each query's warm-up run, its first in the fresh JVM, is timed too: the
  * cold latency, where planning, code generation and JIT dominate. `run.py`
  * checks the sf0.1 results against the DuckDB oracle. */
object Analytics {

  /** The timed slice: every family of the suite (README lists all 91). */
  val Slice: Seq[String] = Seq(
    "q01_pricing_summary", // relational
    "q45_dedup_clusters", // dedup
    "q65_curation_pipeline", // dedup
    "q52_tfidf", // text
    "q24_knn_bruteforce") // vector

  def run(ctx: Ctx): Result = {
    val spark = ctx.session
    val trace = ctx.trace
    val sf = sys.env.getOrElse("PERFBENCH_SF_DIR",
      throw new IllegalArgumentException("PERFBENCH_SF_DIR must name the sf0.1 fixture directory"))
    val parent = new java.io.File(sf).getParent
    val warmDir = s"$parent/sf0.001"
    val out = s"${ctx.scratch}/analytics"
    val names = Slice
    names.foreach(n => require(SparkEntry.queries.contains(n), s"no query $n"))

    // set-up: one warm pass at sf0.001 (codegen, JIT, schema caches); each
    // query's first run in the fresh JVM is timed as the cold latency
    val cold = names.map { n =>
      val (_, ms) = Stats.timed(Bench.materialize(SparkEntry.queries(n)(spark, warmDir)))
      spark.catalog.clearCache()
      System.err.println(f"[perfbench] $n cold at sf0.001: $ms%.0f ms")
      ms
    }
    val setupS = ctx.sinceStart

    val times = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val passMs = mutable.ArrayBuffer[Double]()
    val order = new scala.util.Random(ctx.seed).shuffle(names)
    val window0 = System.nanoTime()
    var passes = 0
    def elapsedMs = (System.nanoTime() - window0) / 1e6
    while (passes == 0 || elapsedMs + passMs.last <= ctx.seconds * 1000.0) {
      passMs += order.map { n =>
        val (_, ms) = Stats.timed(trace.span(s"q.$n", s"$n-$passes") {
          SparkEntry.queries(n)(spark, sf).write.mode("overwrite").parquet(s"$out/$n")
        })
        times.getOrElseUpdate(n, mutable.ArrayBuffer()) += ms
        System.err.println(f"[perfbench] $n at sf0.1: $ms%.0f ms")
        spark.catalog.clearCache()
        ms
      }.sum
      passes += 1
    }
    val perQuery = names.map(n => n -> Stats.median(times(n).toSeq))
    val oracle = SparkEntry.oracleSql
    val json = names.filter(oracle.contains)
      .map(n => s"${Json.str(n)}: ${Json.str(oracle(n))}").mkString("{", ", ", "}")
    Files.write(Paths.get(s"$out/oracle_sql.json"), json.getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(s"$out/sf_dir.txt"), sf.getBytes(StandardCharsets.UTF_8))

    val metrics =
      if (!trace.enabled) Seq(
        ("setup_s", setupS, "s"),
        ("op_ms_p50", Stats.median(passMs.toSeq), "ms"),
        ("op2_ms_p50", cold.sum, "ms"),
        ("query_ms_p50", Stats.median(perQuery.map(_._2)), "ms"),
        ("rate_per_s", names.size / (Stats.median(passMs.toSeq) / 1000), "1/s"))
      else {
        trace.settle()
        val c = trace.countsUnder(trace.spans.filter(_.name.startsWith("q.")).map(_.id).toSet)
        perQuery.map { case (n, ms) => (s"q.${n}_s", ms / 1000, "s") } ++ Seq(
          ("spark.jobs", c.jobs.toDouble / passes, "count"),
          ("spark.stages", c.stages.toDouble / passes, "count"),
          ("spark.shuffle_bytes", c.shuffleBytes.toDouble / passes, "bytes"),
          ("spark.spill_bytes", c.spillBytes.toDouble / passes, "bytes"))
      }
    Result(correct = true, passes.toLong * names.size, 0L, metrics, Nil)
  }
}
