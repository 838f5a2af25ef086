package graft

import java.util.Locale

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator

/** Per-round benchmark: times the 14 headline queries (min of 3) and the
  * 22-query TPC-H-adapted suite (min of 2) on SPARK_GRAFT_SF_DIR with
  * `local[SPARK_GRAFT_CPUS]`, and prints one JSON line as the last stdout
  * line (see [[resultLine]]). The same line is written to
  * `bench_result.json` (SPARK_GRAFT_BENCH_OUT overrides the path).
  *
  * `value` is the headline suite only, so its series stays comparable
  * with BASELINE.md; `h_total` is the h-suite. The 1-min load average at
  * start and end is recorded as data and never acted on: noise between
  * runs is handled by the paired runs of `perfbench/`, not here.
  *
  * Cached and localCheckpointed blocks are dropped after every query, so
  * no measurement inherits block-manager state from an earlier query.
  */
object Bench {
  /** Per query: min wall seconds over the runs that succeeded, or None
    * when every run failed. */
  type Timings = Seq[(String, Option[Double])]

  private def loadavg1m: Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+").head.toDouble
    catch { case _: Throwable => -1.0 }

  // JSON numbers must use '.' whatever the JVM's default locale
  private def num(v: Double, digits: Int): String =
    s"%.${digits}f".formatLocal(Locale.ROOT, v)

  private def fmt(rs: Timings): String = rs.map {
    case (k, Some(v)) => "\"" + k + "\":" + num(v, 3)
    case (k, None) => "\"" + k + "\":\"error\""
  }.mkString("{", ",", "}")

  /** The result line: a single JSON object. A failed query renders as
    * `"error"`, is counted in `errors`/`h_errors` and adds nothing to
    * `value`/`h_total`. Figures only compare at equal `cpus` and `sf`. */
  private[graft] def resultLine(results: Timings, hResults: Timings,
      loadStart: Double, loadEnd: Double, cpus: Int, sfDir: String): String = {
    def total(rs: Timings) = num(rs.flatMap(_._2).sum, 3)
    def errors(rs: Timings) = rs.count(_._2.isEmpty)
    val sf = sfDir.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"metric":"total","value":${total(results)},"unit":"sec","runs":3,""" +
      s""""agg":"min","errors":${errors(results)},"queries":${fmt(results)},""" +
      s""""h_total":${total(hResults)},"h_runs":2,"h_errors":${errors(hResults)},""" +
      s""""h_queries":${fmt(hResults)},"loadavg_start":${num(loadStart, 2)},""" +
      s""""loadavg_end":${num(loadEnd, 2)},"cpus":$cpus,"sf":"$sf"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      // signature/verification frames at bench scale are tens of MB; let
      // them broadcast instead of paying two shuffle-join sorts (at real
      // scale they exceed this and AQE falls back to sort-merge)
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // clearState() unpersists local checkpoints, and the RDD logger warns
    // once per block ("... was locally checkpointed ..."); keep its errors
    Configurator.setLevel("org.apache.spark.rdd", Level.ERROR)
    val loadStart = loadavg1m

    /** Drop every cached/localCheckpointed block so the next measurement
     * starts from a clean block manager regardless of what the previous
     * query (or phase) left behind. The dedup family's shingle memo must
     * be cleared THROUGH its own API first — a blanket unpersist would
     * destroy its checkpoint blocks while leaving the memo entries alive,
     * and the next dedup query would then resolve a dead frame
     * (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). */
    def clearState(): Unit = {
      graft.functions.Dedup.clearSignatureCache()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    val names = SparkEntry.benchQueries.filter(SparkEntry.queries.contains)
    // warm the JVM/parquet footers once with the cheapest query
    try SparkEntry.queries(names.head)(spark, sfDir).count() catch { case _: Throwable => () }

    /** Min-of-`runs` wall time per query; a failed run must NOT feed its
     * wall time into the min — a query that throws fast would otherwise
     * report as a fast success. */
    def time(qs: Seq[String], runs: Int): Timings =
      qs.map { name =>
        val fn = SparkEntry.queries(name)
        val times = (1 to runs).flatMap { _ =>
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
          catch { case t: Throwable =>
            System.err.println(s"BENCH ERROR $name: ${t.getClass.getSimpleName}: ${t.getMessage}")
            None
          }
        }
        // between QUERIES, outside the timed section: no measurement
        // inherits another query's blocks. NOT between runs — the engine's
        // RunOnce persist registry legitimately reuses a query's own
        // frames across its min-of-N runs (steady-state semantics), and
        // yanking those blocks mid-registry breaks the next run
        // (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
        clearState()
        name -> times.minOption
      }

    // steady-state throughput: 3 runs per query, report the min (first run
    // pays one-off whole-stage-codegen JIT compilation, ~6s on the heavy
    // dedup pipelines; a third run tightens the min against background
    // noise on a shared box — measured run-to-run spread is ~1.5x)
    val results = time(names, runs = 3)
    // TPC-H-adapted relational suite: 2 runs (22 queries; the min still
    // sheds the per-plan codegen cost, and the suite is ~1 s/query)
    val hNames = TpchSuite.sql.keys.toSeq.sorted.map(n => s"${n}_tpch")
      .filter(SparkEntry.queries.contains)
    val hResults = time(hNames, runs = 2)
    val line = resultLine(results, hResults, loadStart, loadavg1m, cpus, sfDir)
    try {
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"BENCH RESULT written to $out")
    } catch { case t: Throwable =>
      System.err.println(s"BENCH RESULT file write failed: ${t.getMessage}")
    }
    spark.stop()
    // last, after Spark's shutdown: a caller reading stdout takes the
    // final line the program prints
    println(line)
  }
}
