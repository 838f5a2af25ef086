package perfbench

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/**
 * Benchmark JVM: sets up a session, timed from JVM start, then runs the
 * workload's ops as a closed loop with one client -- one cold pass, an
 * untimed verification pass that dumps every op's output for the DuckDB
 * oracle check, then warm passes until the time budget is spent.
 *
 * Usage: Main <workload> <seed> <seconds> <trace 0|1> <inputDir> <outDir> <cores> <pairOps 0|1>
 *
 * Writes `<outDir>/jvm_result.json` (timings, row counts, hashes, per-layer
 * numbers of traced passes), `<outDir>/spans.json` and the dump under
 * `<outDir>/dump`. Correctness is judged by the caller from those files.
 */
object Main {
  final case class OpRun(op: Op, seconds: Double, rows: Long, hash: String, error: String)
  final case class PassRec(index: Int, traced: Boolean, seconds: Double, ops: Seq[OpRun],
      layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    require(args.length == 8,
      "usage: Main <workload> <seed> <seconds> <trace> <inputDir> <outDir> <cores> <pairOps>")
    val Array(workload, seedS, secondsS, traceS, inputDir, outDir, coresS, pairOpsS) = args
    val seed = seedS.toLong
    val budget = secondsS.toDouble
    val trace = traceS == "1"
    val cores = coresS.toInt
    val ops = Workloads(workload, seed, pairOps = pairOpsS == "1")
    val workDir = s"$outDir/work"
    val dumpDir = s"$outDir/dump"

    val heap = new HeapAfterGc
    // ---- set-up: session start and a warm-up read, timed from JVM start,
    // so class loading and the program's one-time initialisation count
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      // the generated files are a few MB; at Spark's default 4 MB open
      // cost each would be read by one task instead of split by row group
      .config("spark.sql.files.openCostInBytes", (64 * 1024).toString)
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()
    spark.read.parquet(s"$inputDir/nation.parquet").count()
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    if (trace) {
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    val ctx = new Ctx(spark, inputDir, workDir, tracer)

    /** Caches and checkpoints are cleared between passes, never inside one.
     * The dedup memo is cleared through its own API first: a blanket
     * unpersist would leave it pointing at dead checkpoint blocks. */
    def clearState(): Unit = {
      graft.functions.Dedup.clearSignatureCache()
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      deleteTree(Paths.get(workDir))
    }

    def runOp(op: Op): OpRun = {
      val t0 = System.nanoTime()
      try {
        tracer.span("op", op.name) {
          val df = tracer.span("build", op.name) {
            val d = op.build(ctx)
            if (tracer.enabled) tracer.current.counters("analysis_ms") =
              d.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L).toDouble
            d
          }
          val (rows, hash) = tracer.span("action", op.name)(fingerprint(df))
          OpRun(op, (System.nanoTime() - t0) / 1e9, rows, hash, null)
        }
      } catch {
        case t: Throwable =>
          System.err.println(s"op ${op.name} failed: $t")
          OpRun(op, (System.nanoTime() - t0) / 1e9, -1L, null, String.valueOf(t))
      }
    }

    def runPass(index: Int, traced: Boolean): PassRec = {
      tracer.enabled = traced
      tracer.pass = index
      val t0 = System.nanoTime()
      val runs = tracer.span("pass", s"pass$index")(ops.map(runOp))
      val seconds = (System.nanoTime() - t0) / 1e9
      // every pass waits for the listener bus, so events of one pass are
      // never delivered (and tagged) after the next pass has begun
      org.apache.spark.BusDrain(sc)
      val layers = if (traced) {
        Layers(tracer, index, cores) +
          ("workflow.checkpoint_mb" -> treeBytes(Paths.get(s"$workDir/checkpoints")) / 1e6)
      } else Map.empty[String, Double]
      tracer.enabled = false
      clearState()
      System.err.println(f"pass $index%d${if (traced) " traced" else ""}: $seconds%.3f s " +
        runs.map(r => f"${r.op.name}=${r.seconds}%.2f").mkString(" "))
      PassRec(index, traced, seconds, runs, layers)
    }

    // ---- the cold pass: the first run of every op after set-up
    deleteTree(Paths.get(workDir))
    val passes = mutable.ArrayBuffer(runPass(0, trace))

    // ---- verification pass (untimed): dump each output, hash the dump. It
    // runs right after the cold pass, so it also takes the first warm-up
    // (JIT) off the timed warm passes.
    tracer.pass = -1
    val verifyStart = System.nanoTime()
    val verified = ops.map { op =>
      val path = s"$dumpDir/${op.name}"
      op.name -> (try {
        op.build(ctx).write.mode("overwrite").parquet(path)
        val (rows, hash) = fingerprint(spark.read.parquet(path))
        (rows, hash, null: String)
      } catch {
        case t: Throwable =>
          System.err.println(s"verify ${op.name} failed: $t")
          (-1L, null: String, String.valueOf(t))
      })
    }
    clearState()
    val verifyS = (System.nanoTime() - verifyStart) / 1e9

    // ---- warm passes: at least three and until the budget is spent. A
    // traced run makes at least four and traces them in the order untraced,
    // traced, traced, untraced (repeated), so the difference of the two
    // medians is the tracing overhead and the traced passes are not the
    // least warm ones.
    val warmStart = System.nanoTime()
    val minWarm = if (trace) 4 else 3
    while (passes.size - 1 < minWarm || (System.nanoTime() - warmStart) / 1e9 < budget)
      passes += runPass(passes.size, trace && Set(2, 3).contains(passes.size % 4))

    write(s"$dumpDir/oracle_sql.json", Json.obj(ops.flatMap(o => o.oracle.map(o.name -> _)).map {
      case (k, v) => k -> Json.str(v)
    }))
    write(s"$dumpDir/queries.json", Json.arr(ops.map(o => Json.str(o.name))))

    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "cores" -> cores.toString,
      "java_version" -> Json.str(System.getProperty("java.version")),
      "spark_version" -> Json.str(spark.version),
      "setup_s" -> Json.num(setupS),
      "verify_s" -> Json.num(verifyS),
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "heap_after_gc_mb" -> Json.num(heap.peakMb),
      "passes" -> Json.arr(passes.toSeq.map { p =>
        Json.obj(Seq(
          "index" -> p.index.toString,
          "traced" -> p.traced.toString,
          "seconds" -> Json.num(p.seconds),
          "layers" -> Json.obj(p.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
          "ops" -> Json.arr(p.ops.map(r => Json.obj(Seq(
            "name" -> Json.str(r.op.name),
            "seconds" -> Json.num(r.seconds),
            "rows" -> r.rows.toString,
            "hash" -> Json.str(r.hash),
            "error" -> Json.str(r.error)))))))
      }),
      "verified" -> Json.obj(verified.map { case (name, (rows, hash, err)) =>
        name -> Json.obj(Seq("rows" -> rows.toString, "hash" -> Json.str(hash),
          "error" -> Json.str(err)))
      })))
    write(s"$outDir/jvm_result.json", result)
    if (trace) write(s"$outDir/spans.json", Layers.spansJson(tracer))
    spark.stop()
  }

  /** Row count plus an order-insensitive hash over every column, computed
   * in one action. Map columns are hashed through their JSON form, since
   * xxhash64 rejects maps. */
  def fingerprint(df: DataFrame): (Long, String) = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    val names = df.columns.indices.map(i => s"c$i")
    val cols = df.schema.fields.zip(names).map { case (f, n) =>
      if (hasMap(f.dataType)) to_json(col(n)) else col(n)
    }
    val r = df.toDF(names: _*)
      .agg(count(lit(1)), sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) return -1
    new String(Files.readAllBytes(status), StandardCharsets.UTF_8).split("\n")
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
  }

  private def write(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
  }

  def treeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally s.close()
  }
}

/** Minimal JSON rendering for the result files. */
object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
