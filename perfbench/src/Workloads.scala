package perfbench

import graft.SparkEntry
import graft.engine.SparkGraftEngine
import graft.schema.SchemaExpr
import graft.sql.{GraftSql, Template}
import graft.workflow.Workflow
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Everything an op needs: the session, the generated inputs, a scratch
 * directory that is emptied between passes, and the tracer for sub-spans. */
final class Ctx(val spark: SparkSession, val inputDir: String, val workDir: String,
    val tracer: Tracer) {
  def table(name: String): DataFrame = spark.read.parquet(s"$inputDir/$name.parquet")
  def engine: SparkGraftEngine = SparkGraftEngine(spark)
}

/** One operation of a pass. `oracle` is DuckDB SQL over the input tables,
 * or None when the result is pinned to its own verified hash. */
final case class Op(name: String, oracle: Option[String], build: Ctx => DataFrame)

object Workloads {
  /** `pairOps` adds to `curation` the two all-pairs dedup ops, whose DuckDB
   * oracles compare every pair of documents and take far longer than the
   * run; d06 then shares d02's minhash signature memo within a pass. */
  def apply(workload: String, seed: Long, pairOps: Boolean = false): Seq[Op] = workload match {
    case "etl" => etl
    // minhash near-duplicate pairs, brute-force kNN, two text kernels and
    // the dialect-driven PROCESS pipeline: the graft.functions kernels
    case "curation" => registry(Seq("d02_dedup_minhash") ++
      (if (pairOps) Seq("d06_dedup_pipeline", "d04_dedup_ngram") else Nil) ++
      Seq("s01_knn_brute", "t01_text_analyze", "t03_langid", "q60_sql_curation"))
    case "dialect" => dialect(seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private lazy val queries = SparkEntry.queries
  private lazy val oracles = SparkEntry.oracleSql

  private def registry(names: Seq[String]): Seq[Op] = names.map { n =>
    val q = queries.getOrElse(n, throw new IllegalArgumentException(s"no registry query '$n'"))
    Op(n, oracles.get(n), c => q(c.spark, c.inputDir))
  }

  // ---- etl: a scan-and-aggregate, a take-per-key window over the skewed
  // events, a six-table join of the TPC-H-adapted suite, and a
  // save-then-reload leg, so writes sit beside reads
  private def etl: Seq[Op] =
    registry(Seq("q01_agg", "q20_take_per_key", "h09_tpch")) :+
      Op("e01_save_reload", Some(
        """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
          | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderpriority""".stripMargin), c => {
        val e = c.engine
        val li = c.table("lineitem").select("l_orderkey", "l_partkey", "l_quantity",
          "l_extendedprice", "l_shipdate")
        val o = c.table("orders").select(col("o_orderkey").as("l_orderkey"),
          col("o_orderdate"), col("o_orderpriority"))
        val path = s"${c.workDir}/save_reload"
        e.save(e.join(li, o, "inner"), path, "parquet")
        e.aggregate(e.load(path, "parquet"), Seq("o_orderpriority"), Seq(
          count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue")))
      })

  // ---- dialect: small templated FugueSQL scripts and Workflow DAGs over
  // token-size frames; the seed picks each script's parameters

  private val extensions = GraftSql.Extensions(
    transformers = Map("first_n" -> GraftSql.TransformerDef(
      outputSchema = (_, _) => SchemaExpr.parse("user_id:long,event_id:long,rnk:int"),
      // input columns: event_id, user_id, ts, event_type (x02's SELECT)
      fn = (_, rows, p) => rows.take(p("n").toInt).zipWithIndex.map { case (r, i) =>
        Row(r.getLong(1), r.getLong(0), i)
      })),
    cotransformers = Map("pair_counts" -> GraftSql.CoTransformerDef(
      outputSchema = (_, _, _) => SchemaExpr.parse("k:long,n_orders:long,n_cust:long"),
      fn = (k, ls, rs, _) => Iterator.single(Row(k.head, ls.size.toLong, rs.size.toLong)))))

  private def script(c: Ctx, template: String, vars: Map[String, Any],
      tables: Seq[String]): DataFrame = {
    val text = c.tracer.span("render", "render") {
      val t = Template.render(template, vars)
      c.tracer.current.counters("statements") = GraftSql.splitStatements(t).size
      t
    }
    val inputs = tables.map(t => t -> c.table(t)).toMap
    c.tracer.span("sql", "sql")(GraftSql.runWith(c.engine, text, inputs, extensions))
      .yields("out")
  }

  private def inList(xs: Seq[String]): String = xs.map(x => s"'$x'").mkString(", ")

  private def subset[T](r: scala.util.Random, xs: Seq[T], min: Int): Seq[T] =
    r.shuffle(xs).take(min + r.nextInt(xs.size - min + 1))

  private def dialect(seed: Long): Seq[Op] = {
    val scripts: Seq[scala.util.Random => Op] = Seq(
      { r =>
        val statuses = subset(r, Seq("F", "O", "P"), 1).sorted
        val lo = r.nextInt(300000)
        Op("x01_loop_macro", Some(
          s"""SELECT o_orderpriority,
             | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_o_totalprice,
             | count(*) AS n
             |FROM orders WHERE o_orderstatus IN (${inList(statuses)}) AND o_totalprice > $lo
             |GROUP BY o_orderpriority""".stripMargin), c => script(c,
          """{% macro total(c) %}CAST(sum(CAST({{ c }} AS DECIMAL(18,2))) AS DOUBLE) AS sum_{{ c }}{% endmacro %}
            |res = SELECT o_orderpriority, {{ total('o_totalprice') }}, count(*) AS n
            | FROM orders
            | WHERE o_orderstatus IN ({% for s in statuses %}'{{ s }}'{% if not loop.last %}, {% endif %}{% endfor %})
            | {%- if lo > 0 %} AND o_totalprice > {{ lo }}{% endif %}
            | GROUP BY o_orderpriority
            |YIELD res AS out
            |""".stripMargin, Map("statuses" -> statuses, "lo" -> lo.toLong), Seq("orders")))
      },
      { r =>
        val types = subset(r, Seq("click", "error", "purchase", "signup", "view"), 2).sorted
        val n = 1 + r.nextInt(3)
        Op("x02_transform_presort", Some(
          s"""SELECT user_id, event_id, CAST(rn AS INTEGER) AS rnk FROM (
             | SELECT user_id, event_id,
             |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) - 1 AS rn
             | FROM events WHERE event_type IN (${inList(types)})) x
             |WHERE rn < $n""".stripMargin), c => script(c,
          """ev = SELECT event_id, user_id, ts, event_type FROM events
            | WHERE event_type IN ('{{ types | join("', '") }}')
            |t = TRANSFORM ev PREPARTITION BY user_id PRESORT ts DESC, event_id USING first_n(n:{{ n }})
            |YIELD t AS out
            |""".stripMargin, Map("types" -> types, "n" -> n.toLong), Seq("events")))
      },
      { r =>
        val n = 1 + r.nextInt(3)
        val nk = 5 + r.nextInt(20)
        Op("x03_take_zip", Some(
          s"""SELECT o.k, o.n AS n_orders, c.n AS n_cust FROM
             | (SELECT o_custkey AS k, CAST(least(count(*), $n) AS BIGINT) AS n
             |  FROM orders GROUP BY 1) o
             | JOIN (SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS n
             |  FROM customer WHERE c_nationkey < $nk GROUP BY 1) c ON o.k = c.k""".stripMargin),
          c => script(c,
            """top = TAKE {{ n }} ROWS FROM orders PREPARTITION BY o_custkey PRESORT o_totalprice DESC, o_orderkey
              |o = SELECT o_custkey AS k, o_orderkey FROM top
              |c = SELECT c_custkey AS k, c_nationkey FROM customer WHERE c_nationkey < {{ nk }}
              |z = ZIP o, c INNER BY k
              |TRANSFORM z USING pair_counts
              |YIELD AS out
              |""".stripMargin, Map("n" -> n.toLong, "nk" -> nk.toLong),
            Seq("orders", "customer")))
      },
      { r =>
        val q = 1 + r.nextInt(40)
        Op("x04_persist_yield", Some(
          s"""SELECT a.l_returnflag, a.qty, a.n, b.n_orders FROM
             | (SELECT l_returnflag, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
             |   count(*) AS n FROM lineitem WHERE l_quantity >= $q GROUP BY 1) a
             | JOIN (SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders
             |   FROM lineitem WHERE l_quantity >= $q GROUP BY 1) b
             | ON a.l_returnflag = b.l_returnflag""".stripMargin), c => script(c,
          """base = SELECT l_orderkey, l_returnflag, l_quantity FROM lineitem WHERE l_quantity >= {{ q }}
            |PERSIST base
            |a = SELECT l_returnflag, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty, count(*) AS n FROM base GROUP BY l_returnflag
            |b = SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders FROM base GROUP BY l_returnflag
            |res = SELECT a.l_returnflag, a.qty, a.n, b.n_orders FROM a JOIN b ON a.l_returnflag = b.l_returnflag
            |YIELD LOCAL res AS out
            |""".stripMargin, Map("q" -> q.toLong), Seq("lineitem")))
      },
      { r =>
        val lo = r.nextInt(300000)
        Op("w01_dag_checkpoint", Some(
          s"""SELECT o_orderstatus, c_mktsegment,
             | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
             | CAST(count(*) AS BIGINT) AS n
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE o_totalprice > $lo GROUP BY 1, 2""".stripMargin), c => {
          val w = new Workflow(c.engine, checkpointDir = s"${c.workDir}/checkpoints")
          val big = w.load(s"${c.inputDir}/orders.parquet")
            .filter(col("o_totalprice") > lo).deterministicCheckpoint()
          val cust = w.load(s"${c.inputDir}/customer.parquet")
            .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
          big.join(cust, "inner")
            .aggregate(Seq("o_orderstatus", "c_mktsegment"), Seq(
              sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"),
              count(lit(1)).as("n")))
            .yield_("out")
          c.tracer.span("workflow", "workflow")(w.run()("out"))
        })
      })
    scripts.zipWithIndex.map { case (make, i) => make(new scala.util.Random(seed * 1009L + i)) }
  }
}
