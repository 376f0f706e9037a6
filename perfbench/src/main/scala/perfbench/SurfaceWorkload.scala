package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.SparkEntry
import graft.operators.{DedupMetrics, IndexStats}
import graft.queries.{CoreQueries, TextQueries, VectorQueries}

/** The operator surface: `rows` of `SparkEntry.queries` over the generated
  * tables, after the five index prepares. The operator_surface workload
  * sweeps every row; the traced run of htn_bp_heavy probes `ProbeRows`
  * (see `HtnWorkload`).
  *
  * Set-up runs the prepares. The first sweep after set-up writes every
  * row's result as parquet; run.py checks those against `oracleSql`. The
  * measured sweeps then materialize each row into the `noop` sink, in an
  * order shuffled by the seed, one row at a time. */
final class SurfaceWorkload(a: Main.Args, rows: Seq[String]) extends Workload {
  import Main._
  import SurfaceWorkload._

  private val dir = a.dataDir
  private val prepareSeconds = mutable.LinkedHashMap.empty[String, Double]

  def setUp(spark: SparkSession, r: Result): Unit = {
    val prepares = Seq[(String, () => Unit)](
      "ivf" -> (() => VectorQueries.prepareIvfIndex(spark, dir)),
      "cluster" -> (() => TextQueries.prepareClusterIndex(spark, dir)),
      "signature" -> (() => TextQueries.prepareSignatureIndex(spark, dir)),
      "graph" -> (() => CoreQueries.prepareGraphIndex(spark, dir)),
      "postings" -> (() => TextQueries.preparePostingsIndex(spark, dir)))
    for ((name, build) <- prepares) {
      val ok = r.attempt(s"prepare $name") {
        prepareSeconds(name) = seconds(build())._2
      }
      if (!ok) sys.error(s"prepare $name failed: ${r.errors.last}")
    }
  }

  private def query(spark: SparkSession, name: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The first sweep, untimed: each row's result written for the oracle
    * check. */
  def warmUp(spark: SparkSession, r: Result): Unit = {
    val oracle = SparkEntry.oracleSql.keySet
    for (name <- rows) {
      val out = s"${a.workDir}/out/$name"
      r.attempt(s"row $name") {
        query(spark, name).coalesce(1).write.mode("overwrite").parquet(out)
        r.outputs += Map("row" -> name, "path" -> out) ++
          (if (oracle(name)) Map("sql" -> SparkEntry.oracleSql(name)) else Map.empty)
      }
    }
    IndexStats.reset()
    DedupMetrics.reset()
  }

  /** One untraced sweep in seeded order; returns its wall seconds. */
  private def sweep(spark: SparkSession, r: Result, order: Seq[String]): Double =
    seconds {
      for (name <- order) r.attempt(s"row $name") {
        r.sample("query_s", seconds(noop(query(spark, name)))._2)
      }
    }._2

  def measure(spark: SparkSession, r: Result): Unit = {
    val rng = new scala.util.Random(a.seed)
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    do r.sample("wall_s", sweep(spark, r, rng.shuffle(rows)))
    while (System.nanoTime() < deadline)
    r.values("operators.index_cache.misses") = cacheCount(".miss")
  }

  def trace(spark: SparkSession, r: Result): Unit = {
    val order = new scala.util.Random(a.seed).shuffle(rows)
    val untraced = sweep(spark, new Result, order)
    val (tr, root) = tracedSweep(spark, r, order)
    r.values("trace.overhead_ratio") = root.seconds / untraced
    SparkLayer.report(r, tr, root)
  }

  /** One sweep with a span per row, in the seeded order. Reports the
    * `queries.*`, `streaming.rolls.*`, `queries.prepare.*`, index-cache and
    * dedup metrics; returns the trace and its root span. */
  def tracedSweep(spark: SparkSession, r: Result,
                  order: Seq[String]): (Trace, Recorder.Span) = {
    IndexStats.reset()
    DedupMetrics.reset()
    val rec = new Recorder(spark.sparkContext)
    val exchanges = mutable.Map.empty[String, Int].withDefaultValue(0)
    rec.span("queries") {
      for (name <- order) r.attempt(s"row $name") {
        val df = rec.span(s"queries.${family(name)}.$name") {
          val df = query(spark, name)
          noop(df)
          df
        }
        exchanges(family(name)) += exchangeCount(df.queryExecution.executedPlan)
      }
    }
    val tr = new Trace(rec.finish())
    val root = tr.spans.find(_.name == "queries").get
    val rowSpans = tr.spans.filter(_.parent == root.id)
    val v = r.values
    for (fam <- Families) {
      val spans = rowSpans.filter(_.name.startsWith(s"queries.$fam."))
      v(s"queries.$fam.s") = spans.map(_.seconds).sum
      v(s"queries.$fam.jobs") = spans.map(tr.subtree(_).jobs).sum.toDouble
      v(s"queries.$fam.driver_gap_s") = spans.map(tr.driverGapSeconds).sum
      v(s"queries.$fam.exchanges") = exchanges(fam).toDouble
    }
    val rolls = rowSpans.filter(s => StreamingRows(s.name.split('.').last))
    v("streaming.rolls.s") = rolls.map(_.seconds).sum
    v("streaming.rolls.jobs") = rolls.map(tr.subtree(_).jobs).sum.toDouble
    v("streaming.rolls.output_bytes") = rolls.map(tr.subtree(_).outputBytes).sum.toDouble
    for ((name, sec) <- prepareSeconds) v(s"queries.prepare.$name.s") = sec
    v("operators.index_cache.hits") = cacheCount(".hit")
    v("operators.index_cache.misses") = cacheCount(".miss")
    v("operators.dedup_drops") =
      DedupMetrics.snapshot().values.map(_.buckets).sum.toDouble
    (tr, root)
  }

  private def cacheCount(suffix: String): Double =
    IndexStats.snapshot().collect { case (k, n) if k.endsWith(suffix) => n }.sum.toDouble
}

object SurfaceWorkload extends AdaptiveSparkPlanHelper {
  val Families = Seq("core", "graph", "htn", "text", "vector", "dedup", "media")

  def AllRows: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** Rows whose bodies call into `graft.streaming` (the tiered rolls). */
  val StreamingRows = Set("q81_tiered_roll", "q82_line_tiered_roll", "q84_graph_retraction",
    "t40_tiered_bm25", "d14_tiered_dedup", "v27_tiered_roll", "v28_pq_tiered_roll",
    "v33_ivfadc_tiered_roll", "m07_image_neardup_tiered")

  /** The probe's rows: the core, graph, HTN, text, vector, dedup and media
    * families, the five prepared indexes (graph q79, postings t37, ivf v04,
    * cluster d05, signature d06) and two tiered rolls (q81, v27). */
  val ProbeRows: Seq[String] = Seq(
    "q01_pricing_summary", "q23_sessionize", "q74_bfs_hops", "q79_incremental_adjacency",
    "q81_tiered_roll", "q83_htn_phenotype", "t37_bm25", "v04_ivf_ann", "v27_tiered_roll",
    "d05_dup_clusters", "d06_incremental_dedup", "m01_image_neardup")

  /** core q01-q64, graph q65-q84 without the HTN row q83, then by prefix. */
  def family(row: String): String = row.head match {
    case 'q' if row.startsWith("q83") => "htn"
    case 'q' => if (row.slice(1, 3).toInt <= 64) "core" else "graph"
    case 't' => "text"
    case 'v' => "vector"
    case 'd' => "dedup"
    case 'm' => "media"
    case _ => "core"
  }

  /** Shuffle exchanges in a physical plan, through AQE stages and subqueries. */
  def exchangeCount(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size
}
