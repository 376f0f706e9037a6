package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.htn._
import graft.operators.IndexStore

/** The two HTN workloads over the generated OMOP parquet.
  *
  * htn_bp_heavy: `HtnPipeline.run` without a checkpoint dir and without the
  * QC funnel — the fused path a dashboard refresh takes.
  *
  * htn_event_heavy: the production shape — a checkpoint dir and the QC
  * funnel — followed by a restart after the `analytical_htn` stage is
  * deleted.
  *
  * One unit of work runs from the parquet inputs to the analytical table
  * written as parquet; run.py checks every written table against the
  * DuckDB replay of the e-phenotype.
  *
  * The traced run of htn_bp_heavy ends with a probe of the operator
  * surface (`SurfaceWorkload.ProbeRows` over the small generated tables in
  * `<dataDir>/surface`), so that the query, streaming, index-cache and
  * dedup layers, which no HTN path reaches, are measured on a gated
  * workload. */
final class HtnWorkload(a: Main.Args, eventHeavy: Boolean) extends Workload {
  import Main._

  private val cfg = HtnConfig()

  private def tables(spark: SparkSession, dir: String): OmopTables =
    OmopTables.parquet(spark, s"$dir/omop")

  private def codelists(spark: SparkSession, dir: String): Codelists =
    HtnMain.loadCodelists(spark, s"$dir/codelists")

  /** One pipeline run as `HtnMain` makes it: codelists loaded, the
    * pipeline run, the analytical table written to `out`. */
  private def pipeline(spark: SparkSession, dir: String, ck: Option[String],
                       out: String): Option[Stats.ExclusionMetrics] = {
    val res = HtnPipeline.run(spark, tables(spark, dir), codelists(spark, dir), cfg, ck,
      computeMetrics = eventHeavy)
    try {
      res.analytical.write.mode("overwrite").parquet(out)
      res.metrics
    } finally res.release()
  }

  private def funnel(m: Option[Stats.ExclusionMetrics]): Map[String, String] =
    m.map(x => Map(
      "cohort" -> x.cohort, "wra" -> x.wra, "after_pregnancy" -> x.afterPregnancy,
      "after_esrd" -> x.afterEsrd, "after_care" -> x.afterCare)
      .map { case (k, v) => k -> v.toString }).getOrElse(Map.empty)

  private def record(r: Result, out: String, m: Option[Stats.ExclusionMetrics]): Unit =
    r.outputs += Map("path" -> out) ++ funnel(m)

  /** One unit of work. On htn_event_heavy: a cold run in a fresh
    * checkpoint dir, then the restart after `analytical_htn` is deleted. */
  private def coldAndRestart(spark: SparkSession, r: Result, dir: String,
                             tag: String): Unit = {
    val ck = s"${a.workDir}/ck_$tag"
    val out = s"${a.workDir}/out/$tag"
    rmrf(ck)
    val cold = r.attempt(s"pipeline $tag") {
      val (m, sec) = seconds(pipeline(spark, dir, if (eventHeavy) Some(ck) else None, out))
      r.sample("wall_s", sec)
      record(r, out, m)
    }
    if (eventHeavy && cold) {
      r.sample("ckpt_bytes_ratio", du(ck).toDouble / du(s"$dir/omop"))
      rmrf(s"$ck/analytical_htn")
      r.attempt(s"restart $tag") {
        val (m, sec) = seconds(pipeline(spark, dir, Some(ck), s"${out}_restart"))
        r.sample("restart_s", sec)
        record(r, s"${out}_restart", m)
      }
    }
    rmrf(ck)
  }

  /** The program's own set-up is the session `Main` builds. */
  def setUp(spark: SparkSession, r: Result): Unit = ()

  /** One run on the small warm-up set, in the shape of the measured runs:
    * JIT, codegen and the parquet readers. Cheaper than a cold measured
    * run, which would mostly time the JIT. */
  def warmUp(spark: SparkSession, r: Result): Unit = {
    val warm = new Result
    coldAndRestart(spark, warm, s"${a.dataDir}/warm", "warm")
    r.errors ++= warm.errors
  }

  def measure(spark: SparkSession, r: Result): Unit = {
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var i = 0
    do {
      coldAndRestart(spark, r, a.dataDir, s"run$i")
      i += 1
    } while (System.nanoTime() < deadline)
  }

  /** Stage-at-a-time run: each stage function is called in pipeline order
    * and its output materialized before the next one starts, then written
    * and read back through the stage store. */
  def trace(spark: SparkSession, r: Result): Unit = {
    val ck = if (eventHeavy) Some(s"${a.workDir}/ck_untraced") else None
    var untraced = Double.NaN
    r.attempt("untraced pipeline") {
      val out = s"${a.workDir}/out/untraced"
      val (m, sec) = seconds(pipeline(spark, a.dataDir, ck, out))
      untraced = sec
      record(r, out, m)
    }
    ck.foreach(rmrf)

    val rec = new Recorder(spark.sparkContext)
    val t = tables(spark, a.dataDir)
    val codes = codelists(spark, a.dataDir)
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var storeBytes = 0L

    def stage(name: String)(build: => DataFrame): DataFrame = rec.span(s"htn.$name") {
      val df = build.localCheckpoint(eager = true)
      rows(name) = df.count()
      val dir = s"${a.workDir}/stages/$name"
      val params = Map("stage" -> name)
      rec.span("operators.stage_write") {
        IndexStore.saveStage(spark, df, dir, "trace", params)
      }
      rec.span("operators.stage_read") {
        IndexStore.loadStage(spark, dir, Some("trace"), params)
          .getOrElse(sys.error(s"stage $name did not reload"))
          .write.format("noop").mode("overwrite").save()
      }
      storeBytes += du(dir)
      df
    }

    val out = s"${a.workDir}/out/traced"
    r.attempt("traced pipeline") {
      val metrics = rec.span("htn") {
        val cohort = stage("cohort") {
          Cohort.dedupLocations(Cohort.dropMisBridged(Cohort.demographics(t.person)))
        }
        val wraKeys = stage("wra")(Cohort.wra(cohort, cfg).select("PATIENT_LINKAGE"))
        val exPreg = Exclusions.pregnancy(t, codes, cfg, wraKeys)
        var staged: Option[(DataFrame, DataFrame)] = None
        val afterCare = stage("exclusions") {
          if (eventHeavy) {
            // the staged shape: each exclusion cut before the next
            val afterPreg = Exclusions.exclude(cohort, exPreg).localCheckpoint(eager = true)
            val afterEsrd = Exclusions.exclude(afterPreg, Exclusions.esrd(t, codes, cfg))
              .localCheckpoint(eager = true)
            staged = Some((afterPreg, afterEsrd))
            Exclusions.exclude(afterEsrd, Exclusions.inCare(t, codes, cfg))
          } else {
            Exclusions.exclude(cohort, Exclusions.unionKeys(Seq(
              exPreg, Exclusions.esrd(t, codes, cfg), Exclusions.inCare(t, codes, cfg))))
          }
        }
        val eligible = stage("eligible") {
          Cohort.cleanLabels(
            afterCare.join(Cohort.adults(cohort, cfg).select("PATIENT_LINKAGE"),
              Seq("PATIENT_LINKAGE"), "left_semi"), cfg)
            .repartition(org.apache.spark.sql.functions.col("PATIENT_LINKAGE"))
        }
        val pairs = stage("bp_pairs")(BloodPressure.sameDayPairs(t.measurement, cfg))
        val denom = stage("denominator")(BloodPressure.denominatorDays(eligible, pairs))
        val flags = stage("bp_flags")(BloodPressure.bpFlags(denom, cfg))
        val analytical = stage("phenotype") {
          Phenotype.analyticalFused(BloodPressure.denominatorPatients(denom), flags,
            Phenotype.dxFlag(t.conditionOccurrence, codes.htnDx, cfg.phenotypeYears),
            Phenotype.medsFlag(t.drugExposure, codes.htnRx, cfg.phenotypeYears))
        }
        val m = staged.map { case (afterPreg, afterEsrd) =>
          rec.span("htn.qc") {
            Stats.ExclusionMetrics(cohort = cohort.count(), wra = wraKeys.count(),
              afterPregnancy = afterPreg.count(), afterEsrd = afterEsrd.count(),
              afterCare = afterCare.count())
          }
        }
        analytical.write.mode("overwrite").parquet(out)
        m
      }
      record(r, out, metrics)
    }

    val tr = new Trace(rec.finish())
    val root = tr.spans.find(_.name == "htn")
    val store = tr.spans.filter(_.name.startsWith("operators.stage_"))
    for (st <- Seq("cohort", "wra", "exclusions", "eligible", "bp_pairs",
                   "denominator", "bp_flags", "phenotype", "qc")) {
      tr.spans.find(_.name == s"htn.$st").foreach { s =>
        val c = tr.counters(s)
        r.values(s"htn.$st.s") = tr.selfSeconds(s)
        r.values(s"htn.$st.rows") = rows.getOrElse(st, 0L).toDouble
        r.values(s"htn.$st.shuffle_bytes") = c.shuffleWriteBytes.toDouble
        r.values(s"htn.$st.spill_bytes") = c.spillBytes.toDouble
      }
    }
    for (op <- Seq("write", "read")) {
      r.values(s"operators.stage_$op.s") =
        store.filter(_.name == s"operators.stage_$op").map(_.seconds).sum
    }
    r.values("operators.stage.bytes") = storeBytes.toDouble
    root.foreach { s =>
      val traced = s.seconds - store.map(_.seconds).sum
      r.values("trace.overhead_ratio") = traced / untraced
      SparkLayer.report(r, tr, s)
    }

    if (!eventHeavy) {
      val rows = new scala.util.Random(a.seed).shuffle(SurfaceWorkload.ProbeRows)
      val surface = new SurfaceWorkload(
        a.copy(dataDir = s"${a.dataDir}/surface", workDir = s"${a.workDir}/surface"), rows)
      surface.setUp(spark, r)
      surface.warmUp(spark, r)
      surface.tracedSweep(spark, r, rows)
    }
  }
}

/** The `spark.*` per-layer metrics over one span's subtree. */
object SparkLayer {
  def report(r: Main.Result, tr: Trace, s: Recorder.Span): Unit = {
    val c = tr.subtree(s)
    val v = r.values
    v("spark.jobs") = c.jobs.toDouble
    v("spark.stages") = c.stages.toDouble
    v("spark.tasks") = c.tasks.toDouble
    v("spark.task_failures") = c.taskFailures.toDouble
    v("spark.executor_run_s") = c.executorRunMs / 1e3
    v("spark.executor_cpu_s") = c.executorCpuNs / 1e9
    v("spark.gc_s") = c.gcMs / 1e3
    v("spark.scheduler_delay_s") = c.schedulerDelayMs / 1e3
    v("spark.driver_gap_s") = tr.driverGapSeconds(s)
    v("spark.shuffle_read_bytes") = c.shuffleReadBytes.toDouble
    v("spark.shuffle_write_bytes") = c.shuffleWriteBytes.toDouble
    v("spark.spill_bytes") = c.spillBytes.toDouble
    v("spark.output_bytes") = c.outputBytes.toDouble
  }
}
