package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. run.py starts it once per set-up sample;
  * only the last start goes on to measure.
  *
  * Usage: Main <setup|measure|trace> <workload> <dataDir> <workDir>
  *             <resultFile> <launchEpochMs> <seconds> <seed>
  *
  * Every run writes one JSON object to <resultFile>. Set-up time counts
  * from <launchEpochMs>, the moment run.py started this JVM. */
object Main {

  final case class Args(mode: String, workload: String, dataDir: String,
                        workDir: String, resultFile: String,
                        launchMs: Long, seconds: Double, seed: Long)

  /** What one run reports; run.py turns it into the benchmark's metrics. */
  final class Result {
    var setupSeconds = 0.0
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val values = mutable.LinkedHashMap.empty[String, Double]
    val outputs = mutable.ArrayBuffer.empty[Map[String, String]]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0L

    def sample(name: String, v: Double): Unit =
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

    /** One operation: counted as attempted, and as failed if it throws. */
    def attempt(what: String)(body: => Unit): Boolean = {
      attempted += 1
      try { body; true }
      catch { case e: Throwable =>
        errors += s"$what: ${e.toString.take(300)}"
        false
      }
    }

    def json: String = {
      import Json._
      import graft.io.Jsons.str
      obj(Seq(
        "setup_s" -> num(setupSeconds),
        "attempted" -> num(attempted.toDouble),
        "errors" -> arr(errors.toSeq.map(str)),
        "samples" -> obj(samples.toSeq.map { case (k, v) => k -> arr(v.toSeq.map(num)) }),
        "values" -> obj(values.toSeq.map { case (k, v) => k -> num(v) }),
        "outputs" -> arr(outputs.toSeq.map(m => obj(m.toSeq.map { case (k, v) => k -> str(v) }))),
        "peak_rss_mb" -> num(peakRssMb())))
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = argv match {
      case Array(mode, wl, data, work, result, launch, secs, seed) =>
        Args(mode, wl, data, work, result, launch.toLong, secs.toDouble, seed.toLong)
      case _ =>
        System.err.println("usage: Main <setup|measure|trace> <workload> <dataDir> " +
          "<workDir> <resultFile> <launchEpochMs> <seconds> <seed>")
        sys.exit(2)
    }
    val workload: Workload = a.workload match {
      case "htn_bp_heavy" => new HtnWorkload(a, eventHeavy = false)
      case "htn_event_heavy" => new HtnWorkload(a, eventHeavy = true)
      case "operator_surface" => new SurfaceWorkload(a, SurfaceWorkload.AllRows)
      case other =>
        System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    val result = new Result
    val spark = graft.GraftSession.local(Runtime.getRuntime.availableProcessors())
    try {
      workload.setUp(spark, result)
      result.setupSeconds = (System.currentTimeMillis() - a.launchMs) / 1000.0
      if (a.mode != "setup") {
        workload.warmUp(spark, result)
        if (a.mode == "trace") workload.trace(spark, result)
        else workload.measure(spark, result)
      }
    } catch { case e: Throwable =>
      result.errors += s"run aborted: ${e.toString.take(500)}"
      e.printStackTrace()
    } finally {
      Files.writeString(Paths.get(a.resultFile), result.json)
      spark.stop()
    }
  }

  /** Driver JVM peak resident memory (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Bytes of all files under `path`. */
  def du(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else f.length()
    walk(new File(path))
  }

  def rmrf(path: String): Unit = {
    def walk(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(walk)
      f.delete()
      ()
    }
    walk(new File(path))
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** One benchmark workload: the program's set-up, the benchmark's
  * warm-up, the untraced measured loop, and the traced run that gives
  * per-layer metrics. */
trait Workload {
  def setUp(spark: SparkSession, r: Main.Result): Unit
  def warmUp(spark: SparkSession, r: Main.Result): Unit
  def measure(spark: SparkSession, r: Main.Result): Unit
  def trace(spark: SparkSession, r: Main.Result): Unit
}

/** The result file's JSON; strings go through the program's own escape,
  * `graft.io.Jsons.str`. */
object Json {
  import graft.io.Jsons.str

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
