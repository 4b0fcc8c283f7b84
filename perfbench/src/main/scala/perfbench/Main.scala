package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one closed-loop client.
  *
  * Usage: `Main --workload serve|cdc|curate --seed N --seconds S
  * --trace 0|1 --work DIR --out FILE`. Writes the raw samples (op
  * latencies, setup times, correctness counts and, when traced, spans
  * and Spark jobs) as JSON to FILE; `run.py` turns them into metrics.
  * Exits 0 even when a correctness check fails — the failure is in the
  * file and the wrapper turns it into a non-zero exit. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = opts("work")
    val body: Run => Unit = workload match {
      case "serve" => Serve.run
      case "cdc" => Cdc.run
      case "curate" => Curate.run
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))

    val cpus = Runtime.getRuntime.availableProcessors()
    val master = s"local[$cpus]"
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    org.apache.spark.sql.graft.TopKWindowRewrite.enable(spark)
    val t1 = System.nanoTime()
    spark.range(1).count() // first job: part of what a user waits for
    val sessionMs = (System.nanoTime() - t0) / 1e6

    val run = new Run(spark, work, seed, seconds, traced)
    run.out("workload") = workload
    run.out("seed") = seed
    run.out("seconds") = seconds
    run.out("trace") = traced
    run.out("env") = Map("nproc" -> cpus, "master" -> master,
      "heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "spark" -> spark.version)
    run.out("session_start_ms") = sessionMs
    run.out("first_job_ms") = (System.nanoTime() - t1) / 1e6
    try body(run)
    catch {
      case e: Throwable =>
        run.attempted += 1
        run.fail(s"workload aborted: $e")
        e.printStackTrace()
    }
    run.jobLog.foreach { l =>
      l.settle()
      run.out("jobs") = l.json
    }
    run.out("spans") = run.tracer.json
    run.out("ops") = run.ops
    run.out("attempted") = run.attempted
    run.out("failed") = run.failed
    run.out("errors") = run.errors
    run.out("peak_rss_kb") = peakRssKb
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")), Json(run.out))
    spark.stop()
  }

  /** The JVM's peak resident set (VmHWM), in KiB. */
  private def peakRssKb: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).fold(0L)(_.split("\\s+")(1).toLong)
    finally src.close()
  }
}

/** State shared by a run's workload: session, tracer, raw samples, and
  * the correctness tally. */
final class Run(val spark: SparkSession, val work: String, val seed: Long,
    val seconds: Int, val traced: Boolean) {
  val tracer = new Tracer(spark.sparkContext)
  val jobLog: Option[JobLog] =
    if (traced) {
      val l = new JobLog
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
  tracer.on = traced

  val out = mutable.LinkedHashMap.empty[String, Any]
  /** [kind, latency ms, traced, request id] per timed operation. */
  val ops = ArrayBuffer.empty[Seq[Any]]
  var attempted = 0
  var failed = 0
  val errors = ArrayBuffer.empty[String]

  private var nextReq = 0L
  private var deadlineMs = Long.MaxValue
  /** Starts the measured period: `seconds` from now. */
  def startClock(): Unit = {
    out("clock_start_ms") = tracer.nowMs
    deadlineMs = System.currentTimeMillis() + seconds * 1000L
  }
  def timeLeft: Boolean = System.currentTimeMillis() < deadlineMs

  def fail(msg: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += msg
  }

  /** Wall times of `reps` runs of a setup step, each traced as span
    * `name`; the metric is their median. */
  def setupMs(name: String, reps: Int)(step: Int => Unit): Seq[Double] =
    (0 until reps).map { i =>
      val t = System.nanoTime()
      tracer(name, nextReq)(step(i))
      nextReq += 1
      (System.nanoTime() - t) / 1e6
    }

  /** Times one closed-loop operation. A traced run alternates traced
    * and untraced operations, so the two halves give tracing's cost. */
  def op[A](kind: String)(body: Long => A): A = {
    val req = nextReq
    nextReq += 1
    val on = traced && req % 2 == 0
    tracer.on = on
    val t = System.nanoTime()
    try tracer(s"bench.$kind", req)(body(req))
    finally {
      ops += Seq(kind, (System.nanoTime() - t) / 1e6, on, req)
      tracer.on = traced
    }
  }

  def dir(name: String): String = s"$work/$name"
}

object Fs {
  /** Bytes under a file or directory. */
  def du(f: java.io.File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty).map(du).sum
}
