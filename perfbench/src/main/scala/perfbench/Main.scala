package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardOpenOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What a pass reports besides its wall time: per-call latencies of
  * registry queries and of micro-batches, and the events it streamed. */
final case class PassOut(queryMs: Seq[Double] = Nil, batchMs: Seq[Double] = Nil,
                         events: Long = 0L)

/** Outcome of a pass's output checks. Every mismatch is a failed operation;
  * `notes` are per-layer counts the check measures (recall, precision). */
final case class Verdict(attempted: Int, failures: Seq[String],
                         notes: Map[String, Double] = Map.empty)

/** One benchmark workload. `generate` writes the seeded inputs (timed as
  * set-up); `prepare` computes the reference results the checks compare
  * against (untimed); `pass` is one complete timed pass; `check` verifies
  * that pass's outputs outside the timed window. */
trait Workload {
  def checksPerPass: Int
  def generate(spark: SparkSession, in: String): Unit
  def prepare(spark: SparkSession, in: String): Unit = ()
  def pass(spark: SparkSession, in: String, out: String, tr: Tracer): PassOut
  def check(spark: SparkSession, in: String, out: String, po: PassOut): Verdict
}

/** Benchmark entry point: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --records <dir>`. Prints one JSON result
  * line last on stdout; `--trace 0` reports the end-to-end metrics,
  * `--trace 1` the per-layer metrics. */
object Main {
  val SetupReps = 3

  /** Every per-layer metric with its unit. A workload that does not run a
    * layer reports 0 for it: that layer did no work there. */
  val PerLayer: Seq[(String, String)] = Seq(
    "raster.files" -> "count", "raster.decoded_mb" -> "MB",
    "raster.decode_s" -> "s", "raster.stack_s" -> "s",
    "catalog.rows" -> "count", "catalog.s" -> "s",
    "pairing.pairs" -> "count", "pairing.s" -> "s", "pairing.eager_jobs" -> "count",
    "tiling.assemble_s" -> "s", "tiling.assemble_shuffle_mb" -> "MB",
    "tiling.candidates" -> "count", "tiling.tiles" -> "count",
    "tiling.accept_ratio" -> "ratio", "tiling.kernel_s" -> "s",
    "tiling.write_s" -> "s", "tiling.write_mb" -> "MB", "tiling.export_s" -> "s",
    "dedup.exact_s" -> "s", "dedup.minhash_s" -> "s",
    "dedup.lsh_candidates" -> "count", "dedup.verified_pairs" -> "count",
    "dedup.pair_precision" -> "ratio", "dedup.planted_recall" -> "ratio",
    "text.quality_s" -> "s", "text.kept_ratio" -> "ratio",
    "similarity.ivf_build_s" -> "s", "similarity.ivf_query_s" -> "s",
    "similarity.scored_per_query" -> "count", "similarity.recall_at_k" -> "ratio",
    "functions.fallback_exprs" -> "count", "functions.wscg_stages" -> "count",
    "streaming.batches" -> "count", "streaming.state_rows" -> "count",
    "streaming.state_mb" -> "MB", "streaming.state_commit_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.late_dropped" -> "count",
    "queries.construct_ms" -> "ms", "queries.plan_ms" -> "ms",
    "queries.exec_ms" -> "ms", "queries.jobs_per_query" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.task_p50_ms" -> "ms",
    "spark.task_max_ms" -> "ms", "spark.idle_core_s" -> "s",
    // end-to-end figures without a bound, measured in the traced run:
    // per-call latency, drain rate, failures, memory
    "e2e.query_p50_ms" -> "ms", "e2e.query_p95_ms" -> "ms",
    "e2e.batch_p50_ms" -> "ms", "e2e.batch_p95_ms" -> "ms",
    "e2e.latency_samples" -> "count", "e2e.events_per_s" -> "1/s",
    "e2e.failed_frac" -> "ratio", "e2e.heap_peak_mb" -> "MB",
    "trace.job_s" -> "s", "trace.overhead_s" -> "s", "trace.untraced_runs" -> "count",
    "trace.uncovered_frac" -> "ratio", "trace.passes" -> "count")

  /** `small` is the warm-up variant: the same plans over a small input. */
  def workload(name: String, seed: Long, small: Boolean = false): Option[Workload] = name match {
    case "sr_pipeline" => Some(new SrPipeline(seed, small))
    case "curation" => Some(new Curation(seed, small))
    case "stream_replay" => Some(new StreamReplay(seed, small))
    case _ => None
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a.getOrElse("workload", "")
    val seed = a.get("seed").map(_.toLong).getOrElse(1L)
    val wl = workload(name, seed).getOrElse {
      System.err.println(s"unknown workload '$name'")
      sys.exit(2)
    }
    val result = run(wl, name, seed, a.get("seconds").map(_.toDouble).getOrElse(10.0),
      a.get("trace").contains("1"), a("work"), a("records"))
    println(result)
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(wl: Workload, name: String, seed: Long, seconds: Double, trace: Boolean,
          work: String, records: String): String = {
    val cores = Runtime.getRuntime.availableProcessors()
    val in = s"$work/in"
    var spark: SparkSession = null
    val setup = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cores, work)
      deleteTree(new File(in))
      wl.generate(spark, in)
      System.err.println(f"perfbench: set-up took ${secs(t0)}%.3f s")
      secs(t0)
    }
    // reference results for the checks, computed after the first timed pass
    lazy val prepared: Unit = wl.prepare(spark, in)

    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[String]
    // Warm-up: one untimed pass of the same workload over a small input. It
    // runs the same plans, so class loading, JIT and code generation are
    // done before the timed pass; its cost counts towards set-up.
    val tWarm = System.nanoTime()
    val warm = workload(name, seed, small = true).get
    try {
      warm.generate(spark, s"$work/warm-in")
      warm.pass(spark, s"$work/warm-in", s"$work/warm-out", new Tracer(false, None))
    } catch {
      case NonFatal(e) => e.printStackTrace()
        attempted += 1
        failures += "warm-up pass threw"
    }
    spark.catalog.clearCache()
    Seq("warm-in", "warm-out").foreach(d => deleteTree(new File(s"$work/$d")))
    val warmupS = secs(tWarm)
    System.err.println(f"perfbench: warm-up took $warmupS%.3f s")
    val probe = if (trace) Some(new Probe(spark)) else None
    val tr = new Tracer(trace, probe)
    val oldGen = Stats.oldGenPool
    oldGen.foreach(_.resetPeakUsage())
    probe.foreach(_.attach())
    val passes = mutable.ArrayBuffer.empty[(Double, Option[PassOut], Map[String, Double])]
    val tMeasure = System.nanoTime()
    while (passes.isEmpty || secs(tMeasure) < seconds) {
      tr.pass = passes.size + 1
      tr.notes.clear()
      probe.foreach(_.clear())
      val out = s"$work/out/p${tr.pass}"
      val t0 = System.nanoTime()
      val po = try Some(wl.pass(spark, in, out, tr)) catch {
        case NonFatal(e) => e.printStackTrace(); None
      }
      val wall = secs(t0)
      System.err.println(f"perfbench: pass ${tr.pass} took $wall%.3f s")
      probe.foreach(_.drain())
      spark.catalog.clearCache()
      val v = po match {
        case None => Verdict(wl.checksPerPass, Seq(s"pass ${tr.pass} threw"))
        case Some(p) =>
          try { prepared; wl.check(spark, in, out, p) } catch {
            case NonFatal(e) => e.printStackTrace()
              Verdict(wl.checksPerPass, Seq(s"check of pass ${tr.pass} threw: $e"))
          }
      }
      attempted += v.attempted
      failures ++= v.failures
      deleteTree(new File(out))
      passes += ((wall, po, probe.fold(Map.empty[String, Double])(Layers.perPass(tr, _, wall, cores, v))))
    }
    probe.foreach(_.detach())
    val heapPeakMb = oldGen.map(_.getPeakUsage.getUsed / 1e6).getOrElse(0.0)
    val jobS = Stats.median(passes.map(_._1).toSeq)
    // untraced job_s of earlier runs in this checkout, for the overhead
    val untracedLog = new File(records, s"$name.untraced_job_s")
    new File(records).mkdirs()

    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        Files.write(untracedLog.toPath, s"$jobS\n".getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        Seq(("setup_s", "s", Stats.median(setup) + warmupS), ("job_s", "s", jobS))
      } else {
        val untraced = if (untracedLog.isFile)
          Files.readAllLines(untracedLog.toPath).asScala.map(_.toDouble).toSeq else Nil
        val outs = passes.flatMap(_._2).toSeq
        val queryMs = outs.flatMap(_.queryMs)
        val batchMs = outs.flatMap(_.batchMs)
        val streamed = outs.map(_.events).sum.toDouble
        val runLevel = Map(
          "e2e.query_p50_ms" -> Stats.quantile(queryMs, 0.5),
          "e2e.query_p95_ms" -> Stats.quantile(queryMs, 0.95),
          "e2e.batch_p50_ms" -> Stats.quantile(batchMs, 0.5),
          "e2e.batch_p95_ms" -> Stats.quantile(batchMs, 0.95),
          "e2e.latency_samples" -> (queryMs.size + batchMs.size).toDouble,
          "e2e.events_per_s" -> (if (streamed > 0) streamed / passes.map(_._1).sum else 0.0),
          "e2e.failed_frac" -> failures.size.toDouble / math.max(1, attempted),
          "e2e.heap_peak_mb" -> heapPeakMb,
          "trace.job_s" -> jobS,
          "trace.overhead_s" -> (if (untraced.isEmpty) 0.0 else jobS - Stats.median(untraced)),
          "trace.untraced_runs" -> untraced.size.toDouble,
          "trace.passes" -> passes.size.toDouble)
        Layers.writeRecord(records, name, seed, tr, passes.map(_._3).toSeq, runLevel)
        PerLayer.map { case (k, unit) =>
          (k, unit, runLevel.getOrElse(k, Stats.median(passes.map(_._3.getOrElse(k, 0.0)).toSeq)))
        }
      }
    spark.stop()
    failures.take(20).foreach(f => System.err.println(s"FAILED: $f"))
    Json.result(failures.isEmpty, attempted, failures.size, metrics)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def oldGenPool: Option[java.lang.management.MemoryPoolMXBean] = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, String, Double)]): String =
    obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(metrics.map { case (k, unit, v) =>
        k -> obj(Seq("value" -> num(v), "unit" -> str(unit)))
      })))
}
