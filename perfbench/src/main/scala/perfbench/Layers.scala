package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Turns one traced pass's spans, boundary counts and listener counters
  * into per-layer metrics, and writes the run's per-layer record. */
object Layers {
  /** Span names ending in `s` (`raster.decode_s`, `catalog.s`) sum to a
    * per-pass time in seconds; names
    * ending in `_ms` are per-call times whose median is reported. Other
    * span names only count towards coverage. */
  def perPass(tr: Tracer, probe: Probe, wallS: Double, cores: Int,
              v: Verdict): Map[String, Double] = {
    val spans = tr.spans.filter(_.pass == tr.pass).toSeq
    val times = spans.groupBy(_.name).collect {
      case (n, ss) if n.endsWith("_ms") => n -> Stats.median(ss.map(_.ms))
      case (n, ss) if n.endsWith("_s") || n.endsWith(".s") => n -> ss.map(_.ms).sum / 1000.0
    }
    val tasks = probe.tasks.asScala.toSeq
    val actions = probe.actions.asScala.toSeq
    val progress = probe.progress.asScala.toSeq
    val lastPerQuery = progress.groupBy(_.queryName).values.map(_.last).toSeq
    val jobs = probe.jobs.size.toDouble
    def mb(b: Long) = b / 1e6
    def shuffleWriteIn(name: String) = mb(spans.filter(_.name == name).map { s =>
      tasks.filter(t => t.endMs >= s.startMs && t.endMs <= s.endMs).map(_.shuffleWriteB).sum
    }.sum)
    val covered = spans.filter(_.parent == -1).map(_.ms).sum / 1000.0
    val engine = Map(
      "spark.jobs" -> jobs,
      "spark.stages" -> probe.stages.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.executor_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "spark.shuffle_read_mb" -> mb(tasks.map(_.shuffleReadB).sum),
      "spark.shuffle_write_mb" -> mb(tasks.map(_.shuffleWriteB).sum),
      "spark.spill_mb" -> mb(tasks.map(_.spillB).sum),
      "spark.task_p50_ms" -> Stats.median(tasks.map(_.durMs.toDouble)),
      "spark.task_max_ms" -> (if (tasks.isEmpty) 0.0 else tasks.map(_.durMs).max.toDouble),
      "spark.idle_core_s" -> (cores * wallS - tasks.map(_.runMs).sum / 1e3),
      "functions.fallback_exprs" -> actions.map(_.fallbackExprs).sum.toDouble,
      "functions.wscg_stages" -> actions.map(_.wscgStages).sum.toDouble,
      "streaming.batches" -> progress.size.toDouble,
      "streaming.state_rows" -> lastPerQuery.map(_.stateRows).sum.toDouble,
      "streaming.state_mb" -> mb(lastPerQuery.map(_.stateBytes).sum),
      "streaming.state_commit_ms" -> progress.map(_.stateCommitMs).sum.toDouble,
      "streaming.wal_commit_ms" -> progress.map(_.durations.getOrElse("walCommit", 0L)).sum.toDouble,
      "streaming.late_dropped" -> progress.map(_.lateDropped).sum.toDouble,
      "tiling.assemble_shuffle_mb" -> shuffleWriteIn("tiling.assemble_s"),
      "trace.uncovered_frac" -> math.max(0.0, 1.0 - covered / wallS))
    val querySpans = spans.filter(_.name.startsWith("queries."))
    val queryJobs = probe.jobs.asScala.count(t => querySpans.exists(s => t >= s.startMs && t <= s.endMs))
    val derived = Map(
      "queries.jobs_per_query" -> tr.notes.get("queries.calls").map(queryJobs / _).getOrElse(0.0),
      "tiling.accept_ratio" -> ratio(tr.notes.get("tiling.tiles"), tr.notes.get("tiling.candidates")))
    engine ++ times ++ tr.notes ++ derived ++ v.notes
  }

  def ratio(a: Option[Double], b: Option[Double]): Double =
    (a, b) match { case (Some(x), Some(y)) if y > 0 => x / y; case _ => 0.0 }

  /** The per-layer record: every span (with self time, the span minus the
    * time its children cover) and every pass's layer metrics. Kept in
    * memory during the run and written once here. */
  def writeRecord(dir: String, workload: String, seed: Long, tr: Tracer,
                  perPass: Seq[Map[String, Double]], runLevel: Map[String, Double]): Unit = {
    val childMs = tr.spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    val spans = tr.spans.map { s =>
      Json.obj(Seq(
        "name" -> Json.str(s.name), "pass" -> s.pass.toString,
        "workload" -> Json.str(workload),
        "parent" -> s.parent.toString, "id" -> s.id.toString,
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
        "self_ms" -> Json.num(s.ms - childMs.getOrElse(s.id, 0.0))))
    }
    def metrics(m: Map[String, Double]) =
      Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    val body = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "run" -> metrics(runLevel),
      "passes" -> perPass.map(metrics).mkString("[", ",", "]"),
      "spans" -> spans.mkString("[\n", ",\n", "]")))
    val d = new File(dir)
    d.mkdirs()
    Files.write(new File(d, s"$workload-seed$seed.json").toPath,
      body.getBytes(StandardCharsets.UTF_8))
    ()
  }
}
