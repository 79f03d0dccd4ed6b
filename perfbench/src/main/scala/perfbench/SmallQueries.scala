package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** The fixed cost per query: ten oracle-backed registry rows that each
  * took under 0.5 s at sf0.1, from seven query files, none of them a
  * streaming replay. They run over the sf0.01 tables shipped in
  * `perfbench/data/sf0.01` in an order the seed permutes; each call is
  * timed through `SparkEntry.queries` and the same order-independent hash
  * `Bench.materialize` computes, which must equal the golden in
  * `perfbench/data/goldens.tsv`. */
object SmallQueries {
  val DataDir = "perfbench/data"
  val SfDir = s"$DataDir/sf0.01"

  def goldens(): Map[String, Long] =
    Files.readAllLines(Paths.get(s"$DataDir/goldens.tsv"), StandardCharsets.UTF_8)
      .asScala.map(_.split("\t")).map(a => a(0) -> a(1).toLong).toMap

  /** Runs `rows` in order, each timed per call; returns the call latencies
    * and each row's result hash (absent if the call threw). */
  def run(spark: SparkSession, rows: Seq[String],
          registry: Map[String, (SparkSession, String) => DataFrame],
          tr: Tracer): (Seq[Double], Map[String, Long]) = {
    val got = mutable.Map.empty[String, Long]
    val lat = rows.map { name =>
      val t0 = System.nanoTime()
      tr.span("queries.call") {
        try {
          val df = tr.span("queries.construct_ms") { registry(name)(spark, SfDir) }
          got(name) = hashOf(df, tr)
        } catch { case NonFatal(e) => System.err.println(s"$name failed: $e") }
        // the registry's cache contract for callers running many rows
        spark.catalog.clearCache()
      }
      (System.nanoTime() - t0) / 1e6
    }
    tr.note("queries.calls", rows.size.toDouble)
    (lat, got.toMap)
  }

  val Rows: Seq[String] = Seq(
    "q01_week_histogram", "q06_freq_map", "q07_sort_limit", // RefQueries
    "q30_token_stats", "q43_chunking",                       // TextQueries
    "q49_stratified_sample",                                 // OpsQueries
    "q64_hyperplane_portable",                               // SimilarityQueries
    "q51_weekly_windows",                                    // StreamingQueries
    "q155_hash_featurize",                                   // CurationQueries
    "q20_exact_dedup")                                       // DedupQueries

  /** `bit_xor(xxhash64(struct(*)))` over the result, the plan
    * `Bench.materialize` runs, returning the value it discards. Traced, the
    * plan is built and executed in separate spans. */
  def hashOf(df: DataFrame, tr: Tracer): Long = {
    val h = df.select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("h"))
      .agg(expr("bit_xor(h)"))
    tr.span("queries.plan_ms") { if (tr.on) h.queryExecution.executedPlan }
    tr.span("queries.exec_ms") { h.collect()(0).getLong(0) }
  }

  /** Records the goldens from the current code:
    * `RecordGoldens <sfDir> <out.tsv>`, run from the checkout root. */
  def main(args: Array[String]): Unit = {
    val spark = Main.session(Runtime.getRuntime.availableProcessors(),
      s"${System.getProperty("java.io.tmpdir")}/perfbench-goldens")
    val registry = SparkEntry.queries
    val lines = Rows.map { r =>
      val v = hashOf(registry(r)(spark, args(0)), new Tracer(false, None))
      spark.catalog.clearCache()
      s"$r\t$v"
    }
    Files.write(Paths.get(args(1)), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
