package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.dedup.Dedup
import graft.similarity.Ann
import graft.text.TextAnalysis

/** An LLM-data curation pass: exact dedup → MinHash-LSH near-duplicate
  * pairs → quality and language filter → IVF top-k over an embedding
  * table, then the small registry rows of [[SmallQueries]] in an order
  * the seed permutes. It runs the native kernels, the signature and bucket
  * shuffles and the fixed cost per query, and none of raster, catalog
  * (beyond one registry row), pairing or tiling.
  *
  * Inputs: a corpus in four languages with planted exact copies, planted
  * near copies (two tokens replaced) and digit/punctuation boilerplate the
  * quality filter must drop; an embedding table drawn around planted
  * cluster centres. */
final class Curation(seed: Long, small: Boolean) extends Workload {
  import Curation._

  private val (nDocs, nCopies, nVecs) = if (small) (300, 15, 500) else (NDocs, NCopies, NVecs)
  val checksPerPass: Int = 3 + SmallQueries.Rows.size
  private val rowOrder = new Random(seed).shuffle(SmallQueries.Rows)
  private var registry = Map.empty[String, (SparkSession, String) => DataFrame]
  private var goldens = Map.empty[String, Long]
  private var hashes = Map.empty[String, Long]
  /** doc id → id of the original it was copied from (itself if original). */
  private var family = Map.empty[Long, Long]
  private var exactCopies = Set.empty[Long]
  private var plantedNear = Set.empty[(Long, Long)]
  private var exact = Set.empty[(Long, Long)]
  private var scoredPerQuery = 0.0

  def generate(spark: SparkSession, in: String): Unit = {
    val rnd = new Random(seed)
    val vocab = Vector.fill(4000)(Vector.fill(4 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString)
    val langs = TextAnalysis.LangProfiles.filter(_._2.nonEmpty).map(_._2.toVector).toVector
    val junk = Vector("|", "--", "###", "$$", "::", "0", "12", "345", "6789", "2024")
    val seen = mutable.Set.empty[String]
    def prose(): String = {
      val stop = langs(rnd.nextInt(langs.size))
      Vector.fill(50 + rnd.nextInt(40))(
        if (rnd.nextDouble() < 0.3) stop(rnd.nextInt(stop.size)) else vocab(rnd.nextInt(vocab.size))
      ).mkString(" ")
    }
    def boilerplate(): String = Vector.fill(30 + rnd.nextInt(30))(junk(rnd.nextInt(junk.size))).mkString(" ")
    val originals = (0 until nDocs).map { i =>
      val isProse = i % 10 != 0
      var t = ""
      while ({ t = if (isProse) prose() else boilerplate(); !seen.add(t) }) ()
      (i.toLong, t, isProse)
    }
    val copyOf = rnd.shuffle(originals.filter(_._3).map(_._1)).take(2 * nCopies)
    val (exactSrc, nearSrc) = copyOf.splitAt(nCopies)
    val copyIds = rnd.shuffle((nDocs until nDocs + 2 * nCopies).map(_.toLong))
    val exactDocs = exactSrc.zip(copyIds.take(nCopies)).map { case (src, id) => (id, src, originals(src.toInt)._2) }
    val nearDocs = nearSrc.zip(copyIds.drop(nCopies)).map { case (src, id) =>
      val toks = originals(src.toInt)._2.split(" ")
      for (_ <- 1 to 2) toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.size)) + "x"
      (id, src, toks.mkString(" "))
    }
    family = originals.map(o => o._1 -> o._1).toMap ++
      (exactDocs ++ nearDocs).map { case (id, src, _) => id -> src }
    exactCopies = exactDocs.map(_._1).toSet
    plantedNear = nearDocs.map { case (id, src, _) => (src, id) }.toSet
    val rows = rnd.shuffle(originals.map(o => o._1 -> o._2) ++
      (exactDocs ++ nearDocs).map { case (id, _, t) => id -> t })
    import spark.implicits._
    rows.toDF("doc_id", "text").coalesce(4).write.mode("overwrite").parquet(s"$in/corpus")

    val centres = Vector.fill(NClusters)(Array.fill(Dim)(rnd.nextGaussian().toFloat))
    val vecs = (0 until nVecs).map { i =>
      val c = centres(rnd.nextInt(NClusters))
      i.toLong -> c.map(x => (x + 0.3 * rnd.nextGaussian()).toFloat).toSeq
    }
    vecs.toDF("vec_id", "embedding").coalesce(4).write.mode("overwrite").parquet(s"$in/embeddings")
    registry = SparkEntry.queries
    goldens = SmallQueries.goldens()
  }

  /** Exact top-k by brute force, and the number of vectors the IVF probe
    * scores per query: the reference for the recall check, outside the
    * timed passes. */
  override def prepare(spark: SparkSession, in: String): Unit = {
    val emb = spark.read.parquet(s"$in/embeddings")
    val queries = emb.where(col("vec_id") < NQueries)
    exact = pairsOf(Ann.bruteForceTopK(queries, emb, "vec_id", "embedding", K))
    val cents = Ann.sampleCentroids(emb, "vec_id", "embedding", NCentroids).cache()
    val cellSize = Ann.assignCells(emb, "vec_id", "embedding", cents)
      .groupBy("centroid_id").agg(count(lit(1)).as("n"))
    scoredPerQuery = Ann.assignCells(queries, "vec_id", "embedding", cents, n = NProbe)
      .join(cellSize, "centroid_id").agg(sum("n")).head().getLong(0).toDouble / NQueries
    cents.unpersist()
  }

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  def pass(spark: SparkSession, in: String, out: String, tr: Tracer): PassOut = {
    val docs = spark.read.parquet(s"$in/corpus")
    tr.span("dedup.exact_s") {
      Dedup.exactDedup(docs, col("text"), col("doc_id"))
        .write.mode("overwrite").parquet(s"$out/survivors")
    }
    val survivors = spark.read.parquet(s"$out/survivors")
    tr.span("dedup.minhash_s") {
      Dedup.minhashLshPairs(survivors, col("doc_id"), col("text"),
        n = 3, m = 32, bands = 8, minEstSim = 0.5)
        .write.mode("overwrite").parquet(s"$out/near_pairs")
    }
    tr.span("text.quality_s") {
      survivors
        .select(col("doc_id"), col("text"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          TextAnalysis.langId(col("text")).as("lang"))
        .where(col("quality") >= 0.5 && col("lang") =!= "und")
        .write.mode("overwrite").parquet(s"$out/kept")
    }
    val emb = spark.read.parquet(s"$in/embeddings")
    val cents = tr.span("similarity.ivf_build_s") {
      tr.boundary(Ann.sampleCentroids(emb, "vec_id", "embedding", NCentroids),
        "similarity.centroids")
    }
    tr.span("similarity.ivf_query_s") {
      Ann.ivfTopKWith(emb.where(col("vec_id") < NQueries), emb, "vec_id", "embedding",
        K, NProbe, cents).write.mode("overwrite").parquet(s"$out/ann")
    }
    val (queryMs, got) = SmallQueries.run(spark, rowOrder, registry, tr)
    hashes = got
    PassOut(queryMs = queryMs)
  }

  def check(spark: SparkSession, in: String, out: String, po: PassOut): Verdict = {
    val failures = mutable.ArrayBuffer.empty[String]
    val survivors = spark.read.parquet(s"$out/survivors").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val expectedSurvivors = family.keySet -- exactCopies
    if (survivors != expectedSurvivors)
      failures += s"exact dedup: ${(survivors -- expectedSurvivors).size} copies kept, " +
        s"${(expectedSurvivors -- survivors).size} originals lost"

    val pairs = spark.read.parquet(s"$out/near_pairs").select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val verified = pairs.count { case (a, b) => family.get(a) == family.get(b) }
    val recall = plantedNear.count(pairs.toSet).toDouble / plantedNear.size
    if (recall < NearRecallFloor) failures += f"near-duplicate recall $recall%.3f < $NearRecallFloor"

    val ann = pairsOf(spark.read.parquet(s"$out/ann"))
    val recallAtK = ann.intersect(exact).size.toDouble / exact.size
    if (recallAtK < IvfRecallFloor) failures += f"IVF recall@$K $recallAtK%.3f < $IvfRecallFloor"

    SmallQueries.Rows.filterNot(r => hashes.get(r) == goldens.get(r))
      .foreach(r => failures += s"$r: hash ${hashes.get(r)} != golden ${goldens.get(r)}")

    val kept = spark.read.parquet(s"$out/kept").count()
    Verdict(checksPerPass, failures.toSeq, Map(
      "dedup.lsh_candidates" -> pairs.length.toDouble,
      "dedup.verified_pairs" -> verified.toDouble,
      "dedup.pair_precision" -> (if (pairs.isEmpty) 0.0 else verified.toDouble / pairs.length),
      "dedup.planted_recall" -> recall,
      "text.kept_ratio" -> kept.toDouble / math.max(1, survivors.size),
      "similarity.recall_at_k" -> recallAtK,
      "similarity.scored_per_query" -> scoredPerQuery))
  }
}

object Curation {
  val NDocs = 2000
  val NCopies = 100
  val NVecs = 3000
  val Dim = 32
  val NClusters = 40
  val NQueries = 50
  val K = 10
  val NCentroids = 40
  val NProbe = 4
  val NearRecallFloor = 0.9
  val IvfRecallFloor = 0.8
}
