package perfbench

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.time.format.DateTimeFormatter
import java.util.concurrent.TimeUnit

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.catalog.{CatalogBuilder, DateParse, WeekBins}
import graft.pairing.Pairing
import graft.raster.{Bands, CenterlineMask, TiffDecoder, TiffEncoder}
import graft.tiling.{TileJobs, TileKernel, TileRow, TorchExport}

/** The product path: band TIFFs → stacked images (IngestCli) → week-class
  * catalogs → pairs → tiles → Parquet (PipelineCli) → `.pth`.
  *
  * Inputs: one year of Sentinel-2 (HR) and HLS (LR) scenes, HR = 3 × LR,
  * written as one TIFF per band, plus one meandering one-pixel centerline
  * mask. Most weeks hold one scene of each sensor, a few dense weeks hold
  * three of each (each HR payload joins three pairs), some weeks are
  * empty. Zero patches in HR scenes and nodata patches in LR scenes make
  * the tile-quality filter reject a share of candidates. */
final class SrPipeline(seed: Long, small: Boolean) extends Workload {
  import SrPipeline._

  val checksPerPass = 3
  private var expectedPairs = -1L
  private var expectedTiles = Map.empty[String, (Int, Long)]
  private var candidatesPerPair = 0

  /** Per-week (S2, HLS) scene counts, placed by the seed: 9 empty weeks,
    * 6 dense, the rest one-to-one, so every seed yields the same number of
    * pairs (92) and the seed moves only where they fall. */
  private def calendar(): Seq[Scene] = {
    val rnd = new Random(seed)
    val (edge, nBins) = WeekBins.Ref2023
    // the warm-up pass's small calendar has one week of each kind
    val (empty, dense) = if (small) (nBins - 2, 1) else (9, 6)
    val kinds = rnd.shuffle((0 until nBins).toVector).zipWithIndex.map { case (w, i) =>
      w -> (if (i < empty) (0, 0) else if (i < empty + dense) (3, 3) else (1, 1))
    }.sortBy(_._1)
    val s2Fmt = DateTimeFormatter.ofPattern("yyyyMMdd")
    val scenes = kinds.flatMap { case (w, (nS, nL)) =>
      // week 0 starts on 2022-12-29; keep every scene inside 2023
      val days = rnd.shuffle((if (w == 0) 3 to 6 else 0 to 6).toVector)
      def time(k: Int) = f"${1 + rnd.nextInt(22)}%02d${rnd.nextInt(60)}%02d${10 + k}%02d"
      val s2 = (0 until nS).map { k =>
        val d = edge.plusDays(7L * w + days(k))
        val t = time(k)
        Scene(s"${d.format(s2Fmt)}T${t}_${d.format(s2Fmt)}T${t}_T46RCT", w, hr = true, rnd.nextLong())
      }
      val hls = (0 until nL).map { k =>
        val d = edge.plusDays(7L * w + days(days.size - 1 - k))
        Scene(f"HLS.L30.T46RCT.${d.getYear}%04d${d.getDayOfYear}%03dT${time(k)}.v2.0",
          w, hr = false, rnd.nextLong())
      }
      s2 ++ hls
    }
    // every other scene of each sensor carries a defect patch
    def halfDefective(ss: Seq[Scene]) = ss.zipWithIndex.map { case (sc, i) => sc.copy(defect = i % 2 == 0) }
    halfDefective(scenes.filter(_.hr)) ++ halfDefective(scenes.filterNot(_.hr))
  }

  def generate(spark: SparkSession, in: String): Unit = {
    val scenes = calendar()
    for (sensor <- Seq("s2", "hls")) Files.createDirectories(Paths.get(s"$in/$sensor"))
    scenes.foreach { sc =>
      val (edge, bands, dir) =
        if (sc.hr) (Hr, Bands.SentinelBands, "s2") else (Lr, Bands.LandsatBands, "hls")
      val px = pixels(sc.pixelSeed, edge, sc.hr, sc.defect)
      bands.zipWithIndex.foreach { case (b, i) =>
        Files.write(Paths.get(s"$in/$dir/${sc.id}.$b.tif"),
          TiffEncoder.encode(edge, edge, px.slice(i * edge * edge, (i + 1) * edge * edge)))
      }
    }
    def listing(file: String, ids: Seq[String]): Unit = {
      Files.write(Paths.get(s"$in/$file"), ids.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      ()
    }
    listing("s2.txt", scenes.filter(_.hr).map(_.id))
    listing("hls.txt", scenes.filterNot(_.hr).map(_.id))
    import spark.implicits._
    Seq(CenterlineMask(MaskId, Hr, Hr, mask())).toDS()
      .write.mode("overwrite").parquet(s"$in/masks")
    candidatesPerPair = candidates().size
  }

  /** The mask's tile centres after the (faithful) border filter. */
  private def candidates() =
    TileKernel.borderFilter(TileKernel.candidateCenters(mask(), Hr, Hr), Batch, Hr, Hr,
      faithful = true)

  /** Band-major pixels of one scene: a smooth positive field per band plus
    * noise; a scene with `defect` carries a patch (zeros in HR, nodata in
    * LR) that the tile-quality filter must reject. */
  private def pixels(pixelSeed: Long, edge: Int, hr: Boolean, defect: Boolean): Array[Float] = {
    val rnd = new Random(pixelSeed)
    val out = new Array[Float](NBands * edge * edge)
    val zoom = edge / Lr.toDouble
    for (b <- 0 until NBands) {
      val (p, q) = (rnd.nextDouble() * 6, rnd.nextDouble() * 6)
      var i = 0
      while (i < edge * edge) {
        val (r, c) = (i / edge / zoom, i % edge / zoom)
        out(b * edge * edge + i) =
          (1000 + 400 * math.sin(r / 7 + p) * math.cos(c / 9 + q) + rnd.nextInt(50)).toFloat
        i += 1
      }
    }
    if (defect) {
      val side = edge / 6
      val (r0, c0) = (rnd.nextInt(edge - side), rnd.nextInt(edge - side))
      val v = if (hr) 0f else -9999f
      for (b <- 0 until NBands; r <- r0 until r0 + side; c <- c0 until c0 + side)
        out(b * edge * edge + r * edge + c) = v
    }
    out
  }

  /** A meandering one-pixel centerline from the top edge to the bottom. */
  private def mask(): Array[Float] = {
    val rnd = new Random(seed ^ 0x5eedL)
    val m = new Array[Float](Hr * Hr)
    var c = Hr / 2
    for (r <- 0 until Hr) {
      m(r * Hr + c) = 1f
      val next = math.min(Hr - 9, math.max(8, c + rnd.nextInt(3) - 1))
      m(r * Hr + next) = 1f
      c = next
    }
    m
  }

  /** Reference results: the pair count the calendar implies, and every
    * pair's tiles recomputed on the driver with TileKernel from the
    * generated pixels. */
  override def prepare(spark: SparkSession, in: String): Unit = {
    val scenes = calendar()
    val cand = candidates()
    val hrPx = scenes.filter(_.hr).map(s => s -> pixels(s.pixelSeed, Hr, hr = true, s.defect))
    val lrPx = scenes.filterNot(_.hr).map(s => s -> pixels(s.pixelSeed, Lr, hr = false, s.defect))
    // Each catalog letters its own non-empty weeks in order, and pairs join
    // on that letter: the k-th non-empty HLS week pairs with the k-th
    // non-empty S2 week.
    def classOf(hr: Boolean) =
      scenes.filter(_.hr == hr).map(_.week).distinct.sorted.zipWithIndex.toMap
    val (sClass, lClass) = (classOf(true), classOf(false))
    val pairs = for ((l, lp) <- lrPx; (h, hp) <- hrPx if lClass(l.week) == sClass(h.week)) yield {
      val tiles = TileKernel.cropPairHv(hp, Hr, Hr, lp, Lr, Lr, NBands, cand, Batch, Scale,
        overlap = true, pOverlap = 0.7)
      s"${l.id}|${h.id}" -> digest(tiles.map(t => (t.tileId, t.r, t.c, t.hr, t.lr)))
    }
    expectedPairs = pairs.size.toLong
    expectedTiles = pairs.toMap
  }

  def pass(spark: SparkSession, in: String, out: String, tr: Tracer): PassOut = {
    import spark.implicits._
    // IngestCli, once per sensor
    def ingest(sensor: String, dir: String, bands: Seq[String]): Unit = {
      val perBand = tr.span("raster.decode_s") {
        tr.boundary(TiffDecoder.readTiffDir(spark, dir, bands, glob = "*").toDF()
          .select(
            regexp_extract(element_at(split(col("path"), "/"), -1), IdRegex, 1).as("image_id"),
            col("band"), col("h"), col("w"), col("pixels")),
          "raster.files",
          "raster.decoded_mb" -> sum(col("h").cast("long") * col("w") * 4) / 1e6)
      }
      tr.span("raster.stack_s") {
        Bands.stack(perBand, bands, sensor).write.mode("overwrite").parquet(s"$out/images_$sensor")
      }
    }
    ingest("S2", s"$in/s2", Bands.SentinelBands)
    ingest("L8", s"$in/hls", Bands.LandsatBands)

    // PipelineCli: E1 catalogs, E2 pairs, E3 tiles
    val (edge, nBins) = WeekBins.Ref2023
    val (sCat, lCat) = tr.span("catalog.s") {
      val s = tr.boundary(CatalogBuilder.build(spark.read.textFile(s"$in/s2.txt").toDF("data"),
        DateParse.s2AcqDate, "S2", edge, nBins), "catalog.rows")
      val l = tr.boundary(CatalogBuilder.build(spark.read.textFile(s"$in/hls.txt").toDF("data"),
        DateParse.hlsAcqDate, "L8", edge, nBins), "catalog.rows")
      s.select("class", "path", "data").write.mode("overwrite")
        .option("header", true).csv(s"$out/S_catalog")
      l.select("class", "path", "data").write.mode("overwrite")
        .option("header", true).csv(s"$out/L_catalog")
      (s, l)
    }
    val pairTable = tr.span("pairing.s") {
      val pairs = tr.eagerJobs("pairing.eager_jobs")(
        Pairing.pathsPair(lCat, sCat, includePlaceholders = false))
      pairs.write.mode("overwrite").parquet(s"$out/path_pair")
      def name(c: String) = element_at(split(col(c), "/"), -1)
      tr.boundary(pairs
        .select(col("data_1"), explode(col("data_2")).as("data_2"))
        .select(
          concat(name("data_1"), lit("|"), name("data_2")).as("pair_id"),
          name("data_2").as("hr_image_id"),
          name("data_1").as("lr_image_id"),
          lit(MaskId).as("mask_id")), "pairing.pairs")
    }
    val assembled = tr.span("tiling.assemble_s") {
      tr.boundary(TileJobs.assemblePairs(spark, pairTable,
        spark.read.parquet(s"$out/images_S2", s"$out/images_L8"),
        spark.read.parquet(s"$in/masks")), "tiling.assembled")
    }
    val tiles = tr.span("tiling.kernel_s") {
      tr.boundary(TileJobs.tilePairs(assembled, TileJobs.Config(Batch, Scale)), "tiling.tiles")
    }
    tr.span("tiling.write_s") { tiles.write.mode("overwrite").parquet(s"$out/tiles") }
    if (tr.on) {
      tr.note("tiling.write_mb", dirBytes(new File(s"$out/tiles")) / 1e6)
      tr.note("tiling.candidates", tr.notes.getOrElse("pairing.pairs", 0.0) * candidatesPerPair)
    }
    tr.span("tiling.export_s") {
      TorchExport.writeTileDatasetPth(spark.read.parquet(s"$out/tiles").as[TileRow],
        s"$out/tiles.pth", NBands)
    }
    PassOut()
  }

  def check(spark: SparkSession, in: String, out: String, po: PassOut): Verdict = {
    import spark.implicits._
    val failures = mutable.ArrayBuffer.empty[String]
    val nPairs = spark.read.parquet(s"$out/path_pair").select(explode(col("data_2"))).count()
    if (nPairs != expectedPairs) failures += s"pairs: got $nPairs, calendar implies $expectedPairs"

    val rows = spark.read.parquet(s"$out/tiles").as[TileRow].collect()
    val got = rows.groupBy(_.pair_id).map { case (p, ts) =>
      p -> digest(ts.toSeq.map(t => (t.tile_id, t.r, t.c, t.hr, t.lr)))
    }
    val wrong = expectedTiles.keySet.union(got.keySet)
      .filter(p => got.getOrElse(p, (0, 0L)) != expectedTiles.getOrElse(p, (0, 0L)))
    if (wrong.nonEmpty)
      failures += s"tiles differ from the TileKernel recomputation for ${wrong.size} pairs, e.g. ${wrong.head}"

    val script = new File("scripts/check_pth.py")
    val pthChecked = script.isFile
    if (pthChecked) checkPth(rows, s"$out/tiles.pth", s"$out/expected.json", script)
      .foreach(failures += _)
    Verdict(if (pthChecked) 3 else 2, failures.toSeq)
  }

  /** Validates the `.pth` with the repository's torch-free loader against
    * the shapes and md5s of the Parquet tiles in export order. */
  private def checkPth(rows: Array[TileRow], pth: String, expected: String,
                       script: File): Option[String] = {
    val sorted = rows.sortBy(r => (r.pair_id, r.tile_id))
    def md5(arrays: Seq[Array[Float]]): String = {
      val md = MessageDigest.getInstance("MD5")
      arrays.foreach { a =>
        val bb = ByteBuffer.allocate(a.length * 4).order(ByteOrder.LITTLE_ENDIAN)
        a.foreach(bb.putFloat)
        md.update(bb.array())
      }
      md.digest().map(b => f"${b & 0xff}%02x").mkString
    }
    val n = sorted.length
    val lrEdge = Batch / Scale
    val spec = s"""{"tensors": [
      |{"shape": [$n, $NBands, $lrEdge, $lrEdge], "md5": "${md5(sorted.toSeq.map(_.lr))}"},
      |{"shape": [$n, $NBands, $Batch, $Batch], "md5": "${md5(sorted.toSeq.map(_.hr))}"}]}""".stripMargin
    Files.write(Paths.get(expected), spec.getBytes(StandardCharsets.UTF_8))
    val p = new ProcessBuilder("python3", script.getPath, pth, expected)
      .redirectErrorStream(true).redirectOutput(ProcessBuilder.Redirect.DISCARD).start()
    if (!p.waitFor(120, TimeUnit.SECONDS)) { p.destroyForcibly(); p.waitFor() }
    if (p.exitValue() == 0) None else Some(s"check_pth.py rejected $pth (exit ${p.exitValue()})")
  }
}

object SrPipeline {
  /** One scene: its entry name, the week it falls in, and the seed of its
    * pixels. HR scenes are Sentinel-2, LR scenes HLS. */
  final case class Scene(id: String, week: Int, hr: Boolean, pixelSeed: Long,
                         defect: Boolean = false)

  val Lr = 32
  val Scale = 3
  val Hr: Int = Lr * Scale
  val Batch = 24
  val NBands = 4
  val MaskId = "river"
  val IdRegex = "([^/]+?)[._]B\\d+.*$"

  /** Tile count and an order-independent digest of one pair's tiles. */
  def digest(tiles: Seq[(Int, Int, Int, Array[Float], Array[Float])]): (Int, Long) =
    (tiles.size, tiles.map { case (id, r, c, hr, lr) =>
      (id, r, c, java.util.Arrays.hashCode(hr), java.util.Arrays.hashCode(lr)).hashCode.toLong
    }.sum)

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()
}
