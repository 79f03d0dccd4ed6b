package graft.catalog

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.util.{Random, Try}

import org.apache.spark.sql.{Column, SparkSession}

import graft.SparkSpec

/** Reference-free E1 parity: `CatalogBuilder.build` against a plain-Scala
  * model of `SL_create_csv` (main_function_original.py:14–80), row by row,
  * under every physical configuration of `SparkSpec.configMatrix`.
  *
  * The model follows the reference step by step, sharing no code with the
  * engine: parse each name's date, drop it unless it falls inside the numpy
  * weekly edges (the last bin is right-closed), letter the non-empty bins in
  * bin order (`a`…`z`, `aa`…), emit one `"0"` placeholder row per empty bin,
  * and order the rows by (bin, name). The seeded listings carry empty weeks,
  * out-of-range and malformed names, dates on the first and last edges,
  * duplicate names and more than 26 non-empty weeks.
  */
class CatalogParitySpec extends SparkSpec {

  private val (firstEdge, nBins) = WeekBins.Ref2023
  private val edges = (0 to nBins).map(i => firstEdge.plusDays(7L * i))
  private val lastEdge = edges.last

  /** `np.histogram` bin of one date over `edges`; None when dropped. */
  private def numpyBin(d: LocalDate): Option[Int] =
    (0 until nBins).find { i =>
      !d.isBefore(edges(i)) &&
        (d.isBefore(edges(i + 1)) || (i == nBins - 1 && d == lastEdge))
    }

  private def letters(n: Int): String =
    if (n <= 0) "" else letters((n - 1) / 26) + ('a' + (n - 1) % 26).toChar

  private def model(names: Seq[String], dateOf: String => Option[LocalDate],
                    path: String): Seq[(String, String, String)] = {
    val byBin = names.flatMap(n => dateOf(n).flatMap(numpyBin).map(_ -> n))
      .groupBy(_._1).map { case (b, ns) => b -> ns.map(_._2).sorted }
    var nonEmpty = 0
    (0 until nBins).flatMap { b =>
      byBin.get(b) match {
        case Some(ns) =>
          nonEmpty += 1
          ns.map(n => (letters(nonEmpty), path, n))
        case None => Seq(("0", path, "0"))
      }
    }
  }

  private val s2Date: String => Option[LocalDate] = n =>
    Try(LocalDate.parse(n.take(8), DateTimeFormatter.BASIC_ISO_DATE)).toOption
  private val hlsDate: String => Option[LocalDate] = n => Try {
    val f = n.split('.')(3)
    LocalDate.ofYearDay(f.take(4).toInt, f.slice(4, 7).toInt)
  }.toOption

  private def s2Name(d: LocalDate, r: Random): String = {
    val t = f"${d.format(DateTimeFormatter.BASIC_ISO_DATE)}T04${r.nextInt(6000)}%04d"
    s"${t}_${t}_T46RCT"
  }
  private def hlsName(d: LocalDate, r: Random): String =
    f"HLS.L30.T46RCT.${d.getYear}${d.getDayOfYear}%03dT04${r.nextInt(6000)}%04d.v2.0"

  /** Seeded listing: about one week in five empty, one to three scenes in
    * the others, plus out-of-range dates, both edges, malformed names and
    * duplicates, shuffled. */
  private def listing(seed: Int, name: (LocalDate, Random) => String,
                      malformed: Seq[String]): Seq[String] = {
    val r = new Random(seed)
    val inRange = (0 until nBins).flatMap { w =>
      val n = if (r.nextInt(5) == 0) 0 else 1 + r.nextInt(3)
      Seq.fill(n)(edges(w).plusDays(r.nextInt(7).toLong))
    }
    val outside = Seq(firstEdge.minusDays(1), firstEdge.minusDays(40),
      lastEdge.plusDays(1), lastEdge.plusDays(50))
    val dated = (inRange ++ outside :+ firstEdge :+ lastEdge).map(name(_, r))
    r.shuffle(dated ++ dated.take(3) ++ malformed)
  }

  private val s2Malformed = Seq("garbage", "2023AB01T044201_x_T46RCT", "", "T46RCT")
  private val hlsMalformed = Seq("garbage", "HLS.L30.T46RCT.2023XYZT042927.v2.0",
    "HLS.L30.T46RCT.2023000T042927.v2.0", "HLS.L30", "")

  private def build(ss: SparkSession, names: Seq[String],
                    dateOf: Column => Column,
                    path: String): Seq[(String, String, String)] =
    CatalogBuilder.build(ss.createDataFrame(names.map(Tuple1(_))).toDF("data").repartition(3),
      dateOf, path, firstEdge, nBins)
      .select("class", "path", "data")
      .collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2)))

  private val seeds = Seq(11, 12, 13)

  test("the seeded listings exercise every E1 case the model distinguishes") {
    for (seed <- seeds) {
      val names = listing(seed, s2Name, s2Malformed)
      val rows = model(names, s2Date, "S2")
      assert(rows.exists(_._1 == "aa"), s"seed $seed: more than 26 non-empty bins")
      assert(rows.exists(_._1 == "0"), s"seed $seed: an empty bin")
      assert(names.diff(names.distinct).nonEmpty, s"seed $seed: duplicate names")
      assert(names.exists(n => s2Date(n).contains(lastEdge)))
      assert(names.exists(n => s2Date(n).exists(d => numpyBin(d).isEmpty)))
    }
  }

  for ((label, session) <- configMatrix) {
    test(s"S2 and HLS catalogs ≡ the SL_create_csv model ($label)") {
      val ss = session()
      for (seed <- seeds) {
        val s2 = listing(seed, s2Name, s2Malformed)
        assert(build(ss, s2, DateParse.s2AcqDate, "S2") == model(s2, s2Date, "S2"),
          s"S2, seed $seed")
        val hls = listing(seed + 100, hlsName, hlsMalformed)
        assert(build(ss, hls, DateParse.hlsAcqDate, "L8") == model(hls, hlsDate, "L8"),
          s"HLS, seed $seed")
      }
    }
  }

  test("a listing with no dated name is all placeholders, one per bin") {
    val expected = Seq.fill(nBins)(("0", "S2", "0"))
    assert(model(s2Malformed, s2Date, "S2") == expected)
    assert(build(spark, s2Malformed, DateParse.s2AcqDate, "S2") == expected)
    assert(build(spark, Seq.empty, DateParse.s2AcqDate, "S2") == expected)
  }
}
