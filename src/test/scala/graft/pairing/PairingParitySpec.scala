package graft.pairing

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkSpec
import graft.catalog.{CatalogBuilder, DateParse, WeekBins}

/** Reference-free E2 parity: `Pairing.pathsPair` against the reference's
  * nested-loop dict (`paths_pair`, fct_data_extraction.py:218–248), under
  * every physical configuration of `SparkSpec.configMatrix`.
  *
  * The model walks L rows in input order and, for each, assigns
  * `dict[L_path] = [S_path for S rows of the same class]`: a key keeps the
  * position of its first assignment and the list of its last one. The engine
  * sorts each list (`sort_array`), so the model does too.
  */
class PairingParitySpec extends SparkSpec {

  private type Row3 = (String, String, String)

  private def model(l: Seq[Row3], s: Seq[Row3],
                    includePlaceholders: Boolean): Seq[(String, Seq[String])] = {
    def keep(rows: Seq[Row3]) = if (includePlaceholders) rows else rows.filter(_._1 != "0")
    val keys = mutable.ArrayBuffer.empty[String]
    val dict = mutable.Map.empty[String, Seq[String]]
    for ((lc, lp, ld) <- keep(l)) {
      val k = s"$lp/$ld"
      if (!dict.contains(k)) keys += k
      dict(k) = keep(s).collect { case (sc, sp, sd) if sc == lc => s"$sp/$sd" }
    }
    keys.toSeq.map(k => k -> dict(k).sorted)
  }

  private def run(l: DataFrame, s: DataFrame,
                  includePlaceholders: Boolean): Seq[(String, Seq[String])] =
    Pairing.pathsPair(l, s, includePlaceholders).collect().toSeq
      .map(r => (r.getString(0), r.getSeq[String](1)))

  private def frame(ss: SparkSession, rows: Seq[Row3]): DataFrame =
    ss.createDataFrame(rows).toDF("class", "path", "data")

  /** Hand-built catalogs in no particular order: a duplicate L key whose
    * last assignment changes its class, repeated placeholder rows on both
    * sides, an L class with no S match and an S class with no L row. */
  private val handL: Seq[Row3] = Seq(
    ("b", "L8", "n3"), ("0", "L8", "0"), ("a", "L8", "n1"), ("c", "L8", "n9"),
    ("a", "L8", "n3"), ("0", "L8", "0"), ("q", "L8", "n5"), ("b", "L8", "n2"),
    ("a", "L8", "n1"))
  private val handS: Seq[Row3] = Seq(
    ("a", "S2", "s7"), ("b", "S2", "s2"), ("0", "S2", "0"), ("a", "S2", "s1"),
    ("z", "S2", "s9"), ("0", "S2", "0"), ("b", "S2", "s2"), ("c", "S2", "s4"))

  /** Seeded catalogs over a small class alphabet, drawn with replacement so
    * keys repeat with and without a class change. */
  private def seeded(seed: Int, path: String, n: Int): Seq[Row3] = {
    val r = new Random(seed)
    Seq.fill(n) {
      val c = "0abcdefg".charAt(r.nextInt(8)).toString
      if (c == "0") ("0", path, "0") else (c, path, s"x${r.nextInt(n)}")
    }
  }

  /** Real catalogs: two seeded listings through `CatalogBuilder.build`, so
    * the L input arrives in a multi-partition range-sorted order. */
  private def catalogs(ss: SparkSession): (DataFrame, DataFrame) = {
    val (edge, nBins) = WeekBins.Ref2023
    val r = new Random(7)
    def dates(n: Int) = Seq.fill(n)(edge.plusDays(r.nextInt(7 * nBins).toLong))
    val s2 = dates(90).map(d => f"${d.getYear}${d.getMonthValue}%02d${d.getDayOfMonth}%02dT044201_x")
    val hls = dates(60).map(d => f"HLS.L30.T46RCT.${d.getYear}${d.getDayOfYear}%03dT042927.v2.0")
    def names(ns: Seq[String]) = ss.createDataFrame(ns.map(Tuple1(_))).toDF("data")
    (CatalogBuilder.build(names(hls), DateParse.hlsAcqDate, "L8", edge, nBins),
      CatalogBuilder.build(names(s2), DateParse.s2AcqDate, "S2", edge, nBins))
  }

  private def collect3(df: DataFrame): Seq[Row3] =
    df.select("class", "path", "data").collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))

  test("the hand-built catalogs exercise every E2 case the model distinguishes") {
    val dict = model(handL, handS, includePlaceholders = true).toMap
    assert(dict("L8/n3") == Seq("S2/s1", "S2/s7"), "class of the last assignment")
    assert(dict("L8/0") == Seq("S2/0", "S2/0"), "placeholder key")
    assert(dict("L8/n5").isEmpty, "class with no S match")
    assert(model(handL, handS, includePlaceholders = false).map(_._1) ==
      Seq("L8/n3", "L8/n1", "L8/n9", "L8/n5", "L8/n2"))
  }

  for ((label, session) <- configMatrix) {
    test(s"pathsPair ≡ the paths_pair dict ($label)") {
      val ss = session()
      val inputs = Seq("hand-built" -> (handL, handS)) ++
        Seq(1, 2, 3).map(seed => s"seed $seed" ->
          (seeded(seed, "L8", 40), seeded(seed + 50, "S2", 60)))
      val (lCat, sCat) = catalogs(ss)
      for (inc <- Seq(true, false)) {
        for ((name, (l, s)) <- inputs)
          assert(run(frame(ss, l), frame(ss, s), inc) == model(l, s, inc),
            s"$name, includePlaceholders=$inc")
        assert(run(lCat, sCat, inc) == model(collect3(lCat), collect3(sCat), inc),
          s"built catalogs, includePlaceholders=$inc")
      }
    }
  }
}
