package graft.catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Acquisition-date parsers for the two sensor naming schemes
  * (reference: the recovered `date_extraction` module, SURVEY.md §0.1;
  * call sites main_function_original.py:23–27).
  *
  * Pure built-in column expressions — codegen'd, pushdown-friendly.
  */
object DateParse {

  /** Sentinel-2 entry names start `yyyyMMdd'T'HHmmss_...`
    * (e.g. `20230104T044201_20230104T044201_T46RCT`). Date = first 8 chars.
    * Invalid prefixes yield NULL — `try_to_timestamp` keeps this safe under
    * Spark 4's default ANSI mode (plain `to_date` would fail the whole job
    * on one malformed name). */
  def s2AcqDate(name: Column): Column =
    try_to_timestamp(substring(name, 1, 8), lit("yyyyMMdd")).cast("date")

  /** HLS names `HLS.L30.TXXXXX.yyyyDDD'T'HHmmss.v2.0`
    * (e.g. `HLS.L30.T46RCT.2023001T042927.v2.0`). Date = 4th dot-field:
    * year `yyyy` + ordinal day-of-year `DDD`. Implemented arithmetically
    * (Jan 1 + DDD - 1); a regex guard makes malformed names NULL instead of
    * an ANSI cast error (CaseWhen evaluates branches lazily, so the casts
    * never see non-digit input), and `get` makes a name with fewer than four
    * fields NULL instead of an ANSI index error. */
  def hlsAcqDate(name: Column): Column = {
    val f = get(split(name, "\\."), lit(3))
    // ordinal day 001–366 only (366 on a non-leap year rolls into Jan 1 of
    // the next year via date_add — no such name exists in real archives)
    val valid = f.rlike("^\\d{4}(00[1-9]|0[1-9]\\d|[12]\\d\\d|3[0-5]\\d|36[0-6])")
    when(valid,
      date_add(
        make_date(substring(f, 1, 4).cast("int"), lit(1), lit(1)),
        substring(f, 5, 3).cast("int") - 1))
      .otherwise(lit(null).cast("date"))
  }
}
