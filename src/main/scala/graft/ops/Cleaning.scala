package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar cleaning operators — the reference's §2.9 surface re-expressed
  * as pure, codegen-friendly `Column` functions (no UDFs, no Python
  * boundary). Citations are into `/root/reference/`.
  *
  * Every function here stays inside whole-stage codegen: at 100 TB these
  * run per-row in the scan→project pipeline with zero extra shuffles. */
object Cleaning {

  /** Canonical Unicode key for fingerprints, blocking keys, and sort
    * keys: NFC composition (native [[graft.functions.UnicodeNfc]]
    * kernel, ASCII fast-path) then casefold. Without it,
    * visually-identical NFC/NFD variants and case twins have different
    * bytes and silently defeat exact dedup
    * ([[Dedup.exactDedup]]'s sha2 hashes raw bytes) and hash blocking.
    * Collation contract (the oracle twin must spell the same chain):
    * DuckDB `lower(nfc_normalize(x))` — both engines implement UAX #15
    * canonical composition and Unicode simple lowercase, so the chain
    * is byte-identical across engines. */
  def canonicalUnicode(c: Column): Column =
    lower(graft.functions.GraftFunctions.unicodeNfc(c))

  /** F3 — sentinel strings → real NULL on every string column.
    * Reference: `df.na.replace(['None',''], None)`
    * (jobs/spark/propnex_transformation.py:113,138;
    * jobs/spark/srx_transformation.py:125,151). PySpark applies this to
    * string columns only; we replicate that exactly. Each column is one
    * native [[graft.functions.NullIfSentinel]] call, which reads the
    * column once, so every filter the optimizer pushes through this
    * projection inlines one copy of the column, not two. */
  def normalizeNulls(df: DataFrame,
                     sentinels: Seq[String] = Seq("None", "")): DataFrame =
    df.select(df.schema.fields.map { f =>
      if (f.dataType == StringType)
        graft.functions.GraftFunctions.nullIfSentinel(col(f.name), sentinels)
          .as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)

  /** F4 — conditional null-out of garbage-prefixed values.
    * Reference: `when(col.startswith('(D'), None).otherwise(col)`
    * (jobs/spark/propnex_transformation.py:37-38). */
  def nullIfPrefix(c: Column, prefix: String): Column =
    when(c.startsWith(prefix), lit(null).cast(StringType)).otherwise(c)

  /** Strip emoji runs and fold newlines to spaces — the EXACT range set
    * of the reference's pattern (jobs/spark/propnex_transformation.py:19,
    * jobs/spark/srx_transformation.py:34: ten \\U ranges + '+'
    * quantifier), re-spelled with Java regex's surrogate-aware `\x{...}`
    * syntax for supplementary-plane code points. */
  def stripEmoji(c: Column): Column = {
    val emoji = "[\\x{1F1E0}-\\x{1F1FF}\\x{1F300}-\\x{1F5FF}" +
      "\\x{1F600}-\\x{1F64F}\\x{1F680}-\\x{1F6FF}\\x{1F700}-\\x{1F77F}" +
      "\\x{1F780}-\\x{1F7FF}\\x{1F800}-\\x{1F8FF}\\x{1F900}-\\x{1F9FF}" +
      "\\x{1FA70}-\\x{1FAFF}\\x{2700}-\\x{27BF}]+"
    regexp_replace(regexp_replace(c, emoji, ""), "\n", " ")
  }

  /** SRX:17 — drop all non-ASCII runs. */
  def stripNonAscii(c: Column): Column =
    regexp_replace(c, "[^\\x00-\\x7F]+", "")

  /** PN:26, SRX:48 — `"$550,000"` → 550000.
    * Reference: `regexp_replace(col, '[$,]', '').cast('int')`. */
  def parseMoney(c: Column): Column = {
    // Two-step parse: string → long, then a BRANCHED narrowing to int.
    // A direct try_cast(IntegerType) routes every out-of-int-range
    // value through toIntExact's throw/catch — exception construction
    // per dirty ROW, measured 85× super-linear on the sf1 probe where
    // synthesized amounts overflow int (131 s for 6M rows; 21 µs/row
    // of fillInStackTrace). Long parse only throws for ≥19-digit or
    // non-numeric strings — rare in any money column — while the
    // common dirty case (magnitude overflow) is now a comparison.
    val asLong = regexp_replace(c, "[$,]", "").try_cast(LongType)
    when(asLong.between(Int.MinValue.toLong, Int.MaxValue.toLong),
      asLong.cast(IntegerType))
  }

  /** P5 — typed cast loop. Reference: `for column, dtype in dict:
    * withColumn(cast)` (historical_data_transformation.py:66-69,
    * propnex_transformation.py:96-99, srx_transformation.py:108-111).
    * One wide `select` (a single Project node) instead of N
    * `withColumn`s — N chained withColumns make Catalyst re-analyze N
    * plans, which hurts at wide schemas. */
  def castColumns(df: DataFrame, casts: Map[String, DataType]): DataFrame =
    df.select(df.columns.map { c =>
      casts.get(c).map(t => col(c).cast(t).as(c)).getOrElse(col(c))
    }.toIndexedSeq: _*)

  /** Like [[castColumns]] but malformed values become NULL instead of
    * throwing — matches the reference's pre-ANSI PySpark `cast`
    * behavior (Spark 4 runs ANSI mode where plain cast throws). */
  def castColumnsLenient(df: DataFrame,
                         casts: Map[String, DataType]): DataFrame =
    df.select(df.columns.map { c =>
      casts.get(c).map(t => col(c).try_cast(t).as(c)).getOrElse(col(c))
    }.toIndexedSeq: _*)

  /** P2 — batch rename (HIST:34-37, PN:61-63, SRX:62-66). */
  def renameColumns(df: DataFrame, renames: Map[String, String]): DataFrame =
    df.withColumnsRenamed(renames)

  /** HIST:41-42 — flat-type label fixes: `'Room'→'Rooms'`,
    * `'Multi G'→'Multi-g'`. */
  def fixFlatTypeLabels(c: Column): Column =
    regexp_replace(regexp_replace(c, "Room", "Rooms"), "Multi G", "Multi-g")

  /** HIST:44-46, SRX:52-54 — sqm → sqft, rounded to int.
    * The 3.28084² factor is constant-folded by Catalyst. */
  def sqmToSqft(c: Column): Column =
    round(c * lit(3.28084 * 3.28084), 0).cast(IntegerType)

  /** HIST:48-49 — assemble a DATE from a `"YYYY-MM"` month string. */
  def monthToDate(c: Column): Column =
    to_date(concat_ws("-", c, lit("01")), "yyyy-MM-dd")

  /** HIST:53-54, PN:72, SRX:86 — remaining lease = 99 − (saleYear − top).
    * The reference calls driver-side `datetime.today()`; we take the
    * sale year as a Column so tests are deterministic (SURVEY §7.4). */
  def remainingLease(saleYear: Column, topYear: Column): Column =
    (lit(99) - (saleYear - topYear)).cast(IntegerType)

  /** PN:30-33, SRX:42-45 — furnishing label normalization. Exact
    * reference semantics: equality tests on the lower-cased value,
    * anything unrecognized passes through unchanged. The "unfurnished"
    * spelling differs per source (`unfurnishedSpelling`). */
  def normalizeFurnishing(c: Column,
                          unfurnishedSpelling: String = "unfurnished")
      : Column = {
    val l = lower(c)
    when(l === "partially furnished", lit("partial"))
      .when(l === "fully furnished", lit("full"))
      .when(l === unfurnishedSpelling, lit("unfurnished"))
      .otherwise(c)
  }

  /** SRX:58-60 — floor level `'Mid'` → `'middle'`, lower-cased. */
  def normalizeFloorLevel(c: Column): Column = {
    val l = lower(c)
    when(l === "mid", lit("middle")).otherwise(l)
  }
}
