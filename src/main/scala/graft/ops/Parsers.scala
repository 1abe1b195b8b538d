package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Field parsers — built-in-expression replacements for the reference's
  * messy-string extraction logic, including its single Python UDF
  * (SURVEY.md §2.10). All codegen'd; no serialization boundary. */
object Parsers {

  /** UDF1 replacement (jobs/spark/srx_transformation.py:68-83) —
    * bedroom-count parser:
    *   - "studio" (case-insensitive) → 1
    *   - "a+b" (e.g. "3+1") → a+b
    *   - plain integer string → the integer
    *   - anything else / NULL → NULL
    * The reference registers a Python UDF returning strings then casts
    * to int (the 'None' branches become NULL); pure built-ins give the
    * same result inside one codegen stage — no BatchEvalPython node. */
  def bedroomCount(c: Column): Column = {
    val t = trim(c)
    when(lower(t) === "studio", lit(1))
      .when(t.rlike("^\\d+\\+\\d+$"),
        split(t, "\\+").getItem(0).cast(IntegerType) +
          split(t, "\\+").getItem(1).cast(IntegerType))
      .when(t.rlike("^\\d+$"), t.cast(IntegerType))
      .otherwise(lit(null).cast(IntegerType))
  }

  /** The documented Scala-UDF alternative to [[bedroomCount]]
    * (SURVEY.md §2.10 option b) — same semantics as the reference's
    * Python UDF, demonstrated for the extension-point surface. NOT used
    * in pipelines: the built-in form codegens and needs no
    * serialization boundary; prefer it unless logic truly can't be
    * expressed with built-ins. */
  val bedroomCountUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((value: String) => {
      if (value == null) None
      else {
        val t = value.trim
        if (t.equalsIgnoreCase("studio")) Some(1)
        else if (t.matches("^\\d+\\+\\d+$"))
          Some(t.split("\\+").map(_.toInt).sum)
        else if (t.matches("^\\d+$")) Some(t.toInt)
        else None
      }
    })

  /** SRX:49 — price-per-sqft out of `"$523 psf"` (commas stripped).
    * `regexp_extract` yields '' on no-match; under Spark 4 ANSI mode a
    * plain cast of '' throws, so parsers use `try_cast` (→ NULL). */
  def pricePsf(c: Column): Column =
    regexp_extract(regexp_replace(c, ",", ""), "\\$?(\\d+)\\s*psf", 1)
      .try_cast(IntegerType)

  /** PN:75, SRX:89 — postal sector = first two digits of the postcode. */
  def postalSector(c: Column): Column = substring(c, 1, 2)

  /** SRX:20 — postcode out of `"123A Example Ave 1 (543210)"`. */
  def postcodeFromAddress(c: Column): Column =
    regexp_extract(c, "\\((\\d+)\\)", 1)

  /** PN:15 — agent id after the last `#` (`"#R123456A"` → `R123456A`). */
  def agentIdAfterHash(c: Column): Column = substring_index(c, "#", -1)

  /** SRX:14-15 — CEA registration numbers embedded in free text. */
  def agencyRegNo(c: Column): Column = regexp_extract(c, "(L\\d{7}[A-Z])", 1)
  def agentRegNo(c: Column): Column  = regexp_extract(c, "(R\\d{6}[A-Z])", 1)

  /** PN:42, SRX:39 — facilities count = size of comma-split list;
    * null stays null (reference: `when(isNull, None)`). */
  def facilitiesCount(c: Column): Column =
    when(c.isNull, lit(null).cast(IntegerType))
      .otherwise(size(split(c, ",")))

  /** PN:45-53, SRX:24-31 — location rebuild, exact reference semantics:
    * initcap the whole string, strip a leading `Blk `/`Block ` token,
    * then upper-case the first token iff it starts with a digit and
    * rejoin with the rest. (`"blk 123a upper serangoon rd"` →
    * `"123A Upper Serangoon Rd"`.) */
  def rebuildLocation(c: Column): Column = {
    val base = regexp_replace(initcap(c), "^(Blk\\s+|Block\\s+)", "")
    val toks = split(base, " ")
    val head = toks.getItem(0)
    val tail = concat_ws(" ", slice(toks, lit(2), size(toks)))
    concat_ws(" ",
      when(head.rlike("^\\d"), upper(head)).otherwise(head), tail)
  }
}
