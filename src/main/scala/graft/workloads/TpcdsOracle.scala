package graft.workloads

import graft.CatalogQuery
import graft.datagen.RetailData

/** Value-level oracle gate for the TPC-DS catalog: the subset of
  * queries whose SQL is engine-portable AND whose output columns are
  * parity-safe (strings, BIGINT counts, exact integer cents from
  * decimal sums) runs in DuckDB over the same snapshot parquet and
  * must match Spark value-for-value — a strictly stronger check than
  * TpcdsSpec's checksum stability.
  *
  * The decimal-division-membership family (q4/q11/q31/q74) is covered
  * three ways: derived `_exact` variants below; true verbatim oracles
  * for q4/q11/q74 whose DuckDB side emulates Spark's HALF_UP decimal
  * division in HUGEINT (see `emulatedForm`); and q31 — which OUTPUTS
  * the decimal quotients, not just a membership test on them — stays
  * checksum-gated with the impossibility documented at `emulatedForm`.
  * Every other catalog query is value-oracled — DECIMAL averages are
  * stated in exact-cents DOUBLE form in the catalog text itself (see
  * `names` note).
  */
object TpcdsOracle {

  /** Oracle-safe query names — 99 of the 103 catalog entries; the four
    * missing (q4/q11/q31/q74) are the DECIMAL-division-membership
    * family covered by the `_exact` variants below. Ratio outputs
    * qualify because they divide exact integer cents as IEEE DOUBLE
    * (identical in both engines); averages over DECIMAL columns are
    * stated as exact-cents BIGINT sums divided as DOUBLE (q9/q18/q22/
    * q26/q27/q85/q89 form); q47/q57's window average is integer-exact
    * with the 10% deviation predicate cross-multiplied; q1/q30's
    * correlated avg threshold is cross-multiplied likewise. */
  val names: Seq[String] = Seq(
    "q1", "q2", "q3", "q5", "q6", "q7", "q8", "q9", "q10", "q12", "q13",
    "q14a", "q14b", "q15", "q16", "q17", "q18", "q19", "q20", "q21",
    "q22", "q23a", "q23b", "q24a", "q24b", "q25", "q26", "q27", "q28",
    "q29", "q30", "q32", "q33", "q34", "q35", "q36", "q37", "q38",
    "q39a", "q39b", "q40", "q41", "q42", "q43", "q44", "q45", "q46",
    "q47", "q48", "q49", "q50", "q51", "q52", "q53", "q54", "q55",
    "q56", "q57", "q58", "q59", "q60", "q61", "q62", "q63", "q64",
    "q65", "q66", "q67", "q68", "q69", "q70", "q71", "q72", "q73",
    "q75", "q76", "q77", "q78", "q79", "q80", "q81", "q82", "q83",
    "q84", "q85", "q86", "q87", "q88", "q89", "q90", "q91", "q92",
    "q93", "q94", "q95", "q96", "q97", "q98", "q99")

  /** The year-over-year growth family (q4/q11/q74) and the county
    * growth query (q31) hinge on DECIMAL-division comparisons where
    * Spark and DuckDB derive different result scales, so their verbatim
    * forms stay checksum-gated. These `_exact` variants are derived
    * mechanically from the catalog text: every channel total becomes
    * exact BIGINT cents and every growth ratio divides as IEEE DOUBLE —
    * exact integers < 2^53 divide to the identical double in both
    * engines (same trick that oracles q12/q20/q98's ratio-to-report),
    * turning row membership into a value-checkable predicate. */
  private val exactNames = Seq("q4", "q11", "q31", "q74")

  /** Spark's derived division type for the growth predicates, measured
    * on Spark 4.1 by selecting these divisions directly (the oracle
    * gate's q4/q11/q74 checks fail if an upgrade moves them):
    * DECIMAL(26,2)/(26,2) — the q4/q11 `sum(ext_list - ext_discount)`
    * totals — divides at
    * DECIMAL(38,12); DECIMAL(25,2)/(25,2) — q74's `sum(net_paid)` —
    * at DECIMAL(38,13). Rounding is HALF_UP (probed at an exact tie:
    * 0.01/2e10 → 1E-12, where HALF_EVEN would give 0). */
  private val emulatedScales: Map[String, Int] =
    Map("q4" -> 12, "q11" -> 12, "q74" -> 13)

  /** DuckDB-only oracle for a verbatim growth query: year totals as
    * exact BIGINT cents, and each `a/b > c/d` ratio comparison replaced
    * by the integer form of Spark's HALF_UP quotient at `scale` —
    * round_half_up(a/b, S) = (2·a·10^S + b) div (2·b) for positive b
    * (guaranteed by the `year_total > 0` predicates; a 0 numerator
    * rounds to 0 under both). DuckDB evaluates the 10^S product in
    * HUGEINT, which is exactly why this form cannot be the shared text:
    * 2·a·10^12 overflows Spark's BIGINT. The Spark side runs the
    * verbatim text; this emulation reproduces its decimal semantics
    * bit-for-bit, upgrading q4/q11/q74 from checksum-only to
    * value-oracled. q31 stays checksum-gated: it OUTPUTS the
    * DECIMAL(38,12) quotients, and DuckDB cannot round-trip decimal128
    * columns through the driver's pandas comparator (they arrive as
    * object/float64, a dtype mismatch by construction). */
  private[workloads] def emulatedForm(sql: String, scale: Int): String = {
    val pow = "1" + "0" * scale
    val cents = sql
      .replaceAll(
        """sum\((.*?)\) AS year_total""",
        "CAST(sum($1) * 100 AS BIGINT) AS year_total")
      .replaceAll("""sum\((.*?)\), '([csw])'""", "CAST(sum($1) * 100 AS BIGINT), '$2'")
    val ratio =
      ("""(?s)(\w+)\.year_total / (\w+)\.year_total(\s*)>""" +
        """(\s*)(\w+)\.year_total / (\w+)\.year_total""").r
    ratio.replaceAllIn(cents, m => scala.util.matching.Regex.quoteReplacement(
      s"(2 * CAST(${m.group(1)}.year_total AS HUGEINT) * $pow + ${m.group(2)}.year_total)" +
        s" // (2 * ${m.group(2)}.year_total)" + m.group(3) + ">" + m.group(4) +
        s"(2 * CAST(${m.group(5)}.year_total AS HUGEINT) * $pow + ${m.group(6)}.year_total)" +
        s" // (2 * ${m.group(6)}.year_total)"))
  }

  private[workloads] def exactForm(sql: String): String = sql
    .replaceAll(
      """sum\((.*?)\) AS (year_total|store_sales|web_sales)""",
      "CAST(sum($1) * 100 AS BIGINT) AS $2")
    .replaceAll("""sum\((.*?)\), '([csw])'""", "CAST(sum($1) * 100 AS BIGINT), '$2'")
    .replaceAll(
      """(\w+\.(?:year_total|store_sales|web_sales)) /""",
      "CAST($1 AS DOUBLE) /")

  val all: Seq[CatalogQuery] = names.map { name =>
    val sql = TpcdsCatalog.byName(name)
    CatalogQuery(
      s"tpcds_$name",
      s"TPC-DS 1.4 $name [retail snapshot, DuckDB-oracled]",
      (s, _) => { RetailData.views(s); s.sql(sql) },
      Some(RetailData.duckOracle(RetailQueries.duckDialect(sql))))
  } ++ exactNames.map { name =>
    val sql = exactForm(TpcdsCatalog.byName(name))
    CatalogQuery(
      s"tpcds_${name}_exact",
      s"TPC-DS 1.4 $name, growth ratios reformulated integer-exact [DuckDB-oracled]",
      (s, _) => { RetailData.views(s); s.sql(sql) },
      Some(RetailData.duckOracle(RetailQueries.duckDialect(sql))))
  } ++ emulatedScales.toSeq.sortBy(_._1).map { case (name, scale) =>
    val sql = TpcdsCatalog.byName(name)
    CatalogQuery(
      s"tpcds_$name",
      s"TPC-DS 1.4 $name VERBATIM [DuckDB oracle emulates Spark's " +
        s"DECIMAL(38,$scale) HALF_UP division in HUGEINT]",
      (s, _) => { RetailData.views(s); s.sql(sql) },
      Some(RetailData.duckOracle(emulatedForm(sql, scale))))
  } :+ q31Verbatim

  /** q31's verbatim semantics value-gated through a string render.
    *
    * Unlike q4/q11/q74, q31 OUTPUTS its DECIMAL(38,13) quotients, and
    * decimal columns cannot cross the driver's pandas comparator
    * (Spark parquet decimal128 → object, DuckDB decimal → float64 — a
    * dtype mismatch by construction; see the q31 note on
    * `emulatedForm`). Casting the four ratio columns to STRING on the
    * Spark side keeps every quotient digit (BigDecimal plain render at
    * full scale 13 — plain for any value ≥ 1e-7, and quarterly sales
    * ratios are nowhere near that edge) while the DuckDB side renders
    * its HUGEINT-emulated HALF_UP quotients to the identical string
    * (`q // 10^13 || '.' || lpad(q % 10^13, 13)`, valid because every
    * surviving row's denominators are > 0 by the growth predicates and
    * the generated sales totals are nonnegative). Comparison becomes
    * dtype-stable without changing a digit of the verbatim decimal
    * semantics. */
  private def q31Verbatim: CatalogQuery = {
    val p = "10000000000000" // 10^13: Spark's derived division scale
    def quot(num: String, den: String) =
      s"CASE WHEN $den > 0 THEN (2 * CAST($num AS HUGEINT) * $p + $den) // (2 * $den) END"
    def render(q: String) =
      s"CAST($q // $p AS VARCHAR) || '.' || lpad(CAST($q % $p AS VARCHAR), 13, '0')"
    val oracle =
      s"""WITH ss AS (
         |  SELECT ca_county, d_qoy, d_year,
         |    CAST(sum(ss_ext_sales_price) * 100 AS BIGINT) AS store_sales
         |  FROM store_sales
         |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
         |  JOIN customer_address ON ss_addr_sk = ca_address_sk
         |  GROUP BY ca_county, d_qoy, d_year),
         |ws AS (
         |  SELECT ca_county, d_qoy, d_year,
         |    CAST(sum(ws_ext_sales_price) * 100 AS BIGINT) AS web_sales
         |  FROM web_sales
         |  JOIN date_dim ON ws_sold_date_sk = d_date_sk
         |  JOIN customer_address ON ws_bill_addr_sk = ca_address_sk
         |  GROUP BY ca_county, d_qoy, d_year),
         |j AS (
         |  SELECT ss1.ca_county, ss1.d_year,
         |    ws1.web_sales AS w1, ws2.web_sales AS w2, ws3.web_sales AS w3,
         |    ss1.store_sales AS s1, ss2.store_sales AS s2, ss3.store_sales AS s3
         |  FROM ss ss1, ss ss2, ss ss3, ws ws1, ws ws2, ws ws3
         |  WHERE ss1.d_qoy = 1 AND ss1.d_year = 2021
         |    AND ss1.ca_county = ss2.ca_county AND ss2.d_qoy = 2 AND ss2.d_year = 2021
         |    AND ss2.ca_county = ss3.ca_county AND ss3.d_qoy = 3 AND ss3.d_year = 2021
         |    AND ss1.ca_county = ws1.ca_county AND ws1.d_qoy = 1 AND ws1.d_year = 2021
         |    AND ws1.ca_county = ws2.ca_county AND ws2.d_qoy = 2 AND ws2.d_year = 2021
         |    AND ws1.ca_county = ws3.ca_county AND ws3.d_qoy = 3 AND ws3.d_year = 2021),
         |q AS (
         |  SELECT ca_county, d_year,
         |    ${quot("w2", "w1")} AS qw12,
         |    ${quot("s2", "s1")} AS qs12,
         |    ${quot("w3", "w2")} AS qw23,
         |    ${quot("s3", "s2")} AS qs23
         |  FROM j)
         |SELECT ca_county, d_year,
         |  ${render("qw12")} AS web_q1_q2_increase,
         |  ${render("qs12")} AS store_q1_q2_increase,
         |  ${render("qw23")} AS web_q2_q3_increase,
         |  ${render("qs23")} AS store_q2_q3_increase
         |FROM q WHERE qw12 > qs12 AND qw23 > qs23
         |ORDER BY ca_county""".stripMargin
    CatalogQuery(
      "tpcds_q31_verbatim",
      "TPC-DS 1.4 q31 VERBATIM, DECIMAL(38,13) ratio outputs value-gated as strings [DuckDB HUGEINT HALF_UP emulation]",
      (s, _) => {
        RetailData.views(s)
        s.sql(TpcdsCatalog.byName("q31")).selectExpr(
          "ca_county", "d_year",
          "CAST(web_q1_q2_increase AS STRING) AS web_q1_q2_increase",
          "CAST(store_q1_q2_increase AS STRING) AS store_q1_q2_increase",
          "CAST(web_q2_q3_increase AS STRING) AS web_q2_q3_increase",
          "CAST(store_q2_q3_increase AS STRING) AS store_q2_q3_increase")
      },
      Some(RetailData.duckOracle(oracle)))
  }
}
