package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Scalar string/date function surface (SURVEY.md §2.2 row "String/date/
  * math scalar fns" — the reference only parses timestamps and duration/
  * size suffixes; a user migrating real log queries needs the full scalar
  * toolkit). Everything codegen'd built-ins, no UDFs.
  */
object ScalarOps {

  /** String functions over part names/brands: case mapping, substring,
    * regexp extraction, padding, replacement, concat.
    */
  def stringFuncs(s: SparkSession, d: String): DataFrame =
    // no width pin: forced on, it paid on 4 cores at neither sf0.1 nor ×10
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        substring(col("p_name"), 1, 4).as("name_prefix"),
        length(col("p_name")).as("name_len"),
        regexp_extract(col("p_brand"), "Brand#(\\d+)", 1).cast("int").as("brand_num"),
        lpad(col("p_size").cast("string"), 3, "0").as("size_padded"),
        translate(col("p_type"), "AEIOU", "aeiou").as("type_lowered_vowels"),
        concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
        reverse(col("p_name")).as("name_rev"),
        split(col("p_name"), " ").getItem(0).as("first_word"))
      .orderBy(col("p_partkey"))

  /** Math functions over lineitem numerics: abs/sqrt/exp/ln/power,
    * ceil/floor, modulo, sign. Transcendentals are rounded — two libms
    * may differ in the last ulp — and ceil/floor cast to BIGINT on both
    * engines (Spark returns LONG, DuckDB DOUBLE).
    */
  def mathFuncs(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .where(col("l_orderkey") <= 100)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(abs(-col("l_extendedprice")), 2).as("abs_price"),
        round(sqrt(col("l_extendedprice")), 4).as("sqrt_price"),
        ceil(col("l_discount") * 100).cast("bigint").as("disc_pct_ceil"),
        floor(col("l_tax") * 100).cast("bigint").as("tax_pct_floor"),
        round(exp(col("l_discount")), 6).as("exp_disc"),
        round(log(col("l_extendedprice")), 6).as("ln_price"),
        round(pow(col("l_tax") + 1d, 2), 6).as("tax_factor_sq"),
        pmod(col("l_orderkey"), lit(7L)).as("key_mod7"),
        signum(col("l_quantity") - 25d).cast("int").as("qty_side"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Conditional expressions: CASE chains, nullif/coalesce null plumbing,
    * greatest/least.
    */
  def condFuncs(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .where(col("l_orderkey") <= 100)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_returnflag") === "R", "returned")
          .when(col("l_linestatus") === "O", "open")
          .otherwise("closed").as("status_class"),
        round(coalesce(nullif(col("l_tax"), lit(0.0)), col("l_discount")), 2)
          .as("tax_or_disc"),
        round(greatest(col("l_tax"), col("l_discount")), 2).as("rate_hi"),
        round(least(col("l_tax"), col("l_discount")), 2).as("rate_lo"),
        (col("l_quantity") > 30d).as("bulk"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Regex function surface over document text: extract (first + all),
    * replace-all, match predicate, regex split. Patterns stay in the
    * portable subset (character classes, quantifiers, groups, alternation)
    * — Java regex and RE2 agree there; lookarounds/lazy/word-boundary
    * escapes are where engines diverge, so operators built on this pack
    * avoid them. All codegen'd built-ins per row, zero shuffle.
    */
  def regexFuncs(s: SparkSession, d: String): DataFrame =
    // three regex passes per row are the whole query, single consumer
    Tables.widen(s, d, "documents", Tables.documents(s, d))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
          .as("n_numbers"),
        // no-match yields ''; a >18-digit run would overflow the ANSI
        // cast — both guarded by a length window (the twin mirrors the
        // same rule, since TRY_CAST's overflow boundary is value- not
        // length-based and would diverge on 19-digit values)
        coalesce(
          when(length(regexp_extract(col("text"), "([0-9]+)", 1))
            .between(1, 18),
            regexp_extract(col("text"), "([0-9]+)", 1).cast("long")),
          lit(-1L)).as("first_number"),
        substring(regexp_replace(col("text"), "[0-9]+", "#"), 1, 40)
          .as("masked_prefix"),
        col("text").rlike("[aeiou]{3}").as("has_vowel_run"),
        size(regexp_extract_all(col("text"), lit("[a-z]+[0-9]"), lit(0)))
          .as("n_alnum_borders"),
        size(split(col("text"), "[0-9]+")).as("n_nonnum_segments"))
      .orderBy(col("doc_id"))

  /** Date/time functions over order dates: component extraction, date
    * arithmetic, truncation, intervals, formatting.
    */
  def dateFuncs(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .where(col("o_orderkey") < 2000)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        dayofweek(col("o_orderdate")).as("dow"),
        quarter(col("o_orderdate")).as("qtr"),
        unix_millis(date_trunc("month", col("o_orderdate")).cast("timestamp")).as("month_start_ms"),
        datediff(lit(java.sql.Date.valueOf("2000-01-01")), col("o_orderdate"))
          .as("days_to_y2k"),
        unix_millis((col("o_orderdate") + expr("INTERVAL 90 DAYS")).cast("timestamp")).as("due_ms"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .orderBy(col("o_orderkey"))
}
