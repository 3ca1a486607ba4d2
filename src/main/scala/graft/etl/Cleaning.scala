package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Silver-layer cleaning/standardization rules (SURVEY.md §2.2, §2.8).
  *
  * Every rule is a pure Column expression — fully codegen'd, no UDFs — so
  * the whole silver transform stays inside one WholeStageCodegen span and
  * scales linearly with input splits.
  */
object Cleaning {

  /** Code standardization: M/S → Married/Single, else n/a
    * (proc_load_silver.sql:78-82). */
  def maritalStatus(c: Column): Column =
    when(upper(trim(c)) === "M", "Married")
      .when(upper(trim(c)) === "S", "Single")
      .otherwise("n/a")

  /** M/F → Male/Female, else n/a (proc_load_silver.sql:83-87). */
  def gender(c: Column): Column =
    when(upper(trim(c)) === "M", "Male")
      .when(upper(trim(c)) === "F", "Female")
      .otherwise("n/a")

  /** Product-line codes incl. trailing-space variants
    * (proc_load_silver.sql:179-184). */
  def productLine(c: Column): Column =
    when(upper(trim(c)) === "M", "Mountain")
      .when(upper(trim(c)) === "R", "Road")
      .when(upper(trim(c)) === "S", "Other Sales")
      .when(upper(trim(c)) === "T", "Touring")
      .otherwise("n/a")

  /** Country standardization — documented intent the reference never wired
    * in (SURVEY.md §4 quirk 2; README.md:144). */
  def country(c: Column): Column =
    when(trim(c).isin("US", "USA", "United States"), "United States")
      .when(trim(c).isin("DE", "Germany"), "Germany")
      .when(trim(c).isNull || trim(c) === "", "n/a")
      .otherwise(trim(c))

  /** ERP customer ids carry a NAS prefix that breaks the CRM join
    * (SURVEY.md §4 quirk 2; docs/CUST_AZ12.csv). */
  def stripNasPrefix(c: Column): Column =
    when(c.startsWith("NAS"), c.substr(lit(4), length(c))).otherwise(c)

  /** yyyyMMdd INT → date; 0 / non-8-digit garbage → NULL
    * (proc_load_silver.sql:234-236). */
  def intDate(c: Column): Column =
    when(c.isNull || c === 0 || length(c.cast("string")) =!= 8, lit(null))
      .otherwise(try_to_date(c.cast("string"), "yyyyMMdd"))

  /** dd-MM-yyyy string → date (bronze prd_info raw dates, FIXTURES.md A2).
    * Unparseable values → NULL rather than failing the load. */
  def parseDmyDate(c: Column): Column =
    try_to_date(when(trim(c) === "", lit(null)).otherwise(trim(c)), "dd-MM-yyyy")

  /** 17-char compound product key → (cat_id chars 1-5 with -→_, product
    * number chars 7+) (proc_load_silver.sql:174-175). */
  def catId(prdKey: Column): Column =
    regexp_replace(substring(prdKey, 1, 5), "-", "_")
  def productNumber(prdKey: Column): Column =
    prdKey.substr(lit(7), length(prdKey))

  /** The sales-fix business rule (proc_load_silver.sql:238-240):
    * sales must equal quantity × |price|, positive and non-null; violations
    * are recomputed. Price, when missing/≤0, is derived sales/quantity. */
  def fixedSales(sales: Column, qty: Column, price: Column): Column = {
    val expected = (qty.cast(DecimalType(19, 4)) * abs(price)).cast(DecimalType(19, 4))
    when(sales.isNull || sales <= 0 || sales =!= expected, expected).otherwise(sales)
  }
  def fixedPrice(sales: Column, qty: Column, price: Column): Column =
    when(price.isNull || price <= 0,
      (sales / nullif(qty.cast(DecimalType(19, 4)), lit(0))).cast(DecimalType(19, 4)))
      .otherwise(price)

  /** T-SQL DATEDIFF(month) counts calendar-boundary crossings, not
    * fractional months (SURVEY.md §4 quirk 4) — NOT months_between. */
  def datediffMonthBoundary(a: Column, b: Column): Column =
    (year(b) * lit(12) + month(b)) - (year(a) * lit(12) + month(a))

  /** T-SQL DATEDIFF(year) boundary semantics. */
  def datediffYearBoundary(a: Column, b: Column): Column =
    year(b) - year(a)
}
