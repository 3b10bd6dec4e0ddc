package graft.operators

import graft.meta.ValidationRule
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Field-level validation engine
 * (reference: src/validator.py:20-115 `_build_check_condition`,
 * 118-173 `apply_validations`).
 *
 * Checks are the reference's string mini-language: `notNull`,
 * `notEmpty`, `isNumeric`, `isInteger`, `min:N`, `max:N`,
 * `range:A-B`, `isDate`, `dateBefore:field`, `dateAfter:field`,
 * `pattern:regex`. Error labels match the reference's
 * `field:reason` format.
 *
 * Spark-first design: the reference materializes one extra column per
 * check plus an `is_valid` AND-tree (src/validator.py:140-160 — a
 * projection that grows linearly with rule count). graft compiles ALL
 * checks into a single `array(...)` of conditional labels filtered
 * for non-null — one codegen'd projection whatever the rule count,
 * and validity is derived as `size(errors) = 0`. At 100 TB the OK/KO
 * split is two pushed filters over one cached/columnar source, or a
 * truly single pass via [[tagged]] + sink `partitionBy("is_valid")`.
 *
 * All casts are `try_`-variants so the engine is safe under ANSI mode
 * (Spark 4 default): malformed input yields a validation failure, not
 * a runtime exception.
 */
object Validate {

  val ErrorsCol = "validation_errors"
  val ValidCol = "is_valid"

  /** Compile one check into (pass-condition, error-label). */
  def checkCondition(field: String, check: String): (Column, String) = {
    val c = col(field)
    def num = c.try_cast("double")
    def asDate(x: Column) = try_to_date(x.try_cast("string"), "yyyy-MM-dd")

    check match {
      case "notEmpty" =>
        (c.isNotNull && c.try_cast("string") =!= "", s"$field:must_be_non_empty")
      case "notNull" =>
        (c.isNotNull, s"$field:must_not_be_null")
      case "isNumeric" =>
        (c.isNotNull && num.isNotNull, s"$field:must_be_numeric")
      case "isInteger" =>
        (c.isNotNull && num.isNotNull && num === num.try_cast("int"),
          s"$field:must_be_integer")
      case m if m.startsWith("min:") =>
        val v = m.stripPrefix("min:").toDouble
        (c.isNull || (num.isNotNull && num >= v), s"$field:must_be_at_least_$v")
      case m if m.startsWith("max:") =>
        val v = m.stripPrefix("max:").toDouble
        (c.isNull || (num.isNotNull && num <= v), s"$field:must_be_at_most_$v")
      case m if m.startsWith("range:") =>
        val Array(lo, hi) = m.stripPrefix("range:").split('-').map(_.toDouble)
        (c.isNull || (num.isNotNull && num >= lo && num <= hi),
          s"$field:must_be_between_${lo}_and_$hi")
      case "isDate" =>
        (c.isNull || asDate(c).isNotNull, s"$field:must_be_valid_date")
      case m if m.startsWith("dateBefore:") =>
        val other = m.stripPrefix("dateBefore:")
        val (d, od) = (asDate(c), asDate(col(other)))
        (c.isNull || col(other).isNull || (d.isNotNull && od.isNotNull && d <= od),
          s"$field:must_be_before_$other")
      case m if m.startsWith("dateAfter:") =>
        val other = m.stripPrefix("dateAfter:")
        val (d, od) = (asDate(c), asDate(col(other)))
        (c.isNull || col(other).isNull || (d.isNotNull && od.isNotNull && d >= od),
          s"$field:must_be_after_$other")
      case m if m.startsWith("pattern:") =>
        val pattern = m.stripPrefix("pattern:")
        (c.isNull || c.rlike(pattern), s"$field:must_match_pattern")
      case other =>
        (lit(true), s"$field:unknown_validation_$other")
    }
  }

  /** Every check of a rule set, compiled, in declared order. */
  private def checks(rules: Seq[ValidationRule]): Seq[(Column, String)] =
    for (rule <- rules; check <- rule.checks) yield checkCondition(rule.field, check)

  /** The error labels a rule set can emit, each once, in declared order. */
  private[graft] def labels(rules: Seq[ValidationRule]): Seq[String] = checks(rules).map(_._2).distinct

  /** The error-array column for a rule set: failed labels only. */
  def errorsColumn(rules: Seq[ValidationRule]): Column = {
    val entries = checks(rules).map { case (cond, label) =>
      when(!coalesce(cond, lit(false)), lit(label))
    }
    if (entries.isEmpty) array().cast("array<string>")
    else filter(array(entries: _*), _.isNotNull)
  }

  /** One projection: input + validation_errors + is_valid. */
  def tagged(df: DataFrame, rules: Seq[ValidationRule]): DataFrame =
    df.withColumn(ErrorsCol, errorsColumn(rules))
      .withColumn(ValidCol, size(col(ErrorsCol)) === 0)

  /**
   * (ok, ko): ok has the input schema; ko adds `validation_errors`.
   * Matches the reference's contract (src/validator.py:165-170).
   */
  def split(df: DataFrame, rules: Seq[ValidationRule]): (DataFrame, DataFrame) = {
    if (rules.isEmpty || rules.forall(_.checks.isEmpty)) return (df, df.limit(0))
    val t = tagged(df, rules)
    val ok = t.filter(col(ValidCol)).drop(ValidCol, ErrorsCol)
    val ko = t.filter(!col(ValidCol)).drop(ValidCol)
    (ok, ko)
  }
}
