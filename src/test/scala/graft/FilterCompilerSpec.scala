package graft

import graft.model.FilterCondition
import graft.pipeline.LogsToMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Reference truth table: tests/test_filter.py (all cases, incl. the
  * type-mismatch edges at :95-120) evaluated against the filter predicate
  * of `LogsToMetrics.Mode` in typed mode, plus the schemaless-mode
  * behaviors.
  */
class FilterCompilerSpec extends SparkSpec {
  import spark.implicits._
  import FilterCompilerSpec.Msg

  private def df: DataFrame = Seq(
    Msg("ERROR", "500", "Internal server error", 150.0),
    Msg("ERROR", "400", "database connection failed", null),
    Msg("WARNING", "300", "test warning", 50.0),
    Msg(null, null, null, null)
  ).toDF

  private def matches(conds: FilterCondition*): Long =
    df.filter(LogsToMetrics.Typed(df.schema).pred(conds)).count()

  test("equals matches / rejects") {
    assert(matches(FilterCondition("severity", "ERROR", "equals")) == 2)
    assert(matches(FilterCondition("severity", "WARNING", "equals")) == 1)
    assert(matches(FilterCondition("severity", "FATAL", "equals")) == 0)
  }

  test("equals on a numeric field vs string config value is always false") {
    // python: msg == condition.value where msg value is int ⇒ False
    assert(matches(FilterCondition("response_time", "150", "equals")) == 0)
  }

  test("missing field never matches any operator") {
    for (op <- Seq("equals", "contains", "greater_than", "less_than"))
      assert(matches(FilterCondition("no_such_field", "x", op)) == 0, op)
  }

  test("contains does substring match on strings only") {
    assert(matches(FilterCondition("message", "error", "contains")) == 1)
    assert(matches(FilterCondition("message", "database", "contains")) == 1)
    assert(matches(FilterCondition("message", "zzz", "contains")) == 0)
    // numeric field ⇒ False (test_filter.py:108-112)
    assert(matches(FilterCondition("response_time", "15", "contains")) == 0)
  }

  test("greater_than / less_than are numeric-only") {
    assert(matches(FilterCondition("response_time", "100", "greater_than")) == 1)
    assert(matches(FilterCondition("response_time", "100", "less_than")) == 1)
    // string-typed field (even numeric-looking) ⇒ False (isinstance guard)
    assert(matches(FilterCondition("code", "100", "greater_than")) == 0)
    // null value ⇒ False
    assert(matches(FilterCondition("response_time", "0", "greater_than")) == 2)
  }

  test("booleans are numbers to greater_than/less_than, not strings (Python bool ⊂ int)") {
    val b = Seq(true, false).toDF("ok")
    def n(c: FilterCondition) = b.filter(LogsToMetrics.Typed(b.schema).pred(Seq(c))).count()
    assert(n(FilterCondition("ok", "0", "greater_than")) == 1) // True > 0.0
    assert(n(FilterCondition("ok", "1", "less_than")) == 1)    // False < 1.0
    assert(n(FilterCondition("ok", "true", "equals")) == 0)
    assert(n(FilterCondition("ok", "true", "contains")) == 0)
  }

  test("unparsable numeric config value ⇒ false (evaluator error ⇒ False)") {
    assert(matches(FilterCondition("response_time", "not_a_number", "greater_than")) == 0)
    assert(matches(FilterCondition("response_time", "not_a_number", "less_than")) == 0)
  }

  test("unknown operator ⇒ false") {
    assert(matches(FilterCondition("severity", "ERROR", "regex")) == 0)
  }

  test("empty condition list ⇒ match all") {
    assert(matches() == 4)
  }

  test("conjunction requires all conditions (test_filter.py:32-93)") {
    val three = Seq(
      FilterCondition("severity", "ERROR", "equals"),
      FilterCondition("message", "error", "contains"),
      FilterCondition("response_time", "100", "greater_than"))
    assert(matches(three: _*) == 1)
    // one failing leg kills the row
    assert(matches(three :+ FilterCondition("code", "400", "equals"): _*) == 0)
  }

  test("schemaless mode: stringified map semantics") {
    val m = Seq(
      Map("severity" -> "ERROR", "response_time" -> "150"),
      Map("severity" -> "INFO"),
      Map[String, String]()
    ).toDF("msg")
    def n(c: FilterCondition) =
      m.filter(LogsToMetrics.Schemaless("msg").pred(Seq(c))).count()
    assert(n(FilterCondition("severity", "ERROR", "equals")) == 1)
    assert(n(FilterCondition("missing", "x", "equals")) == 0)
    // documented divergence: numeric string DOES satisfy gt in map mode
    assert(n(FilterCondition("response_time", "100", "greater_than")) == 1)
    // non-numeric map value ⇒ try_cast null ⇒ false
    assert(n(FilterCondition("severity", "100", "greater_than")) == 0)
    assert(n(FilterCondition("severity", "ERR", "contains")) == 1)
  }
}

object FilterCompilerSpec {
  // message shape used throughout test_filter.py; top-level so Spark can
  // derive a product encoder without an outer-instance scope.
  final case class Msg(
      severity: String,
      code: String,
      message: String,
      response_time: java.lang.Double)
}
