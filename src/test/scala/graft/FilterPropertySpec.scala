package graft

import graft.model.{FilterCondition, FilterOps}
import graft.pipeline.LogsToMetrics
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property parity: the typed-mode `LogsToMetrics.Mode` filter predicate ≡ a
  * direct Scala transcription of the reference evaluator (filter.py:13-45)
  * over randomly generated messages and condition lists, and the epoch-floor
  * window law (/root/reference/beametrics/pipeline.py:67-70).
  */
class FilterPropertySpec extends SparkSpec {
  import spark.implicits._
  import FilterPropertySpec._

  /** Reference evaluator transcribed: Python semantics over an Option-al
    * string/double field world (None = missing/null).
    */
  private def refMatches(m: Msg, c: FilterCondition): Boolean =
    try {
      c.operator match {
        case FilterOps.Equals => m.str(c.field).contains(c.value) // string == string only
        case FilterOps.Contains => m.str(c.field).exists(_.contains(c.value))
        case FilterOps.GreaterThan => m.num(c.field).exists(_ > c.value.trim.toDouble)
        case FilterOps.LessThan => m.num(c.field).exists(_ < c.value.trim.toDouble)
        case _ => false
      }
    } catch { case _: Exception => false } // evaluator error ⇒ False (filter.py:43-45)

  private val fieldGen = Gen.oneOf("s1", "s2", "d1", "d2", "missing")
  private val valueGen = Gen.oneOf("a", "ab", "xyz", "10", "10.5", "-3", "not_a_number", "")
  private val opGen = Gen.oneOf("equals", "contains", "greater_than", "less_than", "regex")
  private val condGen: Gen[FilterCondition] =
    for { f <- fieldGen; v <- valueGen; o <- opGen } yield FilterCondition(f, v, o)
  private val msgGen: Gen[Msg] = for {
    s1 <- Gen.option(Gen.oneOf("a", "ab", "xyz", "10", ""))
    s2 <- Gen.option(Gen.oneOf("abc", "10.5", "zz"))
    d1 <- Gen.option(Gen.chooseNum(-100.0, 100.0))
    d2 <- Gen.option(Gen.oneOf(0.0, 10.0, 10.5, -3.0))
  } yield Msg(s1.orNull, s2.orNull, d1.map(Double.box).orNull, d2.map(Double.box).orNull)

  private val condsGen: Gen[List[FilterCondition]] =
    Gen.listOfN(3, condGen).flatMap(l => Gen.choose(0, 3).map(l.take))
  private val msgsGen: Gen[List[Msg]] = Gen.listOfN(8, msgGen)

  /** Deterministic sampling (no scalatest-scalacheck bridge in the offline
    * dependency cache): fixed seed chain, explicit iteration count.
    */
  private def samples[A](g: Gen[A], n: Int, seed0: Long): Seq[A] = {
    var seed = Seed(seed0)
    (1 to n).map { _ =>
      val a = g.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      a
    }
  }

  test("compiled filter ≡ reference evaluator over generated inputs") {
    samples(Gen.zip(condsGen, msgsGen), 40, 42L).foreach { case (conds, msgs) =>
      {
        val df = msgs.toDF
        val sparkKept = df
          .filter(LogsToMetrics.Typed(df.schema).pred(conds))
          .collect()
          .map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))
          .toList
          .sortBy(_.toString)
        val refKept = msgs
          .filter(m => conds.forall(refMatches(m, _))) // AND-all; empty ⇒ true
          .map(m => (Option(m.s1), Option(m.s2), Option(m.d1), Option(m.d2)))
          .sortBy(_.toString)
        assert(sparkKept == refKept)
      }
    }
  }

  test("schemaless mode ≡ stringified-map reference semantics over generated inputs") {
    // map-mode spec (documented divergence from typed mode, SURVEY.md §2.2):
    // all values are strings; equals/contains compare strings; gt/lt
    // try_cast the string value (numeric-LOOKING strings DO match).
    def refMap(m: Map[String, String], c: FilterCondition): Boolean =
      try {
        val v = m.get(c.field)
        c.operator match {
          case FilterOps.Equals => v.contains(c.value)
          case FilterOps.Contains => v.exists(_.contains(c.value))
          case FilterOps.GreaterThan =>
            v.flatMap(s => scala.util.Try(s.trim.toDouble).toOption)
              .exists(_ > c.value.trim.toDouble)
          case FilterOps.LessThan =>
            v.flatMap(s => scala.util.Try(s.trim.toDouble).toOption)
              .exists(_ < c.value.trim.toDouble)
          case _ => false
        }
      } catch { case _: Exception => false }

    val mapGen: Gen[Map[String, String]] = for {
      s1 <- Gen.option(Gen.oneOf("a", "ab", "10", "10.5", ""))
      d1 <- Gen.option(Gen.oneOf("150", "-3", "xyz", "0"))
    } yield Seq(s1.map("s1" -> _), d1.map("d1" -> _)).flatten.toMap

    samples(Gen.zip(condsGen, Gen.listOfN(6, mapGen)), 30, 99L).foreach { case (conds0, maps) =>
      // restrict fields to those the map generator produces
      val conds = conds0.map(c =>
        c.copy(field = if (c.field == "s2" || c.field == "d2") "missing" else c.field))
      val df = maps.zipWithIndex.map { case (m, i) => (i, m) }.toDF("i", "msg")
      val kept = df
        .filter(LogsToMetrics.Schemaless("msg").pred(conds))
        .select("i").as[Int].collect().toSet
      val refKept = maps.zipWithIndex.collect {
        case (m, i) if conds.forall(refMap(m, _)) => i
      }.toSet
      assert(kept == refKept, s"conds=$conds maps=$maps")
    }
  }

  test("epoch-floor window start law: start ≤ ts < start+size, start % size == 0") {
    import graft.model.{MetricDefinition, MetricType}
    import org.apache.spark.sql.functions._
    samples(Gen.zip(Gen.long, Gen.long), 12, 7L).foreach { case (tsRaw, sizeRaw) =>
      val ts = math.abs(tsRaw % 4102444800L) // within year ~2100
      val size = math.max(1L, math.abs(sizeRaw % 7200L))
      val df = Seq(Tuple1(new java.sql.Timestamp(ts * 1000L))).toDF("ts")
      val defs = Seq(MetricDefinition("c", MetricType.Count, windowSizeSec = size))
      val (ws, we) = LogsToMetrics(defs, LogsToMetrics.Typed(df.schema))(df)
        .select(unix_timestamp(col("window_start")), unix_timestamp(col("window_end")))
        .as[(Long, Long)]
        .head()
      assert(ws % size == 0 && ws <= ts && ts < we && we == ws + size)
      assert(ws == ts - (ts % size)) // the reference's exact floor formula
    }
  }
}

object FilterPropertySpec {
  final case class Msg(s1: String, s2: String, d1: java.lang.Double, d2: java.lang.Double) {
    def str(f: String): Option[String] = f match {
      case "s1" => Option(s1); case "s2" => Option(s2); case _ => None
    }
    def num(f: String): Option[Double] = f match {
      case "d1" => Option(d1).map(_.doubleValue)
      case "d2" => Option(d2).map(_.doubleValue)
      case _ => None
    }
  }
}
