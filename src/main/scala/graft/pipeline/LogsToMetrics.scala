package graft.pipeline

import graft.model.{FilterCondition, FilterOps, MetricDefinition, MetricType}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The core transform: N metric definitions over one record stream →
  * one aggregated point per (metric, label-set, window).
  *
  * Re-expresses /root/reference/beametrics/pipeline.py:164-208 (fan-out →
  * window assign → CombinePerKey(sum)) Spark-first:
  *
  *  - **Single scan, single shuffle.** Instead of the reference's
  *    per-element Python loop over configs (pipeline.py:168-178) or a
  *    unionByName of N filtered branches (which re-scans the source N
  *    times), each row explodes the ids of the definitions it matches: one
  *    `array<int>` of `CASE WHEN pred_i THEN i END`, nulls dropped, where
  *    `pred_i` tests definition i's bits in a word holding every distinct
  *    filter condition's result for the row. The aggregation groups by
  *    (window end, definition family id, dynamic label values); one
  *    hash-partial aggregation runs before the only exchange — Beam's
  *    combiner lifting ≡ Spark partial+final HashAggregate.
  *  - Everything a definition fixes at plan time (window size, kind,
  *    metric name, label keys, static labels) is read from literal arrays
  *    indexed by id, so the name and static labels are attached after the
  *    aggregation and never cross the shuffle or sit in streaming state.
  *    Per-row work is one CASE over the DISTINCT dynamic label field lists
  *    and value expressions, not over the N definitions.
  *  - Why ids and not per-definition structs: an `explode(filter(array(N
  *    structs), _ IS NOT NULL))` fan-out puts `ArrayFilter`, a
  *    `CodegenFallback` higher-order function, under the `Generate`; the
  *    generator then leaves whole-stage codegen and the interpreted
  *    `ExplodeBase.eval` re-derives `CreateArray.dataType` (type coercion
  *    over all N struct types) on every row — over half of all CPU time on
  *    64 definitions. Keep lambdas out of this plan.
  *  - A disjunction of all config predicates is applied *before* the
  *    explode so non-matching rows never reach the generator; Catalyst
  *    pushes it into the parquet scan. (Not on the streaming path: see
  *    [[graft.streaming.StreamingMetrics]].)
  *  - Window assignment is the reference's epoch-floor math
  *    (pipeline.py:67-70): `start = ts - (ts mod size)`, here in integer
  *    microseconds, supporting a different window size per config in the
  *    same single pass (Spark's `window()` needs a static size; this
  *    formulation doesn't). A sliding window is the same math with a slide
  *    shorter than the size: each row gets every window end whose start is
  *    a multiple of the slide and whose window holds it, as
  *    `window(ts, size, slide)` assigns, still one pass for every size.
  *  - Labels are canonicalized at *plan time*: keys are sorted once per
  *    definition family (the reference sorts label tuples at runtime per
  *    element, pipeline.py:172) and the output map is built in key order.
  *
  * Value semantics (pipeline.py:200-208): COUNT ⇒ 1.0 per row; SUM ⇒
  * `float(msg.get(field, 0))`, missing field ⇒ 0. Divergence (documented,
  * SURVEY.md §2.2): an unparsable string under SUM yields 0 instead of
  * crashing the job — `try_cast` + `coalesce`.
  *
  * Output schema:
  * `metric string, window_start timestamp, window_end timestamp,
  *  labels map<string,string>, value double`.
  */
object LogsToMetrics {

  /** Where a message field lives: typed columns or a schemaless string
    * map. Each mode defines only [[field]]; the filter, the value and the
    * labels all read through it, as the reference reads every field with
    * `msg.get(field)` (filter.py:13-45, pipeline.py:188-208).
    */
  sealed trait Mode {

    /** The field's column (null when missing) and its [[Mode.Kind]]. */
    protected def field(name: String): (Column, Mode.Kind)

    /** A conjunctive condition list as one Catalyst predicate — no UDFs,
      * fully codegen-able, and pushdown-friendly (a predicate over parquet
      * columns lands in `PushedFilters`).
      *
      * Semantics are locked to the reference evaluator (filter.py:13-45,
      * verified against tests/test_filter.py:95-120):
      *
      *  - conjunction of all conditions; empty list ⇒ always true
      *  - `equals`: string-typed runtime value compared to the config string;
      *    a non-string runtime value never equals a config string ⇒ false
      *  - `contains`: substring test, only defined on string values; else false
      *  - `greater_than`/`less_than`: numeric runtime values only (numeric
      *    *strings* do NOT match — Python `isinstance` guard; a boolean is a
      *    number, as Python's `bool` subclasses `int`); config value parsed
      *    as double ([[FilterCondition.number]]), unparsable config ⇒ false
      *  - unknown operator ⇒ false; missing field / null ⇒ false
      *
      * Typed fields resolve every type guard at plan time (to `lit(false)`
      * when the reference would always return False). A schemaless field is
      * [[Mode.Loose]]: JSON numbers were stringified by the parse, so
      * numeric comparisons `try_cast` the string; documented divergence from
      * the reference: a JSON number compares `equals` via its canonical
      * string rendering, and numeric-looking strings DO satisfy
      * greater_than/less_than (the runtime type distinction is lost).
      */
    def pred(conds: Seq[FilterCondition]): Column =
      conds.map { c =>
        val (f, kind) = field(c.field)
        (c.operator, kind) match {
          case (FilterOps.Equals, Mode.Str | Mode.Loose)   => f === lit(c.value)
          case (FilterOps.Contains, Mode.Str | Mode.Loose) => f.contains(c.value)
          case (FilterOps.GreaterThan, Mode.Num | Mode.Loose) =>
            c.number.fold(lit(false))(numValue(c.field) > _)
          case (FilterOps.LessThan, Mode.Num | Mode.Loose) =>
            c.number.fold(lit(false))(numValue(c.field) < _)
          case _ => lit(false) // wrong type, missing field or unknown operator (filter.py:42)
        }
      }.reduceOption(_ && _).getOrElse(lit(true))

    /** Nullable numeric read (no missing⇒0 coalesce) — min/max/avg exclude
      * missing/unparsable values instead of counting them as 0.
      */
    def numValue(name: String): Column = field(name) match {
      case (f, Mode.Num) => f.cast(DoubleType)
      case (f, _)        => f.try_cast(DoubleType)
    }

    /** `float(msg.get(field, 0))`; unparsable ⇒ 0 instead of failing the job. */
    def sumValue(name: String): Column = coalesce(numValue(name), lit(0.0))

    /** `str(msg.get(field, ""))`. */
    def labelValue(name: String): Column = coalesce(field(name)._1.cast(StringType), lit(""))
  }

  object Mode {
    /** Missing, string, numeric (incl. boolean), any other typed column, or
      * a schemaless map string: possibly absent, possibly a number.
      */
    sealed trait Kind
    case object Missing extends Kind
    case object Str extends Kind
    case object Num extends Kind
    case object Other extends Kind
    case object Loose extends Kind
  }

  /** Records have a declared schema; field types known at plan time. */
  final case class Typed(schema: StructType) extends Mode {
    protected def field(name: String): (Column, Mode.Kind) =
      schema.fields.find(_.name == name).map(_.dataType) match {
        case None                               => (lit(null), Mode.Missing)
        case Some(StringType)                   => (col(name), Mode.Str)
        case Some(_: NumericType | BooleanType) => (col(name), Mode.Num)
        case Some(_)                            => (col(name), Mode.Other)
      }
  }

  /** Records are a `MapType(String,String)` column parsed from JSON. */
  final case class Schemaless(msgCol: String) extends Mode {
    // try_element_at, not element_at: ANSI mode (Spark 4 default) makes
    // element_at throw on a missing map key; reference semantics are
    // msg.get(field) ⇒ None.
    protected def field(name: String): (Column, Mode.Kind) =
      (try_element_at(col(msgCol), lit(name)), Mode.Loose)
  }

  /** `df` with a TIMESTAMP_NTZ event-time column cast to TIMESTAMP.
    * DuckDB/pandas-written parquet carries NTZ; under the engine's fixed
    * UTC session timezone the cast is the identity instant, and both
    * `unix_micros` and `withWatermark` require the LTZ type.
    */
  def ltzEventTime(df: DataFrame, tsCol: String): DataFrame =
    if (df.schema.fields.exists(f => f.name == tsCol && f.dataType == TimestampNTZType))
      df.withColumn(tsCol, col(tsCol).cast(TimestampType))
    else df

  /** The fan-out and aggregation shared by the batch transform and
    * StreamingMetrics, so their semantics (null-pred handling, label
    * canonicalization, value projection, merging, windowing) live in
    * exactly one place.
    *
    * Tumbling and sliding windows are computed here, in each definition's
    * own size: a row gets every window end `e` with `e - size <= ts < e`
    * and `e - size` an epoch multiple of the slide (one end when the slide
    * is the size). The grouping key is the window end `_wend`, which
    * carries the event-time column's metadata — on a watermarked stream,
    * the watermark delay, so Spark evicts a window and drops late rows
    * when `_wend <= watermark`, the rule `window()` applies to
    * `window.end`. `slideSec` is the slide of every window (each
    * definition's own size when `None`: tumbling), and no definition's
    * window may be shorter than it.
    *
    * Definitions with equal (name, kind, sorted label keys, window size)
    * form one *family*: their points merge, as they would under the
    * reference's (metric, labels, window) key. A label key that every
    * member fixes to the same static value is a family constant, attached
    * after the aggregation; every other key (dynamic, or static with
    * different values across members) is a per-row value `_l0`, `_l1`, …
    * in key order.
    */
  private[graft] final class FanOut(
      defs: Seq[MetricDefinition],
      mode: Mode,
      slideSec: Option[Long] = None) {
    require(defs.nonEmpty, "at least one metric definition")

    /** The slide in micros when some window is longer than it; `None` when
      * every window tumbles.
      */
    private val slideMicros: Option[Long] = slideSec.filter { slide =>
      require(slide > 0, "slide must be positive")
      defs.foreach(d => require(slide <= d.effectiveWindowSizeSec,
        s"slide of $slide s is longer than the ${d.effectiveWindowSizeSec} s window of definition ${d.name}"))
      defs.exists(_.effectiveWindowSizeSec != slide)
    }.map(_ * 1000000L)

    /** Sorted label entries per definition: Left(static value) or
      * Right(message field); dynamic wins on a key conflict (pipeline.py:198).
      */
    private val labelSpecs: Seq[Seq[(String, Either[String, String])]] = defs.map { d =>
      (d.effectiveStaticLabels.toSeq.map { case (k, v) => k -> Left(v) } ++
        d.dynamicLabels.toSeq.map { case (k, f) => k -> Right(f) }).sortBy(_._1)
    }
    private val familyKeys = defs.zip(labelSpecs).map { case (d, ls) =>
      (d.name, aggKind(d.metricType), ls.map(_._1), d.effectiveWindowSizeSec)
    }
    private val families = familyKeys.distinct
    private val familyOf: Seq[Int] = familyKeys.map(families.zipWithIndex.toMap)
    private val representative: Seq[Int] = families.indices.map(familyOf.indexOf)

    /** Per family, per sorted key: Some(value) when every member fixes the
      * key to that one static value.
      */
    private val constants: Seq[Seq[Option[String]]] = families.indices.map { f =>
      val specs = defs.indices.filter(familyOf(_) == f).map(labelSpecs)
      specs.head.indices.map { p =>
        specs.map(_(p)._2).distinct match {
          case Seq(Left(v)) => Some(v)
          case _            => None
        }
      }
    }

    /** Per family, a 64-bit id of everything its aggregated rows mean: name,
      * kind, window size, and each label key with its constant or a
      * per-row marker. The shuffle and the streaming state are keyed by
      * it, so a query restarted from its checkpoint with an edited config
      * finds each in-flight window's family by content, not by position.
      */
    private val familyIds: Seq[Long] = families.indices.map { f =>
      val (name, kind, keys, size) = families(f)
      contentId(Seq(name, kind.toString, size.toString) ++
        keys.zip(constants(f)).flatMap { case (k, c) => Seq(k, c.fold("dynamic")("static:" + _)) })
    }
    require(familyIds.distinct.size == familyIds.size,
      s"family id collision among ${families.map(_._1).mkString(", ")}")

    /** Per definition: the expressions of its family's per-row label keys. */
    private val rowLabels: Seq[Seq[Column]] = defs.indices.map { i =>
      labelSpecs(i).zip(constants(familyOf(i))).collect { case ((_, src), None) =>
        src.fold(v => lit(v), mode.labelValue)
      }
    }
    private val labelLists = rowLabels.distinct
    private val labelWidth = labelLists.map(_.size).max
    private val values = defs.map(valueCol(_, mode))
    private val distinctValues = values.distinct

    /** One point per (window, family, per-row label values) of `df`, in the
      * output schema. Aggregated rows of a family this fan-out does not
      * define (streaming state restored under an edited config) are dropped.
      */
    def points(df: DataFrame, tsCol: String): DataFrame =
      rows(df, tsCol)
        .groupBy(col("_wend") +: col("_f") +: (0 until labelWidth).map(j => col(s"_l$j")): _*)
        .agg(aggregates.head, aggregates.tail: _*)
        .withColumn("_f", array_position(lit(familyIds.toArray), col("_f")).cast(IntegerType) - 1)
        // Known families only. The test reads an aggregate so that Catalyst
        // keeps it above the aggregation: a test of `_f` alone is pushed
        // below it, where it sees new rows but never restored state.
        .filter(when(col("_f") >= 0, col("_cnt") >= 0))
        .select(
          metric.as("metric"),
          timestamp_micros(unix_micros(col("_wend")) - windowMicros).as("window_start"),
          col("_wend").as("window_end", Metadata.empty), // the watermark stays on the key
          labels.as("labels"),
          value.as("value"))

    /** Keep rows matching ANY definition; pushdown-friendly. */
    def anyMatch: Column = disjunction(defs.map(_.filters).distinct)

    /** OR of conjunctions, factored by shared leading conditions: the gate
      * is compiled into the same generated method as the condition bits,
      * and unfactored it alone nears HotSpot's JIT limit at 64 definitions.
      */
    private def disjunction(conjs: Seq[Seq[FilterCondition]]): Column =
      if (conjs.exists(_.isEmpty)) lit(true)
      else conjs.map(_.head).distinct.map { c =>
        val rest = conjs.filter(_.head == c).map(_.tail)
        if (rest.exists(_.isEmpty)) mode.pred(Seq(c)) else mode.pred(Seq(c)) && disjunction(rest)
      }.reduce(_ || _)

    /** One row per (input row, matching definition, window end): `_wend`,
      * `_f` (the family id), the per-row label values and `value`.
      */
    private def rows(df: DataFrame, tsCol: String): DataFrame = {
      // Each distinct condition is evaluated once per row, into one bit of
      // a 63-bit word `_m<w>`; a definition matches when all its bits are
      // set. The generated code per definition is then a mask test, not
      // its predicates: with predicates inline, 64 definitions compile to
      // a method over HotSpot's 8000-byte JIT limit, run interpreted.
      val conds = defs.flatMap(_.filters).distinct
      val bit = conds.zipWithIndex.map { case (c, j) => c -> (j / 63, 1L << (j % 63)) }.toMap
      val words = conds.grouped(63).zipWithIndex.map { case (cs, w) =>
        cs.map(c => when(mode.pred(Seq(c)), bit(c)._2).otherwise(0L)).reduce(_ bitwiseOR _).as(s"_m$w")
      }.toSeq
      val ids = defs.indices.map { i =>
        val masks = defs(i).filters.map(bit).groupMapReduce(_._1)(_._2)(_ | _)
        val hit = masks.map { case (w, m) => (col(s"_m$w") bitwiseAND m) === m }.reduceOption(_ && _)
        hit.fold(lit(i))(when(_, lit(i)))
      }
      val d = col("_d")
      val listOf = at(rowLabels.map(labelLists.indexOf), d)
      val value = pick(at(values.map(distinctValues.indexOf), d), distinctValues.map(Some(_)))
      // a row without an event time has no window and makes no point; on
      // a stream this filter reads the event time, so Spark keeps it above
      // the watermark
      val in = ltzEventTime(df, tsCol).filter(col(tsCol).isNotNull)
      val meta = in.schema(tsCol).metadata
      val micros = unix_micros(col(tsCol))
      val size = at(familyOf.map(windowMicrosOf), d)
      val perRow = Seq(at(familyOf.map(familyIds), d).as("_f"), value.as("value")) ++
        (0 until labelWidth).map(j => pick(listOf, labelLists.map(_.lift(j))).as(s"_l$j"))
      val matched = in.select(col("*") +: words: _*)
        .select(col("*"), explode(array(ids: _*)).as("_d"))
        .filter(d.isNotNull)
      slideMicros match {
        case None =>
          // end of the epoch-floor tumbling window in integer micros;
          // per-definition size
          matched.select(timestamp_micros(micros - pmod(micros, size) + size).as("_wend", meta) +: perRow: _*)
        case Some(slide) =>
          // the ends from the first window holding ts to the last, one
          // slide apart: one generator, whatever size / slide is. The
          // sequence is never empty; `explode_outer`, because for `explode`
          // Catalyst infers a `size(sequence) > 0` filter that builds each
          // sequence twice.
          val first = micros - pmod(micros - size, lit(slide)) + slide
          val last = micros - pmod(micros, lit(slide)) + size
          val ends = matched.select(sequence(first, last, lit(slide)).as("_ends") +: perRow: _*)
            .select(col("*"), explode_outer(col("_ends")).as("_e"))
          ends.select(timestamp_micros(col("_e")).as("_wend", meta) +:
            ends.columns.toSeq.filterNot(Set("_ends", "_e")).map(col): _*)
      }
    }

    /** Plan-time facts of the family at position `_f`, read after the
      * aggregation.
      */
    private def metric: Column = at(representative.map(defs(_).name), col("_f"))
    private def windowMicros: Column = at(families.indices.map(windowMicrosOf), col("_f"))
    private def windowMicrosOf(f: Int): Long = defs(representative(f)).effectiveWindowSizeSec * 1000000L
    private def value: Column = {
      val kind = at(representative.map(i => aggKind(defs(i).metricType)), col("_f"))
      when(kind === 0, col("_sum"))
        .when(kind === 1, col("_min"))
        .when(kind === 2, col("_max"))
        .otherwise(col("_sum") / col("_cnt")) // kind 3 = avg
    }

    /** The family's label map in key order: constants from a literal array,
      * per-row keys from `_l0`, `_l1`, …; one map shape per distinct layout.
      */
    private def labels: Column = {
      val layouts: Seq[Seq[(String, Either[Int, Int])]] = families.indices.map { f =>
        val keys = labelSpecs(representative(f)).map(_._1)
        val isConst = constants(f).map(_.isDefined)
        val slot = isConst.indices.map(p => isConst.take(p).count(_ == isConst(p)))
        keys.indices.map(p => keys(p) -> (if (isConst(p)) Left(slot(p)) else Right(slot(p))))
      }
      val shapes = layouts.distinct
      val consts = at(constants.map(_.flatten.toArray), col("_f"))
      val maps = shapes.map { shape =>
        if (shape.isEmpty) map().cast("map<string,string>")
        else map(shape.flatMap { case (k, slot) =>
          Seq(lit(k), slot.fold(c => consts.getItem(c), j => col(s"_l$j")))
        }: _*)
      }
      pick(at(layouts.map(shapes.indexOf), col("_f")), maps.map(Some(_)))
    }
  }

  /** `values(idx)` as a codegen'd element read of a literal array. */
  private def at[T: scala.reflect.ClassTag](values: Seq[T], idx: Column): Column =
    lit(values.toArray).getItem(idx)

  /** `choices(key)`: the expression itself when there is one choice, else a
    * CASE over the defined choices (null where none is defined).
    */
  private def pick(key: Column, choices: Seq[Option[Column]]): Column = choices match {
    case Seq(Some(only)) => only
    case _ =>
      val branches = choices.zipWithIndex.collect { case (Some(c), k) => (k, c) }
      branches.tail.foldLeft(when(key === branches.head._1, branches.head._2)) {
        case (acc, (k, c)) => acc.when(key === k, c)
      }
  }

  /** A stable 64-bit digest of `parts` (length-prefixed, so unambiguous). */
  private def contentId(parts: Seq[String]): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      val b = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    java.nio.ByteBuffer.wrap(md.digest()).getLong
  }

  def apply(defs: Seq[MetricDefinition], mode: Mode, tsCol: String = "ts")(
      df: DataFrame): DataFrame = {
    val fo = new FanOut(defs, mode)
    fo.points(df.filter(fo.anyMatch), tsCol)
  }

  /** 0 = sum-like (count is sum of 1s), 1 = min, 2 = max, 3 = avg. The
    * number is part of each family's id, so it must not change.
    */
  private def aggKind(t: MetricType): Int = t match {
    case MetricType.Count | MetricType.Sum(_) => 0
    case MetricType.Min(_)                    => 1
    case MetricType.Max(_)                    => 2
    case MetricType.Avg(_)                    => 3
  }

  /** The aggregation buffer of every kind: all algebraic, so the plan is
    * one codegen HashAggregate and the streaming state value is the same
    * four columns for every config.
    */
  private val aggregates: Seq[Column] = Seq(
    sum(col("value")).as("_sum"),
    min(col("value")).as("_min"),
    max(col("value")).as("_max"),
    count(col("value")).as("_cnt"))

  private def valueCol(d: MetricDefinition, mode: Mode): Column = d.metricType match {
    case MetricType.Count => lit(1.0)
    case MetricType.Sum(field) => mode.sumValue(field)
    case MetricType.Min(field) => mode.numValue(field)
    case MetricType.Max(field) => mode.numValue(field)
    case MetricType.Avg(field) => mode.numValue(field)
  }
}
