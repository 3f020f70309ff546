package perfbench

import graft.sinks.MetricPoint

/** Expected output, accumulated by the generator in the same pass that
  * emits the input. Reference semantics, evaluated without Spark:
  * conjunctive filters; count adds 1; sum adds the field, 0 when missing
  * or unparsable; max ignores missing values; a missing dynamic label is
  * ""; windows are epoch-floor tumbling; malformed, undecodable and
  * too-late messages never reach `add`.
  *
  * `schemaless` selects the program mode being checked: every field is a
  * string (numeric comparisons parse it), or fields keep their types
  * (numeric operators never match strings, `equals` never matches numbers).
  */
final class Oracle(defs: Seq[Def], schemaless: Boolean) {
  final class Acc { var sum = 0.0; var max = Double.NegativeInfinity }

  /** Per definition: static labels left after dynamic ones shadow them,
    * and the dynamic (label, field) pairs in label order.
    */
  private final class Plan(val d: Def, val idx: Int) {
    val static: Map[String, String] = d.static.filterNot(s => d.dynamic.exists(_._1 == s._1)).toMap
    val dynamic: Array[(String, String)] = d.dynamic.sortBy(_._1).toArray
    val labelCount: Int = static.size + dynamic.length
  }
  private val plans = defs.zipWithIndex.map { case (d, i) => new Plan(d, i) }
  private val planByName = plans.map(p => p.d.name -> p).toMap

  /** (definition, dynamic label values in label order, window end ms). */
  private final case class Key(defIdx: Int, labels: Seq[String], windowEndMs: Long)
  private val accs = new java.util.HashMap[Key, Acc]()

  private def value(e: Ev, f: String): Any = if (schemaless) e.text(f) else e.typed(f)

  private def num(v: Any): Option[Double] = v match {
    case s: String if schemaless => s.toDoubleOption
    case l: Long => Some(l.toDouble)
    case d: Double => Some(d)
    case _ => None
  }

  private def matches(c: Cond, v: Any): Boolean = c.op match {
    case "equals" => v match { case s: String => s == c.value; case _ => false }
    case "contains" => v match { case s: String => s.contains(c.value); case _ => false }
    case "greater_than" => num(v).exists(_ > c.value.toDouble)
    case "less_than" => num(v).exists(_ < c.value.toDouble)
  }

  def add(e: Ev): Unit = plans.foreach { p =>
    val d = p.d
    if (d.conds.forall(c => matches(c, value(e, c.field)))) {
      val labels = p.dynamic.toSeq.map { case (_, f) =>
        value(e, f) match { case null => ""; case v => v.toString }
      }
      val wMs = d.window * 1000
      val wEnd = e.tsMs - Math.floorMod(e.tsMs, wMs) + wMs
      val acc = accs.computeIfAbsent(Key(p.idx, labels, wEnd), _ => new Acc)
      d.kind match {
        case "count" => acc.sum += 1
        case "sum" => acc.sum += (value(e, d.field) match {
          case s: String => s.toDoubleOption.getOrElse(0.0)
          case v => num(v).getOrElse(0.0)
        })
        case "max" => num(value(e, d.field)).foreach(x => acc.max = math.max(acc.max, x))
      }
    }
  }

  def points: Int = accs.size

  /** Points that differ from the expectation: wrong or missing values,
    * wrong labels, unexpected or duplicated keys. Sums may differ by 1e-9
    * relative (summation order); counts and maxima must be exact.
    */
  def mismatches(got: Iterable[MetricPoint], namePrefix: String = ""): Long = {
    val seen = new java.util.HashSet[Key]()
    var bad = 0L
    got.foreach { pt =>
      val plan = planByName.get(pt.metricName.stripPrefix(namePrefix))
      val ok = plan.exists { p =>
        val key = Key(p.idx, p.dynamic.toSeq.map(l => pt.labels.getOrElse(l._1, null)), pt.timestamp.getTime)
        val acc = accs.get(key)
        acc != null && seen.add(key) && pt.labels.size == p.labelCount &&
          p.static.forall { case (k, v) => pt.labels.get(k).contains(v) } &&
          (p.d.kind match {
            case "count" => pt.value == acc.sum
            case "max" => pt.value == acc.max
            case _ => math.abs(pt.value - acc.sum) <= 1e-9 * math.max(1.0, math.abs(acc.sum))
          })
      }
      if (!ok) {
        if (bad < 5) Main.log(s"oracle mismatch: $pt")
        bad += 1
      }
    }
    bad + (accs.size - seen.size)
  }
}
