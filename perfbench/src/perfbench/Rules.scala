package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.util.SplittableRandom

import graft.plug.{PlugAction, PlugDetail, PlugRule}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** A small expression language over flat lineitem columns. Every node
  * renders to Spark SQL text (what the engine receives) and evaluates
  * row-at-a-time (what the reference interpreter uses), so the two sides
  * cannot drift apart in the generator. Evaluation follows Spark SQL:
  * NULL propagates through arithmetic and comparisons, AND/OR are
  * three-valued, and only TRUE makes a rule fire. */
sealed trait Ex {
  def sql: String
  def eval(row: String => Any): Any
}

object Ex {
  case class Col(name: String) extends Ex {
    def sql: String = name
    def eval(row: String => Any): Any = row(name)
  }
  case class IntLit(v: Int) extends Ex {
    def sql: String = v.toString
    def eval(row: String => Any): Any = v
  }
  /** Rendered with the `D` suffix so Spark types it DOUBLE, never DECIMAL. */
  case class DblLit(v: Double) extends Ex {
    def sql: String = JBigDecimal.valueOf(v).toPlainString + "D"
    def eval(row: String => Any): Any = v
  }
  case class StrLit(v: String) extends Ex {
    def sql: String = s"'$v'"
    def eval(row: String => Any): Any = v
  }

  private def num(a: Any, b: Any)(i: (Int, Int) => Any, l: (Long, Long) => Any,
      d: (Double, Double) => Any): Any = (a, b) match {
    case (null, _) | (_, null) => null
    case (x: Int, y: Int) => i(x, y)
    case (x: Double, y) => d(x, toD(y))
    case (x, y: Double) => d(toD(x), y)
    case (x, y) => l(toL(x), toL(y))
  }
  private def toD(v: Any): Double = v match {
    case i: Int => i.toDouble; case l: Long => l.toDouble; case d: Double => d
  }
  private def toL(v: Any): Long = v match { case i: Int => i.toLong; case l: Long => l }

  case class Cmp(op: String, a: Ex, b: Ex) extends Ex {
    def sql: String = s"${a.sql} $op ${b.sql}"
    def eval(row: String => Any): Any = {
      val (x, y) = (a.eval(row), b.eval(row))
      if (x == null || y == null) null
      else {
        val c = (x, y) match {
          case (s: String, t: String) => s.compareTo(t)
          case _ => num(x, y)((p, q) => p.compare(q), (p, q) => p.compare(q),
            (p, q) => p.compare(q)).asInstanceOf[Int]
        }
        op match {
          case "=" => c == 0; case "<>" => c != 0; case "<" => c < 0
          case "<=" => c <= 0; case ">" => c > 0; case ">=" => c >= 0
        }
      }
    }
  }
  case class And(a: Ex, b: Ex) extends Ex {
    def sql: String = s"(${a.sql}) AND (${b.sql})"
    def eval(row: String => Any): Any = (a.eval(row), b.eval(row)) match {
      case (false, _) | (_, false) => false
      case (true, true) => true
      case _ => null
    }
  }
  case class Or(a: Ex, b: Ex) extends Ex {
    def sql: String = s"(${a.sql}) OR (${b.sql})"
    def eval(row: String => Any): Any = (a.eval(row), b.eval(row)) match {
      case (true, _) | (_, true) => true
      case (false, false) => false
      case _ => null
    }
  }
  case class In(a: Ex, vs: Seq[String]) extends Ex {
    def sql: String = vs.map(v => s"'$v'").mkString(s"${a.sql} IN (", ", ", ")")
    def eval(row: String => Any): Any = a.eval(row) match {
      case null => null
      case v => vs.contains(v)
    }
  }
  case class Between(a: Ex, lo: Ex, hi: Ex) extends Ex {
    def sql: String = s"${a.sql} BETWEEN ${lo.sql} AND ${hi.sql}"
    def eval(row: String => Any): Any = And(Cmp(">=", a, lo), Cmp("<=", a, hi)).eval(row)
  }
  case class Arith(op: String, a: Ex, b: Ex) extends Ex {
    def sql: String = s"(${a.sql} $op ${b.sql})"
    def eval(row: String => Any): Any = {
      val (x, y) = (a.eval(row), b.eval(row))
      // exact int/long arithmetic: ANSI mode makes Spark fail on overflow too
      op match {
        case "+" => num(x, y)((p, q) => Math.addExact(p, q), (p, q) => Math.addExact(p, q), _ + _)
        case "-" => num(x, y)((p, q) => Math.subtractExact(p, q), (p, q) => Math.subtractExact(p, q), _ - _)
        case "*" => num(x, y)((p, q) => Math.multiplyExact(p, q), (p, q) => Math.multiplyExact(p, q), _ * _)
      }
    }
  }
  /** Spark's `round` on a DOUBLE: HALF_UP on the shortest decimal form. */
  case class Round(a: Ex, scale: Int) extends Ex {
    def sql: String = s"round(${a.sql}, $scale)"
    def eval(row: String => Any): Any = a.eval(row) match {
      case null => null
      case d: Double => JBigDecimal.valueOf(d).setScale(scale, RoundingMode.HALF_UP).doubleValue
    }
  }
  /** `substr(concat(a, b), 1, n)`: NULL if either side is NULL. */
  case class ConcatPrefix(a: Ex, b: Ex, n: Int) extends Ex {
    def sql: String = s"substr(concat(${a.sql}, ${b.sql}), 1, $n)"
    def eval(row: String => Any): Any = (a.eval(row), b.eval(row)) match {
      case (x: String, y: String) => (x + y).take(n)
      case _ => null
    }
  }
}

/** One generated rule: the engine gets `rule`; the interpreter uses the
  * typed condition and, per action, the typed value (for a literal action,
  * the literal the engine coerces `PlugAction.value` to). */
case class GenRule(rule: PlugRule, cond: Ex, actions: Seq[(PlugAction, Ex)])

object RuleGen {
  import Ex._

  private val numeric = Seq(
    ("l_quantity", 1.0, 50.0), ("l_extendedprice", 1000.0, 100000.0),
    ("l_discount", 0.0, 0.1), ("l_tax", 0.0, 0.08))

  /** Backtick-SQL actions per target column; each keeps the column's type
    * and stays bounded over a 1000-rule chain. */
  private def sqlAction(r: SplittableRandom, key: String): Ex = key match {
    case "l_linenumber" => Arith("+", Col("l_linenumber"), IntLit(1 + r.nextInt(3)))
    case "l_quantity" => Round(Arith("*", Col("l_quantity"), DblLit(1.1)), 1)
    case "l_extendedprice" =>
      Round(Arith("*", Col("l_extendedprice"), Arith("-", DblLit(1.0), Col("l_discount"))), 2)
    case "l_discount" => Round(Arith("*", Col("l_discount"), DblLit(0.5)), 3)
    case "l_tax" => Round(Arith("+", Col("l_tax"), DblLit(0.01)), 2)
    case "l_returnflag" => ConcatPrefix(Col("l_linestatus"), Col("l_returnflag"), 2)
    case "l_linestatus" => ConcatPrefix(Col("l_returnflag"), Col("l_linestatus"), 1)
  }

  private val targets = Seq("l_linenumber", "l_quantity", "l_returnflag", "l_discount",
    "l_linestatus", "l_tax", "l_extendedprice", "l_returnflag")

  /** `n` rules from `seed`. The shape of rule `i` follows its position:
    * conditions cycle through a numeric comparison, a string comparison,
    * a conjunction, a condition on a value an earlier rule wrote, and a
    * range; targets cycle through the columns; every fifth action is
    * backtick SQL and every third rule sets two columns. The seed picks
    * among alternatives of equal selectivity (column, operator, flag
    * value) and jitters constants, so every seed gives the same mix at a
    * similar cost. Thresholds sit near the middle of a column's range, so
    * a comparison matches about half of the rows. */
  def generate(seed: Long, n: Int): List[GenRule] = {
    val r = new SplittableRandom(seed * 7919 + n)
    var written = Vector.empty[(String, String)] // string literals earlier rules wrote
    var actionNo = 0
    def numAtom(i: Int): Ex = {
      val (c, lo, hi) = numeric(r.nextInt(numeric.size))
      val t = lo + (0.45 + 0.1 * r.nextDouble()) * (hi - lo)
      val ops = if (i % 2 == 0) Seq(">", ">=") else Seq("<", "<=")
      Cmp(ops(r.nextInt(2)), Col(c), DblLit(JBigDecimal.valueOf(t).setScale(3, RoundingMode.HALF_UP).doubleValue))
    }
    def strAtom(i: Int): Ex = (i / 5) % 3 match {
      case 0 => Cmp("=", Col("l_returnflag"), StrLit(Seq("A", "N", "R")(r.nextInt(3))))
      case 1 => Cmp(Seq("=", "<>")(r.nextInt(2)), Col("l_linestatus"), StrLit(Seq("O", "F")(r.nextInt(2))))
      case _ => In(Col("l_returnflag"), Seq(Seq("A", "N"), Seq("A", "R"), Seq("N", "R"))(r.nextInt(3)))
    }
    def rangeAtom(i: Int): Ex = (i / 5) % 3 match {
      case 0 => val a = 10 + r.nextInt(6); Between(Col("l_quantity"), DblLit(a), DblLit(a + 25))
      case 1 => val a = r.nextInt(3); Between(Col("l_discount"), DblLit(0.01 * a), DblLit(0.01 * (a + 5)))
      case _ => val a = 1 + r.nextInt(3); Between(Col("l_linenumber"), IntLit(a), IntLit(a + 3))
    }
    List.tabulate(n) { i =>
      val cond = i % 5 match {
        case 0 => numAtom(i)
        case 1 => strAtom(i)
        case 2 => And(numAtom(i), strAtom(i))
        case 3 if written.nonEmpty =>
          val (k, v) = written(r.nextInt(written.size))
          Or(Cmp("=", Col(k), StrLit(v)), numAtom(i))
        case 3 => Or(strAtom(i), numAtom(i))
        case _ => rangeAtom(i)
      }
      val first = targets(i % targets.size)
      val keys = if (i % 3 == 0) Seq(first, targets((i + 3) % targets.size)).distinct else Seq(first)
      val actions = keys.map { key =>
        actionNo += 1
        if (actionNo % 5 == 0) {
          val e = sqlAction(r, key)
          PlugAction(key, s"`${e.sql}`") -> e
        } else {
          val (text, e) = key match {
            case "l_linenumber" => val v = 1 + r.nextInt(9); (v.toString, IntLit(v))
            case "l_quantity" => val v = (1 + r.nextInt(50)).toDouble; (v.toString, DblLit(v))
            case "l_extendedprice" => val v = 1000.0 + r.nextInt(99000); (v.toString, DblLit(v))
            case "l_discount" => val v = r.nextInt(11) / 100.0; (v.toString, DblLit(v))
            case "l_tax" => val v = r.nextInt(9) / 100.0; (v.toString, DblLit(v))
            case _ =>
              val v = if (i % 2 == 0) Seq("A", "N", "R", "O", "F")(r.nextInt(5)) else s"X$i"
              written :+= key -> v
              (v, StrLit(v))
          }
          PlugAction(key, text) -> e
        }
      }
      GenRule(PlugRule(s"r$i", "v1", cond.sql, actions.map(_._1)), cond, actions)
    }
  }
}

/** Row-at-a-time reference semantics of `SparkPlug.plug` for generated
  * rules: the sequential fold (each rule sees the previous rule's output;
  * every expression of one rule reads the row as it was before that rule),
  * the audit record appended when the condition is TRUE and some action
  * changes its column (null-safe comparison), `<col>_<rule>_old` copies of
  * each touched column, and the count of rows changed at least once. */
object RefInterp {
  case class Result(schema: StructType, rows: Array[Row], changedRows: Long, auditRecords: Long)

  def run(input: Array[Row], schema: StructType, rules: List[GenRule],
      audit: Boolean, keepOld: Boolean): Result = {
    val base = schema.fieldNames
    val oldCols = if (!keepOld) Seq.empty else rules.flatMap { g =>
      g.actions.map(_._1.updateKey).distinct.map(k => (s"${k}_${g.rule.name}_old", schema(k).dataType))
    }
    val detailType = org.apache.spark.sql.Encoders.product[PlugDetail].schema
    val outSchema = StructType(schema.fields ++
      (if (audit) Seq(StructField("plugDetails", ArrayType(detailType))) else Nil) ++
      oldCols.map { case (n, t) => StructField(n, t) })
    val idx = base.zipWithIndex.toMap
    var changed, records = 0L
    val rows = input.map { row =>
      val cur = row.toSeq.toArray[Any]
      val olds = Array.newBuilder[Any]
      var details = Vector.empty[Row]
      var touched = false
      rules.foreach { g =>
        val pre = cur.clone()
        val read: String => Any = c => pre(idx(c))
        val fires = g.cond.eval(read) == true
        val values = g.actions.map { case (a, e) => (idx(a.key), e.eval(read)) }
        if (keepOld) g.actions.map(_._1.updateKey).distinct.foreach(k => olds += pre(idx(k)))
        if (fires && values.exists { case (i, v) => !sameValue(pre(i), v) }) {
          touched = true
          details :+= Row(g.rule.name, g.rule.version, g.rule.actions.map(_.key))
        }
        if (fires) values.foreach { case (i, v) => cur(i) = v }
      }
      if (touched) changed += 1
      if (audit) records += details.size
      Row.fromSeq(cur.toSeq ++ (if (audit) Seq(details) else Nil) ++ olds.result())
    }
    Result(outSchema, rows, changed, records)
  }

  /** Spark's `<=>` on the values this grammar produces. */
  private def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Double, y: Double) => x == y
    case (x, y) => x == y
  }
}
