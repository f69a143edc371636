package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MySQL-flavored REGEXP_INSTR / REGEXP_SUBSTR / REGEXP_REPLACE with the
  * full (expr, pattern, pos, occurrence, [return_option,] match_type)
  * argument list the reference pushes down
  * (`/root/reference/dbms/src/Functions/FunctionsRegexp.h`, sig rows
  * `Flash/Coprocessor/DAGUtils.cpp:462-470`; goldens
  * `tests/fullstack-test/expr/regexp.test`). Spark's built-ins lack
  * pos/occurrence and use `$N` replacement syntax; MySQL counts
  * CHARACTERS from `pos`, replaces only the `occurrence`-th match
  * (0 = all), and uses `\N` back-references.
  *
  * match_type: 'i' case-insensitive, 'c' case-sensitive (default),
  * 's' dot-matches-newline, 'm' multi-line anchors.
  */
object MySqlRegexpUtil {
  def compile(pat: String, matchType: String): Pattern = {
    if (pat.isEmpty)
      throw new IllegalArgumentException("Empty pattern is invalid")
    var flags = 0
    matchType.foreach {
      case 'i' => flags |= Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE
      case 'c' => flags &= ~(Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE)
      case 's' => flags |= Pattern.DOTALL
      case 'm' => flags |= Pattern.MULTILINE
      case c => throw new IllegalArgumentException(s"Invalid match type '$c'")
    }
    Pattern.compile(pat, flags)
  }

  /** The `occur`-th match of `pat` in `subject` at or after 1-based
    * character position `pos`; null if none. */
  private def nthMatch(subject: String, pat: String, pos: Int, occur: Int,
      matchType: String): Option[java.util.regex.Matcher] = {
    if (pos < 1 || pos > subject.length + 1)
      throw new IllegalArgumentException("Index out of bounds in regular expression search.")
    val m = compile(pat, matchType).matcher(subject)
    m.region(pos - 1, subject.length)
    // MySQL's m/s anchors still see the full string; keep region bounds
    // transparent so ^ does not re-anchor at the region start
    m.useTransparentBounds(true).useAnchoringBounds(false)
    var n = 0
    while (m.find()) {
      n += 1
      if (n == occur) return Some(m)
    }
    None
  }

  def instr(subject: String, pat: String, pos: Int, occur: Int, retOp: Int,
      matchType: String): Integer =
    nthMatch(subject, pat, pos, occur, matchType) match {
      case Some(m) => Integer.valueOf(if (retOp == 0) m.start + 1 else m.end + 1)
      case None => Integer.valueOf(0)
    }

  def substr(subject: String, pat: String, pos: Int, occur: Int,
      matchType: String): String =
    nthMatch(subject, pat, pos, occur, matchType).map(_.group()).orNull

  /** Expand MySQL `\N` back-references (and `\\` escapes) against a
    * completed matcher. */
  private def expand(repl: String, m: java.util.regex.Matcher): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < repl.length) {
      val c = repl.charAt(i)
      if (c == '\\' && i + 1 < repl.length) {
        val n = repl.charAt(i + 1)
        if (n.isDigit) { sb.append(Option(m.group(n - '0')).getOrElse("")); i += 2 }
        else { sb.append(n); i += 2 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  def replace(subject: String, pat: String, repl: String, pos: Int, occur: Int,
      matchType: String): String = {
    if (pos < 1 || pos > subject.length + 1)
      throw new IllegalArgumentException("Index out of bounds in regular expression search.")
    val m = compile(pat, matchType).matcher(subject)
    m.region(pos - 1, subject.length)
    m.useTransparentBounds(true).useAnchoringBounds(false)
    val sb = new java.lang.StringBuilder(subject.substring(0, pos - 1))
    var last = pos - 1
    var n = 0
    while (m.find()) {
      n += 1
      if (occur == 0 || n == occur) {
        sb.append(subject, last, m.start).append(expand(repl, m))
        last = m.end
        if (occur != 0) {
          sb.append(subject.substring(last))
          return sb.toString
        }
      }
    }
    sb.append(subject.substring(last))
    sb.toString
  }
}

/** Base for the regexp expressions: strict NULL, mixed string/int args. */
abstract class MySqlRegexpExpr extends Expression with CodegenFallback {
  override def nullable: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)
  protected def evalRaw(args: Array[Any]): Any

  override def eval(input: InternalRow): Any = {
    val args = new Array[Any](children.length)
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      args(i) = v match {
        case s: UTF8String => s.toString
        case x => x
      }
      i += 1
    }
    evalRaw(args) match {
      case null => null
      case s: String => UTF8String.fromString(s)
      case x => x
    }
  }
}

/** REGEXP_INSTR(expr, pat, pos, occurrence, return_option, match_type). */
case class MySqlRegexpInstr(children: Seq[Expression]) extends MySqlRegexpExpr {
  override def prettyName: String = "mysql_regexp_instr"
  override def dataType: DataType = IntegerType
  protected def evalRaw(a: Array[Any]): Any =
    MySqlRegexpUtil.instr(a(0).asInstanceOf[String], a(1).asInstanceOf[String],
      a(2).asInstanceOf[Number].intValue, a(3).asInstanceOf[Number].intValue,
      a(4).asInstanceOf[Number].intValue, a(5).asInstanceOf[String])
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) = copy(children = cs)
}

/** REGEXP_SUBSTR(expr, pat, pos, occurrence, match_type). */
case class MySqlRegexpSubstr(children: Seq[Expression]) extends MySqlRegexpExpr {
  override def prettyName: String = "mysql_regexp_substr"
  override def dataType: DataType = StringType
  protected def evalRaw(a: Array[Any]): Any =
    MySqlRegexpUtil.substr(a(0).asInstanceOf[String], a(1).asInstanceOf[String],
      a(2).asInstanceOf[Number].intValue, a(3).asInstanceOf[Number].intValue,
      a(4).asInstanceOf[String])
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) = copy(children = cs)
}

/** REGEXP_REPLACE(expr, pat, repl, pos, occurrence, match_type) with
  * MySQL `\N` back-references; occurrence 0 replaces every match. */
case class MySqlRegexpReplace(children: Seq[Expression]) extends MySqlRegexpExpr {
  override def prettyName: String = "mysql_regexp_replace"
  override def dataType: DataType = StringType
  protected def evalRaw(a: Array[Any]): Any =
    MySqlRegexpUtil.replace(a(0).asInstanceOf[String], a(1).asInstanceOf[String],
      a(2).asInstanceOf[String], a(3).asInstanceOf[Number].intValue,
      a(4).asInstanceOf[Number].intValue, a(5).asInstanceOf[String])
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) = copy(children = cs)
}

object MySqlRegexpFunctions {
  private def ex(c: Column): Expression = ColumnBridge.expression(c)
  private def col(e: Expression): Column = ColumnBridge.column(e)

  def mysql_regexp_instr(expr: Column, pat: Column, pos: Column, occur: Column,
      retOp: Column, matchType: Column): Column =
    col(MySqlRegexpInstr(Seq(expr, pat, pos, occur, retOp, matchType).map(ex)))
  def mysql_regexp_substr(expr: Column, pat: Column, pos: Column, occur: Column,
      matchType: Column): Column =
    col(MySqlRegexpSubstr(Seq(expr, pat, pos, occur, matchType).map(ex)))
  def mysql_regexp_replace(expr: Column, pat: Column, repl: Column, pos: Column,
      occur: Column, matchType: Column): Column =
    col(MySqlRegexpReplace(Seq(expr, pat, repl, pos, occur, matchType).map(ex)))
}
