package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared depth scan, called from both the interpreted eval and the
  * generated code (a static call keeps one implementation with no
  * boxing on the codegen path). */
object JsonDepthUtil {
  /** MySQL JSON_DEPTH semantics (`dbms/src/Functions/FunctionsJson.cpp`
    * jsonDepth): scalar/empty container = 1; each nesting level +1.
    * Single pass tracking bracket depth outside quoted strings; string
    * and scalar tokens at bracket depth d contribute d+1. Returns -1
    * (→ NULL) for unbalanced input instead of MySQL's error; does not
    * otherwise validate. */
  def depth(s: UTF8String): Int = {
    val str = s.toString
    var cur = 0; var mx = 0; var i = 0
    var inStr = false; var esc = false; var seenAny = false
    while (i < str.length) {
      val c = str.charAt(i)
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else (c: @annotation.switch) match {
        case '{' | '[' =>
          cur += 1; if (cur > mx) mx = cur; seenAny = true
        case '}' | ']' =>
          cur -= 1; if (cur < 0) return -1
        case '"' =>
          inStr = true; if (cur + 1 > mx) mx = cur + 1; seenAny = true
        case ' ' | '\t' | '\n' | '\r' | ',' | ':' => ()
        case _ =>
          if (cur + 1 > mx) mx = cur + 1; seenAny = true
      }
      i += 1
    }
    if (cur != 0 || inStr || !seenAny) -1 else math.max(mx, 1)
  }
}

/** JSON_DEPTH — the reference exposes json_depth
  * (`/root/reference/dbms/src/Flash/Coprocessor/DAGUtils.cpp:487`,
  * `dbms/src/Functions/FunctionsJson.cpp`); Spark has no built-in, so
  * this is a native Catalyst expression with codegen. */
case class JsonDepth(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "json_depth"
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val d = JsonDepthUtil.depth(v.asInstanceOf[UTF8String])
    if (d < 0) null else d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val d = ctx.freshName("jdepth")
      s"""
         |int $d = graft.functions.JsonDepthUtil.depth($v);
         |if ($d < 0) { ${ev.isNull} = true; } else { ${ev.value} = $d; }
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Column facade for the JSON expressions. */
object JsonFunctions {
  def json_depth(c: Column): Column =
    ColumnBridge.column(JsonDepth(ColumnBridge.expression(c)))
}
