package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._

/** SparkSessionExtensions entry point — registers the engine's custom
  * Catalyst expressions as SQL functions at session build time
  * (≙ the reference's closed function registry,
  * `/root/reference/dbms/src/Functions/registerFunctions.cpp`).
  *
  * Usage:
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  *   .getOrCreate()
  * }}}
  * (or [[Engine.attach]] on an existing session).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {
  private def fn(name: String, cls: Class[_ <: Expression], build: FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** The engine's SQL functions, one entry each: the extension injects
    * this table and [[Engine.attach]] installs it on a live session. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("vec_l1_distance", classOf[VecL1Distance], es => VecL1Distance(es(0), es(1))),
    fn("vec_l2_distance", classOf[VecL2Distance], es => VecL2Distance(es(0), es(1))),
    fn("vec_negative_inner_product", classOf[VecNegativeInnerProduct],
      es => VecNegativeInnerProduct(es(0), es(1))),
    fn("vec_cosine_distance", classOf[VecCosineDistance],
      es => VecCosineDistance(es(0), es(1))),
    fn("vec_l2_norm", classOf[VecL2Norm], es => VecL2Norm(es.head)),
    fn("json_depth", classOf[JsonDepth], es => JsonDepth(es.head)),
    fn("mysql_json_extract", classOf[MySqlJsonExtract], es => MySqlJsonExtract(es)),
    fn("mysql_json_unquote", classOf[MySqlJsonUnquote], es => MySqlJsonUnquote(es.head)),
    fn("mysql_json_keys", classOf[MySqlJsonKeys], es => MySqlJsonKeys(es)),
    fn("mysql_json_length", classOf[MySqlJsonLength], es => MySqlJsonLength(es)),
    fn("mysql_json_valid", classOf[MySqlJsonValid], es => MySqlJsonValid(es.head)),
    fn("mysql_json_contains_path", classOf[MySqlJsonContainsPath],
      es => MySqlJsonContainsPath(es)),
    fn("mysql_json_array", classOf[MySqlJsonArray], es => MySqlJsonArray(es)),
    fn("mysql_json_object", classOf[MySqlJsonObject], es => MySqlJsonObject(es)),
    fn("mysql_json_quote", classOf[MySqlJsonQuote], es => MySqlJsonQuote(es.head)),
    fn("mysql_cast_string_as_json", classOf[MySqlCastStringAsJson],
      es => MySqlCastStringAsJson(es.head)),
    fn("mysql_regexp_instr", classOf[MySqlRegexpInstr], es => MySqlRegexpInstr(es)),
    fn("mysql_regexp_substr", classOf[MySqlRegexpSubstr], es => MySqlRegexpSubstr(es)),
    fn("mysql_regexp_replace", classOf[MySqlRegexpReplace], es => MySqlRegexpReplace(es)),
    fn("sip_hash64", classOf[SipHash64Expr], es => SipHash64Expr(es.head)),
    fn("nfc_normalize", classOf[NfcNormalize], es => NfcNormalize(es.head)))
}
