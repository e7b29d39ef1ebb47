package org.apache.spark.sql.graft

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One stage of a [[LocateCascade]]: it hits when ANY of its `patterns`
  * finds a match in the text (RLike semantics:
  * `Pattern.compile(p).matcher(s).find(0)`), and then yields
  * (province, city, detectedFrom). `literals(i)` is a string that every
  * match of `patterns(i)` contains — the cascade tests `s.contains` first
  * and runs the regex only when that necessary condition holds.
  */
final case class LocateStage(
    patterns: Seq[String],
    literals: Seq[String],
    province: String,
    city: String,
    detectedFrom: String) {
  require(patterns.size == literals.size,
    s"locate stage: ${patterns.size} patterns but ${literals.size} literals")
}

/** An ordered first-hit-wins stage list. Value equality (case class over
  * strings), so two plans built from the same dictionary canonicalize
  * equal; the compiled regexes and result rows are transient and rebuilt
  * lazily wherever the object is deserialized, i.e. once per task.
  */
final case class LocateCascade(stages: Seq[LocateStage]) {

  @transient private lazy val literals: Array[Array[String]] =
    stages.map(_.literals.toArray).toArray
  @transient private lazy val patterns: Array[Array[Pattern]] =
    stages.map(_.patterns.map(Pattern.compile).toArray).toArray
  // shared, never-mutated result structs (like a struct Literal's value);
  // projections copy them into their output row
  @transient private lazy val results: Array[InternalRow] =
    stages.map(s => new GenericInternalRow(Array[Any](
      UTF8String.fromString(s.province), UTF8String.fromString(s.city),
      UTF8String.fromString(s.detectedFrom))): InternalRow).toArray

  /** The first hit's (province, city, detected_from), or null. */
  def locate(text: UTF8String): InternalRow = {
    val s = text.toString
    val lits = literals
    val pats = patterns
    var i = 0
    while (i < lits.length) {
      val li = lits(i)
      var j = 0
      while (j < li.length) {
        if (s.contains(li(j)) && pats(i)(j).matcher(s).find(0)) return results(i)
        j += 1
      }
      i += 1
    }
    null
  }
}

/** `locate_cascade(string) -> struct<province, city, detected_from>` — the
  * E1 location cascade ([[graft.functions.DictionaryLocator]]) as ONE
  * Catalyst node, however large the dictionary. The equivalent tree of
  * `rlike` tests inside a when/coalesce chain is ~70 nodes for the compact
  * dictionary and ~500 for the 456-city production file; Spark analyzes,
  * optimizes, plans and code-generates such a tree again for every batch.
  * Here the dictionary is a value carried by the node: the generated code
  * is one call into [[LocateCascade.locate]] through a reference object
  * (no CodegenFallback, so the projection stays whole-stage codegen'd).
  */
case class LocateCascadeExpr(child: Expression, cascade: LocateCascade)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"locate_cascade requires a string input, got ${dt.sql}")
  }

  override def dataType: DataType = LocateCascadeExpr.HitType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "locate_cascade"

  override protected def nullSafeEval(s: Any): Any =
    cascade.locate(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cascade", cascade, classOf[LocateCascade].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = $ref.locate($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // the default case-class rendering would print the whole dictionary
  // into every plan string that mentions the node
  override def toString: String = s"locate_cascade($child, stages=${cascade.stages.size})"
  override def sql: String = s"locate_cascade(${child.sql})"
}

object LocateCascadeExpr {
  private val HitType: StructType = StructType(Seq(
    StructField("province", StringType),
    StructField("city", StringType),
    StructField("detected_from", StringType)))

  def locate(text: Column, cascade: LocateCascade): Column =
    ExpressionUtils.column(LocateCascadeExpr(ExpressionUtils.expression(text), cascade))
}
