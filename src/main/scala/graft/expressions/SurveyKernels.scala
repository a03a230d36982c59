package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationSupport, MapData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels behind the survey silver expressions ([[SurveyClean]],
  * [[NullPhrase]], [[LikertScore]], [[Recode]]). Each replaces a
  * per-column Column expression tree whose generated code, repeated over
  * every survey column, made the silver projection's generated method
  * larger than HotSpot's 8,000-byte `HugeMethodLimit`: the JIT never
  * compiled it and the loop ran interpreted. One static call per cell
  * keeps the generated method small; the work moves into these methods,
  * which the JIT compiles once. Stateless; the tables are read-only. */
object SurveyKernels {

  // both mojibake patterns start with the UTF-8 lead byte 0xC3:
  // "â€™" = C3 A2 E2 82 AC E2 84 A2 and "Ã" = C3 83
  private val Apostrophe: Array[Byte] =
    "â€™".getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private val ATilde0: Byte = 0xC3.toByte
  private val ATilde1: Byte = 0x83.toByte
  private val Nan = UTF8String.fromString("nan")

  /** Mojibake repair, then the literal "nan" to null: `"â€™"` becomes
    * `'` and `"Ã"` becomes `i` (ref transform_alchemer_data.py:20-23,
    * 38-39). Byte-level replaces: on valid UTF-8 they equal
    * `translate(replace(s, "â€™", "'"), "Ã", "i")`, because neither
    * pattern can start inside another code point. Rows without a 0xC3
    * byte (nearly all) are returned as they are, without a copy. */
  def clean(s: UTF8String): UTF8String = {
    val repaired = repairMojibake(s)
    if (repaired.equals(Nan)) null else repaired
  }

  private def repairMojibake(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    var i = 0
    while (i < n && s.getByte(i) != ATilde0) i += 1
    if (i == n) return s
    val out = new Array[Byte](n)
    var o = 0
    while (o < i) { out(o) = s.getByte(o); o += 1 }
    while (i < n) {
      val b = s.getByte(i)
      if (b == ATilde0 && i + 1 < n && s.getByte(i + 1) == ATilde1) {
        out(o) = 'i'; o += 1; i += 2
      } else if (b == ATilde0 && startsWith(s, i, Apostrophe)) {
        out(o) = '\''; o += 1; i += Apostrophe.length
      } else {
        out(o) = b; o += 1; i += 1
      }
    }
    UTF8String.fromBytes(out, 0, o)
  }

  private def startsWith(s: UTF8String, at: Int, p: Array[Byte]): Boolean = {
    if (at + p.length > s.numBytes()) return false
    var k = 0
    while (k < p.length) {
      if (s.getByte(at + k) != p(k)) return false
      k += 1
    }
    true
  }

  /** Likert score from its table; null and unknown responses score 0
    * (ref utils.py:159-181: `mapping.get(x, 0)`). */
  def likertScore(s: UTF8String, table: java.util.HashMap[UTF8String, Integer]): Int =
    if (s == null) 0
    else {
      val v = table.get(s)
      if (v == null) 0 else v.intValue
    }

  /** Dictionary recode: null, and all-space when `blankIsUnknown`, become
    * `unknown`; a value in `table` becomes its entry; anything else is
    * kept. "Space" is ASCII 0x20, the set `trim` strips. */
  def recode(s: UTF8String, table: java.util.HashMap[UTF8String, UTF8String],
      unknown: UTF8String, blankIsUnknown: Boolean): UTF8String =
    if (s == null || (blankIsUnknown && isBlank(s))) unknown
    else {
      val v = table.get(s)
      if (v == null) s else v
    }

  private def isBlank(s: UTF8String): Boolean = {
    val n = s.numBytes()
    var i = 0
    while (i < n) {
      if (s.getByte(i) != ' ') return false
      i += 1
    }
    true
  }

  private val NonWord = java.util.regex.Pattern.compile("[^\\w\\s]")

  /** Null-phrase scrub of one open-text cell: null when
    * `trim(regexp_replace(lower(s), "[^\\w\\s]", ""))` is one of
    * `phrases`, else `s` (ref utils.py:184-187). Calls the same
    * `CollationSupport` and `java.util.regex` code those Spark functions
    * run, so the normalization is theirs to the byte. */
  def nullPhrase(s: UTF8String, phrases: java.util.HashSet[UTF8String],
      useICU: Boolean): UTF8String = {
    val lowered =
      if (useICU) CollationSupport.Lower.execBinaryICU(s)
      else CollationSupport.Lower.execBinary(s)
    val stripped = UTF8String.fromString(
      NonWord.matcher(lowered.toString).replaceAll(""))
    if (phrases.contains(CollationSupport.StringTrim.execBinary(stripped))) null
    else s
  }

  private[expressions] def hashMap[V](pairs: Seq[(String, V)]): java.util.HashMap[UTF8String, V] = {
    val m = new java.util.HashMap[UTF8String, V](pairs.size * 2)
    pairs.foreach { case (k, v) => m.put(UTF8String.fromString(k), v) }
    m
  }

  /** A `map<string, V>` literal argument as ordered pairs. */
  private[expressions] def mapLiteral[V](fn: String, e: Expression, valueType: DataType)
      : Seq[(String, V)] = {
    val pairs = e match {
      case Literal(m: MapData, MapType(StringType, `valueType`, _)) =>
        Some(m.keyArray().toSeq[UTF8String](StringType).map(_.toString)
          .zip(m.valueArray().toSeq[Any](valueType)))
      case _ => None
    }
    pairs.filterNot(_.exists(_._2 == null)).getOrElse(
      throw new IllegalArgumentException(
        s"$fn: the table must be a map<string, ${valueType.simpleString}> " +
          "literal without null values"))
      .map {
        case (k, u: UTF8String) => k -> u.toString.asInstanceOf[V]
        case (k, v) => k -> v.asInstanceOf[V]
      }
  }

  /** An `array<string>` literal argument without nulls. */
  private[expressions] def stringArrayLiteral(fn: String, e: Expression): Seq[String] =
    e match {
      case Literal(a: ArrayData, ArrayType(StringType, _))
          if !a.toSeq[UTF8String](StringType).contains(null) =>
        a.toSeq[UTF8String](StringType).map(_.toString)
      case _ => throw new IllegalArgumentException(
        s"$fn: the phrases must be an array<string> literal without nulls")
    }

  private[expressions] def stringArg(fn: String, name: String, e: Expression): String =
    e match {
      case Literal(v: UTF8String, StringType) => v.toString
      case _ => throw new IllegalArgumentException(
        s"$fn: $name must be a string literal")
    }

  private[expressions] def booleanArg(fn: String, name: String, e: Expression): Boolean =
    e match {
      case Literal(v: Boolean, BooleanType) => v
      case _ => throw new IllegalArgumentException(
        s"$fn: $name must be a boolean literal")
    }
}

private[expressions] trait StringInput { self: UnaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.simpleString}")
}

/** `graft_survey_clean(s)`: both mojibake repairs, then "nan" to null
  * ([[SurveyKernels.clean]]). */
case class SurveyClean(child: Expression) extends UnaryExpression with StringInput {

  override def prettyName: String = "graft_survey_clean"

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  override def nullSafeEval(s: Any): Any =
    SurveyKernels.clean(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.expressions.SurveyKernels.clean($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): SurveyClean =
    copy(child = newChild)
}

/** `graft_likert_score(s, table)`: the response's score from a
  * `map<string, int>` literal, 0 when null or absent. Never null. */
case class LikertScore(child: Expression, table: Seq[(String, Int)])
    extends UnaryExpression with StringInput {

  override def prettyName: String = "graft_likert_score"

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = false

  @transient private lazy val lookup: java.util.HashMap[UTF8String, Integer] =
    SurveyKernels.hashMap(table.map { case (k, v) => k -> Int.box(v) })

  override def eval(input: InternalRow): Any =
    SurveyKernels.likertScore(child.eval(input).asInstanceOf[UTF8String], lookup)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("likertTable", lookup, "java.util.HashMap")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |int ${ev.value} = graft.expressions.SurveyKernels.likertScore(
      |  ${c.isNull} ? null : ${c.value}, $ref);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): LikertScore =
    copy(child = newChild)
}

/** `graft_recode(s, table, unknown, blank_is_unknown)`: a dictionary
  * recode from a `map<string, string>` literal ([[SurveyKernels.recode]]).
  * The result is never null; `nullable` follows the input, as the
  * `when(isNull, unknown)...otherwise(s)` form it replaces does, so the
  * output schema is unchanged. */
case class Recode(child: Expression, table: Seq[(String, String)],
    unknown: String, blankIsUnknown: Boolean)
    extends UnaryExpression with StringInput {

  override def prettyName: String = "graft_recode"

  override def dataType: DataType = StringType

  override def nullable: Boolean = child.nullable

  @transient private lazy val lookup: java.util.HashMap[UTF8String, UTF8String] =
    SurveyKernels.hashMap(table.map { case (k, v) => k -> UTF8String.fromString(v) })

  @transient private lazy val unknownUtf8 = UTF8String.fromString(unknown)

  override def eval(input: InternalRow): Any =
    SurveyKernels.recode(child.eval(input).asInstanceOf[UTF8String], lookup,
      unknownUtf8, blankIsUnknown)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("recodeTable", lookup, "java.util.HashMap")
    val unknownRef = ctx.addReferenceObj("unknown", unknownUtf8)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |UTF8String ${ev.value} =
      |  graft.expressions.SurveyKernels.recode(${c.isNull} ? null : ${c.value},
      |    $ref, $unknownRef, $blankIsUnknown);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Recode =
    copy(child = newChild)
}

/** `graft_null_phrase(s, phrases)`: `s`, or null when its normalized
  * form is one of the `array<string>` literal's phrases
  * ([[SurveyKernels.nullPhrase]]). `useICU` is the session's
  * `spark.sql.icu.caseMappings.enabled`, read when the expression is
  * built, as `lower` reads it. */
case class NullPhrase(child: Expression, phrases: Seq[String],
    useICU: Boolean = SQLConf.get.getConfString(
      "spark.sql.icu.caseMappings.enabled", "true").toBoolean)
    extends UnaryExpression with StringInput {

  override def prettyName: String = "graft_null_phrase"

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](phrases.size * 2)
    phrases.foreach(p => s.add(UTF8String.fromString(p)))
    s
  }

  override def nullSafeEval(s: Any): Any =
    SurveyKernels.nullPhrase(s.asInstanceOf[UTF8String], set, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nullPhrases", set, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.expressions.SurveyKernels.nullPhrase($c, $ref, $useICU);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): NullPhrase =
    copy(child = newChild)
}
