package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: whitespace token count in one byte scan —
  * no array materialization (the built-in `size(split(trim(x), "\\s+"))`
  * allocates the token array just to count it). Whole-stage-codegen'd via
  * doGenCode; ASCII whitespace only, matching Java regex `\s` semantics so
  * values equal the Column/oracle formulation.
  */
case class TokenCountExpr(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_token_count expects STRING, got ${child.dataType.sql}")

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    var cnt = 0
    var inTok = false
    var i = 0
    val n = s.numBytes()
    while (i < n) {
      val b = s.getByte(i)
      val ws = b == 32 || b == 9 || b == 10 || b == 13 || b == 11 || b == 12
      if (!ws && !inTok) { cnt += 1; inTok = true }
      else if (ws) inTok = false
      i += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val inTok = ctx.freshName("inTok")
      val ws = ctx.freshName("ws")
      s"""
         |int ${ev.value}_cnt = 0;
         |boolean $inTok = false;
         |for (int $i = 0; $i < $c.numBytes(); $i++) {
         |  byte $b = $c.getByte($i);
         |  boolean $ws = ($b == 32 || $b == 9 || $b == 10 || $b == 13 || $b == 11 || $b == 12);
         |  if (!$ws && !$inTok) { ${ev.value}_cnt++; $inTok = true; }
         |  else if ($ws) { $inTok = false; }
         |}
         |${ev.value} = ${ev.value}_cnt;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): TokenCountExpr =
    copy(child = newChild)
}

/** Static-forwarder host for codegen (top-level objects get static
  * forwarders, so generated Java can call `NfcHelper.nfc(...)` directly). */
object NfcHelper {
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    // fast path: Normalizer.isNormalized is a cheap scan; most corpus text
    // is already NFC and skips the allocation entirely
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Native Catalyst expression: Unicode NFC normalization (java.text.
  * Normalizer) — the canonical text-normalization step of a training-data
  * pipeline, as a codegen'd expression (no UDF serialization overhead;
  * stays inside WholeStageCodegen via a static call). */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_nfc expects STRING, got ${child.dataType.sql}")
  override def nullSafeEval(input: Any): Any =
    NfcHelper.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcHelper.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalizeExpr =
    copy(child = newChild)
}

/** Static-forwarder host for codegen (see [[NfcHelper]]). */
object SubwordHelper {
  def count(s: UTF8String): Long = graft.ops.Tokenize.countText(s.toString)

  /** Count with a vocabulary-checksum assertion: `expected` is the DRIVER's
    * resolved-vocab fingerprint, serialized into the plan by
    * [[SubwordCountExpr]]; a mismatch means this executor JVM resolved a
    * DIFFERENT vocabulary (e.g. `-Dgraft.vocab.path`/GRAFT_VOCAB_PATH set
    * only on the driver) — fail loudly rather than silently counting with
    * the fallback resource (ADVICE r04). */
  def countChecked(s: UTF8String, expected: Long): Long = {
    if (expected != graft.ops.Tokenize.VocabChecksum)
      throw new IllegalStateException(
        s"subword vocabulary mismatch: driver checksum $expected vs this JVM's " +
        s"${graft.ops.Tokenize.VocabChecksum} — set graft.vocab.path/GRAFT_VOCAB_PATH " +
        "on executors too (spark-submit --files + spark.executorEnv)")
    count(s)
  }
}

/** Native Catalyst expression: real subword token count (greedy
  * longest-match over the committed vocabulary, graft.ops.Tokenize) as a
  * codegen'd expression — replaces the ceil(len/4) estimator the round-2
  * review flagged. Stays inside WholeStageCodegen via a static call. */
case class SubwordCountExpr(child: Expression,
    vocabChecksum: Long = graft.ops.Tokenize.VocabChecksum) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_subword_count expects STRING, got ${child.dataType.sql}")
  override def nullSafeEval(input: Any): Any =
    SubwordHelper.countChecked(input.asInstanceOf[UTF8String], vocabChecksum)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SubwordHelper.countChecked($c, ${vocabChecksum}L)")
  override protected def withNewChildInternal(newChild: Expression): SubwordCountExpr =
    copy(child = newChild)
}

/** Typed bbox-union aggregator: [min x0, min top, max x1, max bottom] over a
  * group of bboxes — the reference's calculate_bbox (pdf_processor.py:259-269)
  * as a real distributed aggregation with map-side partial combine. */
object BBoxUnionAgg {
  final case class Buf(x0: Double, top: Double, x1: Double, bottom: Double, seen: Boolean)
  final case class Box(x0: Double, top: Double, x1: Double, bottom: Double)
}

final class BBoxUnionAgg extends Aggregator[Seq[Double], BBoxUnionAgg.Buf, BBoxUnionAgg.Box] {
  import BBoxUnionAgg._
  override def zero: Buf = Buf(Double.MaxValue, Double.MaxValue, Double.MinValue, Double.MinValue, seen = false)
  override def reduce(b: Buf, a: Seq[Double]): Buf =
    if (a == null || a.length < 4) b
    else Buf(math.min(b.x0, a(0)), math.min(b.top, a(1)),
      math.max(b.x1, a(2)), math.max(b.bottom, a(3)), seen = true)
  override def merge(x: Buf, y: Buf): Buf =
    Buf(math.min(x.x0, y.x0), math.min(x.top, y.top),
      math.max(x.x1, y.x1), math.max(x.bottom, y.bottom), x.seen || y.seen)
  override def finish(r: Buf): Box =
    if (!r.seen) Box(0d, 0d, 0d, 0d) else Box(r.x0, r.top, r.x1, r.bottom)
  override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
  override def outputEncoder: Encoder[Box] = Encoders.product[Box]
}

/** Column + SQL surfaces for the engine's scalar functions. */
object Functions {

  /** Native token count (see [[TokenCountExpr]]). */
  def token_count(c: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      TokenCountExpr(org.apache.spark.sql.graft.Bridge.expression(c)))

  /** Native Unicode NFC normalization (see [[NfcNormalizeExpr]]). */
  def nfc_normalize(c: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      NfcNormalizeExpr(org.apache.spark.sql.graft.Bridge.expression(c)))

  /** Native real subword token count (see [[SubwordCountExpr]]). */
  def subword_count(c: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      SubwordCountExpr(org.apache.spark.sql.graft.Bridge.expression(c)))

  /** The native expressions' SQL names and builders: [[registerAll]]
    * registers them on a session, and [[graft.GraftExtensions]] injects
    * them through `spark.sql.extensions`. */
  private[graft] val Native: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_token_count" -> (args => TokenCountExpr(args.head)),
    "graft_nfc" -> (args => NfcNormalizeExpr(args.head)),
    "graft_subword_count" -> (args => SubwordCountExpr(args.head)))

  /** Register the engine's functions for SQL use: the [[Native]]
    * expressions plus the UDF-backed graft_hash32, graft_simhash32,
    * graft_shingles and graft_quality_clean. */
  def registerAll(spark: SparkSession): Unit = {
    Native.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
    }
    spark.udf.register("graft_hash32",
      (s: String) => graft.ops.TextOps.hash32Kernel(if (s == null) "" else s))
    spark.udf.register("graft_simhash32",
      (s: String) => graft.ops.TextOps.simhash32Kernel(s))
    spark.udf.register("graft_shingles",
      (s: String, n: Int) => graft.ops.TextOps.wordShinglesKernel(s, math.max(1, n)))
    spark.udf.register("graft_quality_clean",
      (s: String) => graft.kernel.TextClean.cleanLinePreserving(s))
  }
}
