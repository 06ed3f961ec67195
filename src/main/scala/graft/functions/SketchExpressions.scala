package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType, StringType}
import org.apache.spark.util.sketch.BloomFilter

/** Content-equal wrapper for serialized sketch bytes. A bare
  * Array[Byte] field in a case-class Expression compares by REFERENCE,
  * so two semantically identical predicates never compare equal — which
  * blocks Catalyst canonicalization, common-subexpression elimination,
  * and exchange reuse for any plan that mentions the same sketch twice.
  * Wrapping the bytes restores value equality (and a stable hashCode)
  * without copying them.
  */
final class SketchBytes(val bytes: Array[Byte]) extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case s: SketchBytes => java.util.Arrays.equals(bytes, s.bytes)
    case _ => false
  }
  // computed once: Catalyst hashes expressions repeatedly during
  // analysis/optimization, and the sketch can be hundreds of KB
  private val hc: Int = java.util.Arrays.hashCode(bytes)
  override def hashCode: Int = hc
  override def toString: String = s"<${bytes.length} sketch bytes>"
}

/** Membership test against a pre-built Bloom filter, shipped to
  * executors as part of the expression itself (the serialized sketch
  * bytes ride in the plan, the way a broadcast literal would). This is
  * the 100 TB decontamination primitive: a reference gram set of k
  * items costs ~10 bits/item as a Bloom sketch vs ~100 bytes/item as a
  * broadcast-join hash relation, so the membership gate that prunes
  * the corpus-side gram stream can be orders of magnitude smaller than
  * the join it replaces — and it runs map-side, inside whole-stage
  * codegen, before any shuffle or join machinery touches the row.
  *
  * The filter answers over `xxhash64` values (LongType input): callers
  * must feed the SAME hash of the SAME normalization they built the
  * sketch from. False positives pass the gate (an exact confirm join
  * downstream removes them); false negatives cannot happen, so the
  * gate is a pure prefilter — composing it with an exact join yields
  * exactly the unfiltered join's result.
  */
case class BloomMightContainLong(child: Expression, sketch: SketchBytes)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bloom_might_contain requires a bigint input (feed it xxhash64(col)), " +
        s"got ${child.dataType.sql}")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  // Deserialized once per JVM that evaluates the expression (driver for
  // constant folding, each executor on first row), NOT once per row.
  @transient private lazy val filter: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(sketch.bytes))

  /** Row-level entry point shared by eval and generated code. */
  def test(v: Long): Boolean = filter.mightContainLong(v)

  override def nullSafeEval(input: Any): Any = test(input.asInstanceOf[Long])

  // One virtual call per row against a plan-level reference object —
  // the surrounding predicate stays inside whole-stage codegen.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomPred", this,
      classOf[BloomMightContainLong].getName)
    defineCodeGen(ctx, ev, c => s"$ref.test($c)")
  }

  // Keep explain/TreeNode output readable: the default case-class
  // rendering would print the raw byte array reference.
  override def toString: String =
    s"bloom_might_contain($child, $sketch)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** "Does ANY element of this string array might-be in the sketch?" —
  * the per-document form of the Bloom gate, for pipelines that carry a
  * ready gram array per row (the streaming ingest gate) instead of
  * exploding grams to rows. One early-exit loop per row over the
  * array's UTF-8 bytes; replaces a ScalaUDF (per-row
  * InternalRow→Seq[String] conversion, opaque to codegen) with a
  * single static-shaped call that keeps the surrounding predicate in
  * whole-stage codegen.
  *
  * Membership is over raw UTF-8 gram bytes (`BloomFilter.putString` /
  * `mightContainBinary` hash the same bytes), so build the sketch with
  * `putString` on the same normalization.
  */
case class BloomMightContainAnyString(child: Expression, sketch: SketchBytes)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bloom_might_contain_any requires array<string>, got ${other.sql}")
  }

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain_any"

  @transient private lazy val filter: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(sketch.bytes))

  /** Row-level entry point shared by eval and generated code. */
  def testAny(arr: ArrayData): Boolean = {
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      // gram arrays from the native shingle scan are containsNull=false,
      // but stay total for any array<string> input
      if (!arr.isNullAt(i) &&
          filter.mightContainBinary(arr.getUTF8String(i).getBytes)) return true
      i += 1
    }
    false
  }

  override def nullSafeEval(input: Any): Any = testAny(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomAnyPred", this,
      classOf[BloomMightContainAnyString].getName)
    defineCodeGen(ctx, ev, c => s"$ref.testAny($c)")
  }

  override def toString: String =
    s"bloom_might_contain_any($child, $sketch)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Content-equal holder for an exact string set carried in a plan.
  * Serialized as a sorted Array[String] (deterministic equality /
  * hashCode); the probe-side HashSet of UTF8Strings is rebuilt lazily
  * once per JVM, never shipped.
  */
final class StringSet(strings0: Array[String]) extends Serializable {
  // Canonicalize to a SORTED DISTINCT non-null array: equality is by
  // this array, so without the dedup two semantically equal sets built
  // with different duplicate multiplicity would compare UNEQUAL —
  // blocking exactly the canonicalization/CSE benefit the class exists
  // for — and a stray null would NPE the sort (and the probe build).
  val strings: Array[String] = {
    val s = strings0.filter(_ != null).distinct
    java.util.Arrays.sort(s.asInstanceOf[Array[AnyRef]]); s
  }
  @transient lazy val probe: java.util.HashSet[org.apache.spark.unsafe.types.UTF8String] = {
    val h = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String](strings.length * 2)
    strings.foreach(s => h.add(org.apache.spark.unsafe.types.UTF8String.fromString(s)))
    h
  }
  override def equals(o: Any): Boolean = o match {
    case s: StringSet => java.util.Arrays.equals(
      strings.asInstanceOf[Array[AnyRef]], s.strings.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  private val hc: Int = java.util.Arrays.hashCode(strings.asInstanceOf[Array[AnyRef]])
  override def hashCode: Int = hc
  override def toString: String = s"<string set of ${strings.length}>"
}

/** EXACT set membership against a driver-built string set riding in
  * the plan — the confirm-side sibling of the Bloom screens above: one
  * O(1) hash probe per value instead of the O(|set|) scan an
  * `array_contains(typedlit(...), x)` literal pays per row, and the
  * plan/canonicalization sees one compact reference object instead of
  * a giant literal array. Composes inside higher-order-function
  * lambdas (the child is just an expression), staying in whole-stage
  * codegen. The set must be driver-bounded (a blocklist, an eval-set
  * distillate) — corpus-scale sets belong in a join.
  */
case class InStringSet(child: Expression, set: StringSet)
    extends UnaryExpression with StringInputs {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "in_string_set"

  /** Row-level entry point shared by eval and generated code. */
  def test(v: org.apache.spark.unsafe.types.UTF8String): Boolean = set.probe.contains(v)

  override def nullSafeEval(input: Any): Any =
    test(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stringSetPred", this, classOf[InStringSet].getName)
    defineCodeGen(ctx, ev, c => s"$ref.test($c)")
  }

  override def toString: String = s"in_string_set($child, $set)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SketchExpressions {

  private def serialize(bloom: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }

  /** Serialize `bloom` and wrap it as a boolean Column predicate over a
    * bigint hash column.
    */
  def bloom_might_contain_long(bloom: BloomFilter, v: Column): Column =
    bridge.column(BloomMightContainLong(bridge.expression(v), new SketchBytes(serialize(bloom))))

  /** Serialize `bloom` and wrap it as a boolean "any element matches"
    * predicate over an array<string> column.
    */
  def bloom_might_contain_any(bloom: BloomFilter, arr: Column): Column =
    bridge.column(BloomMightContainAnyString(bridge.expression(arr), new SketchBytes(serialize(bloom))))

  /** Exact membership of a string column value in a driver-built set
    * (O(1) probe; see [[InStringSet]]). `set` is shared across calls —
    * build it once per plan, not per column use.
    */
  def in_string_set(set: StringSet, v: Column): Column =
    bridge.column(InStringSet(bridge.expression(v), set))
}
