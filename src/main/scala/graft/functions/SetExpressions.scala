package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared row-level kernel for [[StringArrayOverlap]] — called from
  * both interpreted eval and generated code (via `addReferenceObj`).
  *
  * Counts |set(x) ∩ set(y)| over string arrays — exactly
  * `size(array_intersect(x, y))` (which deduplicates), including the
  * null-element rule (null ∈ both sides counts one).
  *
  * Implementation: open-addressing linear-probe table over the
  * SMALLER side (two flat arrays, zero per-element node allocations —
  * a `java.util.HashSet` variant measured ~25% SLOWER than the
  * builtin here because every `add` allocates a Node; the kernel vs
  * builtin A/B is recorded in SCALE.md). Matches are marked in a
  * parallel bitmap instead of removed (open addressing can't cheaply
  * delete),
  * which preserves duplicate-counts-once semantics; the probe loop
  * early-exits once every distinct small-side element is matched. */
object OverlapKernel extends Serializable {
  def count(x: ArrayData, y: ArrayData): Int = {
    val (small, large) =
      if (x.numElements() <= y.numElements()) (x, y) else (y, x)
    val n = small.numElements()
    // open addressing needs cap > distinct elements strictly or an
    // absent-key probe never meets an empty slot; past 2^29 elements
    // the doubled power-of-two capacity overflows Int, so degrade to
    // the (slower, allocation-heavy but unconditionally correct)
    // HashSet path instead
    if (n >= (1 << 29)) return countViaSortedArray(small, large)
    var cap = 8
    while (cap < n * 2) cap <<= 1
    val mask = cap - 1
    val table = new Array[UTF8String](cap)
    val matched = new Array[Boolean](cap)
    var smallHasNull = false
    var distinct = 0
    var i = 0
    while (i < n) {
      if (small.isNullAt(i)) smallHasNull = true
      else {
        val e = small.getUTF8String(i)
        var s = e.hashCode & mask
        while (table(s) != null && !table(s).equals(e)) s = (s + 1) & mask
        if (table(s) == null) { table(s) = e; distinct += 1 }
      }
      i += 1
    }
    val target = distinct + (if (smallHasNull) 1 else 0)
    var c = 0
    var nullMatched = false
    var j = 0
    val m = large.numElements()
    while (j < m && c < target) {
      if (large.isNullAt(j)) {
        if (smallHasNull && !nullMatched) { c += 1; nullMatched = true }
      } else {
        val e = large.getUTF8String(j)
        var s = e.hashCode & mask
        while (table(s) != null && !table(s).equals(e)) s = (s + 1) & mask
        if (table(s) != null && !matched(s)) { matched(s) = true; c += 1 }
      }
      j += 1
    }
    c
  }

  /** Fallback for pathologically large small sides (≥ 2^29 elements —
    * beyond power-of-two table sizing). Sorted-array + binary-search
    * probe, NOT a `java.util.HashSet` (ADVICE r12): a boxed set of
    * ≥ 2^29 strings is tens of GB of Node allocations and degrades to
    * an executor OOM, while one flat reference array costs what the
    * input row already holds. Same semantics: duplicates count once,
    * null ∈ both sides counts one. */
  private[functions] def countViaSortedArray(small: ArrayData, large: ArrayData): Int = {
    val n = small.numElements()
    val a = new Array[UTF8String](n)
    var smallHasNull = false
    var k = 0
    var i = 0
    while (i < n) {
      if (small.isNullAt(i)) smallHasNull = true
      else { a(k) = small.getUTF8String(i); k += 1 }
      i += 1
    }
    java.util.Arrays.sort(a.asInstanceOf[Array[AnyRef]], 0, k)
    var d = 0
    i = 0
    while (i < k) {
      if (d == 0 || !a(i).equals(a(d - 1))) { a(d) = a(i); d += 1 }
      i += 1
    }
    val matched = new Array[Boolean](d)
    val target = d + (if (smallHasNull) 1 else 0)
    var c = 0
    var nullMatched = false
    var j = 0
    val m = large.numElements()
    while (j < m && c < target) {
      if (large.isNullAt(j)) {
        if (smallHasNull && !nullMatched) { c += 1; nullMatched = true }
      } else {
        val s = java.util.Arrays.binarySearch(
          a.asInstanceOf[Array[AnyRef]], 0, d, large.getUTF8String(j))
        if (s >= 0 && !matched(s)) { matched(s) = true; c += 1 }
      }
      j += 1
    }
    c
  }
}

/** Native overlap count for string arrays:
  * `array_overlap_count(a, b) == size(array_intersect(a, b))` without
  * materializing the intersection ARRAY — the set-similarity verify
  * kernel (Jaccard/containment share it: both need only |A∩B|, never
  * the intersection itself). The builtin composition builds an
  * `array_intersect` result array per row only for `size` to read its
  * length; on the candidate-pair verify stage of a web-scale dedup
  * that is one array allocation per pair for nothing.
  *
  * Null semantics match the builtin composition exactly (required for
  * [[graft.plans.RewriteSetOverlap]] to be a sound substitution):
  * either input NULL → NULL (modern `size(NULL) = NULL`; the rewrite
  * rule gates on `legacySizeOfNull = false`), null ELEMENTS present in
  * both arrays count once, duplicates count once. */
case class StringArrayOverlap(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = IntegerType

  // registered as a user-callable SQL function — wrong argument types
  // must fail at ANALYSIS, not as a mid-query ClassCastException (or,
  // worse, an UnsafeArrayData reinterpreting int words as string
  // offsets and returning garbage)
  // (return type inferred — AbstractDataType itself is private[sql])
  override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))

  override def nullSafeEval(a: Any, b: Any): Any =
    OverlapKernel.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the kernel rides the references array — the generated code stays
    // one static-shaped call, and the hash-set logic is JIT'd once in
    // the kernel class instead of duplicated per codegen site
    val kernel = ctx.addReferenceObj("overlapKernel", OverlapKernel,
      OverlapKernel.getClass.getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $kernel.count($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** LONG-array twin of [[OverlapKernel]] — the verify kernel when the
  * set elements are 8-byte hashes instead of strings (the containment
  * verify hashes its shingles with xxhash64 BEFORE building per-doc
  * sets: the pair-verify shuffle then carries 8-byte elements instead
  * of ~35-byte strings — measured the difference between a ~170 GB and
  * a ~38 GB intermediate on the x10 candidate stream — and the probe
  * loop compares primitives, not UTF8String bytes). Same
  * open-addressing discipline; 0 is a legal element (a separate
  * presence flag distinguishes it from an empty slot). Null elements
  * are not supported by construction (hash outputs are non-null);
  * either input array containing nulls is a caller bug surfaced by
  * the expression's input contract, not silently miscounted. */
object LongOverlapKernel extends Serializable {
  def count(x: ArrayData, y: ArrayData): Int = {
    val (small, large) =
      if (x.numElements() <= y.numElements()) (x, y) else (y, x)
    val n = small.numElements()
    // same ≥2^29 regime as the string kernel: the doubled power-of-two
    // capacity would overflow Int (`n * 2` wraps NEGATIVE first, so the
    // sizing loop below would exit at cap=8 and the insert loop would
    // spin forever once 8 distinct elements fill the table — ADVICE
    // r11); degrade to the flat primitive sorted-array path instead
    if (n >= (1 << 29)) return countViaSortedArray(small, large)
    var cap = 8
    while (cap < n * 2) cap <<= 1
    val mask = cap - 1
    val table = new Array[Long](cap)
    val present = new Array[Boolean](cap)
    val matched = new Array[Boolean](cap)
    var distinct = 0
    var i = 0
    while (i < n) {
      val e = small.getLong(i)
      var s = java.lang.Long.hashCode(e) & mask
      while (present(s) && table(s) != e) s = (s + 1) & mask
      if (!present(s)) { table(s) = e; present(s) = true; distinct += 1 }
      i += 1
    }
    var c = 0
    var j = 0
    val m = large.numElements()
    while (j < m && c < distinct) {
      val e = large.getLong(j)
      var s = java.lang.Long.hashCode(e) & mask
      while (present(s) && table(s) != e) s = (s + 1) & mask
      if (present(s) && !matched(s)) { matched(s) = true; c += 1 }
      j += 1
    }
    c
  }

  /** Fallback for pathologically large small sides (≥ 2^29 elements —
    * beyond power-of-two table sizing). Primitive sorted long[] +
    * binary-search probe, NOT a boxed `java.util.HashSet[Long]`
    * (ADVICE r12: a boxed set at that cardinality is tens of GB of
    * Node+Long allocations — an executor OOM wearing a "graceful"
    * label, and undiagnosable compared to the pre-r11 explicit
    * IllegalArgumentException). The flat array costs 8 B/element —
    * the same order as the input row itself — so this path degrades
    * in TIME (O((n+m)·log n)), not in liveness. Same semantics:
    * duplicates count once; 0 is an ordinary element. */
  private[functions] def countViaSortedArray(small: ArrayData, large: ArrayData): Int = {
    val n = small.numElements()
    val a = new Array[Long](n)
    var i = 0
    while (i < n) { a(i) = small.getLong(i); i += 1 }
    java.util.Arrays.sort(a)
    var d = 0
    i = 0
    while (i < n) {
      if (d == 0 || a(i) != a(d - 1)) { a(d) = a(i); d += 1 }
      i += 1
    }
    val matched = new Array[Boolean](d)
    var c = 0
    var j = 0
    val m = large.numElements()
    while (j < m && c < d) {
      val s = java.util.Arrays.binarySearch(a, 0, d, large.getLong(j))
      if (s >= 0 && !matched(s)) { matched(s) = true; c += 1 }
      j += 1
    }
    c
  }
}

/** `array_overlap_count_long(a, b)` — [[StringArrayOverlap]] for
  * `array<bigint>`: |set(a) ∩ set(b)| without materializing the
  * intersection. Inputs must be null-element-free (hash streams are);
  * array-level nulls propagate to NULL like the builtin composition. */
case class LongArrayOverlap(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = IntegerType

  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))

  override def nullSafeEval(a: Any, b: Any): Any =
    LongOverlapKernel.count(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("longOverlapKernel", LongOverlapKernel,
      LongOverlapKernel.getClass.getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $kernel.count($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SetExpressions {
  /** Arity-checked builder shared by every registration path —
    * a wrong argument count must fail at analysis with the expected
    * signature, not as an IndexOutOfBoundsException from exprs(1). */
  def fromExpressions(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        "array_overlap_count(array<string>, array<string>) takes exactly" +
          s" 2 arguments, got ${exprs.length}")
    StringArrayOverlap(exprs(0), exprs(1))
  }

  def fromExpressionsLong(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        "array_overlap_count_long(array<bigint>, array<bigint>) takes" +
          s" exactly 2 arguments, got ${exprs.length}")
    LongArrayOverlap(exprs(0), exprs(1))
  }

  /** Idempotently register on the session's function registry. */
  def register(spark: SparkSession): Unit =
    Registry.ensure(spark, "array_overlap_count")(fromExpressions)

  def registerLong(spark: SparkSession): Unit =
    Registry.ensure(spark, "array_overlap_count_long")(fromExpressionsLong)

  /** Column-level API: distinct-overlap count of two string-array
    * columns. */
  def overlapCount(spark: SparkSession)(a: Column, b: Column): Column = {
    register(spark)
    call_function("array_overlap_count", a, b)
  }

  /** Column-level API: distinct-overlap count of two long-array
    * columns (the hashed-set verify path). */
  def overlapCountLong(spark: SparkSession)(a: Column, b: Column): Column = {
    registerLong(spark)
    call_function("array_overlap_count_long", a, b)
  }
}
