package graft.plans

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Apply a learned BPE merge list to a symbol array in ONE native
  * evaluation — the production-scale form of
  * [[graft.ops.Bpe.applyMerges]] (verdict r14 #1).
  *
  * The composed form nests one `aggregate` fold per merge, so a
  * production 30k-merge tokenizer model built an expression tree janino
  * could not compile (documented engine limit at `ops/Bpe.scala`). This
  * expression carries the whole merge list as one broadcast-style
  * reference object (rank-ordered arrays + a pair→rank hash map, built
  * once per executor) and runs a primitive loop per row — evaluation
  * cost is independent of the merge COUNT for every pair scan (hash
  * lookups), and the work per word is O(len²) worst case, never
  * O(len · nMerges).
  *
  * Semantics are [[graft.ops.Bpe.mergeAdjacent]]'s fold applied in rank
  * order, EXACTLY (BpeApplyMergesSpec pins bit-parity against the
  * composed form):
  *  - each merge pass is left-to-right non-overlapping ("aaa" under
  *    (a,a) → [aa, a]);
  *  - null ELEMENTS never merge and pass through (the fold's
  *    null-compare → `otherwise` branch);
  *  - a null INPUT null-propagates (`aggregate(null, …)` is null);
  *  - an empty array stays empty.
  *
  * Fast path: for a WELL-FORMED merge list the classic min-rank loop
  * (merge the lowest-ranked pair present, repeat — the GPT-2/HF apply
  * algorithm) equals sequential rank-order application, because a merge
  * can only create pairs of HIGHER rank. Well-formed =
  *  1. every symbol non-empty,
  *  2. every multi-unit component is the output of an earlier merge
  *     (exactly what a BPE fit produces: a symbol exists in the vocab
  *     only after the merges that build it), and
  *  3. no merge's output equals a component of an EARLIER merge (else
  *     merging could resurrect a lower rank).
  * Lists that violate the invariant (hand-built corner cases) take a
  * sequential one-pass-per-merge replay — same bit-exact semantics,
  * O(len · nMerges) cost. Empty-string symbols are rejected outright:
  * the fold's merged symbol a+b would equal `a` and re-merge unboundedly.
  *
  * Codegen: [[NativeEval]].
  */
case class BpeApplyMerges(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with NativeEval {

  require(
    merges.forall { case (a, b) => a.nonEmpty && b.nonEmpty },
    "BPE merge symbols must be non-empty (a+\"\" == a would re-merge unboundedly)"
  )

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bpe_apply_merges expects array<string>, got $t"
        )
    }

  // rank-ordered symbol arrays, materialized once per executor
  @transient private lazy val leftSyms: Array[UTF8String] =
    merges.map(m => UTF8String.fromString(m._1)).toArray
  @transient private lazy val rightSyms: Array[UTF8String] =
    merges.map(m => UTF8String.fromString(m._2)).toArray
  @transient private lazy val mergedSyms: Array[UTF8String] =
    merges.map(m => UTF8String.fromString(m._1 + m._2)).toArray

  /** pair → FIRST rank. Duplicate pairs keep the lowest rank, which is
    * the one the min-rank loop must fire (a later duplicate never
    * applies on the fast path — its pair was consumed — and lists where
    * a duplicate COULD re-apply fail invariant 3 into the sequential
    * path).
    */
  @transient private lazy val rankMap
      : java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, Integer]] = {
    val m = new java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, Integer]]()
    var i = 0
    while (i < leftSyms.length) {
      val inner = m.computeIfAbsent(
        leftSyms(i),
        _ => new java.util.HashMap[UTF8String, Integer]()
      )
      if (!inner.containsKey(rightSyms(i))) inner.put(rightSyms(i), Integer.valueOf(i))
      i += 1
    }
    m
  }

  /** Invariants 2 + 3 of the scaladoc (1 is a constructor require). */
  @transient private lazy val wellFormed: Boolean = {
    val outputs = new java.util.HashSet[String]()
    val components = new java.util.HashSet[String]()
    var ok = true
    var i = 0
    while (ok && i < merges.length) {
      val (a, b) = merges(i)
      def derivable(s: String): Boolean = s.length == 1 || outputs.contains(s)
      ok = derivable(a) && derivable(b) && !components.contains(a + b)
      components.add(a)
      components.add(b)
      outputs.add(a + b)
      i += 1
    }
    ok
  }

  private def rankOf(l: UTF8String, r: UTF8String): Int = {
    if (l == null || r == null) return Int.MaxValue
    val inner = rankMap.get(l)
    if (inner == null) return Int.MaxValue
    val v = inner.get(r)
    if (v == null) Int.MaxValue else v.intValue()
  }

  /** One left-to-right non-overlapping pass merging (l, r) → m in
    * place; returns the new length. Matches the fold exactly: a symbol
    * merged THIS pass (l+r) can never equal `l` (r is non-empty), so
    * the fold's acc-last check only ever fires on raw elements — which
    * is what the two-pointer skip implements.
    */
  private def mergePass(
      a: Array[UTF8String],
      len: Int,
      l: UTF8String,
      r: UTF8String,
      m: UTF8String
  ): Int = {
    var w = 0
    var i = 0
    while (i < len) {
      if (
        i < len - 1 && a(i) != null && a(i + 1) != null &&
        a(i).equals(l) && a(i + 1).equals(r)
      ) {
        a(w) = m
        i += 2
      } else {
        a(w) = a(i)
        i += 1
      }
      w += 1
    }
    w
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val cur = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      cur(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    var len = n
    if (wellFormed) {
      // min-rank loop: each iteration consumes the lowest rank present;
      // well-formedness makes that rank strictly increasing, so this IS
      // sequential application skipping the no-op passes
      var go = len >= 2
      while (go) {
        var best = Int.MaxValue
        var k = 0
        while (k < len - 1) {
          val rk = rankOf(cur(k), cur(k + 1))
          if (rk < best) best = rk
          k += 1
        }
        if (best == Int.MaxValue) go = false
        else {
          len = mergePass(cur, len, leftSyms(best), rightSyms(best), mergedSyms(best))
          if (len < 2) go = false
        }
      }
    } else {
      // exact sequential replay — one pass per merge in rank order
      var m = 0
      while (m < leftSyms.length && len >= 2) {
        len = mergePass(cur, len, leftSyms(m), rightSyms(m), mergedSyms(m))
        m += 1
      }
    }
    val out = new Array[Any](len)
    var o = 0
    while (o < len) { out(o) = cur(o); o += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeApplyMerges {
  /** Column-API entry point. */
  def bpeApplyMerges(syms: Column, merges: Seq[(String, String)]): Column =
    GraftColumnBridge.column(
      BpeApplyMerges(GraftColumnBridge.expression(syms), merges)
    )
}
