package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen text-hashing kernels. The HOF formulations in
  * [[TextFunctions]] (`aggregate(split(s,''))` etc.) are CodegenFallback
  * — interpreted per row with per-char lambda frames; these expressions
  * call tight static loops from inside WholeStageCodegen instead.
  * Identical integer results (same fold, same modulus), so the DuckDB
  * oracle fragments are unchanged.
  */
object HashKernels {

  /** fold(h*mul + codeunit) mod 1e9+7 over `s`'s UTF-16 code units,
    * continuing from `h` — the one character fold behind every polyhash
    * kernel here.
    */
  private def fold(h: Long, s: String, mul: Int): Long = {
    var acc = h
    var i = 0
    while (i < s.length) {
      acc = (acc * mul + s.charAt(i)) % TextFunctions.HashMod
      i += 1
    }
    acc
  }

  /** fold(h*31 + codeunit) mod 1e9+7 — same result as
    * [[TextFunctions.polyHash]] for any BMP text (fixtures are ASCII).
    */
  def polyHash(s: UTF8String): Long = fold(0L, s.toString, 31)

  /** polyHash of every n-token window joined by ' ', window start order
    * (empty when there are fewer than n tokens; n >= 1). Rolling
    * (Karp–Rabin) formulation: one O(chars) fold over the space-joined
    * text records the running hash/position at every token boundary,
    * then each window hash is O(1) via h(i..j) = pre(j) - pre(i)·31^(j-i)
    * (mod 1e9+7) — O(chars) per document instead of O(n·chars), and no
    * window strings are ever materialized.
    */
  private def windowHashes(toks: ArrayData, n: Int): Array[Long] = {
    val m0 = toks.numElements()
    val m = m0 - n + 1
    if (m < 1) return Array.emptyLongArray
    val startPre = new Array[Long](m0); val startPos = new Array[Int](m0)
    val endPre = new Array[Long](m0); val endPos = new Array[Int](m0)
    var h = 0L; var pos = 0
    var t = 0
    while (t < m0) {
      if (t > 0) { h = fold(h, " ", 31); pos += 1 }
      startPre(t) = h; startPos(t) = pos
      val s = toks.getUTF8String(t).toString
      h = fold(h, s, 31); pos += s.length
      endPre(t) = h; endPos(t) = pos
      t += 1
    }
    val pow = new Array[Long](pos + 1)
    pow(0) = 1L
    var k = 1
    while (k <= pos) { pow(k) = pow(k - 1) * 31 % TextFunctions.HashMod; k += 1 }
    val out = new Array[Long](m)
    var p = 0
    while (p < m) {
      val e = p + n - 1
      val fp = (endPre(e) - startPre(p) * pow(endPos(e) - startPos(p))) % TextFunctions.HashMod
      out(p) = if (fp < 0) fp + TextFunctions.HashMod else fp
      p += 1
    }
    out
  }

  /** The distinct values of `hs` in first-seen order. */
  private def distinctInOrder(hs: Array[Long]): ArrayData = {
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < hs.length) { seen.add(hs(i)); i += 1 }
    val out = new Array[Long](seen.size)
    val it = seen.iterator(); var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** Distinct hashes of n-token shingles (tokens joined by ' '), in
    * first-seen order, without materializing the shingle strings —
    * identical to polyHash(tok1 + " " + ... + tokn).
    */
  def shingleHashes(toks: ArrayData, n: Int): ArrayData =
    distinctInOrder(windowHashes(toks, n))

  /** 60-bit dual-family SimHash: low 30 bits are the per-bit majority
    * vote over the 31-multiplier token polyhash, high 30 bits over the
    * 37-multiplier partner (the audit pair — a salted 31-hash is affine
    * in the original per length class, a different MULTIPLIER is the
    * established independent second family). The point of the width:
    * 2 bands of 30 bits keep the hamming<=1 pigeonhole guarantee while
    * pushing band saturation (collision mass n²·nBands/2^bandBits) from
    * ~2^15 docs to ~2^30, and 60-bit hamming is a far tighter match
    * than 30-bit (decomposition in PLANS.md).
    */
  def simhashDual(toks: ArrayData): Long = {
    val n = toks.numElements()
    val counts = new Array[Int](60)
    var i = 0
    while (i < n) {
      val s = toks.getUTF8String(i).toString
      val h1 = fold(0L, s, 31)
      val h2 = fold(0L, s, 37)
      var b = 0
      while (b < 30) {
        if (((h1 >> b) & 1L) == 1L) counts(b) += 1
        if (((h2 >> b) & 1L) == 1L) counts(30 + b) += 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (counts(b) * 2 > n) sig |= 1L << b
      b += 1
    }
    sig
  }

  /** Token-hash bucket histogram: per-bucket counts of tokens whose
    * polyHash lands in each of nBuckets buckets — the hashed
    * bag-of-words featurizer (the fastText trick) behind the
    * quality-classifier training loop. One pass, O(chars) per doc;
    * returns array<long> of length nBuckets.
    */
  def bucketCounts(toks: ArrayData, nBuckets: Int): ArrayData = {
    val n = toks.numElements()
    val out = new Array[Long](nBuckets)
    var i = 0
    while (i < n) {
      out((polyHash(toks.getUTF8String(i)) % nBuckets).toInt) += 1
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Positional n-token shingle hashes: one struct<p:int, fp:long> per
    * window start (1-based p), where fp == polyHash of the space-joined
    * window — identical to polyHash(array_join(slice(toks, p, n), ' ')).
    * Empty for n < 1.
    */
  def positionalShingles(toks: ArrayData, n: Int): ArrayData = {
    val hs = if (n < 1) Array.emptyLongArray else windowHashes(toks, n)
    val out = new Array[AnyRef](hs.length)
    var p = 0
    while (p < hs.length) {
      out(p) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](p + 1, hs(p)))
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Run cuts for seed-and-extend repeat search. `ps` holds 1-based
    * n-token window starts (any order, no duplicates). For each start p,
    * in ascending order, one struct<p:int, len:int>: len counts the
    * tokens from p to the end of p's run of consecutive starts plus
    * n - 1. A repeat whose every n-window start is in `ps` cannot reach
    * past that point, so a suffix cut there keeps every such repeat
    * whole. O(|ps|) ints: the tokens are sliced per start by the caller.
    */
  def runCuts(ps: ArrayData, n: Int): ArrayData = {
    val starts = ps.toIntArray()
    java.util.Arrays.sort(starts)
    val out = new Array[AnyRef](starts.length)
    var i = 0
    while (i < starts.length) {
      var j = i
      while (j + 1 < starts.length && starts(j + 1) == starts(j) + 1) j += 1
      val last = starts(j) + n - 1
      var k = i
      while (k <= j) {
        out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](starts(k), last - starts(k) + 1))
        k += 1
      }
      i = j + 1
    }
    new GenericArrayData(out)
  }

  /** Token LCP: the number of leading positions at which `a` and `b`
    * hold equal tokens. */
  def tokenLcp(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n && a.getUTF8String(i) == b.getUTF8String(i)) i += 1
    i
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, MOSS): positional
    * n-token shingle hashes, then the DISTINCT minima of every length-w
    * window over the hash sequence (first-seen order). Shorter-than-w
    * sequences contribute their single global minimum, so every document
    * with at least one shingle has at least one fingerprint. Selection is
    * value-based (window minimum), which is what makes the fingerprint a
    * SET property of the text: any shared substring of >= w+n-1 tokens is
    * guaranteed to share a selected hash — the local-sampling guarantee
    * the density ~2/(w+1) buys. One tight loop, no shingle strings
    * materialized, codegen-friendly.
    */
  def winnowFingerprints(toks: ArrayData, n: Int, w: Int): ArrayData = {
    val hs = windowHashes(toks, n)
    val m = hs.length
    if (m < 1) return new GenericArrayData(Array.empty[Long])
    val nw = if (m >= w) m - w + 1 else 1
    val mins = new Array[Long](nw)
    var j = 0
    while (j < nw) {
      var mn = Long.MaxValue
      var i = j
      val end = math.min(j + w, m)
      while (i < end) { if (hs(i) < mn) mn = hs(i); i += 1 }
      mins(j) = mn
      j += 1
    }
    distinctInOrder(mins)
  }

  /** All ordered pairs (a < b) of an id array as struct<ida,idb> rows,
    * built in one tight loop over a sorted primitive copy. Replaces the
    * `sort_array` + nested transform/slice/flatten HOF pipeline, which
    * allocated O(n²) intermediate ARRAYS per group (each `slice` copies
    * the tail) plus a lambda frame per element; this emits exactly one
    * 2-field row per pair. Ids are arbitrary longs — no range
    * assumption, because scale replicas remap ids by copy-index steps
    * of 1e8..1e11 (a 32-bit packed-long scheme was tried first and
    * failed exactly on the 100x probe it existed to speed up).
    */
  def orderedPairs(ids: ArrayData): ArrayData = {
    val n = ids.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val a = ids.toLongArray()
    java.util.Arrays.sort(a)
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      val ai = a(i)
      var j = i + 1
      while (j < n) {
        out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](ai, a(j)))
        k += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Intersection size of two SORTED long arrays — one merge walk, no
    * per-row hash set, no allocation. The verify kernel for candidate
    * pairs: each pair carries its two sorted hash sets and the count
    * falls out in O(|a|+|b|).
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements(); val m = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  private val MinhashA: Array[Long] = TextFunctions.MinhashSeeds.map(_._1).toArray
  private val MinhashB: Array[Long] = TextFunctions.MinhashSeeds.map(_._2).toArray

  /** The 8-permutation MinHash signature of a shingle-hash array,
    * map-side: min over (a_j·h + b_j) mod p per seed — the same integer
    * math as `min(minhashPerm(h))` under a doc-keyed groupBy, without
    * pushing the shingle table through an exchange. Returns the 8 mins
    * as a struct row (m0..m7). Caller must guarantee a non-empty array
    * (empty-shingle docs are absent from the groupBy formulation too).
    */
  def minhashSig(hs: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = hs.numElements()
    val out = Array.fill(8)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < 8) {
        val v = java.lang.Math.floorMod(
          h * MinhashA(j) + MinhashB(j), TextFunctions.MinhashMod)
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](out(0), out(1), out(2), out(3), out(4), out(5), out(6), out(7)))
  }

  /** Per-document SimHash over a token array, map-side: per-bit majority
    * vote of the polyhash of every token occurrence. Same integer math
    * as the explode → groupBy(30 bit-sums) formulation it replaces, but
    * with NO shuffle at all — the signature stage of the simhash family
    * (pairs, triangles, dedup-cost, source-overlap) used to push the
    * whole token stream through a doc-keyed 31-column aggregate.
    */
  def simhash(toks: ArrayData, bits: Int): Long = {
    val n = toks.numElements()
    val counts = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val h = polyHash(toks.getUTF8String(i))
      var b = 0
      while (b < bits) {
        if (((h >> b) & 1L) == 1L) counts(b) += 1
        b += 1
      }
      i += 1
    }
    var s = 0L
    var b = 0
    while (b < bits) {
      if (counts(b) * 2 > n) s |= 1L << b
      b += 1
    }
    s
  }

  /** Distance-windowed co-occurrence pairs from a pos-sorted
    * struct<pos:int, tok:string> array: every (t1 ≤ t2) token pair whose
    * positions are within `w` of each other, skipping same-token pairs —
    * the map-side collocation emitter. Replaces a nested
    * transform/filter/slice HOF pipeline that copied a w-element slice
    * and allocated lambda frames PER POSITION (interpreted,
    * CodegenFallback); this is one forward scan with an early break on
    * the sorted positions.
    */
  def windowedPairs(a: ArrayData, w: Int): ArrayData = {
    val n = a.numElements()
    val out = new java.util.ArrayList[AnyRef]()
    var i = 0
    while (i < n) {
      val si = a.getStruct(i, 2)
      val pi = si.getInt(0)
      val ti = si.getUTF8String(1)
      var j = i + 1
      var done = false
      while (j < n && !done) {
        val sj = a.getStruct(j, 2)
        if (sj.getInt(0) > pi + w) done = true
        else {
          val tj = sj.getUTF8String(1)
          if (!ti.equals(tj)) {
            val first = ti.compareTo(tj) <= 0
            out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](if (first) ti.clone() else tj.clone(),
                if (first) tj.clone() else ti.clone())))
          }
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  private val Space = UTF8String.fromString(" ")

  /** Greedy LEFT-TO-RIGHT non-overlapping application of one BPE merge
    * (l, r) over a token array — the same fold as
    * [[TextFunctions.bpeMergeApply]] (which stays as the interpreted
    * cross-check oracle), in linear time and allocation: the HOF's
    * per-token `concat(acc, array(t))` copies the whole accumulator —
    * O(len²) work per DOCUMENT, measured as the `q_bpe_learn` hot loop.
    */
  def bpeMerge(toks: ArrayData, l: UTF8String, r: UTF8String): ArrayData = {
    val n = toks.numElements()
    val out = new Array[AnyRef](n)
    var m = 0
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (m > 0 && out(m - 1).asInstanceOf[UTF8String].equals(l) && t.equals(r)) {
        out(m - 1) = UTF8String.concat(l, Space, r)
      } else {
        // clone: the input may be an UnsafeArrayData view over a reused
        // row buffer; the output must own its bytes
        out(m) = t.clone()
        m += 1
      }
      i += 1
    }
    if (m == n) new GenericArrayData(out)
    else new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }
}

/** polyHash(string) as a codegen expression. */
case class PolyHashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    HashKernels.polyHash(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.polyHash($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Distinct n-gram shingle hashes of a token array, as array<long>. */
case class ShingleHashesExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    HashKernels.shingleHashes(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.shingleHashes($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Positional n-gram shingle hashes, as array<struct<p:int,fp:long>>;
  * the width is an int expression, so one class serves a literal width
  * and a width column alike.
  */
case class PositionalShinglesExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("fp", LongType, nullable = false))),
    containsNull = false)
  override protected def nullSafeEval(toks: Any, n: Any): Any =
    HashKernels.positionalShingles(toks.asInstanceOf[ArrayData], n.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, n) => s"graft.functions.HashKernels.positionalShingles($c, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Run cuts of an array of window starts, as
  * array<struct<p:int, len:int>>.
  */
case class RunCutsExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("len",
        org.apache.spark.sql.types.IntegerType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(v: Any): Any =
    HashKernels.runCuts(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.runCuts($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Token LCP of two token arrays, as an int. */
case class TokenLcpExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.tokenLcp(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.tokenLcp($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Winnowing fingerprints of a token array, as array<long>. */
case class WinnowFingerprintsExpr(child: Expression, n: Int, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    HashKernels.winnowFingerprints(v.asInstanceOf[ArrayData], n, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.winnowFingerprints($c, $n, $w)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** All a<b pairs of an id array, as array<struct<ida,idb>>. */
case class OrderedPairsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ida", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("idb", LongType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(v: Any): Any =
    HashKernels.orderedPairs(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.orderedPairs($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Intersection count of two sorted long arrays, as a codegen binary
  * expression.
  */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.HashKernels.sortedIntersectCount($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Map-side 8-permutation MinHash signature of a shingle-hash array, as
  * struct<m0..m7: long>.
  */
case class MinhashSigExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    (0 until 8).map(i =>
      org.apache.spark.sql.types.StructField(s"m$i", LongType, nullable = false)))
  override def nullSafeEval(v: Any): Any =
    HashKernels.minhashSig(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.minhashSig($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Map-side SimHash of a token array, as a long. */
case class SimhashExpr(child: Expression, bits: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    HashKernels.simhash(v.asInstanceOf[ArrayData], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.simhash($c, $bits)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Hashed bag-of-words bucket counts of a token array, as array<long>. */
case class BucketCountsExpr(child: Expression, nBuckets: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    HashKernels.bucketCounts(v.asInstanceOf[ArrayData], nBuckets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.bucketCounts($c, $nBuckets)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 60-bit dual-family SimHash of a token array. */
case class SimhashDualExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    HashKernels.simhashDual(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.simhashDual($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Windowed co-occurrence pairs of a pos-sorted struct<pos,tok> array,
  * as array<struct<t1,t2>>.
  */
case class WindowedPairsExpr(child: Expression, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "t1", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField(
        "t2", org.apache.spark.sql.types.StringType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(v: Any): Any =
    HashKernels.windowedPairs(v.asInstanceOf[ArrayData], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.windowedPairs($c, $w)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** One greedy BPE merge (l, r) over a token array, as array<string>. */
case class BpeMergeExpr(child: Expression, l: String, r: String) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  private lazy val lU = UTF8String.fromString(l)
  private lazy val rU = UTF8String.fromString(r)
  override def nullSafeEval(v: Any): Any =
    HashKernels.bpeMerge(v.asInstanceOf[ArrayData], lU, rU)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lRef = ctx.addReferenceObj("bpeMergeL", lU, classOf[UTF8String].getName)
    val rRef = ctx.addReferenceObj("bpeMergeR", rU, classOf[UTF8String].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.bpeMerge($c, $lRef, $rRef)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object HashExpressions {
  def polyHashFast(c: Column): Column =
    GraftShim.column(PolyHashExpr(GraftShim.expression(c)))
  def shingleHashesFast(toks: Column, n: Int): Column =
    GraftShim.column(ShingleHashesExpr(GraftShim.expression(toks), n))
  def positionalShinglesFast(toks: Column, n: Column): Column =
    GraftShim.column(PositionalShinglesExpr(GraftShim.expression(toks), GraftShim.expression(n)))
  def runCutsFast(ps: Column, n: Int): Column =
    GraftShim.column(RunCutsExpr(GraftShim.expression(ps), n))
  def tokenLcpFast(a: Column, b: Column): Column =
    GraftShim.column(TokenLcpExpr(GraftShim.expression(a), GraftShim.expression(b)))
  def orderedPairsFast(ids: Column): Column =
    GraftShim.column(OrderedPairsExpr(GraftShim.expression(ids)))
  def winnowFast(toks: Column, n: Int, w: Int): Column =
    GraftShim.column(WinnowFingerprintsExpr(GraftShim.expression(toks), n, w))
  def bpeMergeFast(toks: Column, l: String, r: String): Column =
    GraftShim.column(BpeMergeExpr(GraftShim.expression(toks), l, r))
  def sortedIntersectCountFast(a: Column, b: Column): Column =
    GraftShim.column(SortedIntersectCountExpr(
      GraftShim.expression(a), GraftShim.expression(b)))
  def windowedPairsFast(a: Column, w: Int): Column =
    GraftShim.column(WindowedPairsExpr(GraftShim.expression(a), w))
  def simhashFast(toks: Column, bits: Int = 30): Column =
    GraftShim.column(SimhashExpr(GraftShim.expression(toks), bits))
  def simhashDualFast(toks: Column): Column =
    GraftShim.column(SimhashDualExpr(GraftShim.expression(toks)))
  def bucketCountsFast(toks: Column, nBuckets: Int): Column =
    GraftShim.column(BucketCountsExpr(GraftShim.expression(toks), nBuckets))
  def minhashSigFast(hs: Column): Column =
    GraftShim.column(MinhashSigExpr(GraftShim.expression(hs)))
}
