package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.SparkShim
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the hot inner loops of the dedup /
  * similarity operators.
  *
  * The same math is expressible with `transform`/`aggregate` higher-order
  * functions, but those walk an expression tree per element (boxing every
  * long); on a 128-permutation MinHash over ~100 shingles that is ~13k
  * interpreted evals per row and dominated the benchmark (128s at sf0.1).
  * These expressions run one JIT-compiled primitive loop per row instead —
  * preference order (b) of the build rules: custom `Expression` beats UDF.
  *
  * All are deterministic, null-safe, and CodegenFallback (the per-row cost
  * is the internal loop, not the dispatch).
  */
object GraftFunctions {

  private def longArrayCheck(es: Expression*): TypeCheckResult =
    if (es.forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("expected array<bigint> input")

  /** Shared deterministic 64-bit mixer — the SINGLE definition used by
    * the native MinHash expression AND the plan-side coefficient/plane
    * generation in Dedup/Similarity; keeping one copy guarantees the two
    * families of signatures can never silently diverge.
    */
  private[graft] def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** MinHash signature of a shingle-hash array: sig(j) = min over shingles
    * of (h·a_j + b_j), 64-bit wraparound, a_j odd. Empty input → all
    * Long.MaxValue (matches `array_min` over an empty transform = null →
    * here saturated, so empty docs never collide with real ones).
    */
  case class MinHashSig(child: Expression, numHashes: Int)
      extends UnaryExpression with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult = longArrayCheck(child)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_minhash_sig"

    @transient private lazy val seedA: Array[Long] =
      Array.tabulate(numHashes)(j => splitmix64(2L * j) | 1L)
    @transient private lazy val seedB: Array[Long] =
      Array.tabulate(numHashes)(j => splitmix64(2L * j + 1))

    override def nullSafeEval(input: Any): Any = {
      val hs = input.asInstanceOf[ArrayData].toLongArray()
      val sig = new Array[Long](numHashes)
      var j = 0
      while (j < numHashes) {
        val a = seedA(j); val b = seedB(j)
        var best = Long.MaxValue
        var i = 0
        while (i < hs.length) {
          val v = hs(i) * a + b
          if (v < best) best = v
          i += 1
        }
        sig(j) = best
        j += 1
      }
      new GenericArrayData(sig)
    }
    override protected def withNewChildInternal(c: Expression): MinHashSig =
      copy(child = c)
  }

  /** Hashes of all `n`-token shingles of a token array: for window start i
    * (0 .. max(len-n, 0)), xxhash64(seed 42) of the space-joined window —
    * bit-identical to `transform(sequence(...), i => xxhash64(concat_ws(" ",
    * slice(toks, i+1, n))))` but one primitive loop per row.
    */
  case class NgramHashes(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    require(n >= 1)
    override def checkInputDataTypes(): TypeCheckResult =
      child.dataType match {
        case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure("expected array<string>")
      }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_ngram_hashes"

    @transient private lazy val space =
      org.apache.spark.unsafe.types.UTF8String.fromString(" ")

    override def nullSafeEval(input: Any): Any = {
      val ad = input.asInstanceOf[ArrayData]
      val len = ad.numElements()
      val toks = new Array[org.apache.spark.unsafe.types.UTF8String](len)
      var i = 0
      while (i < len) {
        toks(i) = ad.getUTF8String(i)
        i += 1
      }
      val windows = math.max(len - n, 0) + 1
      val out = new Array[Long](windows)
      i = 0
      while (i < windows) {
        val w = java.util.Arrays.copyOfRange(toks, i, math.min(i + n, len))
        val joined = org.apache.spark.unsafe.types.UTF8String.concatWs(space, w: _*)
        out(i) = XxHash64Function.hash(joined, StringType, 42L)
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): NgramHashes =
      copy(child = c)
  }

  /** 64-bit SimHash over an array of token hashes: bit i of the result is
    * set iff Σ_tokens (((h >>> i) & 1) == 1 ? +1 : -1) > 0.
    */
  case class SimHash64(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult = longArrayCheck(child)
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_simhash64"

    override def nullSafeEval(input: Any): Any = {
      val hs = input.asInstanceOf[ArrayData].toLongArray()
      val counts = new Array[Int](64)
      var i = 0
      while (i < hs.length) {
        val h = hs(i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
        i += 1
      }
      var sig = 0L
      var b = 0
      while (b < 64) {
        if (counts(b) > 0) sig |= (1L << b)
        b += 1
      }
      java.lang.Long.valueOf(sig)
    }
    override protected def withNewChildInternal(c: Expression): SimHash64 =
      copy(child = c)
  }

  /** Shared sort-merge set-intersection core of [[JaccardLong]] /
    * [[OverlapLong]]: copy+sort+dedup (skipped under `assumeSorted` —
    * the caller pre-sorted+deduped once per row, so pair verification
    * skips the per-pair O(n log n), the dominant cost when one row
    * joins many candidates), then one merge pass. No boxing, no hash
    * sets.
    */
  private[functions] trait SetSimilarityBase extends BinaryExpression {
    def assumeSorted: Boolean
    override def checkInputDataTypes(): TypeCheckResult =
      longArrayCheck(left, right)
    override def dataType: DataType = DoubleType

    private def sortedDistinct(a: Array[Long]): Array[Long] = {
      if (a.isEmpty) return a
      java.util.Arrays.sort(a)
      var n = 1
      var i = 1
      while (i < a.length) {
        if (a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
        i += 1
      }
      if (n == a.length) a else java.util.Arrays.copyOf(a, n)
    }

    /** From (intersection, |A|, |B|) to the similarity. */
    protected def score(inter: Int, na: Int, nb: Int): Double

    // public: called from generated code via a reference object
    final def compute(l: Any, r: Any): java.lang.Double = {
      val la = l.asInstanceOf[ArrayData].toLongArray()
      val ra = r.asInstanceOf[ArrayData].toLongArray()
      val a = if (assumeSorted) la else sortedDistinct(la)
      val b = if (assumeSorted) ra else sortedDistinct(ra)
      var i = 0; var j = 0; var inter = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      java.lang.Double.valueOf(score(inter, a.length, b.length))
    }

    override def nullSafeEval(l: Any, r: Any): Any = compute(l, r)

    // Real doGenCode (not CodegenFallback): the verifier runs once per
    // candidate PAIR in d2/d10 — keep the surrounding projection inside
    // whole-stage codegen and skip interpreted dispatch.
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("setSim", this)
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val tmp = ctx.freshName("setSimRes")
        s"""
           |java.lang.Double $tmp = (java.lang.Double) $ref.compute($a, $b);
           |${ev.value} = $tmp.doubleValue();
         """.stripMargin
      })
    }
  }

  /** Set-Jaccard of two long arrays: |distinct(A) ∩ distinct(B)| /
    * |distinct(A) ∪ distinct(B)| as a double (0.0 when both empty).
    */
  case class JaccardLong(left: Expression, right: Expression,
      assumeSorted: Boolean = false) extends SetSimilarityBase {
    override def prettyName: String = "graft_jaccard"
    override protected def score(inter: Int, na: Int, nb: Int): Double = {
      val union = na + nb - inter
      if (union == 0) 0.0 else inter.toDouble / union.toDouble
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): JaccardLong = copy(left = l, right = r)
  }

  /** Overlap (Szymkiewicz–Simpson) coefficient of two long arrays:
    * |distinct(A) ∩ distinct(B)| / min(|distinct(A)|, |distinct(B)|) —
    * equivalently max of the two directional containments, the measure
    * that catches subset/quote inclusion where Jaccard stays low (a
    * short doc fully quoted inside a long one has containment 1 but
    * Jaccard |short|/|long|). 0.0 when either side is empty.
    */
  case class OverlapLong(left: Expression, right: Expression,
      assumeSorted: Boolean = false) extends SetSimilarityBase {
    override def prettyName: String = "graft_overlap"
    override protected def score(inter: Int, na: Int, nb: Int): Double = {
      val den = math.min(na, nb)
      if (den == 0) 0.0 else inter.toDouble / den.toDouble
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): OverlapLong = copy(left = l, right = r)
  }

  /** Plain dot product of two float/double arrays, sequential double
    * accumulation in index order — the projection kernel (PCA, linear
    * probes). Null for dimension mismatch, like [[CosineSim]].
    */
  case class DotProd(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      })
      if (ok) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>/array<double> inputs")
    }
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_dot"

    private def toDoubles(v: Any, dt: DataType): Array[Double] = {
      val ad = v.asInstanceOf[ArrayData]
      dt.asInstanceOf[ArrayType].elementType match {
        case FloatType =>
          val f = ad.toFloatArray()
          val d = new Array[Double](f.length)
          var i = 0
          while (i < f.length) { d(i) = f(i).toDouble; i += 1 }
          d
        case _ => ad.toDoubleArray()
      }
    }

    def compute(l: Any, r: Any): java.lang.Double = {
      val a = toDoubles(l, left.dataType)
      val b = toDoubles(r, right.dataType)
      if (a.length != b.length) return null
      var dot = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); i += 1 }
      java.lang.Double.valueOf(dot)
    }

    override def nullSafeEval(l: Any, r: Any): Any = compute(l, r)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("dotProd", this)
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val tmp = ctx.freshName("dotRes")
        s"""
           |java.lang.Double $tmp = $ref.compute($a, $b);
           |if ($tmp == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $tmp.doubleValue(); }
         """.stripMargin
      })
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): DotProd = copy(left = l, right = r)
  }

  /** Cosine similarity of two float/double arrays with sequential double
    * accumulation in index order and final `dot / (sqrt(na) * sqrt(nb))` —
    * bit-identical to a C++ loop over the same values (DuckDB
    * `list_cosine_similarity` on DOUBLE[] parity).
    */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      })
      if (ok) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>/array<double> inputs")
    }
    override def dataType: DataType = DoubleType
    // returns null for dimension mismatch / zero vectors even when both
    // children are non-nullable — without this override NullPropagation
    // would fold isNull guards away and projections would skip the null
    // check, materializing 0.0 instead
    override def nullable: Boolean = true
    override def prettyName: String = "graft_cosine"

    // element accessors bound once at construction: the scoring loop
    // reads ArrayData in place — the previous body materialized BOTH
    // vectors as fresh double arrays per pair (a float side copied
    // twice), which made the 4M-pair knn-join stage allocation-bound
    // (~600ns/pair, mostly GC). Direct reads are bit-identical: the
    // float→double widening and the accumulation order are unchanged.
    // lazy: the case class is constructed mid-analysis with unresolved
    // children (NullType literals during coercion) — binding at first
    // eval sees the resolved types
    private lazy val leftIsFloat =
      left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    private lazy val rightIsFloat =
      right.dataType.asInstanceOf[ArrayType].elementType == FloatType

    /** The one scoring body — shared verbatim by the interpreted path
      * ([[nullSafeEval]]) and the generated code ([[doGenCode]]), so the
      * two can never diverge. Null (not NaN/0) for dimension mismatch
      * and zero/empty vectors: DuckDB raises on mismatch; silent
      * truncation would propagate wrong similarities downstream. A null
      * ELEMENT raises — a BEHAVIOR CHANGE vs pre-r14, where the
      * UnsafeArrayData fast path copied the element region without
      * null checks and silently read a null element as 0.0 (only the
      * GenericArrayData path NPE'd). The strict contract is
      * deliberate: a hole in a vector is corrupt data, not a zero.
      */
    def compute(l: Any, r: Any): java.lang.Double = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = a.numElements()
      if (n != b.numElements()) return null
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) throw new IllegalArgumentException(
          s"$prettyName: null element at index $i — vectors must be dense")
        val x = if (leftIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (rightIsFloat) b.getFloat(i).toDouble else b.getDouble(i)
        dot += x * y
        na += x * x
        nb += y * y
        i += 1
      }
      if (na == 0.0 || nb == 0.0) null
      else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
    }

    override def nullSafeEval(l: Any, r: Any): Any = compute(l, r)

    // Real doGenCode (not CodegenFallback): the inner loop of sim1/e1/
    // d9 joins. The fallback would re-materialize an InternalRow and box
    // both children per candidate PAIR; this stays inside the
    // whole-stage span and hands the already-evaluated ArrayData refs
    // straight to the scoring loop.
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("cosineSim", this)
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val tmp = ctx.freshName("cosRes")
        s"""
           |java.lang.Double $tmp = $ref.compute($a, $b);
           |if ($tmp == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $tmp.doubleValue(); }
         """.stripMargin
      })
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): CosineSim = copy(left = l, right = r)
  }

  /** Hamming distance between two packed sign-bit signatures
    * (`array<bigint>` of 32-bit words, see
    * [[graft.operators.Similarity.binarySignPack]]): popcount of the
    * XOR, word by word. Null for word-count mismatch (two signatures
    * from different dimensionalities are not comparable), mirroring
    * [[CosineSim]]'s mismatch contract. The inner loop is the candidate
    * scorer of the binary-quantization retrieval path — 64× less data
    * touched per pair than the float vectors it stands in for — so it
    * gets real codegen like the other join kernels.
    */
  case class HammingDist(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      longArrayCheck(left, right)
    override def dataType: DataType = IntegerType
    // null on word-count mismatch even under non-null children (the
    // CosineSim nullable rationale)
    override def nullable: Boolean = true
    override def prettyName: String = "graft_hamming"

    def compute(l: Any, r: Any): java.lang.Integer = {
      val a = l.asInstanceOf[ArrayData].toLongArray()
      val b = r.asInstanceOf[ArrayData].toLongArray()
      if (a.length != b.length) return null
      var d = 0
      var i = 0
      while (i < a.length) {
        d += java.lang.Long.bitCount(a(i) ^ b(i))
        i += 1
      }
      java.lang.Integer.valueOf(d)
    }

    override def nullSafeEval(l: Any, r: Any): Any = compute(l, r)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("hammingDist", this)
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val tmp = ctx.freshName("hamRes")
        s"""
           |java.lang.Integer $tmp = $ref.compute($a, $b);
           |if ($tmp == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $tmp.intValue(); }
         """.stripMargin
      })
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): HammingDist = copy(left = l, right = r)
  }

  /** Binary search over a time-sorted array of structs whose FIRST field is
    * a long timestamp: returns the last element with `ts <= t`, else null.
    * O(log n) per row vs the O(n) `element_at(filter(...), -1)` — the pick
    * step of [[graft.operators.AsOfJoin.broadcastBackward]] when per-key
    * histories are long.
    */
  case class AsOfPick(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
      case ArrayType(s: StructType, _)
        if s.fields.nonEmpty && s.fields.head.dataType == LongType &&
          right.dataType == LongType => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "expected (array<struct<long,...>>, long)")
    }
    override def dataType: DataType =
      left.dataType.asInstanceOf[ArrayType].elementType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_asof_pick"

    @transient private lazy val elemType =
      left.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

    override def nullSafeEval(arr: Any, t: Any): Any = {
      val ad = arr.asInstanceOf[ArrayData]
      val target = t.asInstanceOf[Long]
      var lo = 0
      var hi = ad.numElements() - 1
      var ans = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val ts = ad.getStruct(mid, elemType.length).getLong(0)
        if (ts <= target) { ans = mid; lo = mid + 1 } else hi = mid - 1
      }
      if (ans < 0) null else ad.getStruct(ans, elemType.length)
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): AsOfPick = copy(left = l, right = r)
  }

  /** Top-`n` nearest IVF cells by cosine, ONE primitive loop per row.
    * Replaces the O(nlist) `greatest(struct(cosine(vec, lit(centroid)),
    * i))` composition, whose plan carries nlist×dim literals and
    * re-evaluates a full expression tree per cell — at nlist=1024,
    * dim=1024 that plan doesn't even analyze in reasonable time, while
    * here the centroids ride the expression object (serialized once per
    * task) and assignment is nlist×dim multiply-adds.
    *
    * Ordering is EXACTLY the struct-comparison order of the composition
    * it replaces (parity spec-pinned): descending by (sim, cell), where
    * a null sim (zero/mismatched vector — [[CosineSim]] semantics) sorts
    * below every non-null and NaN sorts above everything
    * (`java.lang.Double.compare` = Spark's total order), ties on sim →
    * larger cell first. Null input vector → null.
    */
  /** `l2 = true` scores cells by NEGATED squared L2 distance instead of
    * cosine (the PQ-codebook metric): same total order semantics
    * (descending score, larger cell on ties), null only on dimension
    * mismatch — a zero vector is a valid L2 point.
    */
  case class TopCells(child: Expression,
      centroids: Array[Array[Double]], n: Int,
      bcCentroids: Option[
        org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]] = None,
      l2: Boolean = false)
      extends UnaryExpression with CodegenFallback {
    require((centroids.nonEmpty || bcCentroids.isDefined) && n >= 1,
      "need >=1 centroid and n >= 1")
    // Large codebooks (nlist × dim past ~1k × 1k) ride a broadcast
    // variable — fetched once per EXECUTOR — instead of the expression
    // object, which is serialized per TASK. Resolved lazily on first eval
    // so the driver-side plan never materializes the array twice.
    @transient private lazy val cents: Array[Array[Double]] =
      bcCentroids.map(_.value).getOrElse(centroids)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure("expected array<float|double>")
    }
    override def dataType: DataType =
      ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "graft_top_cells"

    override def nullSafeEval(input: Any): Any = {
      val ad = input.asInstanceOf[ArrayData]
      val isFloat = child.dataType.asInstanceOf[ArrayType]
        .elementType == FloatType
      val len = ad.numElements()
      val v = new Array[Double](len)
      var i = 0
      while (i < len) {
        if (ad.isNullAt(i)) return null
        v(i) = if (isFloat) ad.getFloat(i).toDouble else ad.getDouble(i)
        i += 1
      }
      // sims(c) = cosine(v, centroid c) under CosineSim's rules;
      // NaN sentinel for "null" (dimension mismatch / zero norm) would
      // collide with a genuine NaN sim, which must sort LARGEST — use a
      // parallel null mask instead
      val sims = new Array[Double](cents.length)
      val isNull = new Array[Boolean](cents.length)
      var c = 0
      while (c < cents.length) {
        val ct = cents(c)
        if (ct.length != len) isNull(c) = true
        else if (l2) {
          var d2 = 0.0
          var j = 0
          while (j < len) {
            val d = v(j) - ct(j); d2 += d * d; j += 1
          }
          sims(c) = -d2
        } else {
          var dot = 0.0; var na = 0.0; var nb = 0.0
          var j = 0
          while (j < len) {
            dot += v(j) * ct(j)
            na += v(j) * v(j)
            nb += ct(j) * ct(j)
            j += 1
          }
          if (na == 0.0 || nb == 0.0) isNull(c) = true
          else sims(c) = dot / (math.sqrt(na) * math.sqrt(nb))
        }
        c += 1
      }
      // descending (sim, cell) under Spark struct ordering
      val order = Array.range(0, cents.length).sortWith { (a, b) =>
        if (isNull(a) != isNull(b)) isNull(b) // non-null before null
        else if (isNull(a)) a > b // both null: larger cell first
        else {
          val cmp = java.lang.Double.compare(sims(a), sims(b))
          if (cmp != 0) cmp > 0 else a > b
        }
      }
      org.apache.spark.sql.catalyst.util.ArrayData
        .toArrayData(order.take(math.min(n, cents.length)))
    }
    override protected def withNewChildInternal(c: Expression): TopCells =
      copy(child = c)
  }

  /** Character n-grams of a string in ONE pass per row. The
    * `transform(sequence(1, len-n+1), i -> substr(t, i, n))` composition
    * this replaces re-evaluates the (normalized-text) child expression
    * per POSITION and pays UTF8String.substring's O(position) scan per
    * gram — O(len²) per document, measured at 35s for the t16 query at
    * sf0.1 vs ~1s here. Code-point-correct (DuckDB len/substr count
    * code points, not UTF-16 units). Null input → null; fewer than `n`
    * code points → empty array.
    */
  case class CharNgrams(child: Expression, n: Int)
      extends UnaryExpression {
    require(n >= 1, s"n must be >= 1, got $n")
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"expected a string column, got $other")
    }
    override def dataType: DataType =
      ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "graft_char_ngrams"

    /** Shared by eval and generated code (see [[CosineSim.compute]]). */
    def compute(input: Any): ArrayData = {
      val s = input
        .asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
      val cps = s.codePoints().toArray
      if (cps.length < n)
        return new GenericArrayData(Array.empty[Any])
      val out = new Array[Any](cps.length - n + 1)
      var i = 0
      while (i < out.length) {
        out(i) = org.apache.spark.unsafe.types.UTF8String
          .fromString(new String(cps, i, n))
        i += 1
      }
      new GenericArrayData(out)
    }

    override def nullSafeEval(input: Any): Any = compute(input)

    // Real doGenCode: t16's trigram explode evaluates this once per
    // DOCUMENT inside a generate+aggregate span — the fallback's
    // row-materialization there forced the whole span out of codegen.
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("charNgrams", this)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $ref.compute($c);")
    }
    override protected def withNewChildInternal(c: Expression): CharNgrams =
      copy(child = c)
  }

  /** Unicode normalization (java.text.Normalizer — the JDK's ICU-free
    * implementation of UAX #15): the web-scrape hygiene pass that makes
    * `café` (precomposed U+00E9) and `cafe´` (e + combining U+0301)
    * the SAME string before any fingerprint/dedup/shingle step — the
    * md5-exact dedup family treats byte-different canonical-equivalent
    * spellings as distinct documents otherwise. NFC is the
    * cross-engine-oracled form (DuckDB `nfc_normalize`); NFD/NFKC/NFKD
    * ride on the same codepath for callers that need compatibility
    * folding (ﬁ → fi) and are spec-pinned. Map-side, codegen'd,
    * no state — normalization at 100 TB is a pure scan transform.
    */
  case class UnicodeNormalize(child: Expression, form: String)
      extends UnaryExpression {
    require(Set("NFC", "NFD", "NFKC", "NFKD")(form),
      s"form must be NFC/NFD/NFKC/NFKD, got '$form'")
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"expected a string column, got $other")
    }
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_unicode_normalize"

    @transient private lazy val normForm =
      java.text.Normalizer.Form.valueOf(form)

    /** Shared by eval and generated code (see [[CosineSim.compute]]). */
    def compute(input: Any): org.apache.spark.unsafe.types.UTF8String = {
      val s = input
        .asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
      // isNormalized is a cheap scan that short-circuits the common
      // already-NFC case (ASCII and most web text) without allocating
      if (java.text.Normalizer.isNormalized(s, normForm))
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      else org.apache.spark.unsafe.types.UTF8String
        .fromString(java.text.Normalizer.normalize(s, normForm))
    }

    override def nullSafeEval(input: Any): Any = compute(input)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("unicodeNormalize", this)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $ref.compute($c);")
    }
    override protected def withNewChildInternal(
        c: Expression): UnicodeNormalize = copy(child = c)
  }

  /** Hashing-trick (feature-hashing) vectorizer: whitespace tokens of a
    * document → one fixed-width Int count vector, bucket =
    * md5-60(token) mod `numBuckets` — the stateless text→feature map
    * (Weinberger et al. 2009): no vocabulary to build, broadcast, or
    * keep consistent across 100 TB of partitions, so featurization is a
    * pure map-side pass with ZERO shuffles (an explode+groupBy
    * formulation shuffles every token). The bucket hash is the engine's
    * cross-engine md5-60 convention ([[graft.operators.Dedup.md5Hash60]]:
    * first 15 hex chars of md5, parsed base-16), so an external SQL
    * engine re-derives every count exactly. Empty/blank text → the
    * all-zero vector; null → null.
    */
  case class FeatureHash(child: Expression, numBuckets: Int)
      extends UnaryExpression {
    require(numBuckets >= 1 && numBuckets <= (1 << 20),
      s"numBuckets must be in [1, 2^20], got $numBuckets")
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"expected a string column, got $other")
    }
    override def dataType: DataType =
      ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "graft_feature_hash"

    /** Shared by eval and generated code (see [[CosineSim.compute]]). */
    def compute(input: Any): ArrayData = {
      val s = input
        .asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        .toString.trim
      val counts = new Array[Int](numBuckets)
      if (s.nonEmpty) {
        val md = java.security.MessageDigest.getInstance("MD5")
        val toks = s.split("\\s+")
        var i = 0
        while (i < toks.length) {
          val d = md.digest(
            toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          // first 15 hex chars of the md5 = bytes 0..6 big-endian plus
          // the high nibble of byte 7 — identical to Spark's
          // conv(substr(md5(t), 1, 15), 16, 10)
          var h = 0L
          var j = 0
          while (j < 7) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
          h = (h << 4) | ((d(7) & 0xf0L) >>> 4)
          counts((h % numBuckets).toInt) += 1
          md.reset()
          i += 1
        }
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(counts)
    }

    override def nullSafeEval(input: Any): Any = compute(input)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("featureHash", this)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $ref.compute($c);")
    }
    override protected def withNewChildInternal(c: Expression): FeatureHash =
      copy(child = c)
  }

  object Md5Hash60 {
    // One MessageDigest per thread, reused across rows: the builtin
    // md5()+substring()+conv() chain this replaces pays, per row, a new
    // MessageDigest, a 32-char hex String, a UTF8String wrap, a substring
    // copy, and NumberConverter's parse buffers — all to extract 60 bits
    // the digest's first 8 bytes already hold.
    private val digest = new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }
  }

  /** The engine's cross-engine md5-60 convention as ONE native expression:
    * first 60 bits of md5(utf8 bytes) as a non-negative long — bit-equal
    * to `conv(substring(md5(c), 1, 15), 16, 10)` (the first 15 hex chars
    * are bytes 0..6 big-endian plus the high nibble of byte 7, the same
    * identity [[FeatureHash]] already uses in-loop), but with zero
    * intermediate string materialization. This is the per-draw kernel of
    * every deterministic sampling/bootstrap/mixing operator
    * ([[graft.operators.Sampling.hashUniform]] and friends), evaluated
    * once per (row, replicate) in the exploded bootstrap paths — at B=40
    * replicates the old chain's allocations dominated the whole query.
    */
  case class Md5Hash60(child: Expression)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"expected a string column, got $other")
    }
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_md5_60"

    /** Shared by eval and generated code (see [[CosineSim.compute]]). */
    def compute(input: Any): Long = {
      val md = Md5Hash60.digest.get()
      md.reset() // a prior interrupted digest() must not leak state in
      val d = md.digest(input
        .asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
      var h = 0L
      var j = 0
      while (j < 7) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
      (h << 4) | ((d(7) & 0xf0L) >>> 4)
    }

    override def nullSafeEval(input: Any): Any = compute(input)

    // Real doGenCode: one long-returning call per row inside the
    // sampling families' codegen spans — no boxing, no fallback row.
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("md5Hash60", this)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $ref.compute($c);")
    }
    override protected def withNewChildInternal(c: Expression): Md5Hash60 =
      copy(child = c)
  }

  /** Unrestricted Damerau–Levenshtein distance (Lowrance–Wagner 1975):
    * minimum insertions + deletions + substitutions + transpositions of
    * two ADJACENT characters, where a transposed pair MAY be edited
    * again afterwards — the variant DuckDB's `damerau_levenshtein`
    * implements (DL("CA","ABC") = 2, where the restricted/OSA variant
    * says 3), so every output is integer-oracle-able. Transpositions
    * matter for record linkage: "recieve"/"receive" is DL 1 but
    * Levenshtein 2, so a lev≤1 blocking gate misses the most common
    * human typo class.
    *
    * The full (n+2)×(m+2) DP matrix is required (the transposition
    * recurrence reaches back to an arbitrary earlier row via the
    * last-seen-character index), so cost is O(n·m) time AND space —
    * inputs are capped at [[DamerauLevenshtein.MaxLen]] chars and
    * longer ones return null rather than silently burning quadratic
    * memory; linkage callers feed short keys (names, heads), never
    * whole documents. Comparison is by UTF-16 unit, identical to
    * codepoints on ASCII (the testdata corpus is ASCII-only, verified)
    * and to any engine's on the BMP.
    */
  case class DamerauLevenshtein(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType == StringType)
      if (ok) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string inputs")
    }
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_damerau"

    def compute(l: Any, r: Any): java.lang.Integer = {
      val s = l.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        .toString.toCharArray
      val t = r.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        .toString.toCharArray
      val n = s.length
      val m = t.length
      if (n > DamerauLevenshtein.MaxLen || m > DamerauLevenshtein.MaxLen)
        return null
      if (n == 0) return Integer.valueOf(m)
      if (m == 0) return Integer.valueOf(n)
      val inf = n + m
      // h is the (n+2)×(m+2) Lowrance–Wagner matrix, flattened
      val w = m + 2
      val h = new Array[Int]((n + 2) * w)
      h(0) = inf
      var i = 0
      while (i <= n) { h((i + 1) * w + 1) = i; h((i + 1) * w) = inf; i += 1 }
      var j = 0
      while (j <= m) { h(w + j + 1) = j; h(j + 1) = inf; j += 1 }
      // last row where each character of the alphabet occurred in s
      val da = new java.util.HashMap[Character, Integer]()
      i = 1
      while (i <= n) {
        var db = 0
        j = 1
        while (j <= m) {
          val i1 = { val v = da.get(t(j - 1)); if (v == null) 0 else v.intValue() }
          val j1 = db
          val cost = if (s(i - 1) == t(j - 1)) { db = j; 0 } else 1
          var best = h(i * w + j) + cost          // substitute / match
          val ins = h((i + 1) * w + j) + 1        // insert
          if (ins < best) best = ins
          val del = h(i * w + j + 1) + 1          // delete
          if (del < best) best = del
          val tr = h(i1 * w + j1) + (i - i1 - 1) + 1 + (j - j1 - 1)
          if (tr < best) best = tr                // transpose + gap edits
          h((i + 1) * w + j + 1) = best
          j += 1
        }
        da.put(s(i - 1), i)
        i += 1
      }
      Integer.valueOf(h((n + 1) * w + m + 1))
    }

    override def nullSafeEval(l: Any, r: Any): Any = compute(l, r)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("damerau", this)
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val tmp = ctx.freshName("dlRes")
        s"""
           |java.lang.Integer $tmp = $ref.compute($a, $b);
           |if ($tmp == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $tmp.intValue(); }
         """.stripMargin
      })
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): DamerauLevenshtein =
      copy(left = l, right = r)
  }

  object DamerauLevenshtein {
    /** Inputs longer than this return null — the O(n·m) matrix for two
      * 4096-char strings is ~64 MiB of Int, the sane per-row ceiling.
      */
    val MaxLen = 4096
  }

  /** Product-quantization encode: the vector splits into `m` equal
    * subspaces; each emits ONE byte — the index of the nearest (L2)
    * centroid in that subspace's codebook. 64 float dims become 8 bytes
    * (32× at rest / on the shuffle wire vs float32, 8× smaller than the
    * int8 scale-offset codes) — the compression that lets a 100 TB
    * embedding corpus sit in executor memory for in-partition re-rank.
    * Codebooks (`m × ksub × dsub` doubles) ride the closure like IVF's
    * plan-literal centroids. Null/mismatched-length vectors → null.
    */
  case class PqEncode(child: Expression,
      codebooks: Array[Array[Array[Double]]])
      extends UnaryExpression with CodegenFallback {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty) &&
      codebooks.forall(_.length <= 256), "need 1..256 centroids per subspace")
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure("expected array<float|double>")
    }
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_pq_encode"

    @transient private lazy val dsub = codebooks(0)(0).length
    @transient private lazy val dim = codebooks.length * dsub

    override def nullSafeEval(input: Any): Any = {
      val ad = input.asInstanceOf[ArrayData]
      if (ad.numElements() != dim) return null
      val isFloat = child.dataType.asInstanceOf[ArrayType]
        .elementType == FloatType
      val v = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        // a null ELEMENT has no encodable value — silently reading it as
        // 0.0 (unsafe arrays) or NPEing (generic arrays) would fabricate
        // a vector; treat like a null/mismatched vector instead
        if (ad.isNullAt(i)) return null
        v(i) = if (isFloat) ad.getFloat(i).toDouble else ad.getDouble(i)
        i += 1
      }
      val codes = new Array[Byte](codebooks.length)
      var j = 0
      while (j < codebooks.length) {
        val cb = codebooks(j)
        val off = j * dsub
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cb.length) {
          var d = 0.0
          var t = 0
          while (t < dsub) {
            val diff = v(off + t) - cb(c)(t)
            d += diff * diff
            t += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        codes(j) = best.toByte // 0..255 wraps into the signed byte; decode
                               // re-reads it & 0xFF
        j += 1
      }
      codes
    }
    override protected def withNewChildInternal(c: Expression): PqEncode =
      copy(child = c)
  }

  /** Product-quantization decode: m code bytes → the concatenation of the
    * selected codebook centroids (`array<double>` of the original dim).
    */
  case class PqDecode(child: Expression,
      codebooks: Array[Array[Array[Double]]])
      extends UnaryExpression with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure("expected binary pq codes")
    }
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "graft_pq_decode"

    @transient private lazy val dsub = codebooks(0)(0).length

    override def nullSafeEval(input: Any): Any = {
      val codes = input.asInstanceOf[Array[Byte]]
      if (codes.length != codebooks.length) return null
      val out = new Array[Double](codes.length * dsub)
      var j = 0
      while (j < codes.length) {
        val cb = codebooks(j)
        val idx = codes(j) & 0xFF
        if (idx >= cb.length) return null // code from a different codebook
        System.arraycopy(cb(idx), 0, out, j * dsub, dsub)
        j += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): PqDecode =
      copy(child = c)
  }

  /** ADC (asymmetric distance computation) query-side lookup table: for
    * ONE query vector, the dot product of each subspace's query slice
    * with EVERY codeword of that subspace's codebook, flattened in
    * codebook order, with the query's squared norm in slot 0. Evaluated
    * once per query row (the small broadcast side — O(ksub·dim) per
    * query); after it exists, scoring a PQ-coded candidate is `m` table
    * lookups ([[PqAdcScore]]) instead of an O(dim) decode + O(dim)
    * cosine. This is the standard PQ search loop (Jégou et al., §IV-A:
    * "the distance to each centroid is computed once and stored in a
    * lookup table"). Null on null / wrong-length / null-element vectors,
    * mirroring [[PqEncode]].
    */
  case class PqAdcLut(child: Expression,
      codebooks: Array[Array[Array[Double]]])
      extends UnaryExpression with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure("expected array<float|double>")
    }
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "graft_pq_adc_lut"

    @transient private lazy val dsub = codebooks(0)(0).length
    @transient private lazy val dim = codebooks.length * dsub
    @transient private lazy val nCodes = codebooks.map(_.length).sum

    override def nullSafeEval(input: Any): Any = {
      val ad = input.asInstanceOf[ArrayData]
      if (ad.numElements() != dim) return null
      val isFloat = child.dataType.asInstanceOf[ArrayType]
        .elementType == FloatType
      val v = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        if (ad.isNullAt(i)) return null
        v(i) = if (isFloat) ad.getFloat(i).toDouble else ad.getDouble(i)
        i += 1
      }
      val out = new Array[Double](1 + nCodes)
      // query squared norm: the same flat index-order fold CosineSim does
      var na = 0.0
      i = 0
      while (i < dim) { na += v(i) * v(i); i += 1 }
      out(0) = na
      var slot = 1
      var j = 0
      while (j < codebooks.length) {
        val cb = codebooks(j)
        val off = j * dsub
        var c = 0
        while (c < cb.length) {
          var d = 0.0
          var t = 0
          while (t < dsub) { d += v(off + t) * cb(c)(t); t += 1 }
          out(slot) = d
          slot += 1
          c += 1
        }
        j += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): PqAdcLut =
      copy(child = c)
  }

  /** ADC score: cosine(query, decode(codes)) reconstructed from `m` table
    * lookups — `dot = Σ_j lut[code_j]`, `‖decode‖² = Σ_j normLut[code_j]`
    * (codeword squared norms are query-independent plan constants). O(m)
    * per candidate pair vs O(dim) for decode+cosine, and the corpus side
    * of the join carries only the m code bytes. Values match the
    * decode+cosine path up to floating-point re-grouping (per-subspace
    * partial sums instead of one flat fold — |Δ| at ulp scale,
    * spec-pinned); zero-norm and malformed inputs return null exactly
    * like [[CosineSim]].
    */
  case class PqAdcScore(left: Expression, right: Expression,
      normLut: Array[Double], offsets: Array[Int])
      extends BinaryExpression {
    require(offsets.length >= 2 && offsets.head == 0 &&
      offsets.last == normLut.length, "offsets must be cumulative over normLut")
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (BinaryType, ArrayType(DoubleType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure(
          "expected (binary pq codes, array<double> adc lut)")
      }
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_pq_adc_score"

    /** Shared by eval and generated code (see [[CosineSim.compute]]). */
    def compute(l: Any, r: Any): java.lang.Double = {
      val codes = l.asInstanceOf[Array[Byte]]
      val lut = r.asInstanceOf[ArrayData]
      val m = offsets.length - 1
      if (codes.length != m) return null
      if (lut.numElements() != 1 + normLut.length) return null
      val na = lut.getDouble(0)
      var dot = 0.0
      var nb = 0.0
      var j = 0
      while (j < m) {
        val idx = codes(j) & 0xFF
        val base = offsets(j)
        // a code byte from a differently-sized codebook indexes past this
        // subspace's slice — null, like PqDecode's out-of-range guard
        if (base + idx >= offsets(j + 1)) return null
        dot += lut.getDouble(1 + base + idx)
        nb += normLut(base + idx)
        j += 1
      }
      if (na == 0.0 || nb == 0.0) null
      else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
    }

    override def nullSafeEval(l: Any, r: Any): Any = compute(l, r)

    // Real doGenCode: the per-candidate-PAIR inner loop of sim6/sim7 —
    // the hottest expression in the ADC search path.
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqAdcScore", this)
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val tmp = ctx.freshName("adcRes")
        s"""
           |java.lang.Double $tmp = $ref.compute($a, $b);
           |if ($tmp == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $tmp.doubleValue(); }
         """.stripMargin
      })
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): PqAdcScore =
      copy(left = l, right = r)
  }

  /** Byte-pair-encoding application (Sennrich et al., "Neural Machine
    * Translation of Rare Words with Subword Units"; the GPT-2 greedy
    * variant): the text splits on whitespace, and each pre-token is
    * encoded from its code-point symbols by repeatedly merging the
    * adjacent pair with the LOWEST merge rank (all occurrences, left to
    * right) until no pair is in the merge table. `merges` is the
    * ordered table — rank = index — produced by
    * `TextAnalysis.trainBpe` or loaded from any GPT-2-style merges
    * file. Output: array of subword token strings; with an EMPTY table
    * the encoding degenerates to code-point symbols (the t17b oracle
    * regime). Null text → null.
    *
    * The merge table rides the serialized expression (one copy per
    * task) — fine to the ~50k merges of a production vocab (≲1 MB);
    * per-word memoization makes the per-row cost ~one cache hit per
    * Zipf-repeated word. Deterministic: same text + same table → same
    * tokens, regardless of partitioning or cache state.
    */
  /** The greedy BPE word encoder shared by the [[BpeEncode]] expression
    * (executor side) and `TextAnalysis.trainBpe`'s driver-local trainer —
    * ONE definition, so the two paths can never segment differently.
    * `rank` maps "l\u0000r" -> merge rank (NUL separator: cannot occur
    * inside a symbol, since symbols come from whitespace-split words).
    */
  private[graft] def bpeRankMap(
      merges: Seq[(String, String)]): java.util.HashMap[String, Int] = {
    val m = new java.util.HashMap[String, Int](merges.length * 2)
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      m.putIfAbsent(l + "\u0000" + r, i)
    }
    m
  }

  private[graft] def bpeEncodeWord(w: String,
      rank: java.util.HashMap[String, Int]): Array[String] = {
    var syms = {
      val cps = w.codePoints().toArray
      val a = new Array[String](cps.length)
      var i = 0
      while (i < cps.length) {
        a(i) = new String(Character.toChars(cps(i))); i += 1
      }
      a
    }
    var done = syms.length < 2
    while (!done) {
      // lowest-rank adjacent pair
      var best = Int.MaxValue
      var bl: String = null; var br: String = null
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrDefault(syms(i) + "\u0000" + syms(i + 1),
          Int.MaxValue)
        if (r < best) { best = r; bl = syms(i); br = syms(i + 1) }
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        // merge ALL occurrences, left to right
        val out = new Array[String](syms.length)
        var n = 0; var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == bl && syms(j + 1) == br) {
            out(n) = bl + br; n += 1; j += 2
          } else { out(n) = syms(j); n += 1; j += 1 }
        }
        syms = java.util.Arrays.copyOf(out, n)
        if (syms.length < 2) done = true
      }
    }
    syms
  }

  case class BpeEncode(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression with CodegenFallback {
    require(merges.length <= 65536, "merge table capped at 65536")
    override def checkInputDataTypes(): TypeCheckResult =
      child.dataType match {
        case StringType => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"expected a string column, got $other")
      }
    override def dataType: DataType =
      ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "graft_bpe_encode"

    @transient private lazy val rank: java.util.HashMap[String, Int] =
      bpeRankMap(merges)
    // per-word memo (bounded; cleared when full — correctness never
    // depends on it, encodeWord is a pure function)
    @transient private lazy val memo =
      new java.util.HashMap[String, Array[Any]]()

    private def encodeWord(w: String): Array[Any] = {
      val cached = memo.get(w)
      if (cached != null) return cached
      val toks: Array[Any] = bpeEncodeWord(w, rank).map(s =>
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      if (memo.size >= 65536) memo.clear()
      memo.put(w, toks)
      toks
    }

    override def nullSafeEval(input: Any): Any = {
      val s = input
        .asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
      // split on \s only — Java trim() would ALSO strip non-\s edge
      // control chars (<= U+0020) and diverge from the \s-based oracle
      val words = s.split("\\s+").filter(_.nonEmpty)
      val out = new java.util.ArrayList[Any]()
      var i = 0
      while (i < words.length) {
        val toks = encodeWord(words(i))
        var j = 0
        while (j < toks.length) { out.add(toks(j)); j += 1 }
        i += 1
      }
      new GenericArrayData(out.toArray)
    }
    override protected def withNewChildInternal(c: Expression): BpeEncode =
      copy(child = c)
  }

  // ---- Column API ----

  /** BPE subword encoding (see [[BpeEncode]]). */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    SparkShim.toColumn(BpeEncode(SparkShim.toExpression(text), merges))

  def ngramHashes(toks: Column, n: Int): Column =
    SparkShim.toColumn(NgramHashes(SparkShim.toExpression(toks), n))

  def minhashSig(shingles: Column, numHashes: Int): Column =
    SparkShim.toColumn(
      MinHashSig(SparkShim.toExpression(shingles), numHashes))

  def md5Hash60(c: Column): Column =
    SparkShim.toColumn(Md5Hash60(SparkShim.toExpression(c)))

  /** Exact second-moment aggregate over quantized vectors (see
    * [[MomentSumsAgg]]); `vec` must be array<decimal(<=18,scale)>.
    */
  def momentSumsAgg(vec: Column, dim: Int, scale: Int): Column =
    SparkShim.toColumn(MomentSumsAgg(SparkShim.toExpression(vec),
      dim, scale).toAggregateExpression())

  def simhash64(tokenHashes: Column): Column =
    SparkShim.toColumn(SimHash64(SparkShim.toExpression(tokenHashes)))

  def jaccard(a: Column, b: Column): Column =
    SparkShim.toColumn(JaccardLong(
      SparkShim.toExpression(a), SparkShim.toExpression(b)))

  /** Jaccard over arrays the caller has already sorted+deduped. */
  def jaccardSorted(a: Column, b: Column): Column =
    SparkShim.toColumn(JaccardLong(
      SparkShim.toExpression(a), SparkShim.toExpression(b), assumeSorted = true))

  /** Overlap coefficient (max directional containment; see
    * [[OverlapLong]]).
    */
  def overlap(a: Column, b: Column): Column =
    SparkShim.toColumn(OverlapLong(
      SparkShim.toExpression(a), SparkShim.toExpression(b)))

  /** Overlap over arrays the caller has already sorted+deduped. */
  def overlapSorted(a: Column, b: Column): Column =
    SparkShim.toColumn(OverlapLong(
      SparkShim.toExpression(a), SparkShim.toExpression(b), assumeSorted = true))

  /** Misra-Gries frequent-items aggregate (see [[FreqItems]]). */
  def freqItems(item: Column, capacity: Int): Column =
    SparkShim.toColumn(
      FreqItems(SparkShim.toExpression(item), capacity).toAggregateExpression())

  /** Exact bounded top-k aggregate (see [[TopKPairs]]). */
  def topKPairs(id: Column, score: Column, k: Int): Column =
    SparkShim.toColumn(TopKPairs(SparkShim.toExpression(id),
      SparkShim.toExpression(score), k).toAggregateExpression())

  /** One-pass character n-grams (see [[CharNgrams]]). */
  def charNgrams(text: Column, n: Int): Column =
    SparkShim.toColumn(CharNgrams(SparkShim.toExpression(text), n))

  /** Hashing-trick count vectorizer (see [[FeatureHash]]). */
  def featureHash(text: Column, numBuckets: Int): Column =
    SparkShim.toColumn(FeatureHash(SparkShim.toExpression(text), numBuckets))

  /** Unicode normalization (see [[UnicodeNormalize]]). */
  def unicodeNormalize(text: Column, form: String = "NFC"): Column =
    SparkShim.toColumn(UnicodeNormalize(SparkShim.toExpression(text), form))

  /** Unrestricted Damerau–Levenshtein distance (see
    * [[DamerauLevenshtein]]).
    */
  def damerau(left: Column, right: Column): Column =
    SparkShim.toColumn(DamerauLevenshtein(
      SparkShim.toExpression(left), SparkShim.toExpression(right)))

  /** Mergeable GK quantile sketches (see [[QuantileSketchAgg]]). */
  def quantileSketch(value: Column, eps: Double = 1e-4): Column =
    SparkShim.toColumn(QuantileSketchAgg(
      SparkShim.toExpression(value), eps).toAggregateExpression())

  /** Count-Min sketch aggregate (see [[CountMinAgg]]). */
  def countMin(item: Column, depth: Int, width: Int): Column =
    SparkShim.toColumn(CountMinAgg(
      SparkShim.toExpression(item), depth, width).toAggregateExpression())

  def cmMerge(sketch: Column): Column =
    SparkShim.toColumn(CmMergeAgg(
      SparkShim.toExpression(sketch)).toAggregateExpression())

  def cmEstimate(sketch: Column, item: Column): Column =
    SparkShim.toColumn(CmEstimate(
      SparkShim.toExpression(sketch), SparkShim.toExpression(item)))

  /** Scalar two-sketch union (see [[CmUnion]]). */
  def cmUnion(a: Column, b: Column): Column =
    SparkShim.toColumn(CmUnion(
      SparkShim.toExpression(a), SparkShim.toExpression(b)))

  /** Theta sketch aggregate (see [[ThetaSketchAgg]]). */
  def theta(item: Column, k: Int): Column =
    SparkShim.toColumn(ThetaSketchAgg(
      SparkShim.toExpression(item), k).toAggregateExpression())

  def thetaMerge(sketch: Column): Column =
    SparkShim.toColumn(ThetaMergeAgg(
      SparkShim.toExpression(sketch)).toAggregateExpression())

  def thetaEstimate(sketch: Column): Column =
    SparkShim.toColumn(ThetaEstimate(SparkShim.toExpression(sketch)))

  /** Scalar set algebra over two sketches (see [[ThetaSetOp]]). */
  def thetaSetOp(a: Column, b: Column, op: String): Column =
    SparkShim.toColumn(ThetaSetOp(SparkShim.toExpression(a),
      SparkShim.toExpression(b),
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(op),
        StringType)))

  def quantileMerge(sketch: Column): Column =
    SparkShim.toColumn(QuantileMergeAgg(
      SparkShim.toExpression(sketch)).toAggregateExpression())

  def quantileEstimate(sketch: Column, p: Column): Column =
    SparkShim.toColumn(QuantileEstimate(
      SparkShim.toExpression(sketch), SparkShim.toExpression(p)))

  /** Scalar two-sketch union (see [[QuantileUnion]]). */
  def quantileUnion(a: Column, b: Column): Column =
    SparkShim.toColumn(QuantileUnion(
      SparkShim.toExpression(a), SparkShim.toExpression(b)))

  def asofPick(arr: Column, t: Column): Column =
    SparkShim.toColumn(AsOfPick(
      SparkShim.toExpression(arr), SparkShim.toExpression(t)))

  def cosine(a: Column, b: Column): Column =
    SparkShim.toColumn(CosineSim(
      SparkShim.toExpression(a), SparkShim.toExpression(b)))

  def dot(a: Column, b: Column): Column =
    SparkShim.toColumn(DotProd(
      SparkShim.toExpression(a), SparkShim.toExpression(b)))

  def hamming(a: Column, b: Column): Column =
    SparkShim.toColumn(HammingDist(
      SparkShim.toExpression(a), SparkShim.toExpression(b)))

  def topCells(vec: Column, centroids: Array[Array[Double]], n: Int,
      l2: Boolean = false): Column =
    SparkShim.toColumn(
      TopCells(SparkShim.toExpression(vec), centroids, n, None, l2))

  /** Broadcast-codebook variant: centroids travel as a broadcast variable
    * (one executor-side fetch), not on the serialized expression (one copy
    * per task). Use past ~1k cells × 1k dims.
    */
  def topCellsBc(vec: Column,
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      n: Int, l2: Boolean = false): Column =
    SparkShim.toColumn(
      TopCells(SparkShim.toExpression(vec), Array.empty, n, Some(bc), l2))

  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    SparkShim.toColumn(PqEncode(SparkShim.toExpression(vec), codebooks))

  def pqDecode(codes: Column, codebooks: Array[Array[Array[Double]]]): Column =
    SparkShim.toColumn(PqDecode(SparkShim.toExpression(codes), codebooks))

  def pqAdcLut(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    SparkShim.toColumn(PqAdcLut(SparkShim.toExpression(vec), codebooks))

  def pqAdcScore(codes: Column, lut: Column,
      codebooks: Array[Array[Array[Double]]]): Column = {
    val offsets = codebooks.scanLeft(0)(_ + _.length)
    val normLut = codebooks.flatMap(_.map { cw =>
      var s = 0.0; var t = 0
      while (t < cw.length) { s += cw(t) * cw(t); t += 1 }
      s
    })
    SparkShim.toColumn(PqAdcScore(SparkShim.toExpression(codes),
      SparkShim.toExpression(lut), normLut, offsets))
  }

  /** Gopher-style repetition statistics in ONE pass over the text —
    * struct(dup_line_frac, dup_line_char_frac, top_bigram_frac):
    *
    *  - dup_line_frac:      (lines − distinct lines) / lines, lines split
    *                        on '\n' with empties kept
    *  - dup_line_char_frac: chars in occurrences 2..k of each repeated
    *                        line / total line chars (0 when no chars)
    *  - top_bigram_frac:    count of the most frequent whitespace-token
    *                        bigram / total bigrams (0 when < 2 tokens)
    *
    * All three are small-integer-count divisions — bit-identical across
    * engines (no transcendentals), so the query is fully hash-oracled.
    * Map-side, zero shuffle: the per-doc hash maps live inside one
    * expression eval, the right shape for a 100 TB quality-filter scan.
    * (The same stats via explode + two groupBy(doc_id) reaggregations
    * would shuffle the corpus twice.)
    */
  case class RepetitionStats(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult =
      child.dataType match {
        case StringType => TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure("expected string")
      }
    override def dataType: DataType = StructType(Seq(
      StructField("dup_line_frac", DoubleType, nullable = false),
      StructField("dup_line_char_frac", DoubleType, nullable = false),
      StructField("top_bigram_frac", DoubleType, nullable = false)))
    override def prettyName: String = "graft_repetition_stats"

    override def nullSafeEval(input: Any): Any = {
      val utf8 = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      val text = utf8.toString
      // ---- line stats (split on \n, keep empties — both engines do) ----
      val lines = text.split("\n", -1)
      val lineCount = new java.util.HashMap[String, Int]()
      var totalChars = 0L
      var dupChars = 0L
      var i = 0
      while (i < lines.length) {
        val ln = lines(i)
        val n = ln.codePointCount(0, ln.length)
        totalChars += n
        val seen = lineCount.merge(ln, 1, Integer.sum)
        if (seen > 1) dupChars += n // occurrences 2..k
        i += 1
      }
      val nLines = lines.length
      val dupLineFrac = (nLines - lineCount.size).toDouble / nLines
      val dupCharFrac = if (totalChars > 0) dupChars.toDouble / totalChars
        else 0.0
      // ---- top bigram (whitespace tokens of trimmed text) ----
      // UTF8String.trim, not String.trim: SQL trim (Spark AND DuckDB)
      // strips only ' ', while java.lang.String.trim strips all <= 0x20
      val toks = utf8.trim.toString.split("\\s+", -1)
      val nBigrams = math.max(toks.length - 1, 0)
      var top = 0
      if (nBigrams > 0) {
        val bg = new java.util.HashMap[String, Int]()
        i = 0
        while (i < toks.length - 1) {
          val c = bg.merge(toks(i) + " " + toks(i + 1), 1, Integer.sum)
          if (c > top) top = c
          i += 1
        }
      }
      val topBigramFrac = if (nBigrams > 0) top.toDouble / nBigrams else 0.0
      org.apache.spark.sql.catalyst.InternalRow(
        dupLineFrac, dupCharFrac, topBigramFrac)
    }
    override protected def withNewChildInternal(c: Expression): RepetitionStats =
      copy(child = c)
  }

  def repetitionStats(text: Column): Column =
    SparkShim.toColumn(RepetitionStats(SparkShim.toExpression(text)))

  /** The FULL Gopher repetition battery (Rae et al. 2021, Table A1 —
    * the signals [[RepetitionStats]] samples from): per document,
    *
    *   - `top_{2,3,4}gram_char_frac`: characters claimed by the most
    *     frequent word n-gram (count × gram chars) over total token
    *     characters. Most-frequent ties break by (char length DESC,
    *     UTF-8 byte order ASC) — a total order any engine re-derives.
    *   - `dup_{5..10}gram_char_frac`: characters of token POSITIONS
    *     covered by any n-gram occurring more than once, counted once
    *     per position (the paper's "take care not to count characters
    *     multiple times").
    *
    * Characters = codepoints of tokens (whitespace excluded from both
    * numerator and denominator — well-defined in SQL as len()).
    * Tokens = `\s+` split of the space-trimmed text, empties kept
    * (the t12/t19 cross-engine convention). One map-side pass, zero
    * shuffle; a relational formulation would shuffle the corpus nine
    * times.
    */
  case class GopherStats(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult =
      child.dataType match {
        case StringType => TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure("expected string")
      }
    private val topNs = Seq(2, 3, 4)
    private val dupNs = Seq(5, 6, 7, 8, 9, 10)
    override def dataType: DataType = StructType(
      topNs.map(n => StructField(s"top_${n}gram_char_frac", DoubleType,
        nullable = false)) ++
        dupNs.map(n => StructField(s"dup_${n}gram_char_frac", DoubleType,
          nullable = false)))
    override def prettyName: String = "graft_gopher_stats"

    // UTF-8 byte order (== DuckDB/Spark string ORDER BY), not UTF-16
    private def utf8Lt(a: String, b: String): Boolean = {
      val ba = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(ba.length, bb.length)
      while (i < n) {
        val c = (ba(i) & 0xff) - (bb(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      ba.length < bb.length
    }

    override def nullSafeEval(input: Any): Any = {
      val utf8 = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      val toks = utf8.trim.toString.split("\\s+", -1)
      val chars = toks.map(t => t.codePointCount(0, t.length))
      val total = chars.map(_.toLong).sum
      val out = new Array[Any](topNs.length + dupNs.length)
      var oi = 0
      for (n <- topNs) {
        var frac = 0.0
        if (total > 0 && toks.length >= n) {
          val cnt = new java.util.HashMap[String, Int]()
          var i = 0
          while (i + n <= toks.length) {
            cnt.merge(toks.slice(i, i + n).mkString(" "), 1, Integer.sum)
            i += 1
          }
          var bestGram: String = null
          var bestCnt = 0
          var bestChars = -1
          val it = cnt.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val g = e.getKey
            val c = e.getValue
            // gram chars = len minus the n-1 joining spaces
            val gc = g.codePointCount(0, g.length) - (n - 1)
            val better = c > bestCnt ||
              (c == bestCnt && (gc > bestChars ||
                (gc == bestChars && utf8Lt(g, bestGram))))
            if (better) { bestGram = g; bestCnt = c; bestChars = gc }
          }
          frac = bestCnt.toLong * bestChars / total.toDouble
        }
        out(oi) = frac; oi += 1
      }
      for (n <- dupNs) {
        var frac = 0.0
        if (total > 0 && toks.length >= n) {
          val cnt = new java.util.HashMap[String, Int]()
          var i = 0
          while (i + n <= toks.length) {
            cnt.merge(toks.slice(i, i + n).mkString(" "), 1, Integer.sum)
            i += 1
          }
          val covered = new Array[Boolean](toks.length)
          i = 0
          while (i + n <= toks.length) {
            if (cnt.get(toks.slice(i, i + n).mkString(" ")) > 1) {
              var j = i
              while (j < i + n) { covered(j) = true; j += 1 }
            }
            i += 1
          }
          var cov = 0L
          i = 0
          while (i < toks.length) {
            if (covered(i)) cov += chars(i)
            i += 1
          }
          frac = cov / total.toDouble
        }
        out(oi) = frac; oi += 1
      }
      org.apache.spark.sql.catalyst.InternalRow(out: _*)
    }
    override protected def withNewChildInternal(c: Expression): GopherStats =
      copy(child = c)
  }

  def gopherStats(text: Column): Column =
    SparkShim.toColumn(GopherStats(SparkShim.toExpression(text)))

  /** SQL-trim: strip only ' ' (0x20) from both ends — the Spark/DuckDB
    * `trim()` contract, NOT `java.lang.String.trim` (which strips all
    * control chars <= 0x20 and would diverge from the oracle).
    */
  private def sqlTrim(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  /** C4 line-level cleaning battery (Raffel et al. 2020, §2.2) in ONE
    * map-side pass. Lines = `\n` split (empties kept). A line is KEPT
    * iff its space-trimmed form (a) ends in terminal punctuation
    * (`.`, `!`, `?`, `"`), (b) has >= 3 whitespace words, and (c) does
    * not contain "javascript" case-insensitively. Document flags:
    * `has_lorem` ("lorem ipsum" in the lowercased text), `has_brace`
    * (`{` anywhere), `has_bad` (any [[C4Stats.badWords]] substring of
    * the lowercased text). `clean_text` joins the kept TRIMMED lines
    * with `\n`; `n_sentences` counts terminal marks (`.!?`) in the
    * cleaned text. `keep` = n_sentences >= 5 and no page flag — the
    * paper's page-level rule over its line-level survivors. Every
    * output is an exact string/integer function of the input, so the
    * whole battery is hash-oracled cross-engine.
    */
  case class C4Stats(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult =
      child.dataType match {
        case StringType => TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure("expected string")
      }
    override def dataType: DataType = StructType(Seq(
      StructField("clean_text", StringType, nullable = false),
      StructField("n_lines", IntegerType, nullable = false),
      StructField("n_kept", IntegerType, nullable = false),
      StructField("n_sentences", IntegerType, nullable = false),
      StructField("has_lorem", BooleanType, nullable = false),
      StructField("has_brace", BooleanType, nullable = false),
      StructField("has_bad", BooleanType, nullable = false),
      StructField("keep", BooleanType, nullable = false)))
    override def prettyName: String = "graft_c4_stats"

    override def nullSafeEval(input: Any): Any = {
      val text = input.toString
      val lower = text.toLowerCase(java.util.Locale.ROOT)
      val lines = text.split("\n", -1)
      val kept = new scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < lines.length) {
        val t = sqlTrim(lines(i))
        val endsTerminal = t.nonEmpty && {
          val c = t.charAt(t.length - 1)
          c == '.' || c == '!' || c == '?' || c == '"'
        }
        if (endsTerminal) {
          val words = if (t.isEmpty) 0 else t.split("\\s+", -1).length
          if (words >= 3 &&
              !t.toLowerCase(java.util.Locale.ROOT).contains("javascript"))
            kept += t
        }
        i += 1
      }
      val clean = kept.mkString("\n")
      var sentences = 0
      i = 0
      while (i < clean.length) {
        val c = clean.charAt(i)
        if (c == '.' || c == '!' || c == '?') sentences += 1
        i += 1
      }
      val hasLorem = lower.contains("lorem ipsum")
      val hasBrace = text.contains("{")
      val hasBad = C4Stats.badWords.exists(lower.contains)
      val keep = sentences >= 5 && !hasLorem && !hasBrace && !hasBad
      org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(clean),
        lines.length, kept.length, sentences, hasLorem, hasBrace, hasBad,
        keep)
    }
    override protected def withNewChildInternal(c: Expression): C4Stats =
      copy(child = c)
  }
  object C4Stats {
    /** Deterministic stand-in for C4's blocklist (the real list is a
      * large external artifact); substring match on the lowercased page.
      */
    val badWords: Seq[String] = Seq("badword", "nsfw")
  }

  def c4Stats(text: Column): Column =
    SparkShim.toColumn(C4Stats(SparkShim.toExpression(text)))

  /** The Gopher QUALITY-rule battery (Rae et al. 2021, Table A1 — the
    * document-shape rules beside [[GopherStats]]' repetition rules), in
    * ONE map-side pass:
    *
    *   - `word_count`: whitespace tokens of the space-trimmed text
    *     (the engine-wide t1 convention, empties kept).
    *   - `mean_word_len`: total token codepoints / word_count.
    *   - `hash_frac` / `ellipsis_frac`: `#` codepoints / non-overlapping
    *     left-to-right `...` occurrences, each over word_count (the
    *     paper's symbol-to-word ratios).
    *   - `bullet_line_frac` / `ellipsis_line_frac`: fraction of `\n`
    *     lines whose trimmed form starts with a bullet (`-`, `*`, `•`)
    *     / ends with `...`.
    *   - `alpha_word_frac`: fraction of words containing an ASCII
    *     letter. `stopword_count`: tokens in the paper's 8-word list.
    *   - `keep`: 50 <= words <= 100000, 3 <= mean len <= 10, both
    *     symbol ratios < 0.1, bullets <= 90% of lines, ellipsis ends
    *     <= 30%, alpha words >= 80%, >= 2 stopwords.
    *
    * Every fraction is ONE division of exact integer counts => bitwise
    * cross-engine; the battery is fully hash-oracled.
    */
  case class GopherQuality(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult =
      child.dataType match {
        case StringType => TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure("expected string")
      }
    override def dataType: DataType = StructType(Seq(
      StructField("word_count", LongType, nullable = false),
      StructField("mean_word_len", DoubleType, nullable = false),
      StructField("hash_frac", DoubleType, nullable = false),
      StructField("ellipsis_frac", DoubleType, nullable = false),
      StructField("bullet_line_frac", DoubleType, nullable = false),
      StructField("ellipsis_line_frac", DoubleType, nullable = false),
      StructField("alpha_word_frac", DoubleType, nullable = false),
      StructField("stopword_count", LongType, nullable = false),
      StructField("keep", BooleanType, nullable = false)))
    override def prettyName: String = "graft_gopher_quality"

    override def nullSafeEval(input: Any): Any = {
      val utf8 = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      val text = utf8.toString
      val toks = utf8.trim.toString.split("\\s+", -1)
      val words = toks.length.toLong
      var totalChars = 0L
      var alphaWords = 0L
      var stopwords = 0L
      var i = 0
      while (i < toks.length) {
        val t = toks(i)
        totalChars += t.codePointCount(0, t.length)
        var hasAlpha = false
        var j = 0
        while (j < t.length && !hasAlpha) {
          val c = t.charAt(j)
          hasAlpha = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
          j += 1
        }
        if (hasAlpha) alphaWords += 1
        if (GopherQuality.stopwords.contains(t)) stopwords += 1
        i += 1
      }
      var hashes = 0L
      i = 0
      while (i < text.length) {
        if (text.charAt(i) == '#') hashes += 1
        i += 1
      }
      // non-overlapping left-to-right, the replace-then-count semantics
      var ellipses = 0L
      var at = text.indexOf("...")
      while (at >= 0) { ellipses += 1; at = text.indexOf("...", at + 3) }
      val lines = text.split("\n", -1)
      var bulletLines = 0L
      var ellipsisLines = 0L
      i = 0
      while (i < lines.length) {
        val t = sqlTrim(lines(i))
        if (t.nonEmpty) {
          val c0 = t.charAt(0)
          if (c0 == '-' || c0 == '*' || c0 == '•') bulletLines += 1
          if (t.endsWith("...")) ellipsisLines += 1
        }
        i += 1
      }
      val nLines = lines.length.toLong
      val meanLen = if (words > 0) totalChars.toDouble / words else 0.0
      val hashFrac = if (words > 0) hashes.toDouble / words else 0.0
      val ellFrac = if (words > 0) ellipses.toDouble / words else 0.0
      val bulletFrac = bulletLines.toDouble / nLines
      val ellLineFrac = ellipsisLines.toDouble / nLines
      val alphaFrac = if (words > 0) alphaWords.toDouble / words else 0.0
      val keep = words >= 50L && words <= 100000L &&
        meanLen >= 3.0 && meanLen <= 10.0 &&
        hashFrac < 0.1 && ellFrac < 0.1 &&
        bulletFrac <= 0.9 && ellLineFrac <= 0.3 &&
        alphaFrac >= 0.8 && stopwords >= 2L
      org.apache.spark.sql.catalyst.InternalRow(
        words, meanLen, hashFrac, ellFrac, bulletFrac, ellLineFrac,
        alphaFrac, stopwords, keep)
    }
    override protected def withNewChildInternal(c: Expression): GopherQuality =
      copy(child = c)
  }
  object GopherQuality {
    /** Rae et al. 2021's required-stopword list. */
    val stopwords: Set[String] =
      Set("the", "be", "to", "of", "and", "that", "have", "with")
  }

  def gopherQuality(text: Column): Column =
    SparkShim.toColumn(GopherQuality(SparkShim.toExpression(text)))

  /** Z-order (Morton) interleave of N non-negative integer dimensions,
    * `bits` low bits each: bit `i` of dimension `d` lands at output bit
    * `i * N + d`. A range-partition + sort on this value clusters rows
    * so every output file covers a bounded sub-grid in EVERY dimension —
    * parquet min/max stats then skip files for predicates on any dim,
    * not just the leading sort key. The multi-dimensional data-skipping
    * primitive for a 100 TB lake (see LakeWriter.zOrderWrite).
    *
    * Inputs are masked to `bits` low bits (callers bucket/normalize
    * first); any null dimension nulls the z-value.
    */
  case class ZValue(children: Seq[Expression], bits: Int)
      extends Expression with CodegenFallback {
    require(children.nonEmpty, "z-order needs at least one dimension")
    require(bits >= 1 && bits * children.size <= 63,
      s"bits*dims must fit a positive long, got $bits*${children.size}")
    override def checkInputDataTypes(): TypeCheckResult =
      if (children.forall(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("expected integral dimensions")
    override def nullable: Boolean = children.exists(_.nullable)
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_zvalue"
    override def foldable: Boolean = children.forall(_.foldable)

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val n = children.size
      val mask = (1L << bits) - 1
      var z = 0L
      var d = 0
      while (d < n) {
        val v = children(d).eval(input)
        if (v == null) return null
        val x = v.asInstanceOf[Number].longValue() & mask
        var i = 0
        while (i < bits) {
          z |= ((x >>> i) & 1L) << (i * n + d)
          i += 1
        }
        d += 1
      }
      z
    }
    override protected def withNewChildrenInternal(
        cs: IndexedSeq[Expression]): ZValue = copy(children = cs)
  }

  def zvalue(bits: Int)(dims: Column*): Column =
    SparkShim.toColumn(ZValue(dims.map(SparkShim.toExpression), bits))

  /** 2-D Hilbert-curve index (order `bits`): maps a point on the
    * 2^bits × 2^bits grid to its position along the Hilbert curve — the
    * other standard multi-dimensional clustering key beside [[ZValue]],
    * with strictly better locality (every curve step is a unit grid
    * step, so a range of d values is a compact blob, not z-order's
    * quadrant jumps). The classic bit-level walk: per level s (high to
    * low), quadrant (rx, ry) contributes s²·((3rx) XOR ry), then the
    * frame rotates/reflects for the next level. Sequential state per
    * level — NOT per-bit-independent like the z-value — which is why
    * the z2 oracle is a recursive CTE rather than a `list_transform`.
    *
    * Inputs are masked to `bits` low bits (callers bucket/normalize
    * first, the ZValue convention); any null dimension nulls the index.
    */
  case class HilbertValue(left: Expression, right: Expression, bits: Int)
      extends BinaryExpression with CodegenFallback {
    require(bits >= 1 && bits <= 31,
      s"bits must be in [1, 31] so d = s²-sums fit a positive long, got $bits")
    override def checkInputDataTypes(): TypeCheckResult =
      if (Seq(left, right).forall(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("expected integral dimensions")
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_hilbert"

    override def nullSafeEval(l: Any, r: Any): Any = {
      val side = 1L << bits
      val mask = side - 1
      var x = l.asInstanceOf[Number].longValue() & mask
      var y = r.asInstanceOf[Number].longValue() & mask
      var s = side >> 1
      var d = 0L
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3L * rx) ^ ry)
        if (ry == 0L) {
          if (rx == 1L) {
            x = mask - x
            y = mask - y
          }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      d
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): HilbertValue =
      copy(left = l, right = r)
  }

  def hilbert(bits: Int)(x: Column, y: Column): Column =
    SparkShim.toColumn(HilbertValue(
      SparkShim.toExpression(x), SparkShim.toExpression(y), bits))

  /** Fused dequantize(quantize(v)) for int8 scale-offset quantization —
    * the values a quantized corpus actually re-ranks with, in ONE
    * primitive loop per vector instead of two `transform` HOF walks
    * (interpreted expression-tree eval per element; measured ~14× slower
    * on comparable loops). Bit-for-bit identical to
    * `Similarity.dequantize(Similarity.quantize(v))`: min/max taken in
    * the input's float precision then widened, and rounding via
    * BigDecimal HALF_UP — exactly Catalyst Round's double semantics (and
    * DuckDB `round`'s, which the sim4 oracle relies on). Null elements
    * propagate; all-null/empty arrays degenerate the same way as the
    * HOF composition.
    */
  case class QuantizeRoundtrip(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
          TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure(
          "expected array<float> or array<double>")
      }
    override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
    override def prettyName: String = "graft_quantize_roundtrip"

    @transient private lazy val isFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    private def round(x: Double): Double =
      new java.math.BigDecimal(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()

    override def nullSafeEval(input: Any): Any = {
      val ad = input.asInstanceOf[ArrayData]
      val n = ad.numElements()
      // min/max in input precision, then widen — matches
      // array_min(vec).cast(double) on a float array
      var mnF = Float.MaxValue; var mxF = Float.MinValue
      var mnD = Double.MaxValue; var mxD = Double.MinValue
      var any = false
      var i = 0
      while (i < n) {
        if (!ad.isNullAt(i)) {
          any = true
          if (isFloat) {
            val f = ad.getFloat(i)
            if (f < mnF) mnF = f
            if (f > mxF) mxF = f
          } else {
            val d = ad.getDouble(i)
            if (d < mnD) mnD = d
            if (d > mxD) mxD = d
          }
        }
        i += 1
      }
      val out = new Array[Any](n)
      if (!any) return new GenericArrayData(out) // all nulls stay null
      val mn = if (isFloat) mnF.toDouble else mnD
      val mx = if (isFloat) mxF.toDouble else mxD
      val scale = if (mx > mn) (mx - mn) / 255.0 else 1.0
      i = 0
      while (i < n) {
        if (!ad.isNullAt(i)) {
          val x = if (isFloat) ad.getFloat(i).toDouble else ad.getDouble(i)
          out(i) = round((x - mn) / scale) * scale + mn
        }
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(
        c: Expression): QuantizeRoundtrip = copy(child = c)
  }

  def quantizeRoundtrip(vec: Column): Column =
    SparkShim.toColumn(QuantizeRoundtrip(SparkShim.toExpression(vec)))

  /** Membership probe against a pre-built Spark [[org.apache.spark.util
    * .sketch.BloomFilter]] shipped as a plan literal — the runtime-filter
    * primitive: a one-pass corpus digest (MBs) replaces a corpus-wide
    * shuffle for the overwhelmingly-common "definitely not present"
    * case. False positives possible (callers verify hits exactly); false
    * negatives impossible. Null input probes to null.
    */
  case class BloomMightContain(child: Expression, bloomBytes: Array[Byte])
      extends UnaryExpression with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult =
      child.dataType match {
        case StringType => TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure("expected string probe")
      }
    override def dataType: DataType = BooleanType
    override def prettyName: String = "graft_bloom_might_contain"

    @transient private lazy val bloom =
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bloomBytes))

    override def nullSafeEval(input: Any): Any =
      bloom.mightContainString(input.toString)

    override protected def withNewChildInternal(
        c: Expression): BloomMightContain = copy(child = c)
  }

  def bloomMightContain(probe: Column,
      bloom: org.apache.spark.util.sketch.BloomFilter): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    SparkShim.toColumn(
      BloomMightContain(SparkShim.toExpression(probe), bos.toByteArray))
  }

  /** Register the functions for SQL use (`SELECT graft_cosine(a, b) ...`). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_minhash_sig",
      es => MinHashSig(QSketchCodec.arity(es, 2, "graft_minhash_sig").head,
        QSketchCodec.intArg(es, 1, "graft_minhash_sig")), "scala_udf")
    reg.createOrReplaceTempFunction("graft_simhash64",
      es => SimHash64(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_jaccard",
      es => JaccardLong(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_overlap",
      es => OverlapLong(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_cosine",
      es => CosineSim(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_hamming",
      es => { val a = QSketchCodec.arity(es, 2, "graft_hamming")
        HammingDist(a(0), a(1)) }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_repetition_stats",
      es => RepetitionStats(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_gopher_stats",
      es => GopherStats(
        QSketchCodec.arity(es, 1, "graft_gopher_stats").head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_gopher_quality",
      es => GopherQuality(
        QSketchCodec.arity(es, 1, "graft_gopher_quality").head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_c4_stats",
      es => C4Stats(
        QSketchCodec.arity(es, 1, "graft_c4_stats").head), "scala_udf")
    // graft_zvalue(bits, dim1, dim2, ...) — bits must be a literal
    reg.createOrReplaceTempFunction("graft_zvalue",
      es => ZValue(es.tail, QSketchCodec.intArg(es, 0, "graft_zvalue")),
      "scala_udf")
    // graft_hilbert(bits, x, y) — bits must be a literal
    reg.createOrReplaceTempFunction("graft_hilbert",
      es => { val a = QSketchCodec.arity(es, 3, "graft_hilbert")
        HilbertValue(a(1), a(2),
          QSketchCodec.intArg(es, 0, "graft_hilbert")) }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_quantize_roundtrip",
      es => QuantizeRoundtrip(es.head), "scala_udf")
    // sequential-smoother folds (SQL surface of Analytics.ewma/holt/
    // holtWinters/kaplanMeier's linear kernels): coefficients must be
    // literals — they parameterize the kernel, not the data
    reg.createOrReplaceTempFunction("graft_ewma_fold",
      es => SeqFolds.EwmaFold(
        QSketchCodec.arity(es, 2, "graft_ewma_fold").head,
        QSketchCodec.doubleArg(es, 1, "graft_ewma_fold")), "scala_udf")
    reg.createOrReplaceTempFunction("graft_holt_fold",
      es => SeqFolds.HoltFold(
        QSketchCodec.arity(es, 3, "graft_holt_fold").head,
        QSketchCodec.doubleArg(es, 1, "graft_holt_fold"),
        QSketchCodec.doubleArg(es, 2, "graft_holt_fold")), "scala_udf")
    reg.createOrReplaceTempFunction("graft_holt_winters_fold",
      es => { val a = QSketchCodec.arity(es, 6, "graft_holt_winters_fold")
        SeqFolds.HoltWintersFold(a(0), a(1), a(2),
          QSketchCodec.doubleArg(es, 3, "graft_holt_winters_fold"),
          QSketchCodec.doubleArg(es, 4, "graft_holt_winters_fold"),
          QSketchCodec.doubleArg(es, 5, "graft_holt_winters_fold")) },
      "scala_udf")
    reg.createOrReplaceTempFunction("graft_km_fold",
      es => { val a = QSketchCodec.arity(es, 2, "graft_km_fold")
        SeqFolds.KaplanMeierFold(a(0), a(1)) }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_na_fold",
      es => { val a = QSketchCodec.arity(es, 2, "graft_na_fold")
        SeqFolds.NelsonAalenFold(a(0), a(1)) }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_pav_fold",
      es => SeqFolds.PavFold(
        QSketchCodec.arity(es, 1, "graft_pav_fold").head), "scala_udf")
    // dictionary as ONE comma-joined string literal: SQL has no
    // Seq[String] literal form at a registration site
    reg.createOrReplaceTempFunction("graft_ac_count",
      es => { val a = QSketchCodec.arity(es, 2, "graft_ac_count")
        AhoCorasick.AcCountExpr(a.head,
          QSketchCodec.stringArg(es, 1, "graft_ac_count")
            .split(',').toSeq) }, "scala_udf")
    // image codecs (SQL surface of Multimodal.bmp*/png*)
    reg.createOrReplaceTempFunction("graft_bmp_encode",
      es => graft.operators.Multimodal.BmpEncodeExpr(
        QSketchCodec.arity(es, 4, "graft_bmp_encode")), "scala_udf")
    reg.createOrReplaceTempFunction("graft_bmp_decode",
      es => graft.operators.Multimodal.BmpDecodeExpr(
        QSketchCodec.arity(es, 1, "graft_bmp_decode").head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_png_encode",
      es => graft.operators.Multimodal.PngEncodeExpr(
        QSketchCodec.arity(es, 3, "graft_png_encode")), "scala_udf")
    reg.createOrReplaceTempFunction("graft_png_decode",
      es => graft.operators.Multimodal.PngDecodeExpr(
        QSketchCodec.arity(es, 1, "graft_png_decode").head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_jpeg_encode",
      es => graft.operators.Multimodal.JpegEncodeExpr(
        QSketchCodec.arity(es, 3, "graft_jpeg_encode")), "scala_udf")
    reg.createOrReplaceTempFunction("graft_jpeg_decode",
      es => graft.operators.Multimodal.JpegDecodeExpr(
        QSketchCodec.arity(es, 1, "graft_jpeg_decode").head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_gif_encode",
      es => graft.operators.Multimodal.GifEncodeExpr(
        QSketchCodec.arity(es, 3, "graft_gif_encode")), "scala_udf")
    reg.createOrReplaceTempFunction("graft_gif_decode",
      es => graft.operators.Multimodal.GifDecodeExpr(
        QSketchCodec.arity(es, 1, "graft_gif_decode").head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_gif_anim_encode",
      es => graft.operators.Multimodal.GifAnimEncodeExpr(
        QSketchCodec.arity(es, 4, "graft_gif_anim_encode")), "scala_udf")
    reg.createOrReplaceTempFunction("graft_gif_frames",
      es => graft.operators.Multimodal.GifFramesExpr(
        QSketchCodec.arity(es, 1, "graft_gif_frames").head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_png_resize",
      es => graft.operators.Multimodal.PngResizeExpr(
        QSketchCodec.arity(es, 3, "graft_png_resize")), "scala_udf")
    reg.createOrReplaceTempFunction("graft_qoi_encode",
      es => graft.operators.Multimodal.QoiEncodeExpr(
        QSketchCodec.arity(es, 3, "graft_qoi_encode")), "scala_udf")
    reg.createOrReplaceTempFunction("graft_qoi_decode",
      es => graft.operators.Multimodal.QoiDecodeExpr(
        QSketchCodec.arity(es, 1, "graft_qoi_decode").head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_wav_encode",
      es => graft.operators.Multimodal.WavEncodeExpr(
        QSketchCodec.arity(es, 4, "graft_wav_encode")), "scala_udf")
    reg.createOrReplaceTempFunction("graft_wav_decode",
      es => graft.operators.Multimodal.WavDecodeExpr(
        QSketchCodec.arity(es, 1, "graft_wav_decode").head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_wav_frames",
      es => graft.operators.Multimodal.WavFramesExpr(
        QSketchCodec.arity(es, 3, "graft_wav_frames").head,
        QSketchCodec.intArg(es, 1, "graft_wav_frames"),
        QSketchCodec.intArg(es, 2, "graft_wav_frames")), "scala_udf")
    reg.createOrReplaceTempFunction("graft_feature_hash",
      es => FeatureHash(
        QSketchCodec.arity(es, 2, "graft_feature_hash").head,
        QSketchCodec.intArg(es, 1, "graft_feature_hash")), "scala_udf")
    reg.createOrReplaceTempFunction("graft_damerau",
      es => { val a = QSketchCodec.arity(es, 2, "graft_damerau")
        DamerauLevenshtein(a(0), a(1)) }, "scala_udf")
    // graft_freq_items(item, capacity) — capacity must be a literal; the
    // analyzer wraps the returned AggregateFunction in AggregateExpression
    reg.createOrReplaceTempFunction("graft_freq_items",
      es => FreqItems(QSketchCodec.arity(es, 2, "graft_freq_items").head,
        QSketchCodec.intArg(es, 1, "graft_freq_items")),
      "scala_udf")
    // graft_topk(id, score, k) — k must be a literal
    reg.createOrReplaceTempFunction("graft_topk",
      es => TopKPairs(QSketchCodec.arity(es, 3, "graft_topk").head, es(1),
        QSketchCodec.intArg(es, 2, "graft_topk")),
      "scala_udf")
    // mergeable Count-Min point-frequency sketches
    reg.createOrReplaceTempFunction("graft_countmin",
      es => CountMinAgg(QSketchCodec.arity(es, 3, "graft_countmin").head,
        QSketchCodec.intArg(es, 1, "graft_countmin"),
        QSketchCodec.intArg(es, 2, "graft_countmin")), "scala_udf")
    reg.createOrReplaceTempFunction("graft_cm_merge",
      es => CmMergeAgg(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_cm_estimate",
      es => CmEstimate(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_cm_union",
      es => CmUnion(es.head, es(1)), "scala_udf")
    // mergeable theta sketches (distinct counts WITH set algebra)
    reg.createOrReplaceTempFunction("graft_theta",
      es => ThetaSketchAgg(QSketchCodec.arity(es, 2, "graft_theta").head,
        QSketchCodec.intArg(es, 1, "graft_theta")), "scala_udf")
    reg.createOrReplaceTempFunction("graft_theta_merge",
      es => ThetaMergeAgg(
        QSketchCodec.arity(es, 1, "graft_theta_merge").head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_theta_estimate",
      es => ThetaEstimate(
        QSketchCodec.arity(es, 1, "graft_theta_estimate").head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_theta_setop",
      es => {
        val a = QSketchCodec.arity(es, 3, "graft_theta_setop")
        ThetaSetOp(a.head, a(1), a(2))
      }, "scala_udf")
    // mergeable GK quantile sketches (eps optional, default 1e-4)
    reg.createOrReplaceTempFunction("graft_quantile_sketch",
      es => QuantileSketchAgg(es.head,
        if (es.length > 1) QSketchCodec.numArg(es(1)) else 1e-4),
      "scala_udf")
    reg.createOrReplaceTempFunction("graft_quantile_merge",
      es => QuantileMergeAgg(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_quantile_estimate",
      es => QuantileEstimate(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_quantile_union",
      es => QuantileUnion(es.head, es(1)), "scala_udf")
    // SQL as-of surface: marker function + rewrite rule + planner
    // strategy (sessions built via GraftExtensions get these injected
    // declaratively instead)
    reg.createOrReplaceTempFunction("graft_asof",
      es => graft.plans.GraftAsOfMarker(es.head, es(1)), "scala_udf")
    graft.plans.AsOfStrategy.setup(spark)
  }
}
