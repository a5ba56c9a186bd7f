package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType, IntegerType, LongType, StructField, StructType}
import graft.functions.ArgType.{arrayOf, binary, double, int, literal, strictArrayOf, vector}

/** Native Catalyst expressions for vector math over `array<float>` /
  * `array<double>`.
  *
  * Spark's higher-order functions (`transform`, `zip_with`, `aggregate`)
  * evaluate interpreted lambdas per element and block whole-stage
  * codegen for the enclosing Project — ~10× too slow for a 64-dim dot
  * product in the ANN hot path. `DotProduct` reads both element types
  * directly (each element widened to double exactly like an explicit
  * per-element cast, so results are bit-identical to the
  * cast-then-multiply formulation the DuckDB oracles use) in one static
  * loop ([[DotKernel.dot]]), so a brute-force scan over 100 TB of
  * vectors stays inside WholeStageCodegen with no array copies.
  *
  * Null semantics match the `zip_with`/`aggregate` higher-order
  * formulation exactly: a length mismatch or a null element in either
  * array yields NULL (never a silently-truncated or zero-padded
  * number) — a dimension bug upstream surfaces as missing scores, not
  * plausible wrong ones.
  */
case class DotProduct(left: Expression, right: Expression) extends StaticKernel(
  "graft_dot", Seq(vector, vector), DoubleType, DotKernel, "dot") {
  override protected def callArgs: Seq[Any] =
    Seq(left, floatInput(left), right, floatInput(right))
}

/** Static dot-product kernels shared by interpreted eval and codegen. */
object DotKernel {
  /** [[DotProduct]]: each element widened to double, summed in index
    * order; null on a length mismatch or a null element.
    */
  def dot(x: ArrayData, xFloat: Boolean, y: ArrayData, yFloat: Boolean): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yFloat) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  /** [[Dot8]]: exact integer dot of two int8 vectors; null on a length
    * mismatch.
    */
  def dot8(x: Array[Byte], y: Array[Byte]): java.lang.Long = {
    if (x.length != y.length) return null
    var s = 0L
    var i = 0
    while (i < x.length) { s += x(i).toLong * y(i); i += 1 }
    s
  }
}

/** All `tables` hyperplane-LSH bucket codes of a vector in ONE kernel
  * pass: code t = Σ_b (1<<b) over the sign of the projection onto the
  * deterministic hyperplane h[d] = sin(1 + (t·bits+b)·dim + d).
  *
  * The per-plane formulation referenced the vector column once per
  * plane (32 references at bits=4/tables=8); when the column is a
  * DERIVED expression (e.g. a planted test fixture built with
  * `transform`), CollapseProject inlines it into every reference.
  * Arithmetic is bit-identical to `graft_dot(slice(v, 1, dim),
  * lit(planeVec))`: each element widened to double, multiplied by the
  * same `math.sin` constant, accumulated in index order; a null/short
  * vector or a null element yields all-zero codes exactly like the
  * null-projection `otherwise(0)` bits it replaces.
  */
case class HyperplaneCodes(v: Expression, bits: Expression, tables: Expression,
                           dim: Expression) extends StaticKernel(
  "graft_hyperplane", Seq(vector, int, int, int), ArrayType(LongType, containsNull = false),
  HyperplaneKernel, "codes", Nulls.NeverNull) {
  override protected def callArgs: Seq[Any] = Seq(v, floatInput(v), bits, tables, dim)
}

/** Static hyperplane kernel shared by interpreted eval and codegen. */
object HyperplaneKernel {
  // sin hyperplane table cache, keyed by (planes, dim)
  private val tables = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  private def planeTable(planes: Int, dim: Int): Array[Double] =
    tables.computeIfAbsent((planes, dim), { _ =>
      Array.tabulate(planes * dim)(i => math.sin((1 + i).toDouble))
    })

  def codes(v: ArrayData, floatInput: Boolean, bits: Int, tables: Int,
            dim: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val nPlanes = bits * tables
    val out = new Array[Any](tables)
    // null / short vector / null element → all-zero codes, matching the
    // null-projection bits of the per-plane formulation
    var degenerate = v == null || v.numElements() < dim
    if (!degenerate) {
      var d = 0
      while (d < dim && !degenerate) { degenerate = v.isNullAt(d); d += 1 }
    }
    if (degenerate) {
      java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], java.lang.Long.valueOf(0L))
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    val h = planeTable(nPlanes, dim)
    var t = 0
    while (t < tables) {
      var code = 0L
      var b = 0
      while (b < bits) {
        val base = (t * bits + b) * dim
        var s = 0.0
        var d = 0
        while (d < dim) {
          val x = if (floatInput) v.getFloat(d).toDouble else v.getDouble(d)
          s += x * h(base + d)
          d += 1
        }
        if (s >= 0) code |= (1L << b)
        b += 1
      }
      out(t) = code
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `graft_argmax_cos(v, ids, mat)` → struct(bench_id, cos): the
  * nearest vector of a PLAN-TIME-LITERAL matrix by cosine, in one
  * codegen'd kernel call per row.
  *
  * This is the whole-row form of the brute-force scan: instead of
  * exploding n×m candidate rows through a join and aggregating them
  * back (max over struct is not hash-aggregable — the partial
  * aggregate would SORT the candidates), the m reference vectors ride
  * the expression as literals (the same plan-time-constant pattern as
  * [[HyperplaneCodes]]' sin planes and IvfIndex's collected
  * centroids), the loop runs in registers, and the operator stays a
  * narrow projection — no candidate row ever exists. `ids` must be
  * sorted ascending and `mat` its row-major flattening; a
  * strictly-greater update then breaks cosine ties toward the
  * smallest id, matching a (cos DESC, id ASC) window oracle.
  *
  * Arithmetic parity with the DuckDB oracles: elements widen to
  * double and accumulate in index order ([[DotProduct]] semantics),
  * reference norms are precomputed from the same widened values. A
  * null/mismatched-dim vector or an empty matrix yields a null
  * struct — bad geometry is missing data, not a plausible score.
  */
case class ArgMaxCosine(v: Expression, ids: Expression, mat: Expression) extends StaticKernel(
  "graft_argmax_cos",
  Seq(vector, literal(strictArrayOf(LongType)), literal(arrayOf(DoubleType))),
  StructType(Seq(StructField("bench_id", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false))),
  ArgMaxCosState, "argmax") {

  // the reference matrix, built once per expression and passed to the
  // kernel by reference
  private lazy val state: ArgMaxCosState = {
    val idArr = ids.eval(null).asInstanceOf[ArrayData].toLongArray()
    val matArr = mat.eval(null).asInstanceOf[ArrayData].toDoubleArray()
    require(idArr.length > 0 || matArr.isEmpty,
      "graft_argmax_cos: matrix without ids")
    require(idArr.isEmpty || matArr.length % idArr.length == 0,
      s"graft_argmax_cos: ${matArr.length} matrix values do not tile " +
        s"${idArr.length} reference rows")
    require(idArr.indices.tail.forall(i => idArr(i - 1) < idArr(i)),
      "graft_argmax_cos: ids must be strictly ascending (tie order)")
    new ArgMaxCosState(idArr, matArr, floatInput(v))
  }

  override protected def callArgs: Seq[Any] = Seq(v, state)
}

/** Precomputed reference matrix shared by interpreted eval and codegen
  * (one instance per expression, shipped once per task binary).
  */
final class ArgMaxCosState(ids: Array[Long], mat: Array[Double],
                           floatInput: Boolean) extends Serializable {
  private val m = ids.length
  private val dim = if (m == 0) 0 else mat.length / m
  // reference norms from the same widened doubles the oracle uses
  private val norms: Array[Double] = Array.tabulate(m) { j =>
    var s = 0.0
    var d = 0
    while (d < dim) { val x = mat(j * dim + d); s += x * x; d += 1 }
    math.sqrt(s)
  }

  def eval(v: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    if (v == null || m == 0 || v.numElements() != dim) return null
    var vn = 0.0
    var d = 0
    while (d < dim) {
      if (v.isNullAt(d)) return null
      val x = if (floatInput) v.getFloat(d).toDouble else v.getDouble(d)
      vn += x * x
      d += 1
    }
    vn = math.sqrt(vn)
    var bestId = 0L
    var bestCos = Double.NegativeInfinity
    var j = 0
    while (j < m) {
      var s = 0.0
      val base = j * dim
      var i = 0
      while (i < dim) {
        val x = if (floatInput) v.getFloat(i).toDouble else v.getDouble(i)
        s += x * mat(base + i)
        i += 1
      }
      val c = s / (vn * norms(j))
      if (c > bestCos) { bestCos = c; bestId = ids(j) } // ties keep smallest id
      j += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(bestId, bestCos)
  }
}

object ArgMaxCosState {
  /** [[ArgMaxCosine]]'s static call. */
  def argmax(v: ArrayData, state: ArgMaxCosState): org.apache.spark.sql.catalyst.InternalRow =
    state.eval(v)
}

/** `graft_quantize8(v)` → struct(scale, q): symmetric int8 vector
  * quantization — `scale = max|v_i| / 127`, `q_i = floor(v_i / scale
  * + 0.5)` packed as one signed byte per dimension in a BINARY column.
  *
  * This is the index-compression primitive: an int8 index is 8×
  * smaller than float64 on disk and in executor memory, and
  * [[Dot8]] scores it in exact integer arithmetic. `floor(x + 0.5)`
  * instead of `round` is deliberate — floor has identical semantics
  * in every engine, while round's half-even/half-away modes differ,
  * so the quantized bytes are bit-reproducible cross-engine. A
  * zero/null/empty vector quantizes to scale 0 with all-zero bytes
  * (never a crash); a null element yields a null struct.
  */
case class Quantize8(child: Expression) extends StaticKernel(
  "graft_quantize8", Seq(vector),
  StructType(Seq(StructField("scale", DoubleType, nullable = false),
    StructField("q", BinaryType, nullable = false))),
  Quantize8Kernel, "quantize") {
  override protected def callArgs: Seq[Any] = Seq(child, floatInput(child))
}

/** `graft_quantize8_arr(v)` → array<double>: the [[Quantize8]]
  * arithmetic with the codes as an UNPACKED double array instead of
  * the packed binary — for consumers that need per-element access
  * (posexplode recompute, literal-centroid distance math in the
  * integer k-means). Values are the same exact integers in [-127,
  * 127]; doubles so `graft_dot` and the oracle's double lists consume
  * them directly. One codegen'd kernel pass — the equivalent
  * transform/array_max HOF chain costs ~0.2 ms/row interpreted and
  * gets re-inlined by CollapseProject into every reference.
  */
case class Quantize8Arr(child: Expression) extends StaticKernel(
  "graft_quantize8_arr", Seq(vector), ArrayType(DoubleType, containsNull = false),
  Quantize8Kernel, "quantizeArr") {
  override protected def callArgs: Seq[Any] = Seq(child, floatInput(child))
}

object Quantize8Kernel {
  /** [[Quantize8Arr]]'s eval: same arithmetic, unpacked doubles. */
  def quantizeArr(v: ArrayData, floatInput: Boolean): ArrayData = {
    val n = v.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val x = if (floatInput) v.getFloat(i).toDouble else v.getDouble(i)
      val a = if (x < 0) -x else x
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    val out = new Array[Double](n)
    if (maxAbs == 0.0)
      return org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
    val scale = maxAbs / 127.0
    i = 0
    while (i < n) {
      val x = if (floatInput) v.getFloat(i).toDouble else v.getDouble(i)
      out(i) = math.floor(x / scale + 0.5)
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** Shared by interpreted eval and codegen. Null element → null
    * struct; zero/empty vector → (0.0, all-zero bytes).
    */
  def quantize(v: ArrayData, floatInput: Boolean):
      org.apache.spark.sql.catalyst.InternalRow = {
    val n = v.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val x = if (floatInput) v.getFloat(i).toDouble else v.getDouble(i)
      val a = if (x < 0) -x else x
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    val out = new Array[Byte](n)
    if (maxAbs == 0.0)
      return org.apache.spark.sql.catalyst.InternalRow(0.0, out)
    val scale = maxAbs / 127.0
    i = 0
    while (i < n) {
      val x = if (floatInput) v.getFloat(i).toDouble else v.getDouble(i)
      // |x/scale| <= 127 by construction, so no clamp is needed:
      // floor(127.0 + 0.5) = 127, floor(-127.0 + 0.5) = -127
      out(i) = math.floor(x / scale + 0.5).toByte
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(scale, out)
  }
}

/** `graft_dot8(a, b)` → bigint: exact integer dot product of two int8
  * quantized vectors (BINARY columns from [[Quantize8]]). The hot
  * scoring loop of an int8 ANN index — byte loads, integer
  * multiply-adds, no floating point until the caller rescales — and
  * because it is integer-exact, quantized rankings are bit-identical
  * in every engine. Length mismatch or null → null, like graft_dot.
  */
case class Dot8(left: Expression, right: Expression) extends StaticKernel(
  "graft_dot8", Seq(binary, binary), LongType, DotKernel, "dot8")

/** Product-quantization encode — `graft_pq_encode(vec, centroids, m, k)`.
  *
  * PQ (Jégou/Douze/Schmid, TPAMI 2011): split the vector into `m`
  * contiguous subspaces and replace each subvector with the id of its
  * nearest codebook centroid — `m` small integers instead of the raw
  * floats (64 dims → 8 bytes at m=8/k≤256, a 32× compression over
  * float32; the layout production ANN serves RAM-resident at 100 TB).
  * `centroids` is the flattened `[m][k][dim/m]` codebook as an
  * `array<double>` literal (a bounded driver artifact like the IVF
  * centroids); per subspace the argmin uses the exact-double
  * aa − 2ab + bb accumulation the DuckDB oracle replays term by term,
  * with ties to the smallest centroid id. One narrow codegen'd pass,
  * no shuffle. Null when the input is null or not divisible by `m`.
  */
case class PqEncode(v: Expression, cents: Expression, m: Expression,
                    k: Expression) extends StaticKernel(
  "graft_pq_encode", Seq(vector, arrayOf(DoubleType), int, int),
  ArrayType(IntegerType, containsNull = false), PqKernel, "encode") {
  override protected def callArgs: Seq[Any] = Seq(v, floatInput(v), cents, m, k)
}

/** Exact Givens rotation chain (`graft_rotate(v, pairs, c, s)`): apply
  * rotations `(x_i, x_j) → (c·x_i + s·x_j, −s·x_i + c·x_j)` in order
  * over the flattened `pairs` = [i0, j0, i1, j1, …] literal — the
  * OPQ-style decorrelating pre-rotation for PQ, kept ENGINE-PORTABLE
  * by using fixed rational-looking coefficients (e.g. 0.6/0.8, the
  * 3-4-5 triple): both engines perform the identical double
  * multiply-adds in the identical order, so the rotated vectors are
  * bit-equal cross-engine (orthogonality holds to 1 ulp, which is all
  * a rotation needs; exact replay is what the gate needs). One narrow
  * codegen'd pass. Null on null input, out-of-range or degenerate
  * (i = j) pairs.
  */
case class RotateGivens(v: Expression, pairs: Expression, c: Expression,
                        s: Expression) extends StaticKernel(
  "graft_rotate", Seq(vector, arrayOf(IntegerType), double, double),
  ArrayType(DoubleType, containsNull = false), RotateKernel, "rotate") {
  override protected def callArgs: Seq[Any] = Seq(v, floatInput(v), pairs, c, s)
}

/** Static rotation kernel shared by interpreted eval and codegen. */
object RotateKernel {
  def rotate(v: ArrayData, floatInput: Boolean, pairs: ArrayData,
             c: Double, s: Double): ArrayData = {
    val n = v.numElements()
    if (pairs.numElements() % 2 != 0) return null
    val out = new Array[Double](n)
    var idx = 0
    while (idx < n) {
      out(idx) = if (floatInput) v.getFloat(idx).toDouble else v.getDouble(idx)
      idx += 1
    }
    val np = pairs.numElements() / 2
    var r = 0
    while (r < np) {
      val i = pairs.getInt(2 * r); val j = pairs.getInt(2 * r + 1)
      if (i < 0 || i >= n || j < 0 || j >= n || i == j) return null
      val a = out(i); val b = out(j)
      out(i) = c * a + s * b
      out(j) = -s * a + c * b
      r += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Static PQ kernel shared by interpreted eval and codegen. */
object PqKernel {
  /** The integer ADC cell table every PQ consumer builds driver-side:
    * cell (ms, kk) = `floor(1e6 · subdist(q_ms, codebook[ms][kk]))`
    * with the exact aa − 2ab + bb sequential accumulation the DuckDB
    * oracles replay. ONE implementation — q121's brute force, the
    * q122/q123 index probes and q133's rotated variant all call this,
    * so the micro-unit convention can never diverge between them.
    */
  def adcCellTable(q: IndexedSeq[Double], flat: IndexedSeq[Double],
                   m: Int, k: Int, sub: Int): Array[Long] = {
    require(q.length == m * sub, s"query dim ${q.length} != ${m * sub}")
    require(flat.length == m * k * sub,
      s"codebook length ${flat.length} != ${m * k * sub}")
    Array.tabulate(m * k) { idx =>
      val ms = idx / k; val kk = idx % k
      var aa = 0.0; var ab = 0.0; var bb = 0.0
      var i = 0
      while (i < sub) {
        val a = q(ms * sub + i)
        val c = flat((ms * k + kk) * sub + i)
        aa += a * a; ab += a * c; bb += c * c
        i += 1
      }
      math.floor(1e6 * (aa - 2.0 * ab + bb)).toLong
    }
  }

  /** Squared L2 between subvector `ms` of `v` and codebook entry
    * (`ms`,`kk`) as the three separate sequential sums aa, ab, bb —
    * the exact accumulation `list_dot_product(a,a) − 2·(a·c) + (c·c)`
    * performs, so oracles replay it bit-for-bit.
    */
  def subDist(v: ArrayData, floatInput: Boolean, cents: ArrayData,
              sub: Int, k: Int, ms: Int, kk: Int): Double = {
    val base = (ms * k + kk) * sub
    val off = ms * sub
    var aa = 0.0; var ab = 0.0; var bb = 0.0
    var i = 0
    while (i < sub) {
      val a = if (floatInput) v.getFloat(off + i).toDouble else v.getDouble(off + i)
      val c = cents.getDouble(base + i)
      aa += a * a; ab += a * c; bb += c * c
      i += 1
    }
    aa - 2.0 * ab + bb
  }

  def encode(v: ArrayData, floatInput: Boolean, cents: ArrayData,
             m: Int, k: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    if (m < 1 || k < 1) return null
    val d = v.numElements()
    if (d == 0 || d % m != 0) return null
    val sub = d / m
    if (cents.numElements() != m * k * sub) return null
    val out = new Array[Any](m)
    var ms = 0
    while (ms < m) {
      var bestD = Double.PositiveInfinity
      var bestK = 0
      var kk = 0
      while (kk < k) {
        val d2 = subDist(v, floatInput, cents, sub, k, ms, kk)
        if (d2 < bestD) { bestD = d2; bestK = kk } // strict <: ties -> smallest id
        kk += 1
      }
      out(ms) = bestK
      ms += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Fused quantize + per-subspace argmin + d2 for the integer-PQ
    * assignment pass (q165/q176 and the training loop's per-round
    * assignment). Replaces an m·(k+1)-dot literal expression tree
    * (~270 Catalyst nodes at m=8, k=32) whose ANALYSIS + OPTIMIZATION
    * alone cost multiple driver seconds per query — the same work in
    * one codegen'd kernel call is a 3-node tree, and at 100 TB the
    * generated code is one tight loop instead of a several-hundred-KB
    * whole-stage method that Janino splits.
    *
    * Arithmetic is BIT-IDENTICAL to the expression form it replaces
    * (the q165/q176 oracles replay it):
    *  - quantize (gmx > 0 only): `floor(x / (gmx/127.0) + 0.5)`, the
    *    division by the pre-folded step, exactly like the old
    *    `transform` lambda; gmx <= 0 means "input already on the grid"
    *    (the training loop's cached q).
    *  - score(kk) = bb − 2.0·ab with bb = Σ c², ab = Σ q·c, each a
    *    separate left-to-right 0.0-seeded sum (bb was a driver-folded
    *    `c.map(x*x).sum` literal before — same order);
    *  - argmin by (score, kk) via java.lang.Double.compare — the
    *    array_min struct ordering;
    *  - d2 = (aa + bestScore).toLong with aa = Σ q² (the old
    *    `graft_dot(qs, qs) + score` then CAST AS LONG).
    * Null/degenerate input (null array, d % m != 0, wrong codebook
    * length) returns null — the old tree emitted m rows of null
    * scores there; no gated corpus contains such rows (the verify
    * gates pin this).
    *
    * Known corner where "bit-identical" does NOT hold (r18 advice):
    * a subspace whose EVERY codebook score is NaN (NaN codebook
    * entries against a finite quantized vector). Here bestScore stays
    * +Infinity (Double.compare(NaN, +Inf) > 0), so d2 saturates to
    * Long.MaxValue, while the old struct-min tree propagated the NaN
    * and CAST(aa + NaN AS LONG) yielded 0. Unreachable for every
    * gated corpus and for any codebook the trainers here can produce
    * (centroid means of finite int vectors are finite); documented
    * rather than replicated because reproducing NaN propagation would
    * complicate the argmin for a state no caller can reach.
    */
  def assignInt(v: ArrayData, floatInput: Boolean, gmx: Double,
                cents: ArrayData, m: Int,
                k: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    if (m < 1 || k < 1) return null
    val d = v.numElements()
    if (d == 0 || d % m != 0) return null
    val sub = d / m
    if (cents.numElements() != m * k * sub) return null
    val q = new Array[Double](d)
    val step = gmx / 127.0
    var i = 0
    while (i < d) {
      if (v.isNullAt(i)) return null
      val x = if (floatInput) v.getFloat(i).toDouble else v.getDouble(i)
      q(i) = if (gmx > 0) math.floor(x / step + 0.5) else x
      i += 1
    }
    val out = new Array[Any](m)
    var ms = 0
    while (ms < m) {
      val off = ms * sub
      var aa = 0.0
      i = 0
      while (i < sub) { val x = q(off + i); aa += x * x; i += 1 }
      var bestScore = Double.PositiveInfinity
      var bestK = 0
      var kk = 0
      while (kk < k) {
        val base = (ms * k + kk) * sub
        var bb = 0.0
        var ab = 0.0
        i = 0
        while (i < sub) {
          val c = cents.getDouble(base + i)
          bb += c * c
          ab += q(off + i) * c
          i += 1
        }
        val score = bb - 2.0 * ab
        if (java.lang.Double.compare(score, bestScore) < 0) {
          bestScore = score; bestK = kk
        }
        kk += 1
      }
      out(ms) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](ms.toLong, bestK.toLong, (aa + bestScore).toLong))
      ms += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `graft_pq_assign(vec, gmx, codebook, m, k)` →
  * array<struct<m_sub:long, code:long, d2:long>> — the fused
  * integer-PQ assignment ([[PqKernel.assignInt]] has the arithmetic
  * contract). One codegen'd call per row; the codebook rides as one
  * array literal instead of m·k slice/dot subtrees.
  */
case class PqAssignInt(v: Expression, gmx: Expression, cents: Expression,
                       m: Expression, k: Expression) extends StaticKernel(
  "graft_pq_assign", Seq(vector, double, strictArrayOf(DoubleType), int, int),
  ArrayType(StructType(Seq(
    StructField("m_sub", LongType, nullable = false),
    StructField("code", LongType, nullable = false),
    StructField("d2", LongType, nullable = false))), containsNull = false),
  PqKernel, "assignInt") {
  override protected def callArgs: Seq[Any] = Seq(v, floatInput(v), gmx, cents, m, k)
}

object VectorExpressions {
  import graft.sql.FunctionTable.kernel

  /** The vector kernels' SQL functions, declared once. */
  val functions: Seq[graft.sql.FunctionTable.Entry[Expression]] = Seq(
    kernel[DotProduct]("graft_dot")(a => DotProduct(a(0), a(1))),
    kernel[HyperplaneCodes]("graft_hyperplane")(a => HyperplaneCodes(a(0), a(1), a(2), a(3))),
    kernel[ArgMaxCosine]("graft_argmax_cos")(a => ArgMaxCosine(a(0), a(1), a(2))),
    kernel[Quantize8]("graft_quantize8")(a => Quantize8(a(0))),
    kernel[Quantize8Arr]("graft_quantize8_arr")(a => Quantize8Arr(a(0))),
    kernel[Dot8]("graft_dot8")(a => Dot8(a(0), a(1))),
    kernel[PqEncode]("graft_pq_encode")(a => PqEncode(a(0), a(1), a(2), a(3))),
    kernel[PqAssignInt]("graft_pq_assign")(a => PqAssignInt(a(0), a(1), a(2), a(3), a(4))),
    kernel[RotateGivens]("graft_rotate")(a => RotateGivens(a(0), a(1), a(2), a(3))))

  /** Register the vector kernels in the session's function registry
    * (idempotent), for the DataFrame API (via `expr`) and SQL alike.
    */
  def register(spark: SparkSession): Unit = graft.sql.FunctionTable.register(spark, functions)
}
