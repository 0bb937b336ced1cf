package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Kernel
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for hot array kernels.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) evaluate
  * interpreted, one boxed lambda call per element — fine for a few
  * rows, ruinous inside an n×m similarity scan. Each kernel here is a
  * primitive JVM loop that whole-stage codegen calls inline, which is
  * the documented escalation path when built-in operators can't
  * express the kernel efficiently (custom Expression > UDF).
  *
  * The kernel contract, shared by every kernel through one expression
  * shape ([[org.apache.spark.sql.graftbridge.Kernel]]):
  *  - input types are declared (`ExpectsInputTypes`): a mismatch fails
  *    analysis with `UNEXPECTED_INPUT_TYPE`, nothing is cast;
  *  - null in gives null out: any null column argument makes the result
  *    null, and the body never sees a null argument;
  *  - one Scala body serves both paths: `ArrayOps.<name>` over Catalyst
  *    values (`ArrayData`, `UTF8String`, primitives) is what interpreted
  *    `eval` and the generated code both call. Parameters fixed per
  *    query (`k`, `w`, the MinHash `as`/`bs`) travel as literals, JVM
  *    arrays as JVM arrays, so nothing converts per row.
  *
  * Below, each kernel is a column wrapper followed by its body of the
  * same name.
  */
object ArrayOps {
  // accepted types of one argument
  private val LongsIn = Seq(ArrayType(LongType))
  private val StringsIn = Seq(ArrayType(StringType))
  private val StringIn = Seq(StringType)
  private val LongIn = Seq(LongType)
  // result types
  private val LongsOut = ArrayType(LongType, containsNull = false)
  private val StringsOut = ArrayType(StringType, containsNull = false)

  import Kernel.column

  /** Integer dot product of two `array<bigint>` columns:
    * `Σ a[i]*b[i]` over the common prefix. */
  def dot_long(a: Column, b: Column): Column =
    column("dot_long", LongType, LongsIn, LongsIn)(a, b)()

  def dot_long(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  /** Count of positions where two `array<bigint>` columns agree over
    * their common prefix — the MinHash signature-agreement kernel
    * (estimated Jaccard = agree_count / k). Replaces the interpreted
    * `size(filter(zip_with(a, b, ==), x => x))` HOF chain: one boxed
    * lambda call per slot per candidate pair becomes a primitive loop
    * inside whole-stage codegen, and the post-banding candidate set is
    * the big intermediate at corpus scale.
    */
  def agree_count(a: Column, b: Column): Column =
    column("agree_count", LongType, LongsIn, LongsIn)(a, b)()

  def agree_count(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { if (x.getLong(i) == y.getLong(i)) acc += 1L; i += 1 }
    acc
  }

  /** Asymmetric-distance (ADC) lookup for product-quantized vectors:
    * `lut` is a query's flattened per-subspace distance table
    * (M·K entries, entry m·K+k = the query's exact squared distance term
    * against centroid k of subspace m) and `codes` a candidate's M PQ
    * codes; the result is Σₘ lut[m·K + codes[m]] — the 100 TB scoring
    * kernel: M table lookups per candidate instead of a full-dimension
    * dot product (the candidate scan is the big intermediate; a HOF
    * here would pay a boxed lambda per subspace per candidate). K is
    * the per-subspace codebook size.
    */
  def pq_adc(lut: Column, codes: Column, k: Int): Column =
    column("pq_adc", LongType, LongsIn, LongsIn)(lut, codes)(k)

  def pq_adc(lut: ArrayData, codes: ArrayData, k: Int): Long = {
    val m = codes.numElements()
    val n = lut.numElements()
    var acc = 0L
    var i = 0
    while (i < m) {
      val c = codes.getLong(i)
      // UnsafeArrayData.getLong does no bounds check: a malformed code
      // would silently read out-of-bounds memory, so validate here
      if (c < 0 || c >= k || i * k + c >= n)
        throw new IllegalArgumentException(
          s"pq_adc: code $c at subspace $i out of range (codebook size $k, " +
            s"lut entries $n) — codes must be in [0, $k) and the lut " +
            "must carry M*K entries")
      acc += lut.getLong(i * k + c.toInt); i += 1
    }
    acc
  }

  /** SQ8 asymmetric scoring kernel: `packed` is a vector's 64 int8
    * scalar-quantization codes packed little-endian 8-per-long (the
    * 1-byte-per-dimension index layout — an 8× cut vs float32 and the
    * reason SQ8 is the default billion-vector compression tier);
    * `w` is the query's per-dimension weight table w_i = q_i·step_i.
    * Returns Σ w[i]·code[i] in exact long arithmetic — for a unit-norm
    * corpus argmax of this is argmax reconstructed inner product (the
    * per-query Σ q_i·lo_i constant drops out of the argmax). Codes are
    * unpacked with shifts in the hot loop: no per-pair array
    * materialization. */
  def sq_wdot(w: Column, packed: Column): Column =
    column("sq_wdot", LongType, LongsIn, LongsIn)(w, packed)()

  def sq_wdot(w: ArrayData, packed: ArrayData): Long = {
    val m = packed.numElements()
    if (w.numElements() != m * 8)
      throw new IllegalArgumentException(
        s"sq_wdot: weight table has ${w.numElements()} entries but packed codes carry " +
          s"$m longs (= ${m * 8} codes) — the weight table " +
          "must have exactly 8 entries per packed long")
    def nullSlot(side: String, i: Int) = new IllegalArgumentException(
      s"sq_wdot: null element at $side[$i] — weight tables and packed " +
        "codes must be null-free (getLong would silently read 0)")
    var acc = 0L
    var j = 0
    while (j < m) {
      // getLong on a null slot silently reads 0 — fail fast instead
      // (a bitmap check, cheap; the SQL surface accepts nullable
      // arrays, so this is the only place the hole can be closed)
      if (packed.isNullAt(j)) throw nullSlot("packed", j)
      val p = packed.getLong(j)
      var b8 = 0
      while (b8 < 8) {
        val wi = j * 8 + b8
        if (w.isNullAt(wi)) throw nullSlot("weights", wi)
        acc += w.getLong(wi) * ((p >>> (8 * b8)) & 0xFFL)
        b8 += 1
      }
      j += 1
    }
    acc
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003
    * — the MOSS algorithm): a rolling Rabin–Karp polynomial hash over
    * every k-char gram of the input string, then a RIGHTMOST-MIN
    * winnowing selection — each w-wide window of consecutive gram
    * hashes contributes its minimum, ties ALWAYS to the rightmost
    * position, and consecutive windows re-selecting the same position
    * collapse to one fingerprint. (This is a deterministic variant of
    * the paper's "robust winnowing", which re-selects the PREVIOUS
    * window's hash on ties; on repeated grams the rightmost rule emits
    * a few extra fingerprints. Engine, oracle, and specs all implement
    * this same rule.) The guarantee is unchanged: any shared substring
    * of length ≥ k+w−1 between two documents yields at least one SHARED
    * fingerprint, while only ~2/(w+1) of positions are kept.
    *
    * One O(n) primitive JVM loop riding the scan (the rolling update
    * `h' = (h − c·B^{k−1})·B + c_new mod M` — never a per-gram
    * rescan), emitting `(pos << 31) | hash` packed longs so the output
    * stays a flat `array<bigint>` (M < 2³¹ keeps the hash in the low
    * bits; positions are document offsets, far under 2³²). Character
    * basis is UNICODE CODE POINTS: positions and gram hashes are
    * computed over the codepoint sequence, not UTF-16 code units, so
    * anchor offsets agree with Spark `substring` and DuckDB
    * `substr`/`ord(substr(…))` on ALL text — an emoji or supplementary
    * CJK char before a match shifts both sides identically instead of
    * silently desyncing the substring family's span arithmetic.
    *
    * Documents shorter than k emit no fingerprints; documents with
    * fewer than w grams winnow a single window over what exists.
    */
  def winnow_pack(text: Column, k: Int, w: Int, base: Long, mod: Long): Column =
    column("winnow_pack", LongsOut, StringIn)(text)(k, w, base, mod)

  def winnow_pack(s: UTF8String, k: Int, w: Int, base: Long, mod: Long): ArrayData = {
    // codepoint basis: one int per character as SQL substr counts them
    val cp = s.toString.codePoints().toArray
    val n = cp.length
    val m = n - k + 1
    if (m <= 0) return new GenericArrayData(Array.emptyLongArray)
    // gram hashes by one rolling pass
    val hs = new Array[Long](m)
    var bk1 = 1L // B^{k-1} mod M
    var i = 0
    while (i < k - 1) { bk1 = (bk1 * base) % mod; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = (h * base + cp(i).toLong) % mod; i += 1 }
    hs(0) = h
    i = 1
    while (i < m) {
      h = (h - (cp(i - 1).toLong * bk1) % mod + mod) % mod
      h = (h * base + cp(i + k - 1).toLong) % mod
      hs(i) = h
      i += 1
    }
    // rightmost-min winnowing: rightmost min per window, dedup on position
    val out = new Array[Long](m)
    var nOut = 0
    var lastPos = -1
    val lastWin = math.max(m - w, 0)
    var s0 = 0
    while (s0 <= lastWin) {
      val end = math.min(s0 + w - 1, m - 1)
      var best = s0
      var j = s0 + 1
      while (j <= end) { if (hs(j) <= hs(best)) best = j; j += 1 }
      if (best != lastPos) {
        out(nOut) = (best.toLong << 31) | hs(best)
        nOut += 1
        lastPos = best
      }
      s0 += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, nOut))
  }

  /** MinHash signature of an array of non-negative base hashes:
    * `out[i] = min over h of (as(i)*h + bs(i)) mod p`. One primitive
    * double loop instead of k interpreted lambda passes. Inputs must
    * satisfy as(i) < 2³¹ and h < 2³¹ so products stay in long range.
    */
  def minhash_sig(hashes: Column, as: Seq[Long], bs: Seq[Long], p: Long): Column =
    column("minhash_sig", LongsOut, LongsIn)(hashes)(as.toArray, bs.toArray, p)

  def minhash_sig(hs: ArrayData, as: Array[Long], bs: Array[Long], p: Long): ArrayData =
    minhash(hs.numElements(), hs.getLong, as, bs, p)

  /** MinHash signature computed DIRECTLY from the shingle strings: fuses
    * the per-shingle base hash (Spark's xxhash64, seed 42 — bit-identical
    * to the `xxhash64()` builtin on strings), the positive mod-2³¹, and
    * the k-component running min into one primitive double loop. The
    * unfused form paid an interpreted `transform()` lambda per shingle
    * before the signature aggregate even started.
    */
  def minhash_sig_str(ss: Column, as: Seq[Long], bs: Seq[Long], p: Long): Column =
    column("minhash_sig_str", LongsOut, StringsIn)(ss)(as.toArray, bs.toArray, p)

  def minhash_sig_str(ss: ArrayData, as: Array[Long], bs: Array[Long], p: Long): ArrayData =
    minhash(ss.numElements(), { j =>
      val h0 = XxHash64Function.hash(ss.getUTF8String(j), StringType, 42L)
      ((h0 % M31) + M31) % M31 // pmod: same as pmod(xxhash64(s), 2^31)
    }, as, bs, p)

  private val M31 = 1L << 31

  private def minhash(n: Int, hashAt: Int => Long, as: Array[Long],
      bs: Array[Long], p: Long): ArrayData = {
    val k = as.length
    val out = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = hashAt(j)
      var i = 0
      while (i < k) {
        val v = (as(i) * h + bs(i)) % p
        if (v < out(i)) out(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** 64-bit SimHash from an array of token hashes: per-bit ±1 votes,
    * positive-vote bits set. Single primitive loop. */
  def simhash_sig(hashes: Column): Column =
    column("simhash_sig", LongType, LongsIn)(hashes)()

  def simhash_sig(hs: ArrayData): Long = {
    val votes = new Array[Int](64)
    var j = 0
    while (j < hs.numElements()) { vote(votes, hs.getLong(j)); j += 1 }
    majority(votes)
  }

  /** 64-bit SimHash fused from token strings, with the per-token 64
    * vote bits derived from the token's MD5 — the one string hash
    * every SQL engine exposes verbatim, which makes the WHOLE signature
    * replayable as plain SQL in an independent engine: `(h1 << 32) | h2`
    * where h1/h2 are the first/second 8 hex chars of `md5(token)` parsed
    * as integers (so bit b < 32 is bit b of h2 and bit 32+b is bit b of
    * h1 — exactly the bits `conv(substring(md5(w), 1|9, 8), 16, 10)`
    * yields in any dialect). This is what turns the simhash near-dup
    * surface from "pinned-by-spec" into a row-for-row external oracle:
    * signatures, hamming distances, and the pair set all recompute
    * bit-identically off engine. MD5 per token costs ~4× xxhash64 but
    * token hashing is a vanishing fraction of the pair-join query, and
    * the digest instance is thread-local — no per-row allocation.
    */
  def simhash_sig_md5(ss: Column): Column =
    column("simhash_sig_md5", LongType, StringsIn)(ss)()

  def simhash_sig_md5(ss: ArrayData): Long = {
    val md = digests.get()
    val votes = new Array[Int](64)
    var j = 0
    while (j < ss.numElements()) {
      md.reset()
      val d = md.digest(ss.getUTF8String(j).getBytes)
      // hex chars 1-8 = digest bytes 0-3 big-endian (h1), 9-16 = bytes
      // 4-7 (h2); token hash long = (h1 << 32) | h2
      val h1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      val h2 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      vote(votes, (h1 << 32) | h2)
      j += 1
    }
    majority(votes)
  }

  /** MD5 is stateful — one digest instance per thread, reset per
    * token, so the fused loop never re-allocates the engine. */
  private val digests = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** One SimHash vote: +1 for each set bit of `h`, −1 for each clear one. */
  private def vote(votes: Array[Int], h: Long): Unit = {
    var b = 0
    while (b < 64) {
      if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
      b += 1
    }
  }

  /** The signature: bit b set where the votes for b are positive. */
  private def majority(votes: Array[Int]): Long = {
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** LSH band keys of a signature: `out[b] = xxhash64(b, sig[b*r .. b*r+r))`
    * for each of `bands` bands — bit-identical to the builtin
    * `xxhash64(b, slice(sig, b*r+1, r))` (seed 42; int seed-fold then
    * per-element long fold, matching Spark's multi-arg hash semantics),
    * but one primitive loop instead of an interpreted transform+slice
    * lambda allocating a sub-array per band per row.
    */
  def band_keys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    column("band_keys", LongsOut, LongsIn)(sig)(bands, rowsPerBand)

  def band_keys(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val n = sig.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = XxHash64Function.hash(b, IntegerType, 42L)
      var i = b * rowsPerBand
      val end = math.min(i + rowsPerBand, n)
      while (i < end) {
        h = XxHash64Function.hash(sig.getLong(i), LongType, h); i += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Power-of-two grid quantization of a float/double array:
    * `out[i] = floor(x[i] * scale)` as longs, one primitive loop. The
    * HOF form (`transform(arr, x -> ...)`) evaluates an interpreted boxed
    * lambda per element — this appears on EVERY similarity-query input
    * row. Multiplying by a power of two is an exponent shift (exact) and
    * floor is exact, preserving the cross-engine bit-for-bit contract of
    * `Similarity.Q`.
    */
  def quantize_q(xs: Column, scale: Double): Column =
    column("quantize_q", LongsOut,
      Seq(ArrayType(FloatType), ArrayType(DoubleType)))(xs)(
      Kernel.FloatElements, scale)

  def quantize_q(xs: ArrayData, floats: Boolean, scale: Double): ArrayData = {
    val n = xs.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val d = if (floats) xs.getFloat(i).toDouble else xs.getDouble(i)
      out(i) = math.floor(d * scale).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct k-word shingles of a word array, in first-occurrence
    * order: one primitive loop, replacing
    * array_distinct(transform(sequence, slice, concat_ws)) whose
    * interpreted lambda re-evaluates per element (and gets duplicated
    * into optimizer-inferred generate filters). */
  def shingles(ws: Column, k: Int): Column =
    column("shingles", StringsOut, StringsIn)(ws)(k, true)

  /** Non-distinct shingles — every occurrence, document order (corpus
    * n-gram counting). */
  def shinglesAll(ws: Column, k: Int): Column =
    column("shingles", StringsOut, StringsIn)(ws)(k, false)

  def shingles(ws: ArrayData, k: Int, distinct: Boolean): ArrayData = {
    val n = ws.numElements()
    val out: java.util.Collection[UTF8String] =
      if (distinct) new java.util.LinkedHashSet[UTF8String]()
      else new java.util.ArrayList[UTF8String](math.max(0, n - k + 1))
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i + k <= n) {
      val parts = new Array[UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = ws.getUTF8String(i + j); j += 1 }
      out.add(UTF8String.concatWs(sep, parts: _*))
      i += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[AnyRef]])
  }

  /** Maximal common substring extent around a fingerprint-collision
    * anchor — the EXTEND-AND-VERIFY kernel of exact-substring dedup
    * (Lee et al. 2022's rule, seeded by winnowing anchors instead of a
    * suffix array): given two texts and the anchor gram positions
    * (pa, pb) of a k-char fingerprint collision, verify the anchor
    * grams char-by-char (a 31-bit rolling-hash collision dies here),
    * then extend left and right while characters agree. Returns
    * `[start_a, start_b, len]` of the maximal common run containing
    * the anchor, or `[0, 0, 0]` for a false-positive anchor. One
    * primitive loop per anchor, O(match length), never a boxed lambda
    * per character. Offsets and lengths are CODE POINTS (the
    * [[winnow_pack]] anchor basis), so they feed SQL
    * `substring`/`substr` arithmetic exactly on any text.
    */
  def substr_extent(ta: Column, tb: Column, pa: Column, pb: Column,
      k: Int): Column =
    column("substr_extent", LongsOut, StringIn, StringIn, LongIn,
      LongIn)(ta, tb, pa, pb)(k)

  def substr_extent(a: UTF8String, b: UTF8String, pa: Long, pb: Long,
      k: Int): ArrayData = {
    // codepoint basis, matching winnow_pack's anchor positions and the
    // SQL substr/substring offset arithmetic downstream (scrub cuts,
    // oracle replay) — UTF-16 charAt would desync on non-BMP text
    val sa = a.toString.codePoints().toArray
    val sb = b.toString.codePoints().toArray
    val ia = pa.toInt
    val ib = pb.toInt
    // verify the anchor gram (hash equality is necessary, not
    // sufficient)
    var i = 0
    while (i < k && ia + i < sa.length && ib + i < sb.length &&
        sa(ia + i) == sb(ib + i)) i += 1
    if (i < k) return new GenericArrayData(Array(0L, 0L, 0L))
    // extend right
    var ra = ia + k
    var rb = ib + k
    while (ra < sa.length && rb < sb.length &&
        sa(ra) == sb(rb)) { ra += 1; rb += 1 }
    // extend left
    var la = ia
    var lb = ib
    while (la > 0 && lb > 0 && sa(la - 1) == sb(lb - 1)) {
      la -= 1; lb -= 1
    }
    new GenericArrayData(Array(la.toLong, lb.toLong, (ra - la).toLong))
  }
}
