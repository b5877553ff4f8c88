package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression,
  UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Static, codegen-callable kernels. Keeping the per-row work in
  * static methods lets each expression (a `StaticInvoke` built by
  * [[GraftFunctions]], or one of the classes below) emit a single
  * call in generated code, so it stays inside whole-stage codegen (no
  * virtual `eval` dispatch per row) while the loops themselves are
  * tight JIT-friendly Java.
  */
object Kernels {
  private final val Seed = 42L

  def hashToken(s: UTF8String, seed: Long): Long =
    XXH64.hashUTF8String(s, seed)

  /** 64-bit SimHash over an array of string tokens: sum +-1 per bit of
    * each token hash; output bit j set iff the sum is positive. */
  def simhash64(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = hashToken(tokens.getUTF8String(i), Seed)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  private final val Pow10 = Array.tabulate(19)(i => math.pow(10, i).toLong)

  /** Double → scaled BIGINT with EXACTLY the semantics of
    * `CAST(d AS DECIMAL(18, scale))` followed by `* 10^scale` and a
    * long cast — but without the per-row string→BigDecimal→Decimal
    * allocation chain that makes that cast the dominant cost of an
    * exact money aggregate. The semantic anchor is the same:
    * Spark's double→decimal cast rounds the double's SHORTEST
    * DECIMAL RENDERING (Double.toString) half-up at `scale` (8.165
    * prints "8.165" → 817 cents, while its binary value is
    * 8.164999...), so this kernel renders the same string and
    * parses it directly into a scaled long: ≤17 significant digits
    * always fit a long, the half-up cut is integer division on a
    * 10^k table, and DECIMAL(18)-precision overflow throws like the
    * ANSI cast.
    *
    * Hot path: rendering can be skipped entirely when the binary
    * value PROVES it is nowhere near a rounding boundary. With
    * y = d·10^scale, the shortest-decimal value D satisfies
    * |y − D·10^scale| ≤ ~2.5·ulp(y), so whenever y's fractional part
    * sits more than 8·ulp(y) from the half-up cut at .5, rounding y
    * and rounding the rendered decimal provably agree — one multiply,
    * one floor, no allocation. Boundary-adjacent values (the
    * 8.165-class traps, exact ties, |y| ≥ 2^51 where +0.5 is no
    * longer exact) fall back to the rendering path, which is the
    * anchor semantics by construction. Spec-proven per-row equal to
    * the decimal cast on random + adversarial inputs. */
  def moneyScaled(d: Double, scale: Int): Long = {
    val y = d * Pow10(scale)
    val ay = math.abs(y)
    if (ay < 2.251799813685248e15) { // 2^51: ulp(y) <= 0.25, y+0.5 exact
      val f = y - math.floor(y)
      if (math.abs(f - 0.5) > 8 * Math.ulp(y) + java.lang.Double.MIN_NORMAL) {
        val z = math.floor(y + 0.5).toLong
        if (z >= Pow10(18) || z <= -Pow10(18))
          throw new ArithmeticException(s"$d does not fit DECIMAL(18,$scale)")
        return z
      }
    }
    moneyScaledSlow(d, scale)
  }

  private def moneyScaledSlow(d: Double, scale: Int): Long = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d))
      throw new NumberFormatException(s"cannot cast $d to DECIMAL(18,$scale)")
    val s = java.lang.Double.toString(d)
    val n = s.length
    var i = 0
    var neg = false
    if (s.charAt(0) == '-') { neg = true; i = 1 }
    var digits = 0L
    var fracLen = 0
    var inFrac = false
    var exp = 0
    var cont = true
    while (i < n && cont) {
      val c = s.charAt(i)
      if (c == '.') inFrac = true
      else if (c == 'E') { exp = Integer.parseInt(s.substring(i + 1)); cont = false }
      else {
        digits = digits * 10 + (c - '0')
        if (inFrac) fracLen += 1
      }
      i += 1
    }
    val shift = exp - fracLen + scale
    val mag =
      if (shift >= 0) {
        var r = digits
        var j = 0
        while (j < shift) { r = Math.multiplyExact(r, 10L); j += 1 }
        r
      } else if (shift < -18) 0L
      else {
        val pow = Pow10(-shift)
        val q = digits / pow
        // HALF_UP: remainder at or past the midpoint rounds away
        // from zero (2*rem <= 2e17, no overflow)
        if (2 * (digits % pow) >= pow) q + 1 else q
      }
    if (mag >= Pow10(18))
      throw new ArithmeticException(
        s"$d does not fit DECIMAL(18,$scale)")
    if (neg) -mag else mag
  }

  /** Raw inner product (MIPS score) — [[cosine]] without the norm:
    * sequential index-order left fold, bit-identical to DuckDB's
    * list_sum over the zipped products (the ann_bruteforce float
    * contract). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Cosine similarity between two float vectors (single fused loop).
    * Two `UnsafeArrayData` vectors (what Spark rows hold) are read
    * with `Platform.getFloat` from element offsets computed once: the
    * same reads `getFloat` makes, without its per-element call and
    * offset arithmetic. The summation order is the same on both paths,
    * so the result is bit-identical. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    if (a.isInstanceOf[UnsafeArrayData] && b.isInstanceOf[UnsafeArrayData]) {
      val ua = a.asInstanceOf[UnsafeArrayData]
      val ub = b.asInstanceOf[UnsafeArrayData]
      val ao = ua.getBaseObject
      val bo = ub.getBaseObject
      val aStart = ua.getBaseOffset +
        UnsafeArrayData.calculateHeaderPortionInBytes(ua.numElements())
      val bStart = ub.getBaseOffset +
        UnsafeArrayData.calculateHeaderPortionInBytes(ub.numElements())
      while (i < n) {
        val x = Platform.getFloat(ao, aStart + 4L * i).toDouble
        val y = Platform.getFloat(bo, bStart + 4L * i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
    } else {
      while (i < n) {
        val x = a.getFloat(i).toDouble
        val y = b.getFloat(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Word n-gram shingles of a token array, space-joined, in one
    * pass. Exists because the compose-first form
    * `transform(sequence(...), i -> concat_ws(slice(tokens, ...)))`
    * is a higher-order function: Spark interprets the whole subtree
    * (CodegenFallback), and CollapseProject re-inlines the `split`
    * producing `tokens` into every lambda slot — turning shingling
    * into O(shingles) full re-splits of the document per row. */
  def shingles(tokens: ArrayData, n: Int): ArrayData = {
    val cnt = tokens.numElements() - n + 1
    if (cnt <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val sep = UTF8String.fromString(" ")
    val out = new Array[Any](cnt)
    var i = 0
    while (i < cnt) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) {
        parts(j) = if (tokens.isNullAt(i + j)) UTF8String.EMPTY_UTF8
                   else tokens.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(sep, parts: _*)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** MinHash band signature in ONE pass over the shingle array.
    * k = bands*rows seeded hashes per shingle: one string hash, then
    * k independent long-rehashes (an affine family h1 + j*h2 is NOT
    * enough here — it correlates the per-j argmins, so docs sharing
    * any popular shingle collide on whole bands and candidate
    * generation goes quadratic). Each band's `rows` minima fold into
    * one 64-bit bucket key. Output: array<long> of
    * length `bands`. Replaces a 64-deep nested higher-order-function
    * pipeline that Spark can only interpret (HOFs are
    * CodegenFallback) — this is the difference between an LSH pass
    * being CPU-bound on hashing and being bound on expression
    * interpretation overhead. */
  def minhashBands(shingles: ArrayData, bands: Int, rows: Int): ArrayData = {
    val k = bands * rows
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val u = shingles.getUTF8String(i)
        val h1 = XXH64.hashUTF8String(u, Seed)
        var j = 0
        while (j < k) {
          val g = XXH64.hashLong(h1, Seed + j)
          if (g < mins(j)) mins(j) = g
          j += 1
        }
      }
      i += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = Seed
      var r = 0
      while (r < rows) {
        acc = XXH64.hashLong(mins(b * rows + r), acc)
        r += 1
      }
      out(b) = acc
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Jaccard similarity of two SORTED distinct string arrays via a
    * single merge pass — no per-pair hash sets (array_intersect/
    * array_union allocate and hash both sides for every row, which
    * dominates all-pairs similarity joins). */
  def sortedJaccard(a: ArrayData, b: ArrayData): Double = {
    val (na, nb) = (a.numElements(), b.numElements())
    if (na == 0 && nb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  /** One power-iteration scan step for PCA: per row, the centered
    * projection t = Σ_d (x_d − μ_d)·v_d (sequential — one fixed IEEE
    * order, matching DuckDB's list_sum), then the per-dim
    * contribution (x_d − μ_d)·t quantized to BIGINT micro-units so
    * the CORPUS sum is exact integer arithmetic — order-independent
    * under any partitioning, where a raw double Σ_rows would drift. */
  def centeredPowerContrib(emb: ArrayData, mu: Array[Double],
                           v: Array[Double]): ArrayData = {
    val n = emb.numElements()
    var t = 0.0
    var d = 0
    while (d < n) {
      t += (emb.getFloat(d).toDouble - mu(d)) * v(d); d += 1
    }
    val out = new Array[Long](n)
    d = 0
    while (d < n) {
      out(d) = math.floor((emb.getFloat(d).toDouble - mu(d)) * t * 1e6)
        .toLong
      d += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Centered projection t = Σ_d (x_d − μ_d)·v_d — the sequential
    * IEEE dot shared by [[centeredPowerContrib]], exposed alone for
    * the all-but-the-top correction. */
  def centeredDot(emb: ArrayData, mu: Array[Double],
                  v: Array[Double]): Double = {
    val n = emb.numElements()
    var t = 0.0
    var d = 0
    while (d < n) {
      t += (emb.getFloat(d).toDouble - mu(d)) * v(d); d += 1
    }
    t
  }

  /** Z-normalized squared Euclidean distance between a value
    * subsequence and a fixed query pattern (UCR-style subsequence
    * matching). Every Σ is a separate left-to-right pass and every
    * scalar step a fixed IEEE op, matching the oracle's list_sum
    * formulation term for term; degenerate (zero-variance) sides
    * z-normalize to 0. */
  def znDist(x: ArrayData, q: Array[Double]): Double = {
    val n = x.numElements()
    var sx = 0.0; var i = 0
    while (i < n) { sx += x.getDouble(i); i += 1 }
    val mx = sx / n
    var sxx = 0.0; i = 0
    while (i < n) { val v = x.getDouble(i); sxx += v * v; i += 1 }
    val vx = sxx / n - mx * mx
    var sq = 0.0; i = 0
    while (i < n) { sq += q(i); i += 1 }
    val mq = sq / n
    var sqq = 0.0; i = 0
    while (i < n) { sqq += q(i) * q(i); i += 1 }
    val vq = sqq / n - mq * mq
    val sdx = if (vx <= 0) 0.0 else math.sqrt(vx)
    val sdq = if (vq <= 0) 0.0 else math.sqrt(vq)
    var acc = 0.0; i = 0
    while (i < n) {
      val zx = if (sdx == 0.0) 0.0 else (x.getDouble(i) - mx) / sdx
      val zq = if (sdq == 0.0) 0.0 else (q(i) - mq) / sdq
      val d = zx - zq
      acc += d * d
      i += 1
    }
    acc
  }

  /** Long-array twin of [[sortedJaccard]]: same merge walk over
    * sorted distinct hash arrays — 8 bytes/element through the
    * shuffle where the string form ships whole shingles. */
  def sortedJaccardLong(a: ArrayData, b: ArrayData): Double = {
    val (na, nb) = (a.numElements(), b.numElements())
    if (na == 0 && nb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  /** Deterministic pseudo-random +-1 hyperplane component for plane j,
    * dimension d (hash-derived; no RNG state to ship to executors). */
  @inline private def planeSign(j: Int, d: Int): Double =
    if ((XXH64.hashLong((j.toLong << 32) | d.toLong, Seed) & 1L) == 0L) 1.0
    else -1.0

  // ---- md5 ("auditable") hash family ----------------------------------
  //
  // Twin of the xxhash64 kernels above, built on MD5 so every derived
  // key is reproducible OUTSIDE the engine: any system with an md5()
  // (DuckDB, Postgres, python) can re-derive the exact LSH buckets /
  // signatures and audit a dedup decision. This is what lets the
  // driver's cross-engine oracle gate the LSH-family operators
  // hash-exactly instead of rows-only. ~10x the hash cost of xxhash64;
  // use the fast family for throughput, this one when lineage audits
  // or cross-engine reproducibility matter.

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  @inline private def utf8Bytes(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** MinHash band keys over the md5 family: each shingle is hashed
    * ONCE (h = its md5's first 7 hex chars = 28 bits), then the k
    * seeded values come from the classic affine rehash family
    * g_j = (a_j * h + b_j) mod p with p = 2^31 - 1 and per-seed
    * multipliers/offsets themselves md5-derived:
    * a_j = 1 + (md5_60("a:" || j) mod (p-1)),
    * b_j = md5_60("b:" || j) mod p (md5_60 = first 15 hex chars).
    * Independent random-looking (a_j, b_j) per seed keep the per-j
    * argmins decorrelated — unlike the h1 + j*h2 shortcut §5.1 warns
    * about — while costing ONE md5 per shingle instead of k (measured:
    * the per-(seed, shingle) md5 variant ran dedup_minhash_lsh at
    * 6.1 s vs 0.5 s for the fast family at sf0.1; this form closes
    * that gap). 28-bit h keeps a_j * h inside 59 bits — no BIGINT
    * overflow in any engine. Band key = the 60-bit md5 prefix of the
    * band's `rows` minima as decimal strings joined with '|' — an
    * 8-byte key, so the candidate shuffle carries (band, long, id)
    * exactly like the fast family (the raw joined string would ride
    * ~5x heavier); every step is re-derivable in SQL:
    * ('0x' || substr(md5(array_to_string(list(m::VARCHAR ORDER BY j),
    * '|')), 1, 15))::BIGINT. */
  def md5MinhashBands(shingles: ArrayData, bands: Int, rows: Int): ArrayData = {
    val k = bands * rows
    val (as, bs) = affineConstants(k)
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val d = md5Local.get()
        d.reset()
        d.update(shingles.getUTF8String(i).getBytes)
        val dg = d.digest()
        // first 7 hex chars = top 28 bits of the digest
        val h = ((dg(0) & 0xFFL) << 20) | ((dg(1) & 0xFFL) << 12) |
          ((dg(2) & 0xFFL) << 4) | ((dg(3) & 0xF0L) >> 4)
        var j = 0
        while (j < k) {
          val g = (as(j) * h + bs(j)) % MersenneP
          if (g < mins(j)) mins(j) = g
          j += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder(rows * 11)
      var r = 0
      while (r < rows) {
        if (r > 0) sb.append('|')
        val m = mins(b * rows + r)
        sb.append(if (m == Long.MaxValue) "" else m.toString)
        r += 1
      }
      out(b) = md5Prefix60(sb.toString)
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private final val MersenneP = 2147483647L // 2^31 - 1

  /** First 60 bits of md5(s) as a non-negative long — the engine's
    * auditable uniform hash (SQL twin: ('0x'||substr(md5(s),1,15))
    * ::BIGINT). Public: the streaming sketch ops feed it directly. */
  def md5Prefix60(s: String): Long = {
    val d = md5Local.get()
    d.reset()
    d.update(utf8Bytes(s))
    val dg = d.digest()
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (dg(i) & 0xFFL); i += 1 }
    (v << 4) | ((dg(7) & 0xF0L) >> 4)
  }

  private val affineCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  /** 256-entry gear table for rolling-hash CDC, itself md5-derived
    * so any engine re-derives it: gear[b] = md5Prefix60("gear:"+b)
    * (SQL twin: ('0x'||substr(md5('gear:'||b),1,15))::BIGINT). */
  private lazy val gearTable: Array[Long] =
    Array.tabulate(256)(b => md5Prefix60("gear:" + b))

  /** Content-defined cut positions by gear rolling hash (the FastCDC
    * update): h ← (2h + gear[codepoint mod 256]) mod 2^62 per
    * character, cut at position i when (h AND divisor−1) = 0 and
    * i − lastCut ≥ minSize. ONE tight primitive loop per document —
    * this is the production path next to the md5-window variant,
    * whose per-position md5 measured 6.1 s at sf0.1 (≈0.4 µs/char);
    * the gear update is a table lookup + shift + mask (~2 ns/char).
    * The shift ages old characters out of the state (62-char
    * effective window), so cuts re-synchronize after insertions
    * exactly like the windowed variant. Returns the cut bounds
    * INCLUDING the leading 0 and the trailing text length — the
    * chunk-split frame both CDC variants share. `divisor` must be a
    * power of two. */
  def cdcGearCuts(text: UTF8String, divisor: Int, minSize: Int)
      : ArrayData = {
    val s = text.toString
    val mask62 = 0x3FFFFFFFFFFFFFFFL
    val boundary = (divisor - 1).toLong
    val cuts = new scala.collection.mutable.ArrayBuffer[Int](16)
    cuts += 0
    var h = 0L
    var last = 0
    var i = 0          // char (codepoint) position, 1-based after ++
    var off = 0        // UTF-16 offset
    val len = s.length
    while (off < len) {
      val cp = s.codePointAt(off)
      off += Character.charCount(cp)
      i += 1
      h = ((h << 1) + gearTable(cp & 255)) & mask62
      if ((h & boundary) == 0L && i - last >= minSize) {
        cuts += i
        last = i
      }
    }
    if (last != i) cuts += i
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      cuts.toArray)
  }

  /** Content-defined cut positions by the md5 sliding window — the
    * auditable twin of [[cdcGearCuts]], bit-identical to the HOF
    * chain it replaces: a candidate at codepoint position i
    * (1-based, i ≥ w) fires when the first 28 bits of
    * md5(substring(text, i−w+1, w)) — SQL's
    * conv(substr(md5(…), 1, 7), 16, 10) — are ≡ 0 mod `divisor`;
    * candidates fold left-to-right with the greedy min-size rule
    * (accept i when i − lastCut ≥ minSize); bounds include the
    * leading 0 and the trailing codepoint length. One primitive
    * loop per document over the raw UTF-8 bytes (codepoint
    * boundaries tracked in a ring buffer, one 8-char md5 per
    * position, zero string allocation) — replaces the interpreted
    * transform(sequence(...))/aggregate lambda chain whose
    * per-position substring + md5-hex + conv measured ~6–13 s at
    * sf0.1 for the same md5 count. */
  def cdcMd5Cuts(text: UTF8String, w: Int, divisor: Int, minSize: Int)
      : ArrayData = {
    val bytes = text.getBytes
    val nBytes = bytes.length
    val cuts = new scala.collection.mutable.ArrayBuffer[Int](16)
    cuts += 0
    var last = 0
    // ring buffer of the byte offsets of the last w+1 codepoint
    // boundaries: ring(i % (w+1)) = byte offset where codepoint
    // i+1 starts (0-based offsets; entry for i = 0 is offset 0)
    val ring = new Array[Int](w + 1)
    ring(0) = 0
    val d = md5Local.get()
    var i = 0   // codepoints consumed so far (1-based position of last)
    var off = 0 // current byte offset
    while (off < nBytes) {
      val b = bytes(off)
      val step =
        if ((b & 0x80) == 0) 1
        else if ((b & 0xE0) == 0xC0) 2
        else if ((b & 0xF0) == 0xE0) 3
        else 4
      off += step
      i += 1
      ring(i % (w + 1)) = off
      if (i >= w) {
        val start = ring((i - w) % (w + 1))
        d.reset()
        d.update(bytes, start, off - start)
        val dg = d.digest()
        // first 7 hex chars of the md5 = top 28 bits of the digest
        val v = ((dg(0) & 0xFFL) << 20) | ((dg(1) & 0xFFL) << 12) |
          ((dg(2) & 0xFFL) << 4) | ((dg(3) & 0xF0L) >> 4)
        if (v % divisor == 0L && i - last >= minSize) {
          cuts += i
          last = i
        }
      }
    }
    if (last != i) cuts += i
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      cuts.toArray)
  }

  private def affineConstants(k: Int): (Array[Long], Array[Long]) = {
    var c = affineCache.get(k)
    if (c == null) {
      c = (Array.tabulate(k)(j => 1L + md5Prefix60("a:" + j) % (MersenneP - 1)),
        Array.tabulate(k)(j => md5Prefix60("b:" + j) % MersenneP))
      affineCache.putIfAbsent(k, c)
    }
    c
  }

  /** 60-bit SimHash over the md5 family: token hash = first 15 hex
    * chars of md5(token) as a 60-bit integer (SQL twin:
    * ('0x' || substr(md5(t), 1, 15))::BIGINT); bit j of the signature
    * is set iff the +-1 vote sum over tokens at bit j is positive.
    * 60 bits (not 64) keeps the value addressable as a SIGNED BIGINT
    * in every engine. */
  def md5Simhash60(tokens: ArrayData): Long = {
    val counts = new Array[Int](60)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val d = md5Local.get()
        d.reset()
        d.update(tokens.getUTF8String(i).getBytes)
        val dg = d.digest()
        var v = 0L
        var c = 0
        while (c < 7) { v = (v << 8) | (dg(c) & 0xFFL); c += 1 }
        v = (v << 4) | ((dg(7) & 0xF0L) >> 4)
        var j = 0
        while (j < 60) {
          if (((v >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 60) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** +-1 hyperplane signs for the md5 family: sign(j, d) = +1 iff the
    * first hex char of md5(j || ',' || d) is < '8' (i.e. the digest's
    * top bit is 0). Cached per (planes, dim) — the matrix is data-
    * independent. SQL twin:
    * CASE WHEN strpos('01234567', substr(md5(j || ',' || d), 1, 1)) > 0
    *      THEN 1 ELSE -1 END. */
  private val md5SignCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Byte]]()

  private def md5Signs(planes: Int, dim: Int): Array[Byte] = {
    val key = (planes.toLong << 32) | dim.toLong
    var m = md5SignCache.get(key)
    if (m == null) {
      m = new Array[Byte](planes * dim)
      var j = 0
      while (j < planes) {
        var d = 0
        while (d < dim) {
          val md = md5Local.get()
          md.reset()
          md.update(utf8Bytes(s"$j,$d"))
          m(j * dim + d) = if ((md.digest()(0) & 0x80) == 0) 1 else -1
          d += 1
        }
        j += 1
      }
      md5SignCache.putIfAbsent(key, m)
    }
    m
  }

  /** Random-hyperplane LSH signature over the md5 family, with the
    * dot product in SCALED-INTEGER arithmetic: component x becomes
    * floor(x * 1e6) as a BIGINT, so the per-plane sum is exact,
    * order-independent, and bit-identical in any engine — a float dot
    * product's rounding could flip a sign bit near zero and silently
    * desync the buckets between engines. Bit j = (sum > 0). */
  def md5RhpBits(vec: ArrayData, planes: Int): Long = {
    val n = vec.numElements()
    val signs = md5Signs(planes, n)
    var out = 0L
    var j = 0
    while (j < planes) {
      var dot = 0L
      var d = 0
      val base = j * n
      while (d < n) {
        dot += math.floor(vec.getFloat(d).toDouble * 1e6).toLong * signs(base + d)
        d += 1
      }
      if (dot > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** Argmin-L2 codebook assignment in one narrow pass: given a row
    * vector slice and the (broadcast) array of (code, c_v) structs,
    * return (code, d2) of the nearest entry, ties to the lowest
    * code — the PQ metric twin of [[cosineArgmax]]. The per-entry
    * distance is the sequential index-order left fold of (x−c)²,
    * bit-identical to the aggregate(zip_with(...)) HOF chain it
    * replaces (HOFs are CodegenFallback and drop the whole
    * assignment scan out of whole-stage codegen). */
  def l2Argmin(vec: ArrayData, cents: ArrayData): InternalRow = {
    val n = cents.numElements()
    val m = vec.numElements()
    var bestCode = -1L
    var bestD2 = Double.PositiveInfinity
    var first = true
    var i = 0
    while (i < n) {
      val row = cents.getStruct(i, 2)
      val code = row.getLong(0)
      val c = row.getArray(1)
      var d2 = 0.0
      var j = 0
      while (j < m) {
        val d = vec.getFloat(j).toDouble - c.getFloat(j).toDouble
        d2 += d * d
        j += 1
      }
      // first entry initializes unconditionally and non-NaN beats
      // NaN: a NaN distance loses every `<` comparison, so without
      // these guards a NaN slice/codebook entry could leave the -1
      // sentinel (or pin a NaN first entry) and leak an invalid code
      // into downstream rollups instead of picking a real neighbor
      if (first || (java.lang.Double.isNaN(bestD2) &&
            !java.lang.Double.isNaN(d2)) ||
          d2 < bestD2 || (d2 == bestD2 && code < bestCode)) {
        bestD2 = d2
        bestCode = code
        first = false
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestCode, bestD2))
  }

  /** Argmax-cosine centroid assignment in ONE narrow pass: given a row
    * vector and the (broadcast) array of (centroid_id, c_emb) structs,
    * return the centroid id with the highest cosine (ties to the
    * lowest id — same total order as
    * row_number() OVER (ORDER BY sim DESC, centroid_id)). Replaces the
    * crossJoin + groupBy-argmax IVF assignment, which expanded the
    * corpus n×nlist and re-shuffled every vector to reduce the argmax
    * — at 100 TB that is a full-dataset exchange per assignment pass;
    * this is zero exchanges. */
  def cosineArgmax(vec: ArrayData, cents: ArrayData): Long = {
    val n = cents.numElements()
    var bestId = -1L
    var bestSim = Double.NegativeInfinity
    var i = 0
    while (i < n) {
      val row = cents.getStruct(i, 2)
      val id = row.getLong(0)
      val sim = cosine(vec, row.getArray(1))
      if (sim > bestSim || (sim == bestSim && id < bestId)) {
        bestSim = sim
        bestId = id
      }
      i += 1
    }
    bestId
  }

  /** Top-R centroids by cosine for one row vector, in rank order —
    * the multi-preference generalization of [[cosineArgmax]]. The
    * insertion sort keeps entries ordered (cos desc, id asc): cents
    * is id-sorted, so iterating ascending with a STRICT `>` on the
    * displacement test reproduces exactly the total order of
    * row_number() OVER (ORDER BY cos_sim DESC, centroid_id) — the
    * narrow replacement for the n×nlist crossJoin + per-vector rank
    * window (that window shuffles the full preference matrix; this
    * shuffles nothing). O(nlist·R) per row with R ≤ a handful. */
  def cosineTopR(vec: ArrayData, cents: ArrayData, r: Int): ArrayData = {
    val n = cents.numElements()
    val keep = math.min(r, n)
    val ids = new Array[Long](keep)
    val sims = new Array[Double](keep)
    var filled = 0
    var i = 0
    while (i < n) {
      val row = cents.getStruct(i, 2)
      val id = row.getLong(0)
      val sim = cosine(vec, row.getArray(1))
      if (filled < keep || sim > sims(filled - 1)) {
        // insertion index: after every entry with sim >= this one
        // (equal sims keep the earlier = smaller id first)
        var pos = if (filled < keep) filled else keep - 1
        while (pos > 0 && sims(pos - 1) < sim) pos -= 1
        var j = math.min(filled, keep - 1)
        while (j > pos) { sims(j) = sims(j - 1); ids(j) = ids(j - 1); j -= 1 }
        sims(pos) = sim
        ids(pos) = id
        if (filled < keep) filled += 1
      }
      i += 1
    }
    val out = new Array[Any](filled)
    var k = 0
    while (k < filled) {
      out(k) = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](ids(k), sims(k)))
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Int8 quantization audit in one codegen pass (struct result):
    * symmetric per-vector scale = max|x| / 127, q = clamped
    * floor(x/scale + 0.5), reported as exact floor-scaled BIGINT error
    * sums. `nonzero` = false for all-zero vectors (caller filters) —
    * a struct field instead of a NULL result keeps the expression
    * inside plain defineCodeGen. Replaces a transform/aggregate HOF
    * chain that fell out of whole-stage codegen (HOFs are
    * CodegenFallback). Arithmetic order matches the HOF form
    * bit-for-bit: clamp is max(-127, min(127, floor(x/scale + 0.5))),
    * err sum is a sequential left fold of floor(err * 1e9). */
  def quantAudit(vec: ArrayData): InternalRow = {
    val n = vec.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(vec.getFloat(i).toDouble)
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    if (maxAbs == 0.0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](false, 0.0, 0L, 0L))
    val scale = maxAbs / 127.0
    var absErrScaled = 0L
    var maxErr = 0.0
    i = 0
    while (i < n) {
      val x = vec.getFloat(i).toDouble
      val q = math.max(-127.0, math.min(127.0, math.floor(x / scale + 0.5)))
      val err = math.abs(x - q * scale)
      absErrScaled += math.floor(err * 1e9).toLong
      if (err > maxErr) maxErr = err
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](true, scale, absErrScaled, math.floor(maxErr * 1e9).toLong))
  }

  /** [[quantAudit]]'s `nonzero` without the audit: true when some
    * element's magnitude is above zero (a NaN element's is not). */
  def quantNonzero(vec: ArrayData): Boolean = {
    val n = vec.numElements()
    var i = 0
    while (i < n) {
      if (math.abs(vec.getFloat(i).toDouble) > 0.0) return true
      i += 1
    }
    false
  }

  /** Random-hyperplane LSH signature: bit j = sign(dot(vec, r_j)).
    * With `planes` <= 64 the signature packs into one long, so the
    * LSH bucket join is a plain long-key shuffle. */
  def rhpBits(vec: ArrayData, planes: Int): Long = {
    val n = vec.numElements()
    var out = 0L
    var j = 0
    while (j < planes) {
      var dot = 0.0
      var d = 0
      while (d < n) { dot += vec.getFloat(d).toDouble * planeSign(j, d); d += 1 }
      if (dot > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** Spark's ICU `lower`/`upper` of a UTF8_BINARY string
    * (`CollationAwareUTF8String.toLowerCase`/`toUpperCase`, the
    * default since Spark 4): ASCII input through the ASCII fast path,
    * anything else through ICU's full case mapping of the valid-UTF-8
    * string. The same calls, but not through that class, whose static
    * initializer builds a title-case table over all 1,114,112 code
    * points (about 1.8 s once per JVM on a 4-core host) that lower and
    * upper never read. */
  def caseMap(s: UTF8String, upper: Boolean): UTF8String =
    if (s.isFullAscii) {
      if (upper) s.toUpperCaseAscii else s.toLowerCaseAscii
    } else {
      val v = s.toValidString
      UTF8String.fromString(
        if (upper) com.ibm.icu.lang.UCharacter.toUpperCase(v)
        else com.ibm.icu.lang.UCharacter.toLowerCase(v))
    }
}

/** `lower`/`upper` of a UTF8_BINARY string under ICU case mappings
  * ([[Kernels.caseMap]]); [[graft.plans.CaseMapRule]] puts it in
  * place of Spark's `Lower`/`Upper`. */
case class CaseMapExpr(child: Expression, upper: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = if (upper) "upper" else "lower"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.caseMap(input.asInstanceOf[UTF8String], upper)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.caseMap($c, $upper)")
  override protected def withNewChildInternal(c: Expression): CaseMapExpr =
    copy(child = c)
}

/** Double → scaled BIGINT with decimal-cast rounding semantics
  * ([[Kernels.moneyScaled]]): the codegen'd per-row half of the
  * exact money sum ([[graft.operators.Relational.sumExact]]).
  * NaN/Infinity NULL out, as the decimal cast does, so the sum
  * null-skips the same rows the cast would instead of throwing. A
  * value beyond DECIMAL(18,scale) fails as that cast does: NULL with
  * ANSI off, an `ArithmeticException` with ANSI on. Like `Cast`, the
  * expression reads the ANSI setting when it is built. */
case class MoneyScaledExpr(child: Expression, scale: Int,
                           ansiEnabled: Boolean = SQLConf.get.ansiEnabled)
    extends UnaryExpression {
  require(scale >= 0 && scale <= 9, s"unsupported money scale $scale")
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"money_scaled input must be DOUBLE, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any = {
    val d = input.asInstanceOf[Double]
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) null
    else if (ansiEnabled) Kernels.moneyScaled(d, scale)
    else try Kernels.moneyScaled(d, scale)
    catch { case _: ArithmeticException => null }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, { c =>
      val scaled =
        s"${ev.value} = graft.functions.Kernels.moneyScaled($c, $scale);"
      val body =
        if (ansiEnabled) scaled
        else s"""try { $scaled }
          catch (java.lang.ArithmeticException e) { ${ev.isNull} = true; }"""
      s"""
      if (java.lang.Double.isNaN($c) || java.lang.Double.isInfinite($c)) {
        ${ev.isNull} = true;
      } else {
        $body
      }"""
    })
  override protected def withNewChildInternal(c: Expression): MoneyScaledExpr =
    copy(child = c)
}

/** Bloom-filter membership probe on a BIGINT key. The built sketch
  * rides inside the expression (serialized once per task, referenced
  * via `addReferenceObj` in generated code), so the probe is a single
  * unboxed call inside whole-stage codegen — unlike a Scala UDF,
  * which pays per-row Long boxing and a lambda dispatch. Used by
  * [[graft.operators.RuntimeFilter]] as the pre-shuffle fact prune. */
case class BloomProbeExpr(filter: org.apache.spark.util.sketch.BloomFilter,
                          child: Expression) extends UnaryExpression {
  // analysis-time contract: a non-LONG key fails analysis with a
  // typed error instead of a runtime ClassCastException (or a janino
  // compile error) inside codegen'd mightContainLong
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bloom probe key must be BIGINT, got ${child.dataType.sql}")
  override def dataType: DataType = BooleanType
  override protected def nullSafeEval(input: Any): Any =
    filter.mightContainLong(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomFilter", filter,
      "org.apache.spark.util.sketch.BloomFilter")
    defineCodeGen(ctx, ev, c => s"$ref.mightContainLong($c)")
  }
  override protected def withNewChildInternal(c: Expression): BloomProbeExpr =
    copy(child = c)
}

/** Column-level API for the custom expressions. Every kernel function
  * is a Spark `StaticInvoke` of its [[Kernels]] method: generated code
  * calls `graft.functions.Kernels.<method>(…)` inside whole-stage
  * codegen, and interpreted evaluation finds the same method by
  * reflection. A NULL input gives NULL; a non-null input never does,
  * so the result is nullable exactly when an input is. */
object GraftFunctions {
  private def toExpr(c: Column): Expression = GraftColumnBridge.expression(c)
  private def toCol(e: Expression): Column = GraftColumnBridge.column(e)

  private def kernel(method: String, dataType: DataType,
                     args: Expression*): Column =
    toCol(StaticInvoke(Kernels.getClass, dataType, method, args,
      propagateNull = true, returnNullable = false))

  /** A driver-side `double[]` (centroid, axis, query pattern) as a
    * reference object of the generated code. */
  private def doubles(a: Array[Double]): Expression =
    Literal(a, ObjectType(classOf[Array[Double]]))

  private val LongArray = ArrayType(LongType, containsNull = false)
  private val IntArray = ArrayType(IntegerType, containsNull = false)
  private val L2ArgminType = StructType(Seq(
    StructField("code", LongType, nullable = false),
    StructField("d2", DoubleType, nullable = false)))
  private val CosineTopRType = ArrayType(StructType(Seq(
    StructField("centroid_id", LongType, nullable = false),
    StructField("cos_sim", DoubleType, nullable = false))),
    containsNull = false)
  private val QuantizeAuditType = StructType(Seq(
    StructField("nonzero", BooleanType, nullable = false),
    StructField("scale", DoubleType, nullable = false),
    StructField("abs_err_scaled", LongType, nullable = false),
    StructField("max_err_scaled", LongType, nullable = false)))

  /** 64-bit SimHash of an array<string> of tokens. */
  def simhash64(tokens: Column): Column =
    kernel("simhash64", LongType, toExpr(tokens))

  /** Cosine similarity of two array<float> embedding columns. */
  def cosine_sim(a: Column, b: Column): Column =
    kernel("cosine", DoubleType, toExpr(a), toExpr(b))

  /** Raw inner product of two array<float> embedding columns (the
    * MIPS score). */
  def dot_product(a: Column, b: Column): Column =
    kernel("dot", DoubleType, toExpr(a), toExpr(b))

  /** Double → scaled BIGINT with decimal-cast rounding semantics
    * (the exact money sum's per-row kernel). */
  def money_scaled(c: Column, scale: Int): Column =
    toCol(MoneyScaledExpr(toExpr(c), scale))

  /** Bloom membership probe of a BIGINT key column (codegen'd). */
  def bloom_might_contain(
      filter: org.apache.spark.util.sketch.BloomFilter,
      key: Column): Column =
    toCol(BloomProbeExpr(filter, toExpr(key)))

  /** Random-hyperplane LSH signature (long) of an array<float>. */
  def rhp_lsh(vec: Column, planes: Int): Column = {
    require(planes > 0 && planes <= 64, "planes must be in 1..64")
    kernel("rhpBits", LongType, toExpr(vec), Literal(planes))
  }

  /** MinHash-LSH band bucket keys of an array<string> of shingles. */
  def minhash_bands(shingles: Column, bands: Int, rows: Int): Column = {
    require(bands > 0 && rows > 0, "bands and rows must be positive")
    kernel("minhashBands", LongArray, toExpr(shingles), Literal(bands),
      Literal(rows))
  }

  /** Word n-gram shingles (space-joined) of a token array. */
  def text_shingles(tokens: Column, n: Int): Column = {
    require(n > 0, "shingle width must be positive")
    kernel("shingles", ArrayType(StringType, containsNull = false),
      toExpr(tokens), Literal(n))
  }

  /** Gear rolling-hash CDC cut bounds of a text column (array<int>,
    * includes 0 and the text length). */
  def cdc_gear_cuts(text: Column, divisor: Int, minSize: Int): Column = {
    require(divisor > 0 && (divisor & (divisor - 1)) == 0,
      "divisor must be a power of two")
    kernel("cdcGearCuts", IntArray, toExpr(text), Literal(divisor),
      Literal(minSize))
  }

  /** md5 sliding-window CDC cut bounds of a text column (array<int>,
    * includes 0 and the text length). */
  def cdc_md5_cuts(text: Column, w: Int, divisor: Int, minSize: Int): Column = {
    require(w > 0 && divisor > 0 && minSize > 0,
      "window, divisor and minSize must be positive")
    kernel("cdcMd5Cuts", IntArray, toExpr(text), Literal(w),
      Literal(divisor), Literal(minSize))
  }

  /** Merge-based Jaccard of two sorted distinct string arrays. */
  def sorted_jaccard(a: Column, b: Column): Column =
    kernel("sortedJaccard", DoubleType, toExpr(a), toExpr(b))

  /** Merge-based Jaccard of two sorted distinct long (hash) arrays. */
  def sorted_jaccard_long(a: Column, b: Column): Column =
    kernel("sortedJaccardLong", DoubleType, toExpr(a), toExpr(b))

  /** Quantized power-iteration contributions for PCA. */
  def power_contrib(emb: Column, mu: Array[Double], v: Array[Double]): Column =
    kernel("centeredPowerContrib", LongArray, toExpr(emb), doubles(mu),
      doubles(v))

  /** Centered projection onto a fixed axis (for ABTT correction). */
  def centered_dot(emb: Column, mu: Array[Double], v: Array[Double]): Column =
    kernel("centeredDot", DoubleType, toExpr(emb), doubles(mu), doubles(v))

  /** Z-normalized subsequence distance to a fixed query pattern. */
  def zn_dist(seq: Column, q: Array[Double]): Column =
    kernel("znDist", DoubleType, toExpr(seq), doubles(q))

  /** MinHash-LSH band keys over the md5 family (auditable: any engine
    * with md5() re-derives the buckets). */
  def md5_minhash_bands(shingles: Column, bands: Int, rows: Int): Column = {
    require(bands > 0 && rows > 0, "bands and rows must be positive")
    kernel("md5MinhashBands", LongArray, toExpr(shingles), Literal(bands),
      Literal(rows))
  }

  /** 60-bit SimHash over the md5 family (auditable). */
  def md5_simhash60(tokens: Column): Column =
    kernel("md5Simhash60", LongType, toExpr(tokens))

  /** Random-hyperplane LSH signature over the md5 family with exact
    * scaled-integer dot products (auditable). */
  def md5_rhp_lsh(vec: Column, planes: Int): Column = {
    require(planes > 0 && planes <= 63, "planes must be in 1..63")
    kernel("md5RhpBits", LongType, toExpr(vec), Literal(planes))
  }

  /** Argmax-cosine centroid id against a broadcast centroid array. */
  def cosine_argmax(vec: Column, cents: Column): Column =
    kernel("cosineArgmax", LongType, toExpr(vec), toExpr(cents))

  /** Top-R (centroid_id, cos_sim) preferences in rank order. */
  def cosine_top_r(vec: Column, cents: Column, r: Int): Column = {
    require(r > 0, s"top-R width must be positive, got $r")
    kernel("cosineTopR", CosineTopRType, toExpr(vec), toExpr(cents),
      Literal(r))
  }

  /** Argmin-L2 (code, d2) against a broadcast PQ codebook array. */
  def l2_argmin(vec: Column, cents: Column): Column =
    kernel("l2Argmin", L2ArgminType, toExpr(vec), toExpr(cents))

  /** One-pass int8 quantization audit
    * (struct: nonzero, scale, abs_err_scaled, max_err_scaled). */
  def quantize_audit(vec: Column): Column =
    kernel("quantAudit", QuantizeAuditType, toExpr(vec))

  /** `quantize_audit(vec).nonzero`, without computing the audit. */
  def quantize_nonzero(vec: Column): Column =
    kernel("quantNonzero", BooleanType, toExpr(vec))
}
