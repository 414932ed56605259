package graft.functions

import java.text.Normalizer
import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Pure-Scala scalar kernels backing the custom Catalyst expressions.
  * Kept as static methods on an object so generated code (whole-stage
  * codegen) can call them directly: `graft.functions.TextKernels.xxx(...)`.
  *
  * Semantics mirror the reference engine's behaviors:
  *  - indelRatio: rapidfuzz `fuzz.ratio` — InDel (insert/delete only,
  *    i.e. LCS-based) normalized similarity in [0,100], 4 decimal places
  *    (reference: spotify-tags-etl spotify_client.py:164).
  *  - asciiFold: NFD-decompose + strip combining marks, e.g.
  *    'Björk' -> 'Bjork' (reference: spotify_client.py:181-202).
  */
object TextKernels {

  // ---------------------------------------------------------------- fuzz
  /** Bit-parallel LCS length (Allison-Dix): O(n * ceil(m/64)) — the DP
    * recurrence runs 64 cells per machine word. `lcsLenDP` below is the
    * reference implementation the property tests compare against.
    */
  private[graft] def lcsLen(a: CharSequence, b: CharSequence): Int = {
    // bit vector over the SHORTER string
    val (s, l) = if (a.length <= b.length) (a, b) else (b, a)
    val m = s.length
    if (m == 0) return 0
    val words = (m + 63) >>> 6
    // per-char position masks over s: ascii array + overflow map
    val asciiPM = new Array[Array[Long]](128)
    var otherPM: java.util.HashMap[Character, Array[Long]] = null
    var i = 0
    while (i < m) {
      val c = s.charAt(i)
      val pm =
        if (c < 128) {
          if (asciiPM(c) == null) asciiPM(c) = new Array[Long](words)
          asciiPM(c)
        } else {
          if (otherPM == null) otherPM = new java.util.HashMap()
          var arr = otherPM.get(c)
          if (arr == null) { arr = new Array[Long](words); otherPM.put(c, arr) }
          arr
        }
      pm(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    val lastMask = if ((m & 63) == 0) -1L else (1L << (m & 63)) - 1
    val r = Array.fill(words)(-1L)
    r(words - 1) = lastMask
    var j = 0
    while (j < l.length) {
      val c = l.charAt(j)
      val pm =
        if (c < 128) asciiPM(c)
        else if (otherPM != null) otherPM.get(c)
        else null
      if (pm != null) {
        // R = ((R + (R & PM)) | (R & ~PM)), carry-propagated across words
        var carry = 0L
        var w = 0
        while (w < words) {
          val x = r(w) & pm(w)
          val sum = r(w) + x + carry
          // carry out if the add overflowed (unsigned)
          carry = if (carry == 0) {
            if (java.lang.Long.compareUnsigned(sum, r(w)) < 0) 1L else 0L
          } else {
            if (java.lang.Long.compareUnsigned(sum, r(w)) <= 0) 1L else 0L
          }
          r(w) = sum | (r(w) & ~pm(w))
          w += 1
        }
        r(words - 1) &= lastMask
      }
      j += 1
    }
    // LCS = count of ZERO bits within the m-bit window
    var zeros = 0
    var w = 0
    while (w < words) {
      val window = if (w == words - 1) lastMask else -1L
      zeros += java.lang.Long.bitCount(window & ~r(w))
      w += 1
    }
    zeros
  }

  /** Scalar-DP LCS — the slow oracle for the bit-parallel version. */
  private[graft] def lcsLenDP(a: CharSequence, b: CharSequence): Int = {
    // ensure the DP row is over the shorter string
    val (s, l) = if (a.length <= b.length) (a, b) else (b, a)
    val m = s.length
    if (m == 0) return 0
    val row = new Array[Int](m + 1)
    var i = 0
    while (i < l.length) {
      val ci = l.charAt(i)
      var prev = 0 // row(j) from the previous iteration (diagonal)
      var j = 0
      while (j < m) {
        val tmp = row(j + 1)
        row(j + 1) =
          if (ci == s.charAt(j)) prev + 1
          else math.max(row(j + 1), row(j))
        prev = tmp
        j += 1
      }
      i += 1
    }
    row(m)
  }

  /** InDel similarity ratio in [0, 100], rounded to 4 decimal places. */
  def indelRatio(s1: UTF8String, s2: UTF8String): Double = {
    val a = s1.toString
    val b = s2.toString
    val total = a.length + b.length
    if (total == 0) return 100.0
    val dist = total - 2 * lcsLen(a, b)
    math.rint(100.0 * (1.0 - dist.toDouble / total) * 10000.0) / 10000.0
  }

  // ---------------------------------------------------------- ascii fold
  private val CombiningMarks = Pattern.compile("\\p{Mn}+")

  def asciiFold(s: UTF8String): UTF8String = {
    val str = s.toString
    // fast path: pure ASCII needs no normalization
    var ascii = true
    var i = 0
    while (ascii && i < str.length) { if (str.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) return s
    val nfd = Normalizer.normalize(str, Normalizer.Form.NFD)
    UTF8String.fromString(CombiningMarks.matcher(nfd).replaceAll(""))
  }

  // ------------------------------------------------------------- hashing
  /** 64-bit splitmix-style avalanche; cheap, well-distributed. */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Rolling-polynomial hash of one k-gram starting at `off`. */
  @inline private def gramHash(s: String, off: Int, k: Int): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < k) { h = h * 31 + s.charAt(off + i); i += 1 }
    h
  }

  /** Winnowing-style document fingerprint: min of mixed k-gram hashes.
    * Deterministic 64-bit content fingerprint; equal docs -> equal fp.
    */
  def docFingerprint(s: UTF8String, k: Int): Long = {
    val str = s.toString
    if (str.length < k) return mix64(str.hashCode.toLong)
    var min = Long.MaxValue
    var i = 0
    while (i + k <= str.length) {
      val h = mix64(gramHash(str, i, k))
      if (h < min) min = h
      i += 1
    }
    min
  }

  /** 64-bit SimHash over whitespace tokens. */
  def simHash(s: UTF8String): Long = {
    val str = s.toString
    val acc = new Array[Int](64)
    var start = 0
    val n = str.length
    var i = 0
    while (i <= n) {
      if (i == n || Character.isWhitespace(str.charAt(i))) {
        if (i > start) {
          var h = 1125899906842597L
          var j = start
          while (j < i) { h = h * 31 + str.charAt(j); j += 1 }
          h = mix64(h)
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  // ------------------------------------------------------------- minhash
  // Fixed (seeded) odd multipliers for k permutation-hashes.
  private val MinhashK = 64
  private val MinhashSeeds: Array[Long] =
    Array.tabulate(MinhashK)(i => mix64(0x5eed0000L + i) | 1L)

  /** Distinct char k-gram hashes of a string. Operates on UTF-16 code
    * units; oracle parity with codepoint-based SQL holds for BMP text
    * (the fixtures are ASCII). Non-BMP corpora would need the
    * codepoint-sliding treatment NGramsGenerate uses.
    */
  private def gramHashes(str: String, k: Int): java.util.HashSet[Long] = {
    val set = new java.util.HashSet[Long]()
    // sub-k strings have NO k-grams (the SQL-comprehension oracle's
    // semantics); a sentinel hash here would diverge from it
    if (str.length < k) return set
    var i = 0
    while (i + k <= str.length) { set.add(mix64(gramHash(str, i, k))); i += 1 }
    set
  }

  private def minHashSig(str: String, k: Int): Array[Long] =
    minHashSigOf(gramHashes(str, k))

  /** Distinct w-word shingle hashes (whitespace tokenization, rolling
    * polynomial over the shingle's chars including separators).
    */
  private def wordShingleHashes(str: String, w: Int): java.util.HashSet[Long] = {
    val set = new java.util.HashSet[Long]()
    // token start/end offsets
    val starts = new scala.collection.mutable.ArrayBuffer[Int]()
    val ends = new scala.collection.mutable.ArrayBuffer[Int]()
    var i = 0; val n = str.length
    while (i < n) {
      while (i < n && Character.isWhitespace(str.charAt(i))) i += 1
      if (i < n) {
        starts += i
        while (i < n && !Character.isWhitespace(str.charAt(i))) i += 1
        ends += i
      }
    }
    val t = starts.length
    // hash shingles of min(w, t) tokens with normalized single-space
    // separators, so whitespace variants of short docs still collide
    val ww = math.min(math.max(t, 1), w)
    if (t == 0) return set
    var s0 = 0
    while (s0 + ww <= t) {
      var h = 1125899906842597L
      var wi = 0
      while (wi < ww) {
        var j = starts(s0 + wi)
        while (j < ends(s0 + wi)) { h = h * 31 + str.charAt(j); j += 1 }
        h = h * 31 + ' ' // token separator
        wi += 1
      }
      set.add(mix64(h))
      s0 += 1
    }
    set
  }

  private def minHashSigOf(grams: java.util.HashSet[Long]): Array[Long] = {
    val sig = Array.fill(MinhashK)(Long.MaxValue)
    val it = grams.iterator()
    while (it.hasNext) {
      val g = it.next()
      var i = 0
      while (i < MinhashK) {
        val h = mix64(g ^ MinhashSeeds(i))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** MinHash signature (64 longs) over char k-gram shingles. */
  def minHash(s: UTF8String, k: Int): ArrayData =
    new GenericArrayData(minHashSig(s.toString, k))

  /** LSH band keys: the 64-perm MinHash signature folded into `bands`
    * keys of `rowsPerBand` signature slots each (bands*rowsPerBand must
    * be <= 64). ONE signature computation per row — exploding this
    * array is the scalable alternative to projecting 16 band columns,
    * which CollapseProject would rewrite into 16 signature evaluations.
    */
  def minHashBands(s: UTF8String, k: Int, bands: Int, rowsPerBand: Int): ArrayData = {
    val grams = gramHashes(s.toString, k)
    // gram-less docs emit NO bands: they can never be near-dup
    // candidates (their jaccard is 0 by definition), and a shared
    // sentinel signature would collide them all into one bucket —
    // a quadratic band-join blowup on corpora with many blank docs
    if (grams.isEmpty) return new GenericArrayData(Array.emptyLongArray)
    new GenericArrayData(foldBands(minHashSigOf(grams), bands, rowsPerBand))
  }

  /** Word-shingle variant of [[minHashBands]]: candidate generation for
    * near-dup detection where char-gram background similarity is high
    * (small vocabularies) — word shingles separate near-dups from
    * background far more sharply.
    */
  def minHashBandsWords(s: UTF8String, w: Int, bands: Int, rowsPerBand: Int): ArrayData = {
    val shingles = wordShingleHashes(s.toString, w)
    if (shingles.isEmpty) return new GenericArrayData(Array.emptyLongArray)
    new GenericArrayData(foldBands(minHashSigOf(shingles), bands, rowsPerBand))
  }

  private def foldBands(sig: Array[Long], bands: Int, rowsPerBand: Int): Array[Long] = {
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = mix64(0xba4d0000L + b)
      var j = 0
      while (j < rowsPerBand) { h = mix64(h ^ sig(b * rowsPerBand + j)); j += 1 }
      keys(b) = h
      b += 1
    }
    keys
  }

  /** Sorted distinct char-k-gram hashes — precompute once per document,
    * then intersect pairs with the O(|a|+|b|) merge in jaccardSorted
    * instead of rebuilding hash sets per pair.
    */
  def gramSet(s: UTF8String, k: Int): ArrayData = {
    val set = gramHashes(s.toString, k)
    val arr = new Array[Long](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    java.util.Arrays.sort(arr)
    new GenericArrayData(arr)
  }

  /** Jaccard of two sorted distinct long arrays (see gramSet). */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0 // no grams -> no similarity evidence
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  /** Intersection size of two SORTED-ascending distinct long arrays
    * when it can reach `need`, else -1 — the set-similarity VERIFY
    * kernel. One merge walk (no per-pair hash-set build, which is what
    * `array_intersect` pays) with the pigeonhole early exit: the
    * moment `inter + min(remaining_a, remaining_b) < need` the pair
    * cannot pass and the walk bails (Xiao et al. WWW'08 §4's
    * verification economics — failing candidates fail EARLY in the
    * rare-first order). Exact when it passes: q139/q144 emit the
    * intersection size, so there is no positive early exit.
    */
  def sortedInterAtLeastLong(a: ArrayData, b: ArrayData, need: Int): Int = {
    val na = a.numElements(); val nb = b.numElements()
    if (na < need || nb < need) return -1
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else {
        // the bound inter + min(remaining) is INVARIANT on a match
        // (+1 inter, -1 both remainders) and decreases only here —
        // so the early-exit test lives in the mismatch branch, off
        // the match-heavy path (a first cut tested every step and
        // measurably slowed the all-match verify walks)
        if (x < y) i += 1 else j += 1
        if (inter + math.min(na - i, nb - j) < need) return -1
      }
    }
    if (inter >= need) inter else -1
  }

  /** [[sortedInterAtLeastLong]] over string arrays sorted in Spark's
    * binary (`UTF8String.compareTo`) order — `sort_array` output. The
    * q144 verify walks 3-gram TEXTS directly: hashing grams to longs
    * first would trade exactness for collision risk the oracle
    * doesn't share.
    */
  def sortedInterAtLeastStr(a: ArrayData, b: ArrayData, need: Int): Int = {
    val na = a.numElements(); val nb = b.numElements()
    if (na < need || nb < need) return -1
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { inter += 1; i += 1; j += 1 }
      else {
        // mismatch-branch-only early exit — see sortedInterAtLeastLong
        if (cmp < 0) i += 1 else j += 1
        if (inter + math.min(na - i, nb - j) < need) return -1
      }
    }
    if (inter >= need) inter else -1
  }

  /** Exact Jaccard similarity of the two strings' char k-gram sets.
    * Raw double division of exact integer counts — bit-identical in any
    * engine computing the same counts (rounding would NOT be: half-even
    * vs half-away rounding of doubles diverges on exact midpoints).
    */
  def jaccardGrams(a: UTF8String, b: UTF8String, k: Int): Double = {
    val sa = gramHashes(a.toString, k)
    val sb = gramHashes(b.toString, k)
    if (sa.isEmpty && sb.isEmpty) return 0.0 // no grams -> no similarity evidence
    var inter = 0
    val it = sa.iterator()
    while (it.hasNext) if (sb.contains(it.next())) inter += 1
    val union = sa.size + sb.size - inter
    inter.toDouble / union
  }

  // ------------------------------------------------------------- binary
  /** Big-endian int32 at byte `off` of a binary payload — the generic
    * building block for fixed-layout binary headers (PNG IHDR, ISOBMFF
    * box sizes, WAV chunk lengths are all BE/LE int fields at known
    * offsets). Returns -1 when fewer than 4 bytes remain (total
    * function: malformed rows yield a sentinel, not a task failure —
    * at 100 TB a poison payload must not kill the job).
    */
  def beInt(bytes: Array[Byte], off: Int): Int = {
    if (off < 0 || off + 4 > bytes.length) return -1
    ((bytes(off) & 0xFF) << 24) | ((bytes(off + 1) & 0xFF) << 16) |
      ((bytes(off + 2) & 0xFF) << 8) | (bytes(off + 3) & 0xFF)
  }

  /** Little-endian int32 twin of [[beInt]] — RIFF/WAV chunk sizes and
    * fmt fields, BMP headers, and most ISOBMFF-sibling consumer-audio
    * layouts are little-endian. Same -1 out-of-range sentinel.
    */
  def leInt(bytes: Array[Byte], off: Int): Int = {
    if (off < 0 || off + 4 > bytes.length) return -1
    (bytes(off) & 0xFF) | ((bytes(off + 1) & 0xFF) << 8) |
      ((bytes(off + 2) & 0xFF) << 16) | ((bytes(off + 3) & 0xFF) << 24)
  }

  /** Little-endian uint16 field reader (WAV `fmt ` is full of 16-bit
    * fields: audio format, channel count, block align, bits/sample).
    * Widened to Int so the unsigned range survives. -1 sentinel.
    */
  def leShort(bytes: Array[Byte], off: Int): Int = {
    if (off < 0 || off + 2 > bytes.length) return -1
    (bytes(off) & 0xFF) | ((bytes(off + 1) & 0xFF) << 8)
  }

  /** Decode the little-endian SIGNED int16 PCM sample stream starting
    * at `off` (i.e. everything after a canonical 44-byte WAV header).
    * One kernel call materializes the whole sample array; per-sample
    * analysis then stays in Catalyst higher-order functions.
    */
  def pcmSamples(bytes: Array[Byte], off: Int): ArrayData = {
    val n = math.max(0, (bytes.length - off) / 2)
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      out(i) = (((bytes(off + 2 * i) & 0xFF) |
        ((bytes(off + 2 * i + 1) & 0xFF) << 8)).toShort).toInt
      i += 1
    }
    new GenericArrayData(out)
  }

  // ------------------------------------------------------------- vectors
  /** Deterministic pseudo-random hyperplane coefficient for plane p,
    * dimension d (splitmix-derived, mapped to [-1, 1)).
    */
  @inline def planeCoef(p: Int, d: Int): Double = {
    val h = mix64(p.toLong * 131 + d.toLong * 7919)
    // 53-bit value scaled by 2^53 -> [0,1), mapped to [-1,1)
    (h >>> 11).toDouble / 9007199254740992.0 * 2.0 - 1.0
  }

  // Memoized hyperplane coefficient matrices (flattened [plane][dim]):
  // planeCoef is pure, so re-deriving ~4600 mix64 hashes per input ROW
  // would double the kernel's per-row cost for no reason.
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()
  private def planeMatrix(nPlanes: Int, dim: Int): Array[Double] =
    planeCache.computeIfAbsent((nPlanes, dim), { case (np, d0) =>
      val m = new Array[Double](np * d0)
      var p = 0
      while (p < np) {
        var d = 0
        while (d < d0) { m(p * d0 + d) = planeCoef(p, d); d += 1 }
        p += 1
      }
      m
    })

  /** Multi-table sign-LSH bucket ids for a float vector: one entry per
    * table, bucket = sign-bit pattern of `nBits` hyperplane projections.
    * A single kernel call replaces nTables x nBits x dim literal
    * expression nodes (which bloat codegen and planning time).
    */
  def lshBuckets(a: ArrayData, nBits: Int, nTables: Int): ArrayData = {
    val dim = a.numElements()
    val coefs = planeMatrix(nTables * nBits, dim)
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var j = 0
      while (j < nBits) {
        val plane = t * nBits + j
        var proj = 0.0
        var d = 0
        while (d < dim) { proj += a.getFloat(d).toDouble * coefs(plane * dim + d); d += 1 }
        if (proj >= 0) bucket |= 1L << j
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Dot product of a float vector against row `c` of a flattened
    * [k x dim] double centroid matrix, accumulated in index order —
    * bit-identical to `aggregate(zip_with(emb, cvec, _*_), 0.0, _+_)`,
    * the formulation this kernel replaces.
    */
  @inline private def dotCentroid(a: ArrayData, cents: Array[Double],
      c: Int, dim: Int): Double = {
    var s = 0.0
    var d = 0
    val off = c * dim
    while (d < dim) { s += a.getFloat(d).toDouble * cents(off + d); d += 1 }
    s
  }

  /** IVF coarse-quantizer cell assignment: argmax dot-product over the k
    * centroids (rows of the flattened [k x dim] matrix), ties broken by
    * lowest cell id — the same ordering as `row_number() OVER (ORDER BY
    * sim DESC, cell)` picking rn=1. Per-row pure math: replaces the
    * explode(k) + window-argmax plan, which inflated the corpus k-fold
    * and shuffled ALL of it on vec_id. This is a map-only scan.
    */
  def bestCell(a: ArrayData, cents: Array[Double], k: Int): Int = {
    val dim = a.numElements()
    var best = 0
    var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < k) {
      val s = dotCentroid(a, cents, c, dim)
      if (s > bestSim) { bestSim = s; best = c } // strict > keeps lowest cell on ties
      c += 1
    }
    best
  }

  /** PQ codeword assignment: argmin squared-L2 over the k codewords
    * (rows of the flattened [k x dim] matrix), input read as DOUBLES
    * (normalized subvectors), ties broken by lowest codeword id.
    */
  def nearestCell(a: ArrayData, cents: Array[Double], k: Int): Int = {
    val dim = a.numElements()
    var best = 0
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < k) {
      var s = 0.0
      var d = 0
      val off = c * dim
      while (d < dim) {
        val diff = a.getDouble(d) - cents(off + d)
        s += diff * diff
        d += 1
      }
      if (s < bestD) { bestD = s; best = c } // strict < keeps lowest id on ties
      c += 1
    }
    best
  }

  /** PQ decode: assemble the reconstructed vector from per-subspace
    * codes against a flattened [m][k][sub] codebook. Floats out, so the
    * result feeds the codegen'd [[cosineSim]] kernel directly.
    */
  def pqReconstruct(codes: ArrayData, books: Array[Double],
      m: Int, sub: Int, k: Int): ArrayData = {
    val out = new Array[Float](m * sub)
    var i = 0
    while (i < m) {
      val off = (i * k + codes.getInt(i)) * sub
      var d = 0
      while (d < sub) { out(i * sub + d) = books(off + d).toFloat; d += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Query-side IVF probe: the `nprobe` nearest cells by (dot desc,
    * cell asc) — same ordering as the window formulation it replaces.
    * k is small (16 here), so selection is a simple partial sort.
    */
  def topCells(a: ArrayData, cents: Array[Double], k: Int, nprobe: Int): ArrayData = {
    val dim = a.numElements()
    val sims = new Array[Double](k)
    var c = 0
    while (c < k) { sims(c) = dotCentroid(a, cents, c, dim); c += 1 }
    val idx = Array.tabulate(k)(identity)
    // selection sort of the first nprobe positions by (sim desc, cell asc);
    // the tie-break is explicit because swaps perturb positional order
    val n = math.min(nprobe, k)
    var i = 0
    while (i < n) {
      var m = i
      var j = i + 1
      while (j < k) {
        val sj = sims(idx(j)); val sm = sims(idx(m))
        if (sj > sm || (sj == sm && idx(j) < idx(m))) m = j
        j += 1
      }
      val t = idx(i); idx(i) = idx(m); idx(m) = t
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOfRange(idx, 0, n))
  }

  /** Content-defined chunking: split `s` at every position where the
    * polynomial hash of the trailing `w`-char window satisfies
    * `(hash mod 1000003) mod div == 0` (Rabin-style CDC — the chunk
    * boundaries depend only on LOCAL window content, so an identical
    * passage embedded at any offset in another document produces the
    * same interior chunks; that shift-invariance is what makes
    * chunk-hash dedup find moved/embedded duplication that whole-doc
    * hashing misses). Single O(n) rolling pass: the window hash
    * updates as h' = (h - c_out·31^(w-1))·31 + c_in mod P — no
    * per-position rescan. Boundary positions are window ENDS in
    * [w, n-1] (a cut at n would duplicate the final chunk edge).
    *
    * Hash parity with the SQL oracle's per-position sum holds for
    * BMP text (both sides read UTF-16/code-point values; the corpus
    * is ASCII).
    */
  def cdcChunks(s: UTF8String, w: Int, div: Int): ArrayData = {
    val str = s.toString
    val n = str.length
    if (n <= w) return new GenericArrayData(Array[Any](UTF8String.fromString(str)))
    val P = 1000003L
    val B = 31L
    var bw = 1L // 31^(w-1) mod P
    var k = 1
    while (k < w) { bw = bw * B % P; k += 1 }
    var h = 0L
    var i = 0
    while (i < w) { h = (h * B + str.charAt(i)) % P; i += 1 }
    val cuts = scala.collection.mutable.ArrayBuffer(0)
    // i is the 0-based index AFTER the current window [i-w, i-1];
    // window end in 1-based terms is i, so record a cut at i
    i = w
    while (i < n) {
      if (h % div == 0) cuts += i
      h = ((h - str.charAt(i - w) * bw % P + P * B) * B + str.charAt(i)) % P
      i += 1
    }
    // the window ending at n-1 (1-based n) is deliberately not a cut
    cuts += n
    val out = new Array[Any](cuts.length - 1)
    var c = 0
    while (c < cuts.length - 1) {
      out(c) = UTF8String.fromString(str.substring(cuts(c), cuts(c + 1)))
      c += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing fingerprint set (Schleimer, Wilkerson, Aiken — SIGMOD'03,
    * the MOSS local document fingerprinting algorithm): hash every char
    * `k`-gram (polynomial base-31 mod 1048573 over code units), then in
    * every sliding window of `w` consecutive gram hashes select the
    * minimum (ties broken toward the RIGHTMOST position — the
    * deterministic variant of the paper's tie rule, chosen because it is
    * the one expressible as a plain window-min in the SQL oracle:
    * minimizing `h·8192 + (8191 − pos)` picks min-h / max-pos in one
    * key). Returns the SORTED DISTINCT selected hashes.
    *
    * Guarantee (thm. in §3 of the paper): any shared substring of length
    * ≥ w + k − 1 chars produces at least one shared fingerprint, and no
    * shared gram shorter than k chars ever does. Density ≈ 2/(w+1).
    *
    * One O(n) pass: rolling gram hash (h' = (h − c_out·31^(k−1))·31 +
    * c_in mod P) + a monotonic deque for the sliding min — popping
    * `≥`-back entries keeps the deque strictly increasing, so the front
    * is always the rightmost minimal gram of the current window. Map-only
    * per document; the cross-document work downstream is an inverted
    * index on the (vocabulary-sized) fingerprint set, never text × text.
    *
    * Oracle-parity bounds (documented where q164 builds the SQL twin):
    * positions must stay < 8192 for the oracle's combined min-key
    * encoding, and code-unit hashing equals the oracle's `ord()` only
    * for BMP text (the corpus is ASCII).
    */
  def winnowSet(s: UTF8String, k: Int, w: Int): ArrayData = {
    val str = s.toString
    val n = str.length
    val m = n - k + 1 // gram positions
    if (m < w) return new GenericArrayData(Array.emptyLongArray)
    val P = 1048573L
    val B = 31L
    var pw = 1L // 31^(k-1) mod P
    var j = 0
    while (j < k - 1) { pw = pw * B % P; j += 1 }
    val h = new Array[Long](m)
    var acc = 0L
    j = 0
    while (j < k) { acc = (acc * B + str.charAt(j)) % P; j += 1 }
    h(0) = acc
    var p = 1
    while (p < m) {
      acc = ((acc - str.charAt(p - 1) * pw % P + P) % P * B + str.charAt(p + k - 1)) % P
      h(p) = acc
      p += 1
    }
    val dq = new Array[Int](m)
    var head = 0
    var tail = 0 // deque indices live in dq[head, tail)
    val sel = new Array[Long](m - w + 1)
    var ns = 0
    p = 0
    while (p < m) {
      while (tail > head && h(dq(tail - 1)) >= h(p)) tail -= 1
      dq(tail) = p; tail += 1
      if (dq(head) <= p - w) head += 1
      if (p >= w - 1) { sel(ns) = h(dq(head)); ns += 1 }
      p += 1
    }
    java.util.Arrays.sort(sel, 0, ns)
    var out = 0
    var i = 0
    while (i < ns) {
      if (i == 0 || sel(i) != sel(i - 1)) { sel(out) = sel(i); out += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOfRange(sel, 0, out))
  }

  /** Cosine similarity between two float vectors, accumulated in double
    * in index order (deterministic, matches a sequential oracle).
    */
  def cosineSim(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact BIGINT dot product of two long arrays — bit-identical to
    * `aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, d) -> acc + d)`
    * (same per-index products, same left-to-right wrap-around Long
    * adds over min(|a|, |b|) elements — zip_with pads the shorter side
    * with null, and the HOF aggregate's `acc + null` would null the
    * sum, so equal-length inputs are the contract here exactly as they
    * were for the HOF pair), but whole-stage-codegen-friendly where
    * the HOF pair is a CodegenFallback that allocates a zipped array
    * per row (guide §4: no interpreted expressions in the per-pair
    * hot path — this runs once per CANDIDATE PAIR in q148).
    */
  def dotLong(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }

  /** Exact BIGINT squared L2 distance of a long-array column against a
    * CONSTANT centroid — bit-identical to
    * `aggregate(zip_with(q, array(c...), (x, y) -> (x-y)*(x-y)), 0L, acc+d)`
    * under the same equal-length/no-overflow contract as [[dotLong]],
    * but codegen-friendly and without materializing the centroid as a
    * per-row array literal. One evaluation per (row, centroid) — the
    * k·n term of the q132/q148 Lloyd assignment (guide §4).
    */
  def l2sqLong(a: ArrayData, cent: Array[Long]): Long = {
    val n = math.min(a.numElements(), cent.length)
    var s = 0L
    var i = 0
    while (i < n) { val d = a.getLong(i) - cent(i); s += d * d; i += 1 }
    s
  }

  /** The q187 DSIR feature-bucket hash, kernelized: bit-identical to
    * the SQL fold
    * `aggregate(sequence(1, length(f)), 0L,
    *    (h, i) -> (h * 31 + ascii(substring(f, i, 1))) % mod) % buckets`
    * — per character (code point, exactly `substring`'s unit), the
    * accumulator takes Java's signed `%` like the SQL `%`, and
    * `ascii(one-char-string)` is that character's Unicode CODE POINT
    * (Spark's Ascii decodes the first character — pinned empirically:
    * a lead-byte reading failed the equality spec on multi-byte
    * input). Kernel equality against the SQL fold is pinned in
    * KernelEqualitySpec over ASCII and multi-byte inputs. The SQL
    * fold is a CodegenFallback chain that materializes a sequence
    * array and a substring per character PER FEATURE ROW — the single
    * hottest interpreted path in q187 (guide §4).
    */
  def poly31Bucket(s: UTF8String, mod: Long, buckets: Int): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * 31 + cp) % mod
      i += Character.charCount(cp)
    }
    h % buckets
  }

  /** The q136 SRP sketch code, kernelized: bit-identical to the
    * `nbits` per-bit SQL folds
    * `aggregate(sequence(1, size(sv)), 0L, (acc, i) -> acc + sv[i-1] *
    *    (CASE WHEN ((b*2654435761 + i*40503) % 97) % 2 = 0
    *          THEN 1 ELSE -1 END))`
    * summed as `CASE WHEN proj_b > 0 THEN 1<<b ELSE 0 END` — all
    * operands are positive, so SQL `%` and Java `%` agree, and the
    * per-element accumulation order is the fold's. The SQL form is
    * nbits interpreted CodegenFallback folds PER ROW, each
    * materializing a sequence array (the single hottest path in q136
    * — guide §4); contract: |sv[i]| <= ~1e6·dims keeps every
    * accumulator far from Long overflow, like [[dotLong]]. A null
    * element makes every per-bit fold NULL (each bit sums every
    * element), and `NULL > 0` takes the ELSE branch, so the fold's code
    * is 0 — the kernel returns 0 too.
    */
  def srpCode(sv: ArrayData, nbits: Int): Long = {
    val n = sv.numElements()
    var k = 0
    while (k < n) { if (sv.isNullAt(k)) return 0L; k += 1 }
    var code = 0L
    var b = 0
    while (b < nbits) {
      var acc = 0L
      var i = 1
      while (i <= n) {
        val sign =
          if (((b.toLong * 2654435761L + i.toLong * 40503L) % 97L) % 2L == 0L) 1L
          else -1L
        acc += sv.getLong(i - 1) * sign
        i += 1
      }
      if (acc > 0L) code += 1L << b
      b += 1
    }
    code
  }

  /** The q143 MaxSim late-interaction score, kernelized: bit-identical
    * to the nested SQL fold
    * `aggregate(sequence(0, 7), 0L, (acc, i) -> acc +
    *    array_max(transform(sequence(0, 7), j ->
    *      aggregate(sequence(0, 7), 0L, (a, t) -> a + qq[i*8+t]*dq[j*8+t]))))`
    * over 64-element (8 sub-vectors x 8 dims) BIGINT arrays — the
    * inner dots accumulate in index order, `array_max` over a
    * non-empty list is a plain max. The SQL form is a triple-nested
    * CodegenFallback evaluating 512 interpreted multiplies and
    * allocating ~9 arrays PER PAIR (guide §4). Values at the 1e-6
    * quantized scale keep every product chain far from Long overflow.
    *
    * Returns NULL (a null box) when either array has fewer than 64
    * elements: the fold indexes up to element 63, and a kernel SQL can
    * reach must not read past its input. Null elements follow the
    * fold: a null in query sub-vector i makes every dot of row i NULL,
    * so its `array_max` and the total are NULL; a null in doc
    * sub-vector j makes only the dots against j NULL, which
    * `array_max` skips — the total is NULL only when every doc
    * sub-vector holds a null.
    */
  def maxsimLong(qq: ArrayData, dq: ArrayData): java.lang.Long = {
    if (qq.numElements() < 64 || dq.numElements() < 64) return null
    var k = 0
    while (k < 64) { if (qq.isNullAt(k)) return null; k += 1 }
    // bit j set: doc sub-vector j is null-free
    var docs = 0
    var j = 0
    while (j < 8) {
      var t = 0
      while (t < 8 && !dq.isNullAt(j * 8 + t)) t += 1
      if (t == 8) docs |= 1 << j
      j += 1
    }
    if (docs == 0) return null
    var total = 0L
    var i = 0
    while (i < 8) {
      var best = Long.MinValue
      j = 0
      while (j < 8) {
        if ((docs & (1 << j)) != 0) {
          var s = 0L
          var t = 0
          while (t < 8) { s += qq.getLong(i * 8 + t) * dq.getLong(j * 8 + t); t += 1 }
          if (s > best) best = s
        }
        j += 1
      }
      total += best
      i += 1
    }
    total
  }
}
