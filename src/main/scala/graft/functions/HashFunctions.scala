package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static hash kernels, callable both from interpreted `eval` and from
  * whole-stage-generated Java (Scala objects emit static forwarders). All of
  * them are deterministic pure functions — no RNG, no time — so results are
  * stable across partitions, retries, and scale factors.
  */
object HashImpl {

  /** splitmix64 finalizer — the standard public-domain 64-bit mixer. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64 over raw bytes, splitmix-finalized for avalanche. */
  def hashBytes(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    mix64(h)
  }

  def hashString(s: UTF8String): Long = hashBytes(s.getBytes)

  /** 64-bit SimHash over a token array: each token contributes ±1 per bit
    * position of its 64-bit hash; the sign of each accumulated position is
    * the fingerprint bit. Near-identical token multisets → small Hamming
    * distance. One pass, O(tokens · 64). */
  def simhash64(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = hashString(tokens.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** MinHash signature of length `k`: the j-th component is the minimum of
    * `mix64(hash(shingle) ^ seed_j)` over all shingles. One hash per shingle,
    * then k cheap mixes — O(shingles · k) with no allocation beyond the
    * signature. Empty input → all Long.MaxValue (a well-defined signature
    * that only matches other empty docs). */
  def minhash(shingles: ArrayData, k: Int, seed: Long): ArrayData = {
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val h = hashString(shingles.getUTF8String(i))
        var j = 0
        while (j < k) {
          val v = mix64(h ^ mix64(seed + j))
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** One-pass minhash over normalized text: lowercase/trim, whitespace
    * tokenize, and hash each w-token shingle incrementally (FNV over token
    * UTF-16 units with separators) — no intermediate token/shingle arrays.
    * This is the hot-path form of [[minhash]]: at 100 TB the shingle
    * materialization the compositional version pays (per-shingle string
    * allocation) dominates the actual hashing by ~100×. Duplicate shingles
    * don't affect a min, so no dedup pass is needed.
    *
    * Comparability contract: signatures from this kernel match
    * [[minhash]]-over-explicit-shingles for ASCII text (property-tested) but
    * NOT for non-ASCII text (UTF-16 units here vs UTF-8 bytes there). Use
    * ONE of the two forms consistently within a similarity comparison;
    * mixing them across tables makes est-Jaccard meaningless for non-ASCII
    * content. Tokenization splits on the ASCII whitespace class (same as the
    * compositional `split(text, "\\s+")`). */
  def minhashText(text: UTF8String, w: Int, k: Int, seed: Long): ArrayData = {
    // Locale.ROOT: default-locale lowercasing is machine-dependent (Turkish
    // dotless-ı etc.) and would break cross-executor determinism
    val s = text.toString.toLowerCase(java.util.Locale.ROOT)
    // token boundaries (trim + whitespace runs)
    val bounds = new java.util.ArrayList[Int]()
    var i = 0
    val len = s.length
    var inTok = false
    // ASCII \s class, matching java.util.regex \s (the compositional path)
    def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    while (i < len) {
      val ws = isWs(s.charAt(i))
      if (!ws && !inTok) { bounds.add(i); inTok = true }
      else if (ws && inTok) { bounds.add(i); inTok = false }
      i += 1
    }
    if (inTok) bounds.add(len)
    val nTok = bounds.size() / 2
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val nShingles = math.max(nTok - w + 1, if (nTok > 0) 1 else 0)
    var sh = 0
    while (sh < nShingles) {
      // FNV-1a over the tokens [sh, sh+w) with a separator byte between them
      var h = 0xcbf29ce484222325L
      var tk = sh
      val end = math.min(sh + w, nTok)
      while (tk < end) {
        if (tk > sh) { h ^= ' '.toLong; h *= 0x100000001b3L }
        var c = bounds.get(2 * tk)
        val ce = bounds.get(2 * tk + 1)
        while (c < ce) {
          h ^= s.charAt(c).toLong
          h *= 0x100000001b3L
          c += 1
        }
        tk += 1
      }
      val base = mix64(h)
      var j = 0
      while (j < k) {
        val v = mix64(base ^ mix64(seed + j))
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      sh += 1
    }
    new GenericArrayData(sig)
  }

  /** LSH band keys from a minhash signature: `bands` hashes, each over a
    * contiguous row-group of the signature. Docs sharing any band key are
    * near-dup candidates — the equi-join key that replaces all-pairs. */
  def bandKeys(sig: ArrayData, bands: Int): ArrayData = {
    val n = sig.numElements()
    // clamp: more bands than signature positions would emit document-
    // independent constant keys (an accidental all-pairs join); ceil-sized
    // rows so every signature position lands in exactly one band
    val b_eff = math.max(math.min(bands, n), 1)
    val rows = (n + b_eff - 1) / b_eff
    val out = new Array[Long](b_eff)
    var b = 0
    while (b < b_eff) {
      var h = 0xcbf29ce484222325L ^ b
      var j = b * rows
      val end = math.min(j + rows, n)
      while (j < end) {
        h ^= sig.getLong(j)
        h *= 0x100000001b3L
        j += 1
      }
      out(b) = mix64(h)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct character n-grams of the normalized (trim + lowercase) text,
    * in first-occurrence order — the fused single-pass form of
    * `array_distinct(transform(sequence(1, greatest(len-(n-1), 1)),
    * i => lower(trim(text)).substr(i, n)))`, which it must match exactly
    * (property-tested): same normalization primitives as Spark's
    * `trim`/`lower` (UTF8String.trim/toLowerCase), same short-input
    * behavior (texts shorter than `n` emit one truncated gram; empty text
    * emits the empty gram — `substr(1, n)` semantics).
    *
    * Why a kernel: `substr(i, n)` on a UTF8String seeks from the start of
    * the string on every call (no random code-point access), so the
    * compositional gram extraction is O(len²) per document. This pass
    * records the byte offset of every code point once and slices grams by
    * offset — O(len·n) and one string allocation per distinct gram. */
  def charNgrams(text: UTF8String, n: Int): ArrayData = {
    val s = text.trim().toLowerCase()
    val bytes = s.getBytes
    val numChars = s.numChars()
    // byte offset of each code point (+ end sentinel)
    val starts = new Array[Int](numChars + 1)
    var i = 0
    var c = 0
    while (i < bytes.length) {
      starts(c) = i
      val b = bytes(i)
      i += (if ((b & 0x80) == 0) 1
            else if ((b & 0xE0) == 0xC0) 2
            else if ((b & 0xF0) == 0xE0) 3
            else 4)
      c += 1
    }
    starts(numChars) = bytes.length
    val nGrams = math.max(numChars - n + 1, 1)
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var p = 0
    while (p < nGrams) {
      val end = math.min(p + n, numChars)
      seen.add(UTF8String.fromBytes(bytes, starts(p), starts(end) - starts(p)))
      p += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  /** Fraction of a document's positional 3-grams that are duplicates
    * (1 − distinct/total; 0 for documents under 3 tokens) — the Gopher-rule
    * repetition signal.
    *
    * Why a kernel: the compositional form materializes the whole trigram
    * array (one `concat_ws` string allocation per position) and then
    * `array_distinct`s it, all through interpreted higher-order-function
    * lambdas outside whole-stage codegen. This pass dedups (t[i], t[i+1],
    * t[i+2]) TUPLES in one loop — no gram strings are ever built, and
    * tuple-distinct equals string-distinct because whitespace-split tokens
    * cannot contain the join separator (property-tested vs the
    * compositional form in HashProperties). */
  def dup3Frac(tokens: ArrayData): Double = {
    val n = tokens.numElements()
    if (n < 3) return 0.0
    val total = n - 2
    val seen = new java.util.HashSet[(UTF8String, UTF8String, UTF8String)](total * 2)
    var i = 0
    while (i < total) {
      seen.add((tokens.getUTF8String(i), tokens.getUTF8String(i + 1),
        tokens.getUTF8String(i + 2)))
      i += 1
    }
    1.0 - seen.size.toDouble / total
  }

  /** Karp–Rabin style polynomial rolling hash over the code points of a
    * string — the document-fingerprint primitive. */
  def rollingHash(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      h = h * 1000003L + str.charAt(i)
      i += 1
    }
    mix64(h)
  }

  /** Karp–Rabin window hashes: one 64-bit hash per `len`-CODE-POINT
    * window of the text, position-aligned with SQL
    * `substring(text, p, len)` (code points, not UTF-16 units — a
    * supplementary char must not shift the window grid). O(n) total via
    * the rolling recurrence h' = h·B − cp₀·B^len + cp_new, each window
    * splitmix-finalized for avalanche. Equal windows ⟹ equal hashes;
    * the (collision-safe) consumer confirms candidates on the actual
    * substrings. Empty array when the text is shorter than `len`. */
  def windowHashes(s: UTF8String, len: Int): ArrayData =
    ArrayData.toArrayData(windowHashesArr(s.toString, len))

  /** The String-input kernel behind [[windowHashes]] — also called
    * directly from the mapPartitions candidate pass, which streams the
    * hashes into a bounded map instead of materializing explode rows. */
  def windowHashesArr(str: String, len: Int): Array[Long] = {
    val cps = str.codePoints().toArray
    val n = cps.length - len + 1
    if (n <= 0) return Array.emptyLongArray
    val B = 1000003L
    var bl = 1L // B^len (wrapping)
    var i = 0
    while (i < len) { bl *= B; i += 1 }
    val out = new Array[Long](n)
    var h = 0L
    i = 0
    while (i < len) { h = h * B + cps(i); i += 1 }
    out(0) = mix64(h)
    i = 1
    while (i < n) {
      h = h * B - cps(i - 1) * bl + cps(i + len - 1)
      out(i) = mix64(h)
      i += 1
    }
    out
  }

  /** The most frequent adjacent bigram of a token array — (w1, w2,
    * n_occ), ties broken by BINARY-ascending (w1, w2) (UTF8String order,
    * matching both Spark's string sort and DuckDB's default collation).
    * One pass + a doc-bounded hash map: the per-document signal never
    * needs a corpus-wide (doc, bigram) shuffle. Returns null when the
    * array has fewer than two tokens. */
  def topBigram(toks: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = toks.numElements()
    if (n < 2) return null
    val m = new java.util.HashMap[UTF8String, Long](n * 2)
    // key the map on "w1 w2" — one allocation per DISTINCT bigram via
    // concat, counts bump in place
    var i = 0
    while (i < n - 1) {
      val key = UTF8String.concat(toks.getUTF8String(i),
        UTF8String.fromString(" "), toks.getUTF8String(i + 1))
      m.put(key, m.getOrDefault(key, 0L) + 1L)
      i += 1
    }
    // best by (count desc, w1 asc, w2 asc) — the tuple compares on the
    // SPLIT tokens (not the concatenated key: a separator-byte artifact
    // could reorder ties for tokens with sub-space code points). Tokens
    // are whitespace-free by tokenization, so the first space splits
    // unambiguously.
    var bw1: UTF8String = null
    var bw2: UTF8String = null
    var bestCount = 0L
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue >= bestCount) {
        val ks = e.getKey.toString
        val sp = ks.indexOf(' ')
        val w1 = UTF8String.fromString(ks.substring(0, sp))
        val w2 = UTF8String.fromString(ks.substring(sp + 1))
        val better = e.getValue > bestCount || {
          val c1 = w1.binaryCompare(bw1)
          c1 < 0 || (c1 == 0 && w2.binaryCompare(bw2) < 0)
        }
        if (better) { bw1 = w1; bw2 = w2; bestCount = e.getValue }
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bw1, bw2, bestCount))
  }

  /** Fingerprints of EVERY positioned `w`-token run of a token array in
    * one pass — position p's value equals
    * `rollingHash(tokens(p) + " " + … + tokens(p+w-1))` EXACTLY (the
    * classic prefix-hash identity: fold h' = h·B + c gives
    * h(sub s..e) = H[e] − H[s]·B^(e−s), exact under the same mod-2⁶⁴
    * wraparound the fold itself uses), but costs O(total chars) with two
    * long arrays instead of materializing n·w characters of run strings.
    * Returns n−w+1 fingerprints, or an empty array when n < w. */
  def runFingerprints(toks: ArrayData, w: Int): ArrayData = {
    val n = toks.numElements()
    if (n < w) return ArrayData.toArrayData(Array.emptyLongArray)
    val strs = new Array[String](n)
    var total = n - 1 // the single-space joiners of the virtual stream
    var i = 0
    while (i < n) {
      strs(i) = toks.getUTF8String(i).toString
      total += strs(i).length
      i += 1
    }
    val pre = new Array[Long](total + 1)   // prefix fold of the stream
    val pow = new Array[Long](total + 1)   // B^k
    pow(0) = 1L
    val starts = new Array[Int](n)
    val ends = new Array[Int](n)
    var k = 0
    i = 0
    while (i < n) {
      if (i > 0) {
        pre(k + 1) = pre(k) * 1000003L + ' '
        pow(k + 1) = pow(k) * 1000003L
        k += 1
      }
      starts(i) = k
      val s = strs(i)
      var c = 0
      while (c < s.length) {
        pre(k + 1) = pre(k) * 1000003L + s.charAt(c)
        pow(k + 1) = pow(k) * 1000003L
        k += 1
        c += 1
      }
      ends(i) = k
      i += 1
    }
    val out = new Array[Long](n - w + 1)
    var p = 0
    while (p <= n - w) {
      val s0 = starts(p)
      val e0 = ends(p + w - 1)
      out(p) = mix64(pre(e0) - pre(s0) * pow(e0 - s0))
      p += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Signed-random-projection LSH bucket for cosine similarity: `nBits`
    * pseudo-random ±1 hyperplanes (derived from `seed` via mix64 — no stored
    * plane matrix, so executors need no broadcast). Vectors with high cosine
    * land in the same bucket with high probability. */
  def srpBucket(vec: ArrayData, nBits: Int, seed: Long): Int = {
    val n = vec.numElements()
    var bucket = 0
    var b = 0
    while (b < nBits) {
      var acc = 0.0
      var j = 0
      while (j < n) {
        val sign = if ((mix64(seed + b.toLong * 131071L + j) & 1L) == 1L) 1.0 else -1.0
        acc += sign * vec.getFloat(j)
        j += 1
      }
      if (acc > 0) bucket |= (1 << b)
      b += 1
    }
    bucket
  }

  /** [[srpBucket]] with a per-row seed (spread by the 64-bit golden-ratio
    * multiplier), so one explode can fan a vector out to N independent
    * LSH tables (recall amplification à la MinHash bands). */
  def srpBucketSeeded(vec: ArrayData, nBits: Int, seed: Long): Int =
    srpBucket(vec, nBits, seed * 0x9e3779b97f4a7c15L)

  /** Unicode NFC normalization (canonical decomposition + composition,
    * java.text.Normalizer — the JDK's reference implementation of UAX #15):
    * the text-hygiene pass that makes visually-identical strings
    * byte-identical BEFORE hashing/dedup — "e"+U+0301 and U+00E9 are the
    * same character to a reader and different fingerprints to md5. */
  def nfcNormalize(s: UTF8String): UTF8String =
    UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))

  /** Jaro–Winkler similarity (Winkler 1990 — public algorithm), the
    * record-linkage standard for short name strings. Matches DuckDB's
    * implementation exactly (RapidFuzz lineage): matching window
    * max(|a|,|b|)/2 − 1, transpositions = mismatched-match-positions / 2
    * (always even), Winkler prefix boost (≤ 4 chars, weight 0.1) applied
    * only when jaro > 0.7 — empirically cross-checked bit-for-bit against
    * `jaro_winkler_similarity` in HashProperties. Operates on UTF-16
    * chars, identical to code points for the ASCII name columns this
    * kernel targets. */
  def jaroWinkler(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString
    val b = ub.toString
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val aMatch = new Array[Boolean](la)
    val bMatch = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var done = false
      while (j <= hi && !done) {
        if (!bMatch(j) && a.charAt(i) == b.charAt(j)) {
          aMatch(i) = true; bMatch(j) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val mD = m.toDouble
    val jaro = (mD / la + mD / lb + (mD - t / 2) / mD) / 3.0
    if (jaro <= 0.7) return jaro
    var prefix = 0
    while (prefix < math.min(4, math.min(la, lb)) &&
      a.charAt(prefix) == b.charAt(prefix)) prefix += 1
    jaro + prefix * 0.1 * (1.0 - jaro)
  }

  /** Sequential L2 norm of a raw float vector (float→double cast, j
    * ascending — the accumulation order every SQL-oracle fold mirrors). */
  def normF(vec: ArrayData): Double = {
    val n = vec.numElements()
    var s = 0.0
    var j = 0
    while (j < n) { val x = vec.getFloat(j).toDouble; s += x * x; j += 1 }
    math.sqrt(s)
  }

  /** 1-bit sign quantization of a float vector into a packed 64-bit code:
    * bit j is set iff element j is strictly positive (zeros and negatives
    * clear — the comparison is exact on floats, so every engine agrees).
    * Dimensions beyond 64 are ignored: one long IS the production binary
    * code (64 dims × 1 bit = 8 bytes/vector vs 256 raw — the memory-traffic
    * ratio that makes Hamming shortlisting a coarse-stage win). */
  def signPack64(vec: ArrayData): Long = {
    val n = math.min(vec.numElements(), 64)
    var code = 0L
    var j = 0
    while (j < n) {
      if (vec.getFloat(j) > 0f) code |= (1L << j)
      j += 1
    }
    code
  }

  /** L2 norm of the ±1 signed-random-projection of a raw float vector into
    * `nBits` dimensions, scaled 1/√nBits (Achlioptas 2003 database-friendly
    * JL projection — the signs are EXACTLY [[srpBucket]]'s hyperplanes, so
    * the projection this norm measures is the one the SRP-LSH family
    * buckets on). Per-projection accumulation is j-ascending and the
    * cross-projection square sum is b-ascending — both mirrored
    * sequentially by the SQL oracle. */
  def srpProjNorm(vec: ArrayData, nBits: Int, seed: Long): Double = {
    val n = vec.numElements()
    var s = 0.0
    var b = 0
    while (b < nBits) {
      var acc = 0.0
      var j = 0
      while (j < n) {
        val sign = if ((mix64(seed + b.toLong * 131071L + j) & 1L) == 1L) 1.0 else -1.0
        acc += sign * vec.getFloat(j)
        j += 1
      }
      s += acc * acc
      b += 1
    }
    math.sqrt(s / nBits)
  }

  /** Jaccard similarity of two equal-width bitset fingerprints
    * (array<long> masks): popcount(a∧b) / popcount(a∨b). Integer
    * arithmetic until the final division — bit-for-bit equal to
    * `n_common / (|a| + |b| - n_common)` computed from element counts,
    * which is what a SQL oracle computes. Empty union → 0.0. */
  def maskJaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    val n = math.min(na, nb)
    var inter = 0L
    var union = 0L
    var i = 0
    while (i < n) {
      val x = a.getLong(i)
      val y = b.getLong(i)
      inter += java.lang.Long.bitCount(x & y)
      union += java.lang.Long.bitCount(x | y)
      i += 1
    }
    // unequal widths (SQL callers): the longer fingerprint's tail words
    // intersect nothing but still belong to the union — silently dropping
    // them would overstate similarity
    val longer = if (na >= nb) a else b
    var j = n
    val m = math.max(na, nb)
    while (j < m) {
      union += java.lang.Long.bitCount(longer.getLong(j))
      j += 1
    }
    if (union == 0L) 0.0 else inter.toDouble / union.toDouble
  }

  /** Jaccard similarity of two SORTED int-id arrays via a merge-style
    * intersection count — O(|a|+|b|), no per-call hash set (unlike
    * array_intersect). The large-dictionary fallback kernel. */
  def sortedJaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0L
    while (i < na && j < nb) {
      val x = a.getInt(i)
      val y = b.getInt(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na.toLong + nb.toLong - inter
    if (union == 0L) 0.0 else inter.toDouble / union.toDouble
  }

  /** Index of the euclidean-nearest centroid for a double vector, against
    * a flat row-major centroid matrix (k × d) — the IVF assignment kernel.
    * Ties break toward the lower cell id (strict `<`). */
  def nearestCell(vec: ArrayData, cents: Array[Double], d: Int): Int = {
    val k = cents.length / d
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < k) {
      var dist = 0.0
      var j = 0
      val off = c * d
      while (j < d) {
        val df = vec.getDouble(j) - cents(off + j)
        dist += df * df
        j += 1
      }
      if (dist < bestD) { bestD = dist; best = c }
      c += 1
    }
    best
  }

  /** [[nearestCell]] over a RAW float vector, unit-normalizing inline —
    * the fused IVF assignment kernel: norm, division, and the cell scan
    * run in one pass over the float array, so the operator needs no
    * materialized double unit-vector column (the higher-order-function
    * normalize lineage was the dominant cost of the assignment stage at
    * toy scale, and an extra corpus-width array column at any scale).
    * IEEE-identical to normalize-then-[[nearestCell]]: same cast, same
    * accumulation order, same zero-vector guard (divide by 1). */
  def nearestCellUnit(vec: ArrayData, cents: Array[Double], d: Int): Int = {
    var n2 = 0.0
    var i = 0
    while (i < d) { val x = vec.getFloat(i).toDouble; n2 += x * x; i += 1 }
    val n = math.sqrt(n2)
    val inv = if (n == 0.0) 1.0 else n
    val k = cents.length / d
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < k) {
      var dist = 0.0
      var j = 0
      val off = c * d
      while (j < d) {
        val df = vec.getFloat(j).toDouble / inv - cents(off + j)
        dist += df * df
        j += 1
      }
      if (dist < bestD) { bestD = dist; best = c }
      c += 1
    }
    best
  }

  /** Minimum squared euclidean distance from the unit-normalized raw float
    * vector to ANY row of the flat (k × d) center matrix — the k-center
    * coverage kernel. Same cast/normalize/accumulation conventions as
    * [[nearestCellUnit]] (they must stay IEEE-identical so k-center and
    * IVF assignment agree on geometry); on unit vectors this equals
    * 2 − 2·cosine, so min-dist ranking is exactly max-cosine ranking. */
  def minCellDistUnit(vec: ArrayData, cents: Array[Double], d: Int): Double = {
    var n2 = 0.0
    var i = 0
    while (i < d) { val x = vec.getFloat(i).toDouble; n2 += x * x; i += 1 }
    val n = math.sqrt(n2)
    val inv = if (n == 0.0) 1.0 else n
    val k = cents.length / d
    var bestD = Double.MaxValue
    var c = 0
    while (c < k) {
      var dist = 0.0
      var j = 0
      val off = c * d
      while (j < d) {
        val df = vec.getFloat(j).toDouble / inv - cents(off + j)
        dist += df * df
        j += 1
      }
      if (dist < bestD) bestD = dist
      c += 1
    }
    bestD
  }

  /** Product-quantization encoder (Jégou et al. 2011, public method): per
    * subspace, the euclidean-nearest codeword over a RAW float vector.
    * `books` is flat [s][c][j] row-major ((s·ksub + c)·dsub + j). Ties
    * break toward the lower code (strict `<`) — same convention as
    * [[nearestCell]], and the j-accumulation order matches the SQL
    * oracle's per-dimension sum. */
  def pqCodes(vec: ArrayData, books: Array[Double], m: Int, ksub: Int,
              dsub: Int): ArrayData = {
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        var dist = 0.0
        var j = 0
        val off = (s * ksub + c) * dsub
        val voff = s * dsub
        while (j < dsub) {
          val df = vec.getFloat(voff + j).toDouble - books(off + j)
          dist += df * df
          j += 1
        }
        if (dist < bestD) { bestD = dist; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }

  /** ADC (asymmetric distance computation) scoring kernel: Σ_s
    * lut[s·ksub + codes[s]] — the PQ query hot path. `lut` is one query's
    * flat per-subspace codeword distance table (m·ksub doubles). */
  def adcDist(codes: ArrayData, lut: ArrayData): Double = {
    val m = codes.numElements()
    if (m == 0) return 0.0
    val ksub = lut.numElements() / m
    var s = 0
    var sum = 0.0
    while (s < m) { sum += lut.getDouble(s * ksub + codes.getInt(s)); s += 1 }
    sum
  }

  /** Shannon entropy of a byte payload in bits/byte: ln(n) − Σc·ln(c)/n
    * over the 256-bin byte histogram, divided by ln 2. Real corrupt-media
    * signal — truncated/zero-padded blobs score near 0, encrypted or
    * well-compressed media near 8, text ~4–5. Histogram bins iterate in
    * ascending byte order (deterministic accumulation). */
  def byteEntropy(a: Array[Byte]): Double = {
    if (a.length == 0) return 0.0
    val h = new Array[Long](256)
    var i = 0
    while (i < a.length) { h(a(i) & 0xff) += 1; i += 1 }
    val n = a.length.toDouble
    var s = 0.0
    var b = 0
    while (b < 256) {
      val c = h(b)
      if (c > 0) s += c * math.log(c.toDouble)
      b += 1
    }
    (math.log(n) - s / n) / math.log(2.0)
  }

  /** Magic-byte container sniff over a binary payload — the real format
    * check a media pipeline runs before trusting a file extension
    * (jpeg/png/gif/RIFF-wav/pdf, else "unknown"). Public magic numbers. */
  def mediaFormat(a: Array[Byte]): UTF8String = {
    def at(i: Int): Int = if (i < a.length) a(i) & 0xff else -1
    val f =
      if (at(0) == 0xFF && at(1) == 0xD8 && at(2) == 0xFF) "jpeg"
      else if (at(0) == 0x89 && at(1) == 0x50 && at(2) == 0x4E && at(3) == 0x47) "png"
      else if (at(0) == 0x47 && at(1) == 0x49 && at(2) == 0x46 && at(3) == 0x38) "gif"
      else if (at(0) == 0x52 && at(1) == 0x49 && at(2) == 0x46 && at(3) == 0x46 &&
        at(8) == 0x57 && at(9) == 0x41 && at(10) == 0x56 && at(11) == 0x45) "wav"
      else if (at(0) == 0x25 && at(1) == 0x50 && at(2) == 0x44 && at(3) == 0x46) "pdf"
      else "unknown"
    UTF8String.fromString(f)
  }

  /** Dot product of a float vector against a constant double vector,
    * accumulated in double, sequential order (the power-iteration row
    * score — same arithmetic the oracle SQL's sum(xj*vj) performs). */
  def dotRef(a: ArrayData, v: Array[Double]): Double = {
    val n = math.min(a.numElements(), v.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * v(i); i += 1 }
    s
  }

  /** Cosine similarity of two float vectors, accumulated in double,
    * sequential order (matches a scalar reference implementation). */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }
}

/** One engine kernel: the static method `method` of the kernel object
  * `obj`, its Catalyst result type, and whether it may return null for
  * non-null input (otherwise the result is null exactly when an input is).
  * A call is Spark's own [[StaticInvoke]]: whole-stage codegen emits
  * `obj.method(args)` in place, the interpreted path calls the method by
  * reflection, and EXPLAIN shows `static_invoke(obj.method(...))`. */
final case class Kernel(obj: AnyRef, method: String, dataType: DataType,
                        returnNullable: Boolean = false) {

  /** The call over `args`: a column or expression as it is, an `Int` or
    * `Long` as a literal of that exact Java type, and any other object (a
    * plan-embedded array or automaton) as an [[ObjectType]] literal, which
    * codegen adds as a reference object. */
  def expr(args: Any*): Expression =
    StaticInvoke(obj.getClass, dataType, method, args.map(Kernel.arg).toSeq,
      returnNullable = returnNullable)

  def apply(args: Any*): Column = ColumnBridge.column(expr(args: _*))
}

object Kernel {
  private def arg(a: Any): Expression = a match {
    case c: Column => ColumnBridge.expression(c)
    case e: Expression => e
    case i: Int => Literal(i)
    case l: Long => Literal(l)
    case o: AnyRef => Literal(o, ObjectType(o.getClass))
  }
}

/** Every engine kernel, defined once: the column API below and the SQL
  * registry ([[graft.GraftExtensions.functions]]) both call these. */
object Kernels {
  private val longs = ArrayType(LongType, containsNull = false)
  private def notNull(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  val simhash64 = Kernel(HashImpl, "simhash64", LongType)
  val minhash = Kernel(HashImpl, "minhash", longs)
  val minhashText = Kernel(HashImpl, "minhashText", longs)
  val bandKeys = Kernel(HashImpl, "bandKeys", longs)
  val charNgrams = Kernel(HashImpl, "charNgrams", ArrayType(StringType, containsNull = false))
  val dup3Frac = Kernel(HashImpl, "dup3Frac", DoubleType)
  val rollingHash = Kernel(HashImpl, "rollingHash", LongType)
  val windowHashes = Kernel(HashImpl, "windowHashes", longs)
  /** Null for arrays shorter than two tokens. */
  val topBigram = Kernel(HashImpl, "topBigram",
    notNull("w1" -> StringType, "w2" -> StringType, "n_occ" -> LongType),
    returnNullable = true)
  val runFingerprints = Kernel(HashImpl, "runFingerprints", longs)
  val srpBucket = Kernel(HashImpl, "srpBucket", IntegerType)
  val srpBucketSeeded = Kernel(HashImpl, "srpBucketSeeded", IntegerType)
  val nfcNormalize = Kernel(HashImpl, "nfcNormalize", StringType)
  val jaroWinkler = Kernel(HashImpl, "jaroWinkler", DoubleType)
  val normF = Kernel(HashImpl, "normF", DoubleType)
  val signPack64 = Kernel(HashImpl, "signPack64", LongType)
  val srpProjNorm = Kernel(HashImpl, "srpProjNorm", DoubleType)
  val maskJaccard = Kernel(HashImpl, "maskJaccard", DoubleType)
  val sortedJaccard = Kernel(HashImpl, "sortedJaccard", DoubleType)
  val nearestCell = Kernel(HashImpl, "nearestCell", IntegerType)
  val nearestCellUnit = Kernel(HashImpl, "nearestCellUnit", IntegerType)
  val minCellDistUnit = Kernel(HashImpl, "minCellDistUnit", DoubleType)
  val pqCodes = Kernel(HashImpl, "pqCodes", ArrayType(IntegerType, containsNull = false))
  val adcDist = Kernel(HashImpl, "adcDist", DoubleType)
  val byteEntropy = Kernel(HashImpl, "byteEntropy", DoubleType)
  val mediaFormat = Kernel(HashImpl, "mediaFormat", StringType)
  val dotRef = Kernel(HashImpl, "dotRef", DoubleType)
  val cosineF = Kernel(HashImpl, "cosineF", DoubleType)
  val langBest = Kernel(TextImpl, "langBest",
    notNull("lang_pred" -> StringType, "lang_score" -> DoubleType))
  val countMatches = Kernel(AhoCorasick, "countMatchesRow",
    notNull("n_patterns_hit" -> LongType, "n_occurrences" -> LongType))
}

/** Column API over the engine kernels ([[Kernels]]). */
object HashFunctions {

  /** `k` over `vec` and a plan-embedded flat centroid matrix
    * (quantizer-sized, a few KB) of row width d. */
  private def overCells(k: Kernel, vec: Column, centroids: Seq[Seq[Double]]): Column = {
    val d = centroids.head.length
    require(centroids.forall(_.length == d), "ragged centroid matrix")
    k(vec, centroids.flatten.toArray, d)
  }

  def simhash64(tokens: Column): Column = Kernels.simhash64(tokens)
  def minhashSig(shingles: Column, k: Int = 64, seed: Long = 42L): Column =
    Kernels.minhash(shingles, k, seed)
  def minhashSigText(text: Column, w: Int = 2, k: Int = 64, seed: Long = 42L): Column =
    Kernels.minhashText(text, w, k, seed)
  def bandKeys(sig: Column, bands: Int = 16): Column = Kernels.bandKeys(sig, bands)
  def rollingHash64(text: Column): Column = Kernels.rollingHash(text)
  def windowHashes(text: Column, len: Int): Column = Kernels.windowHashes(text, len)
  def runFingerprints(tokens: Column, w: Int): Column = Kernels.runFingerprints(tokens, w)
  def topBigram(tokens: Column): Column = Kernels.topBigram(tokens)
  def nfcNormalize(text: Column): Column = Kernels.nfcNormalize(text)
  def jaroWinkler(a: Column, b: Column): Column = Kernels.jaroWinkler(a, b)
  def dup3Frac(tokens: Column): Column = Kernels.dup3Frac(tokens)
  def charNgrams(text: Column, n: Int): Column = Kernels.charNgrams(text, n)
  def srpBucket(vec: Column, nBits: Int = 16, seed: Long = 7L): Column =
    Kernels.srpBucket(vec, nBits, seed)
  /** [[srpBucket]] with the seed a runtime column (see [[HashImpl.srpBucketSeeded]]). */
  def srpBucketSeeded(vec: Column, nBits: Int, seed: Column): Column =
    Kernels.srpBucketSeeded(vec, nBits, seed.cast(LongType))
  def cosineSim(a: Column, b: Column): Column = Kernels.cosineF(a, b)
  /** Dot product against a plan-embedded constant vector (the
    * power-iteration hot path; see [[HashImpl.dotRef]]). */
  def dotRef(a: Column, v: Array[Double]): Column = Kernels.dotRef(a, v)
  def byteEntropy(payload: Column): Column = Kernels.byteEntropy(payload)
  def mediaFormat(payload: Column): Column = Kernels.mediaFormat(payload)
  /** Bitset-fingerprint Jaccard, the set-similarity verify hot path: as
    * one call, Catalyst cannot inline a per-word sum into both the join
    * condition and the output projection. */
  def maskJaccard(a: Column, b: Column): Column = Kernels.maskJaccard(a, b)
  def nearestCell(vec: Column, centroids: Seq[Seq[Double]]): Column =
    overCells(Kernels.nearestCell, vec, centroids)
  def nearestCellUnit(vec: Column, centroids: Seq[Seq[Double]]): Column =
    overCells(Kernels.nearestCellUnit, vec, centroids)
  def normF(vec: Column): Column = Kernels.normF(vec)
  def signPack64(vec: Column): Column = Kernels.signPack64(vec)
  /** struct<n_patterns_hit, n_occurrences> of a blocklist over `text`; the
    * automaton is built once here and travels with the plan. */
  def multiPatternCount(text: Column, patterns: Seq[String]): Column =
    Kernels.countMatches(text, AhoCorasick.build(patterns))
  def srpProjNorm(vec: Column, nBits: Int, seed: Long): Column =
    Kernels.srpProjNorm(vec, nBits, seed)
  def minCellDistUnit(vec: Column, centroids: Seq[Seq[Double]]): Column =
    overCells(Kernels.minCellDistUnit, vec, centroids)
  def sortedJaccard(a: Column, b: Column): Column = Kernels.sortedJaccard(a, b)
  /** Product-quantization codes against plan-embedded per-subspace
    * codebooks (m·ksub·dsub doubles, a few KB). */
  def pqCodes(vec: Column, books: Seq[Seq[Seq[Double]]]): Column = {
    val m = books.length
    val ksub = books.head.length
    val dsub = books.head.head.length
    require(books.forall(b => b.length == ksub && b.forall(_.length == dsub)),
      "ragged PQ codebooks")
    Kernels.pqCodes(vec, books.flatten.flatten.toArray, m, ksub, dsub)
  }
  /** Fused PQ lookup-table sum: one call, so Catalyst cannot inline the Σ
    * into both the rank and the projection. */
  def adcDist(codes: Column, lut: Column): Column = Kernels.adcDist(codes, lut)
}
