package graft.fn

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernel for word n-gram shingling, called from
  * [[Kernels.WordShingles]] (q67 shuffle diet, VERDICT r2 item 6).
  *
  * Semantics are EXACTLY `split(text, ' ')` + `array_remove(_, "")` +
  * sliding n-gram join-with-single-space — the formulation the Dedup
  * module (and its DuckDB oracle SQL) define — but computed in one
  * pass per row instead of posexplode + lead-window, which cost a
  * full shuffle+sort of the token stream (the round-2 pipeline's
  * single most expensive stage). Output order is document order;
  * duplicates are kept (minhash `min` is idempotent; set consumers
  * add `distinct`).
  */
object TextKernels {

  private val Empty = new GenericArrayData(new Array[Any](0))

  /** Per-ROW k-wide MinHash signature over word n-gram shingles —
    * bit-identical to `Dedup.minhashSignatures(shingleStream(…),
    * XxHasher)` (asserted by DedupSpec), but computed inside the
    * row's codegen span: content hash = xxhash64(shingle) (Catalyst's
    * exact string path, `XXH64.hashUTF8String` seed 42), derived
    * hash i = xxhash64(i, content) (seed-chained hashInt→hashLong,
    * Catalyst's multi-child order). Returns null when the text has
    * fewer than n words (the aggregate form emits no row there).
    *
    * This kernel is what makes signatures SHUFFLE-FREE (the aggregate
    * form pays an explode + groupBy) and streaming near-dup possible
    * at all: a signature per arriving document with no state.
    */
  def minhashSig(s: UTF8String, n: Int, k: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val str = s.toString
    val len = str.length
    val toks = new java.util.ArrayList[String]
    var i = 0
    while (i < len) {
      while (i < len && str.charAt(i) == ' ') i += 1
      val start = i
      while (i < len && str.charAt(i) != ' ') i += 1
      if (i > start) toks.add(str.substring(start, i))
    }
    val m = toks.size - n + 1
    if (m <= 0) return null
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j < m) {
      sb.setLength(0)
      var t = 0
      while (t < n) {
        if (t > 0) sb.append(' ')
        sb.append(toks.get(j + t))
        t += 1
      }
      val prepared = XXH64.hashUTF8String(UTF8String.fromString(sb.toString), 42L)
      var h = 0
      while (h < k) {
        val v = XXH64.hashLong(prepared, XXH64.hashInt(h, 42L))
        if (v < mins(h)) mins(h) = v
        h += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  def wordShingles(s: UTF8String, n: Int): ArrayData = {
    val str = s.toString
    val len = str.length
    val toks = new java.util.ArrayList[String]
    var i = 0
    while (i < len) {
      while (i < len && str.charAt(i) == ' ') i += 1
      val start = i
      while (i < len && str.charAt(i) != ' ') i += 1
      if (i > start) toks.add(str.substring(start, i))
    }
    val m = toks.size - n + 1
    if (m <= 0) return Empty
    val out = new Array[Any](m)
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j < m) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks.get(j + k))
        k += 1
      }
      out(j) = UTF8String.fromString(sb.toString)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Canonical per-language stopword lists for the frequency
    * heuristic (ext.TextOps re-exports this — the kernel and the
    * aggregate formulation must share ONE list). Order = tie-break
    * preference.
    */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that", "it", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "qui"),
    "es" -> Seq("el", "los", "las", "y", "es", "un", "una", "en", "por", "como"))

  private val stopSets: Array[java.util.HashSet[String]] =
    Stopwords.map { case (_, ws) =>
      val h = new java.util.HashSet[String]()
      ws.foreach(h.add)
      h
    }.toArray
  private val langNames: Array[UTF8String] =
    Stopwords.map(l => UTF8String.fromString(l._1)).toArray
  private val LangUnd = UTF8String.fromString("und")
  private val LangZh = UTF8String.fromString("zh")

  /** Per-ROW repetition profile — the Gopher repetition signals
    * (Rae et al. 2021, "Scaling Language Models", Table A1) over the
    * engine-wide tokenization (`split(text, ' ')` + empty drop):
    *
    *  - `top{2,3,4}_frac`: characters of the MOST FREQUENT word
    *    n-gram (count × single-space-joined gram length) over the
    *    single-space-joined document length. Ties break to the
    *    lexicographically largest gram (deterministic, and ASCII
    *    byte order == Java char order on this tokenization, so the
    *    DuckDB oracle agrees).
    *  - `dup{5,6}_frac`: Σ over n-grams occurring ≥ 2 times of
    *    count × gram chars, over document chars — the OCCURRENCE-SUM
    *    form of Gopher's "fraction of characters in duplicated
    *    n-grams" (overlap-coverage is not SQL-expressible; this form
    *    is, can exceed 1.0, and ranks documents identically for
    *    gating purposes).
    *
    * All character counts are Unicode CODE POINTS (not UTF-16
    * units), matching DuckDB's `length()` so the q126 oracle agrees
    * on non-BMP text; only the tie-break retains the documented
    * ASCII-byte-order caveat.
    *
    * Null for texts with no tokens; an n with fewer than n tokens
    * contributes 0.0. Per-row and stateless — repetition gating
    * needs NO explode and NO shuffle (the n-gram maps are bounded by
    * the document itself), so it composes into streaming curation
    * gates exactly like [[textProfile]].
    */
  def repetitionProfile(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    val len = str.length
    // token offsets, one pass
    val starts = new java.util.ArrayList[Integer]
    val ends = new java.util.ArrayList[Integer]
    var i = 0
    var sumLen = 0L
    while (i < len) {
      while (i < len && str.charAt(i) == ' ') i += 1
      val st = i
      while (i < len && str.charAt(i) != ' ') i += 1
      // code points, not UTF-16 units: DuckDB's length() counts code
      // points, and the oracle divides by it — surrogate pairs must
      // count once on both engines.
      if (i > st) {
        starts.add(st); ends.add(i); sumLen += str.codePointCount(st, i)
      }
    }
    val nTok = starts.size
    if (nTok == 0) return null
    val totalChars = (sumLen + (nTok - 1)).toDouble
    // gram char count in code points (tokens + single-space joins)
    def gramChars(g: String): Long = g.codePointCount(0, g.length).toLong

    val sb = new java.lang.StringBuilder
    def gramAt(j: Int, n: Int): String = {
      sb.setLength(0)
      var t = j
      while (t < j + n) {
        if (t > j) sb.append(' ')
        sb.append(str, starts.get(t), ends.get(t))
        t += 1
      }
      sb.toString
    }
    // top-n: chars of the (count, gram)-max n-gram; 0.0 if nTok < n
    def topFrac(n: Int): Double = {
      if (nTok < n) return 0.0
      val m = new java.util.HashMap[String, Array[Long]]
      var j = 0
      while (j <= nTok - n) {
        val g = gramAt(j, n)
        val c = m.get(g)
        if (c == null) m.put(g, Array(1L)) else c(0) += 1L
        j += 1
      }
      var bestCnt = 0L
      var bestGram: String = null
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue()(0)
        if (c > bestCnt || (c == bestCnt && e.getKey.compareTo(bestGram) > 0)) {
          bestCnt = c; bestGram = e.getKey
        }
      }
      bestCnt * gramChars(bestGram) / totalChars
    }
    // dup-n: occurrence-sum over grams seen >= 2 times; 0.0 if nTok < n
    def dupFrac(n: Int): Double = {
      if (nTok < n) return 0.0
      val m = new java.util.HashMap[String, Array[Long]]
      var j = 0
      while (j <= nTok - n) {
        val g = gramAt(j, n)
        val c = m.get(g)
        if (c == null) m.put(g, Array(1L)) else c(0) += 1L
        j += 1
      }
      var dupChars = 0L
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue()(0)
        if (c >= 2L) dupChars += c * gramChars(e.getKey)
      }
      dupChars / totalChars
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTok.toLong, totalChars.toLong,
        topFrac(2), topFrac(3), topFrac(4), dupFrac(5), dupFrac(6)))
  }

  /** Per-ROW text profile — the narrow, shuffle-free form of
    * `TextOps.profile`, bit-identical to the aggregate formulation
    * (TextOpsSpec asserts exact equality): one pass over the string
    * computes token/distinct counts, length/stopword/alpha/punct
    * ratios, the stopword-argmax language id (CJK short-circuit), and
    * the composite quality score. Returns null for texts with no
    * tokens (the aggregate form emits no row there).
    *
    * This kernel is what makes corpus quality-gating possible as a
    * STATELESS streaming operator (no explode, no groupBy, no state)
    * and removes the per-doc aggregation shuffle from batch profiling
    * — at 100 TB the explode+groupBy form shuffles the entire token
    * stream to compute numbers every row can derive locally.
    */
  def textProfile(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    val len = str.length
    var nTok = 0L
    var sumLen = 0L
    var alpha = 0L
    var punct = 0L
    var cjk = 0L
    val hits = new Array[Long](stopSets.length)
    val distinct = new java.util.HashSet[String]()
    var i = 0
    while (i < len) {
      while (i < len && str.charAt(i) == ' ') i += 1
      val start = i
      while (i < len && str.charAt(i) != ' ') i += 1
      if (i > start) {
        val tok = str.substring(start, i)
        nTok += 1
        sumLen += tok.length
        distinct.add(tok)
        var c = start
        while (c < i) {
          val ch = str.charAt(c)
          val isAl = (ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z')
          val isDig = ch >= '0' && ch <= '9'
          if (isAl) alpha += 1
          if (!isAl && !isDig) punct += 1
          if (ch >= '一' && ch <= '鿿') cjk += 1
          c += 1
        }
        var l = 0
        while (l < stopSets.length) {
          if (stopSets(l).contains(tok)) hits(l) += 1
          l += 1
        }
      }
    }
    if (nTok == 0) return null
    val meanTokLen = sumLen.toDouble / nTok
    val stopRatio = hits(0).toDouble / nTok
    val alphaRatio = alpha.toDouble / sumLen
    val punctRatio = punct.toDouble / sumLen
    // first lang (in Stopwords order) with hits > 0 and no LATER lang
    // strictly ahead — the exact foldRight semantics of the aggregate
    // form's argmax
    var lang: UTF8String = LangUnd
    var l = 0
    var found = false
    while (l < hits.length && !found) {
      if (hits(l) > 0) {
        var ok = true
        var m = l + 1
        while (m < hits.length) {
          if (hits(l) < hits(m)) ok = false
          m += 1
        }
        if (ok) { lang = langNames(l); found = true }
      }
      l += 1
    }
    if (cjk > 0) lang = LangZh
    val quality = 0.4 * math.min(nTok / 50.0, 1.0) +
      0.3 * math.min(stopRatio * 5.0, 1.0) + 0.3 * alphaRatio
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTok, distinct.size.toLong, meanTokLen, stopRatio,
        alphaRatio, punctRatio, lang, quality))
  }

  /** Per-ROW term-frequency map — `map<tok, count>` over single-space
    * tokens (exactly `split(text, ' ')` + empty-token drop, the
    * engine-wide tokenization). Key order is FIRST-OCCURRENCE order
    * (deterministic per text). Computing tf inside the row is what
    * lets the tf table be built with NO corpus shuffle at all: the
    * former `explode → groupBy(doc, tok)` form hash-partitioned the
    * entire exploded token stream just to count within rows it
    * already had together. Per-row state is bounded by the document
    * itself (≤ distinct tokens of one doc).
    */
  def termCounts(s: UTF8String): org.apache.spark.sql.catalyst.util.MapData = {
    val str = s.toString
    val len = str.length
    val m = new java.util.LinkedHashMap[String, Array[Long]]
    var i = 0
    while (i < len) {
      while (i < len && str.charAt(i) == ' ') i += 1
      val start = i
      while (i < len && str.charAt(i) != ' ') i += 1
      if (i > start) {
        val tok = str.substring(start, i)
        val c = m.get(tok)
        if (c == null) m.put(tok, Array(1L)) else c(0) += 1L
      }
    }
    val n = m.size
    val keys = new Array[Any](n)
    val vals = new Array[Any](n)
    var j = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys(j) = UTF8String.fromString(e.getKey)
      vals(j) = e.getValue()(0)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new GenericArrayData(keys), new GenericArrayData(vals))
  }

  /** Per-ROW n-gram-frequency map — `map<gram, count>` with grams the
    * space-joined n-token windows of the engine-wide tokenization
    * (document order does not cross rows; key order is
    * first-occurrence). [[termCounts]] generalized to n ≥ 2: the
    * n-gram LM trainers' shuffle diet — the exchange behind
    * `explode(ngram_counts(text, n))` carries per-doc DISTINCT
    * n-grams with map-side partial sums, where the former
    * posexplode + element_at form hash-partitioned the corpus's
    * entire token stream once per model order.
    */
  def ngramCounts(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.MapData = {
    val str = s.toString
    val len = str.length
    val starts = new java.util.ArrayList[Integer]
    val ends = new java.util.ArrayList[Integer]
    var i = 0
    while (i < len) {
      while (i < len && str.charAt(i) == ' ') i += 1
      val st = i
      while (i < len && str.charAt(i) != ' ') i += 1
      if (i > st) { starts.add(st); ends.add(i) }
    }
    val nTok = starts.size
    val m = new java.util.LinkedHashMap[String, Array[Long]]
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j <= nTok - n) {
      sb.setLength(0)
      var t = j
      while (t < j + n) {
        if (t > j) sb.append(' ')
        sb.append(str, starts.get(t), ends.get(t))
        t += 1
      }
      val gram = sb.toString
      val c = m.get(gram)
      if (c == null) m.put(gram, Array(1L)) else c(0) += 1L
      j += 1
    }
    val sz = m.size
    val keys = new Array[Any](sz)
    val vals = new Array[Any](sz)
    var o = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys(o) = UTF8String.fromString(e.getKey)
      vals(o) = e.getValue()(0)
      o += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new GenericArrayData(keys), new GenericArrayData(vals))
  }

  private val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }


  /** Per-ROW k-wide MinHash signature under the CROSS-ENGINE PARITY
    * hash ([[graft.ext.Dedup.ParityHasher]]): content hash = first 15
    * hex digits of md5(shingle) parsed base-16, reduced mod
    * P = 2³¹−1; derived hash i = (A_i·h + B_i) mod P. Bit-identical
    * to `Dedup.minhashSignatures(shingleStream(…), ParityHasher)`
    * (DedupSpec asserts) — the shuffle-free form of the oracle-parity
    * pipeline, mirroring what [[minhashSig]] is for the xxhash64
    * production path. `a` and `b` are the affine coefficient arrays
    * (length k), precomputed by the caller.
    */
  def parityMinhashSig(s: UTF8String, n: Int,
                       a: Array[Long], b: Array[Long]): ArrayData = {
    val P = 2147483647L
    val k = a.length
    val hashes = shingleHashes60(s, n)
    if (hashes == null) return null
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var j = 0
    while (j < hashes.length) {
      val prepared = hashes(j) % P
      var h = 0
      while (h < k) {
        val v = (a(h) * prepared + b(h)) % P
        if (v < mins(h)) mins(h) = v
        h += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  private val digestLocal = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](16)
  }
  private val scratchLocal = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](256)
  }

  /** 60-bit md5 hash of every n-token shingle of `s`, or null when
    * the text has no n-shingle. The hash value equals
    * `conv(substring(md5(shingle), 1, 15), 16, 10)` — the first 15
    * hex digits ARE the top 60 bits of the digest read big-endian,
    * so the value is taken straight from the digest bytes: no hex
    * string, no parse. The whole loop is allocation-light: tokens
    * are byte ranges into the UTF-8 payload (splitting on 0x20 is
    * multi-byte-safe), each shingle is assembled in a reusable
    * thread-local scratch buffer, and the digest reuses a
    * thread-local 16-byte output. This is the shared hot loop of the
    * parity-minhash and winnowing kernels (~n_tokens md5 calls per
    * document — the dominant cost of both, so it must not also pay
    * per-shingle garbage).
    */
  private def shingleHashes60(s: UTF8String, n: Int): Array[Long] =
    shingleHashesImpl(s, n, xx = false)

  /** One tokenize-and-assemble loop for BOTH shingle hashers (the
    * md5/oracle-parity and xxhash64/production paths differ ONLY in
    * the final hash call — a single predictable branch per shingle,
    * so the two hashers cannot drift in tokenization or scratch
    * handling).
    */
  private def shingleHashesImpl(s: UTF8String, n: Int,
                                xx: Boolean): Array[Long] = {
    val bytes = s.getBytes
    val len = bytes.length
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var nTok = 0
    var i = 0
    while (i < len) {
      while (i < len && bytes(i) == ' ') i += 1
      val st = i
      while (i < len && bytes(i) != ' ') i += 1
      if (i > st) {
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = st; ends(nTok) = i; nTok += 1
      }
    }
    val m = nTok - n + 1
    if (m <= 0) return null
    val md = if (xx) null else md5Local.get()
    val out = if (xx) null else digestLocal.get()
    var scratch = scratchLocal.get()
    val hashes = new Array[Long](m)
    var j = 0
    while (j < m) {
      var slen = n - 1
      var t = j
      while (t < j + n) { slen += ends(t) - starts(t); t += 1 }
      if (slen > scratch.length) {
        scratch = new Array[Byte](java.lang.Integer.highestOneBit(slen) * 2)
        scratchLocal.set(scratch)
      }
      var pos = 0
      t = j
      while (t < j + n) {
        if (t > j) { scratch(pos) = ' '; pos += 1 }
        val tl = ends(t) - starts(t)
        System.arraycopy(bytes, starts(t), scratch, pos, tl)
        pos += tl
        t += 1
      }
      if (xx) {
        // seed-42 over the shingle's UTF-8 bytes — the exact
        // bytes-and-seed contract of SQL xxhash64(string)
        hashes(j) = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(scratch,
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, pos, 42L)
      } else {
        md.reset()
        md.update(scratch, 0, pos)
        md.digest(out, 0, 16)
        var v = 0L
        var bi = 0
        while (bi < 7) { v = (v << 8) | (out(bi) & 0xffL); bi += 1 }
        hashes(j) = (v << 4) | ((out(7) & 0xffL) >>> 4)
      }
      j += 1
    }
    hashes
  }

  /** Like [[shingleHashes60]] but hashing each shingle with
    * xxhash64 (seed 42 over the shingle's UTF-8 bytes — the exact
    * bytes-and-seed contract of Catalyst's `xxhash64(string)`, so the
    * values equal SQL `xxhash64(shingle)`). Full 64-bit range. This
    * is the PRODUCTION hasher for the winnow family: ~20× cheaper per
    * shingle than md5 (one pass of 8-byte mixing vs a full digest),
    * with the md5 path retained only for cross-engine oracle parity.
    * Same tokenization, same reusable scratch assembly — only the
    * hash call differs.
    */
  private def shingleHashesXx(s: UTF8String, n: Int): Array[Long] =
    shingleHashesImpl(s, n, xx = true)

  /** Per-ROW winnowing fingerprints (Schleimer, Wilkerson & Aiken
    * 2003 — the MOSS algorithm): hash every k-token shingle with the
    * portable 60-bit md5 hash, slide a w-wide window over the hash
    * sequence, record each window's MINIMUM, and return the DISTINCT
    * minima sorted ascending. Guarantee: any shared token run of
    * length ≥ k + w − 1 between two documents yields at least one
    * shared fingerprint, while only ~2/(w+1) of shingle hashes are
    * kept — the standard density/detection trade for plagiarism and
    * near-dup span detection. Shorter docs (fewer than w shingles but
    * at least one) contribute their single global minimum; docs with
    * no k-shingle return null.
    *
    * `xx = true` swaps the shingle hasher for xxhash64
    * ([[shingleHashesXx]]) — the PRODUCTION path: identical selection
    * algorithm and density, different (cheaper) hash values, so
    * fingerprints are comparable only within one hasher choice. The
    * md5 default stays because the DuckDB oracle can reproduce it
    * bit-for-bit; a production deployment has no oracle in the loop
    * and should pass xx = true.
    */
  def winnowFingerprints(s: UTF8String, k: Int, w: Int): ArrayData =
    winnowFingerprints(s, k, w, xx = false)

  def winnowFingerprintsXx(s: UTF8String, k: Int, w: Int): ArrayData =
    winnowFingerprints(s, k, w, xx = true)

  def winnowFingerprints(s: UTF8String, k: Int, w: Int, xx: Boolean): ArrayData = {
    val hashes = if (xx) shingleHashesXx(s, k) else shingleHashes60(s, k)
    if (hashes == null) return null
    val m = hashes.length
    val sel = new java.util.TreeSet[java.lang.Long]
    if (m <= w) {
      var min = java.lang.Long.MAX_VALUE
      var p = 0
      while (p < m) { if (hashes(p) < min) min = hashes(p); p += 1 }
      sel.add(min)
    } else {
      // w is small (typically 4-8): the O(m·w) scan beats a deque's
      // branchy constant factor and stays allocation-free
      var start = 0
      while (start <= m - w) {
        var min = java.lang.Long.MAX_VALUE
        var p = start
        while (p < start + w) { if (hashes(p) < min) min = hashes(p); p += 1 }
        sel.add(min)
        start += 1
      }
    }
    val out = new Array[Long](sel.size)
    val it = sel.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** Per-ROW hash of every L-CHARACTER window of `s` (stride 1,
    * document order: element i is the window starting at char i+1,
    * 1-based), or null when the text is shorter than L chars — the
    * fingerprint stream of exact-substring duplicate detection
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better": any substring of length ≥ L occurring more than
    * once in the corpus is a duplicated span; L-windows at stride 1
    * detect every such substring, since each one contains at least
    * one full window).
    *
    * Windows are CODE-POINT-based, not byte- or UTF-16-based: both
    * engines' `substr`/`length` count code points, so this is the
    * cross-engine-portable unit (and the q112 BPE lesson — surrogate
    * pairs must never split). Window bytes are hashed in place from
    * the row's UTF-8 payload via a code-point offset index — no
    * substring materialization. Default hash is the portable 60-bit
    * md5 (`conv(substring(md5(win), 1, 15), 16, 10)` — the engine
    * convention DuckDB can replay); `xx = true` selects seed-42
    * xxhash64 over the same bytes (≡ SQL `xxhash64(win)`) — the
    * PRODUCTION hasher, ~20× cheaper, for runs with no oracle in the
    * loop. O(n·L) bytes hashed per doc; L is a small constant.
    */
  def charWindowHashes(s: UTF8String, L: Int): ArrayData = charWindowHashes(s, L, xx = false)

  def charWindowHashesXx(s: UTF8String, L: Int): ArrayData = charWindowHashes(s, L, xx = true)

  def charWindowHashes(s: UTF8String, L: Int, xx: Boolean): ArrayData = {
    val bytes = s.getBytes
    val blen = bytes.length
    var nChars = 0
    var i = 0
    while (i < blen) {
      if ((bytes(i) & 0xC0) != 0x80) nChars += 1
      i += 1
    }
    val m = nChars - L + 1
    if (m <= 0) return null
    // code-point start offsets; offs(nChars) = end sentinel
    val offs = new Array[Int](nChars + 1)
    var c = 0
    i = 0
    while (i < blen) {
      if ((bytes(i) & 0xC0) != 0x80) { offs(c) = i; c += 1 }
      i += 1
    }
    offs(nChars) = blen
    val md = if (xx) null else md5Local.get()
    val out = if (xx) null else digestLocal.get()
    val hashes = new Array[Long](m)
    var j = 0
    while (j < m) {
      val st = offs(j)
      val wl = offs(j + L) - st
      if (xx) {
        hashes(j) = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(bytes,
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + st, wl, 42L)
      } else {
        md.reset()
        md.update(bytes, st, wl)
        md.digest(out, 0, 16)
        var v = 0L
        var bi = 0
        while (bi < 7) { v = (v << 8) | (out(bi) & 0xffL); bi += 1 }
        hashes(j) = (v << 4) | ((out(7) & 0xffL) >>> 4)
      }
      j += 1
    }
    new GenericArrayData(hashes)
  }

  /** Remove the char spans [starts(i), ends(i)] (1-based, inclusive,
    * sorted ascending, non-overlapping — the merged-island contract
    * of `SpanDedup.duplicateSpans`) from `s`, by code point. A span
    * index past the text's end is simply inert (no chars match it) —
    * the kernel never reads outside the row. Single pass, one output
    * buffer, no per-char allocation.
    */
  def stripCharSpans(s: UTF8String, starts: ArrayData, ends: ArrayData): UTF8String = {
    val n = starts.numElements()
    if (n == 0) return s
    val bytes = s.getBytes
    val blen = bytes.length
    val outBuf = new Array[Byte](blen)
    var pos = 0
    var si = 0
    var curStart = starts.getLong(0)
    var curEnd = ends.getLong(0)
    var ci = 1L // 1-based char index of the char starting at bi
    var bi = 0
    while (bi < blen) {
      while (si < n && ci > curEnd) {
        si += 1
        if (si < n) { curStart = starts.getLong(si); curEnd = ends.getLong(si) }
      }
      val inSpan = si < n && ci >= curStart && ci <= curEnd
      var next = bi + 1
      while (next < blen && (bytes(next) & 0xC0) == 0x80) next += 1
      if (!inSpan) {
        System.arraycopy(bytes, bi, outBuf, pos, next - bi)
        pos += next - bi
      }
      bi = next
      ci += 1L
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(outBuf, pos))
  }

}
