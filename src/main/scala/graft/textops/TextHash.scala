package graft.textops

import pageplus.model.PyStr

/** Deterministic hashing + text-analysis primitives for the large-scale
  * training-data operators (dedup, similarity, fingerprinting, language id).
  * Everything is a pure function of its inputs — no wall clock, no per-run
  * randomness (permutation seeds are fixed constants), so results are stable
  * across partitionings and cluster sizes.
  */
object TextHash {

  /** 64-bit FNV-1a over UTF-8 bytes — stable scalar string hash. */
  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** splitmix64 finalizer — per-permutation constants from a fixed seed, and
    * the value hash of the HLL/KMV/CMS sketches. Java Long overflow IS
    * mod-2^64, so this matches the oracles' HUGEINT formulation (32-bit-split
    * multiplication) exactly. */
  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Word k-shingles (k consecutive tokens joined by one space, FNV-64
    * hashed) as a sorted DISTINCT Array[Long] — the hot path of the dedup
    * family (signatures + verify run this per document/candidate). The FNV
    * stream runs over each token's UTF-8 bytes plus a single 0x20 separator,
    * which is exactly the byte stream of the joined string, so tokens are
    * encoded once instead of k times, no joined String is built per shingle,
    * and no Long is boxed into a Set. Fewer than k tokens give one shingle of
    * the joined text. Consumers use [[intersectSize]] / `.length` as set
    * algebra. */
  def wordShingleArr(text: String, k: Int = 3): Array[Long] = {
    val toks = PyStr.split(text).toArray
    val n = toks.length
    if (n < k) return Array(fnv64(toks.mkString(" ")))
    val enc = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      enc(i) = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8); i += 1
    }
    val out = new Array[Long](n - k + 1)
    i = 0
    while (i <= n - k) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < k) {
        if (j > 0) { h ^= 0x20L; h *= 0x100000001b3L }
        val b = enc(i + j)
        var p = 0
        while (p < b.length) { h ^= (b(p) & 0xffL); h *= 0x100000001b3L; p += 1 }
        j += 1
      }
      out(i) = h
      i += 1
    }
    sortedDistinct(out)
  }

  /** Character n-gram shingles (FNV-64 hashed) as a sorted distinct
    * Array[Long]; a text shorter than n is one shingle. */
  def charShingleArr(text: String, n: Int = 3): Array[Long] = {
    if (text.length < n) return Array(fnv64(text))
    val out = new Array[Long](text.length - n + 1)
    var i = 0
    while (i <= text.length - n) { out(i) = fnv64(text.substring(i, i + n)); i += 1 }
    sortedDistinct(out)
  }

  /** In-place sort + dedup; returns the (possibly shortened) array. */
  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var w = 0
    var i = 0
    while (i < a.length) {
      if (w == 0 || a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    if (w == a.length) a else java.util.Arrays.copyOf(a, w)
  }

  /** Intersection size of two sorted distinct arrays (merge walk) — equals
    * `setA.intersect(setB).size` on the equivalent sets. */
  def intersectSize(sa: Array[Long], sb: Array[Long]): Long = {
    var i = 0
    var j = 0
    var inter = 0L
    while (i < sa.length && j < sb.length) {
      if (sa(i) < sb(j)) i += 1
      else if (sa(i) > sb(j)) j += 1
      else { inter += 1L; i += 1; j += 1 }
    }
    inter
  }

  // ---- MinHash ---------------------------------------------------------------

  val MinHashPerms = 64
  val MinHashBands = 16
  val MinHashRows: Int = MinHashPerms / MinHashBands // 4

  private val permA: Array[Long] =
    Array.tabulate(MinHashPerms)(i => splitmix64(0x5eed0001L + i) | 1L) // odd multipliers
  private val permB: Array[Long] =
    Array.tabulate(MinHashPerms)(i => splitmix64(0x5eed1001L + i))

  /** MinHash signature over a shingle array: h_i(x) = a_i*x + b_i
    * (mod 2^64), min per permutation — order/duplicate-insensitive, so the
    * signature is that of the equivalent shingle set. */
  def minHashSignature(shingles: Array[Long]): Array[Long] = {
    val sig = Array.fill(MinHashPerms)(Long.MaxValue)
    var j = 0
    while (j < shingles.length) {
      val s = shingles(j)
      var i = 0
      while (i < MinHashPerms) {
        val h = permA(i) * s + permB(i)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      j += 1
    }
    sig
  }

  /** LSH band keys: hash of each band's rows — equal band key => candidate pair. */
  def bandKeys(sig: Array[Long]): Array[Long] =
    Array.tabulate(MinHashBands) { b =>
      var h = 0xcbf29ce484222325L ^ b
      var r = 0
      while (r < MinHashRows) {
        h ^= sig(b * MinHashRows + r)
        h *= 0x100000001b3L
        r += 1
      }
      h
    }

  // ---- One-permutation MinHash (OPH) -----------------------------------------

  val OphBins = 32
  val OphBands = 16
  val OphRows: Int = OphBins / OphBands // 2

  /** One-permutation MinHash signature (Li, Owen, Zhang, "One Permutation
    * Hashing", NIPS'12): ONE splitmix-mixed hash per shingle, bin =
    * floorMod(h, [[OphBins]]), per-bin signed min — 64x fewer hash
    * evaluations per shingle than [[minHashSignature]] for a sketch of
    * comparable banding power, which is the dominant CPU cost of MinHash at
    * 100 TB (signatures are computed map-side over every shingle of every
    * document). Empty bins are filled by densification (Shrivastava & Li,
    * "Densifying One Permutation Hashing via Rotation", ICML'14): borrow the
    * value of the nearest non-empty bin to the RIGHT (cyclic), offset-mixed
    * by the gap so two documents collide on a borrowed slot only when they
    * agree on BOTH the donor value and the gap. All arithmetic wraps in
    * Long and all comparisons are signed, so the Python/SQL recompute is
    * bit-identical (tools/oph_oracle_check.py). Per-bin signed min is
    * order/duplicate-insensitive: the signature is that of the equivalent
    * shingle set. */
  def ophSignature(shingles: Array[Long]): Array[Long] = {
    val sig = new Array[Long](OphBins)
    val filled = new Array[Boolean](OphBins)
    var j = 0
    while (j < shingles.length) {
      val h = splitmix64(shingles(j))
      val b = java.lang.Math.floorMod(h, OphBins.toLong).toInt
      if (!filled(b) || h < sig(b)) { sig(b) = h; filled(b) = true }
      j += 1
    }
    val out = new Array[Long](OphBins)
    var b = 0
    while (b < OphBins) {
      if (filled(b)) out(b) = sig(b)
      else {
        var d = 1
        while (d < OphBins && !filled((b + d) % OphBins)) d += 1
        // d == OphBins impossible for a non-empty shingle array (wordShingleArr
        // never returns empty); guard stays total for safety
        out(b) =
          if (d == OphBins) 0L
          else sig((b + d) % OphBins) + 0x9e3779b97f4a7c15L * d
      }
      b += 1
    }
    out
  }

  /** LSH band keys over an OPH signature: [[OphBands]] bands of [[OphRows]]
    * consecutive bins, FNV-combined (same construction as [[bandKeys]]). */
  def ophBandKeys(sig: Array[Long]): Array[Long] =
    Array.tabulate(OphBands) { b =>
      var h = 0xcbf29ce484222325L ^ b
      var r = 0
      while (r < OphRows) {
        h ^= sig(b * OphRows + r)
        h *= 0x100000001b3L
        r += 1
      }
      h
    }

  def estimateJaccard(a: Array[Long], b: Array[Long]): Double = {
    var eq = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

  // ---- SimHash ---------------------------------------------------------------

  /** 64-bit SimHash over word-unigram hashes. */
  def simHash(text: String): Long = {
    val counts = new Array[Int](64)
    PyStr.split(text).foreach { tok =>
      val h = fnv64(tok)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** SimHash candidate keys, Manku-style block combinations (Manku, Jain,
    * Sarma, "Detecting Near-Duplicates for Web Crawling", WWW'07 §3): the
    * 64-bit fingerprint splits into B = 6 blocks (widths 11,11,11,11,10,10);
    * each key concatenates one 3-subset of blocks, C(6,3) = 20 keys per doc.
    *
    * Losslessness (pigeonhole): ≤3 flipped bits touch ≤3 blocks, leaving ≥3
    * blocks untouched — and EVERY 3-subset is a table, so some key is built
    * entirely from untouched blocks and the pair collides there. Candidates at
    * hamming ≤ 3 are therefore complete, same contract the oracle recomputes.
    *
    * Scale (the r2 fix): keys are 30-33 significant bits, so expected bucket
    * occupancy is n/2^30+ per table — ~1 at 10^9 representatives and ~10^2 at
    * 10^12, vs the old 4x16-bit chunks whose 65,536-value key space packed
    * ~n/65k docs per bucket and made the self-join quadratic per bucket. The
    * price is 20 (key, id) shuffle rows per doc instead of 4 — linear, ~320
    * bytes/doc. */
  private val SimBlockWidths = Array(11, 11, 11, 11, 10, 10)
  private val SimBlockOffsets = Array(0, 11, 22, 33, 44, 54)
  private val SimBlockTriples: Array[Array[Int]] =
    (0 until 6).combinations(3).map(_.toArray).toArray // 20, deterministic order

  def simHashKeys(h: Long): Array[Long] =
    Array.tabulate(SimBlockTriples.length) { t =>
      val blocks = SimBlockTriples(t)
      var packed = 0L
      var i = 0
      while (i < 3) {
        val b = blocks(i)
        packed = (packed << 11) | ((h >>> SimBlockOffsets(b)) & ((1L << SimBlockWidths(b)) - 1))
        i += 1
      }
      (t.toLong << 34) | packed // 3 x <=11 bits, uniform 11-bit packing
    }

  /** The Manku key spec as SQL VALUES rows `(t, o0, w0, o1, w1, o2, w2)` —
    * the DuckDB oracle rebuilds [[simHashKeys]] from the exact same block
    * constants (the [[Ann.signsSqlLiteral]] precedent), so spec and engine
    * cannot drift. */
  def simKeySpecSql: String =
    SimBlockTriples.zipWithIndex.map { case (blocks, t) =>
      val parts = blocks.map(b => s"${SimBlockOffsets(b)},${SimBlockWidths(b)}").mkString(",")
      s"($t,$parts)"
    }.mkString(",")

  /** Wide-radius heuristic keys: 4 x 16-bit chunks. No completeness guarantee
    * beyond hamming 3, and the 65,536-value key space is quadratic-per-bucket
    * at web scale — use ONLY for wide radii (> 3) on bounded corpora, where no
    * practical block scheme guarantees recall anyway (radius 12 would need
    * C(16,12) tables) and near-dup recall is inherently probabilistic. The
    * oracle-checked production path is [[simHashKeys]]. */
  def simHashChunks(h: Long): Array[Long] =
    Array.tabulate(4)(c => (c.toLong << 32) | ((h >>> (16 * c)) & 0xffffL))

  // ---- Winnowing fingerprint ---------------------------------------------------

  /** Document fingerprint via winnowing (k-gram hashes, window minima).
    * Returns (set of selected hashes, combined fingerprint). */
  def winnow(text: String, k: Int = 8, window: Int = 4): (Set[Long], Long) = {
    if (text.length < k) {
      val h = fnv64(text)
      return (Set(h), h)
    }
    val grams = Array.tabulate(text.length - k + 1)(i => fnv64(text.substring(i, i + k)))
    val selected = scala.collection.mutable.LinkedHashSet[Long]()
    var i = 0
    while (i + window <= grams.length) {
      var min = grams(i)
      var j = i + 1
      while (j < i + window) { if (grams(j) < min) min = grams(j); j += 1 }
      selected += min
      i += 1
    }
    var combined = 0xcbf29ce484222325L
    selected.toSeq.sorted.foreach { h => combined ^= h; combined *= 0x100000001b3L }
    (selected.toSet, combined)
  }

  // ---- Language identification (n-gram + stopword heuristic) -------------------

  private val Profiles: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de" -> Set("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "zu", "den"),
    "fr" -> Set("le", "la", "et", "les", "des", "un", "une", "est", "pour", "que"),
    "es" -> Set("el", "los", "las", "y", "es", "una", "por", "para", "con", "del"),
    "zh" -> Set.empty)

  private val TrigramProfiles: Map[String, Set[String]] = Map(
    "en" -> Set("the", "ing", "ion", "and", "ent"),
    "de" -> Set("sch", "ich", "ein", "cht", "und"),
    "fr" -> Set("ent", "les", "ion", "que", "eur"),
    "es" -> Set("ent", "los", "cio", "ado", "que"))

  /** Deterministic language guess, exact-integer scoring: numerator =
    * 3*stopword hits + trigram hits (denominator = token count, shared per
    * doc, so comparisons reduce to integer comparisons — no float rounding in
    * the oracle). CJK codepoint share short-circuits to zh; ties broken
    * lexicographically. Returns (lang, numerator, nTokens). */
  def langIdDetail(text: String): (String, Long, Long) = {
    val cps = text.codePoints().toArray
    if (cps.nonEmpty) {
      val cjk = cps.count(c => c >= 0x4e00 && c <= 0x9fff)
      if (cjk.toDouble / cps.length > 0.2) return ("zh", cjk.toLong, cps.length.toLong)
    }
    val toks = PyStr.split(text.toLowerCase)
    if (toks.isEmpty) return ("und", 0L, 0L)
    val tris = charShinglesStr(text.toLowerCase, 3)
    val scores = Profiles.keys.filter(_ != "zh").map { lang =>
      val stop = toks.count(Profiles(lang))
      val tri = tris.count(TrigramProfiles(lang))
      lang -> (3L * stop + tri)
    }.toSeq.sortBy { case (l, s) => (-s, l) }
    val (lang, num) = scores.head
    if (num == 0L) ("und", 0L, toks.size.toLong) else (lang, num, toks.size.toLong)
  }

  def langId(text: String): (String, Double) = {
    val (lang, num, n) = langIdDetail(text)
    (lang, if (n == 0) 0.0 else num.toDouble / n)
  }

  private def charShinglesStr(text: String, n: Int): Seq[String] =
    if (text.length < n) Seq(text)
    else (0 to text.length - n).map(i => text.substring(i, i + n))

  // ---- Quality ---------------------------------------------------------------

  /** BPE-ish token count: alnum runs + single non-space symbols. */
  val TokenRegex = "[a-z0-9]+"
}
