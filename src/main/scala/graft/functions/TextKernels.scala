package graft.functions

/** Driver/executor-side text kernels shared by operators and specs. */
object TextKernels {

  /** THE cross-engine hash-prefix contract: the first 52 bits (13 hex
    * chars) of an md5 digest as a non-negative long — 6 bytes plus the
    * high nibble of byte 6, big-endian. Every consumer (minhash base
    * hashes, LSH hyperplane draws) and every SQL replica
    * ([[graft.functions.TextFunctions.hexPrefix52Sql]]) must stay in
    * lockstep with this definition.
    */
  def md5Prefix52(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 6) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(6) >> 4) & 0xfL)
  }

  /** A document's word 3-shingles, in order: each window of three
    * consecutive words joined by single spaces (none below 3 words).
    */
  def wordShingles(words: Array[String]): Iterator[String] =
    Iterator.range(0, words.length - 2)
      .map(i => words(i) + " " + words(i + 1) + " " + words(i + 2))

  /** THE MinHash signature loop every MinHash kernel shares: ONE md5
    * per shingle (the 52-bit prefix mod 2³¹−1) feeds all 8 universal
    * hashes (a_j·h + b_j mod p, [[TextFunctions.minhashPerms]]), and
    * the signature is their 8 minima — bit-identical to the Column
    * formulation (TextFunctions.minhashBase/minhashSig) and the DuckDB
    * oracle. None when there is no shingle.
    */
  def minhash(md: java.security.MessageDigest,
              shingles: Iterator[String]): Option[Array[Long]] =
    if (!shingles.hasNext) None
    else {
      val perms = TextFunctions.minhashPerms
      val mP = TextFunctions.minhashP
      val mins = Array.fill(perms.length)(Long.MaxValue)
      shingles.foreach { g =>
        val h = md5Prefix52(md, g) % mP
        var j = 0
        while (j < perms.length) {
          val v = (perms(j)._1 * h + perms(j)._2) % mP
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      Some(mins)
    }

  /** One document's MinHash-LSH band keys — the [[minhash]] signature
    * of its word 3-shingles (split on single spaces, empties
    * preserved), 4 bands × 2 rows keyed "sigLo#sigHi" — EXACTLY the
    * C5/C6 batch rule (TextOps.signatures / qLshPairs with its
    * concat_ws("#") band key and NULL-signature guard): a doc with <3
    * words has no shingles and therefore NO bands. Shared by the F52
    * streaming detector so stream and batch candidates cannot diverge.
    */
  def lshBandKeys(md: java.security.MessageDigest,
                  text: String): Seq[(Int, String)] =
    minhash(md, wordShingles(text.split(" ", -1))).fold(Seq.empty[(Int, String)]) { mins =>
      (0 until 4).map(b => (b, s"${mins(2 * b)}#${mins(2 * b + 1)}"))
    }

  private val B = 1000003L
  private val M = 2147483647L // 2^31-1; products of two residues fit in a Long

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken: "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD'03): rolling
    * polynomial hashes of char k-grams; per sliding window of `w`
    * hashes keep the minimum, rightmost on ties; deduplicate selected
    * positions. Guarantee: every substring match of length ≥ k+w-1
    * between two documents shares at least one fingerprint.
    */
  def winnow(text: String, k: Int, w: Int): Array[Long] = {
    val n = text.length
    if (n < k) return Array.empty
    val nGrams = n - k + 1
    var bk = 1L
    for (_ <- 1 until k) bk = bk * B % M
    val hashes = new Array[Long](nGrams)
    var h = 0L
    var i = 0
    while (i < k) { h = (h * B + text.charAt(i)) % M; i += 1 }
    hashes(0) = h
    i = 1
    while (i < nGrams) {
      h = (h + M - text.charAt(i - 1) * bk % M) % M
      h = (h * B + text.charAt(i + k - 1)) % M
      hashes(i) = h
      i += 1
    }
    if (nGrams <= w) {
      var best = 0
      var j = 1
      while (j < nGrams) { if (hashes(j) <= hashes(best)) best = j; j += 1 }
      return Array(hashes(best))
    }
    val selected = scala.collection.mutable.LinkedHashSet.empty[Int]
    var start = 0
    while (start + w <= nGrams) {
      var best = start
      var j = start + 1
      while (j < start + w) {
        if (hashes(j) <= hashes(best)) best = j // rightmost minimum
        j += 1
      }
      selected += best
      start += 1
    }
    selected.toArray.map(hashes)
  }
}
