package graft.analysis

/** Deterministic 64-bit hashing for text dedup and seeded draws:
  * FNV-1a, the splitmix64 permutation family and MinHash signatures
  * (q15's SimHash is relational, in `TextOps.simhashSigs`). Pure JVM
  * arithmetic — identical on every run and partitioning; never crosses
  * an engine boundary (LSH outputs are verified against EXACT
  * similarity oracles, not against re-hashed values).
  */
object TextHash {

  /** FNV-1a 64-bit over UTF-8 bytes. */
  def fnv1a64(s: String): Long = {
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

  /** splitmix64 finalizer — cheap independent "permutation" family. */
  @inline def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** MinHash signature: sig(j) = min over shingles of splitmix64(h ^ seed_j). */
  def minhashSignature(shingles: Iterable[String], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    shingles.foreach { s =>
      val h0 = fnv1a64(s)
      var j = 0
      while (j < numHashes) {
        val hj = splitmix64(h0 ^ (j * 0x9e3779b97f4a7c15L))
        if (hj < sig(j)) sig(j) = hj
        j += 1
      }
    }
    sig
  }
}
