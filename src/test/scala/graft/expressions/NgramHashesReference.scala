package graft.expressions

/** The boxed n-gram hash kernels `NgramHashes` replaced (token spans in
  * `ArrayBuffer[Int]`, distinctness through a `LinkedHashSet` of boxed
  * longs): the reference `NgramHashesSpec` compares the primitive kernels
  * against. Same hash, same windows, same first-occurrence order. */
object NgramHashesReference {
  private final val FnvOffset = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L

  private def fnv1a(s: String, from: Int, until: Int): Long = {
    var h = FnvOffset
    var i = from
    while (i < until) {
      h = (h ^ s.charAt(i)) * FnvPrime
      i += 1
    }
    h
  }

  def charGrams(s: String, k: Int): Seq[Long] = {
    if (s.length < k) return Seq(fnv1a(s, 0, s.length))
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    val last = s.length - k
    while (i <= last) {
      seen.add(fnv1a(s, i, i + k))
      i += 1
    }
    toSeq(seen)
  }

  def wordGrams(s: String, k: Int): Seq[Long] = {
    val starts = new scala.collection.mutable.ArrayBuffer[Int]()
    val ends = new scala.collection.mutable.ArrayBuffer[Int]()
    var i = 0
    while (i < s.length) {
      if (!Character.isWhitespace(s.charAt(i))) {
        starts += i
        while (i < s.length && !Character.isWhitespace(s.charAt(i))) i += 1
        ends += i
      } else i += 1
    }
    val n = starts.length
    def gramHash(w0: Int, nWords: Int): Long = {
      var h = FnvOffset
      var w = w0
      val stop = w0 + nWords
      while (w < stop) {
        var j = starts(w)
        val e = ends(w)
        while (j < e) { h = (h ^ s.charAt(j)) * FnvPrime; j += 1 }
        if (w < stop - 1) h = (h ^ ' ') * FnvPrime
        w += 1
      }
      h
    }
    if (n < k) return Seq(gramHash(0, n))
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var w0 = 0
    val lastW = n - k
    while (w0 <= lastW) {
      seen.add(gramHash(w0, k))
      w0 += 1
    }
    toSeq(seen)
  }

  private def toSeq(seen: java.util.LinkedHashSet[java.lang.Long]): Seq[Long] = {
    val out = Seq.newBuilder[Long]
    seen.forEach(h => out += h.longValue)
    out.result()
  }
}
