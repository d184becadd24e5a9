package graft.functions

/** Deterministic, engine-portable string hashing for text operators
  * (feature hashing F7, MinHash/SimHash dedup, fingerprinting).
  *
  * The reference's Morgan fingerprint (mpp.py:81-93) is a deterministic
  * string -> fixed-width-vector feature hash; we reproduce the *pattern*
  * with a polynomial rolling hash that is also expressible in pure SQL,
  * so the DuckDB oracle can mirror it exactly:
  *
  *   duckdb: list_reduce(list_transform(string_split(tok, ''),
  *             c -> ascii(c)::BIGINT), (x, y) -> (x * 31 + y) % 1000000007)
  *
  * list_reduce seeds with the first element and folds left — the Scala
  * implementation matches that exactly (first char unmodded seed, then
  * h = (h*31 + c) mod P). Deliberately NOT Spark's murmur3 `hash()`:
  * that is not reproducible in DuckDB SQL.
  */
object TextHash {
  val P = 1000000007L

  def tokenHash(s: String): Long = {
    if (s == null || s.isEmpty) 0L
    else {
      var h = s.charAt(0).toLong
      var i = 1
      while (i < s.length) {
        h = (h * 31 + s.charAt(i)) % P
        i += 1
      }
      h
    }
  }

  /** The DuckDB expression equivalent to tokenHash(`tok`). */
  def sqlTokenHash(tok: String): String =
    s"""CASE WHEN length($tok) = 0 THEN 0
        ELSE list_reduce(list_transform(string_split($tok, ''),
               c -> ascii(c)::BIGINT), (x, y) -> (x * 31 + y) % 1000000007)
        END"""

  /** (a*h + b) mod P — the universal-hash family used for MinHash
    * signatures; same arithmetic in Scala and SQL.
    */
  def affine(h: Long, a: Long, b: Long): Long = (a * h + b) % P

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(utf8 bytes) as an unsigned long — bit-equal
    * to `conv(substring(md5(s), 1, 15), 16, 10)` cast to long (the
    * sketch family's portable h60), without materializing the hex
    * string, the substring copy, or conv's per-row base-16 string
    * parse. 15 hex chars = the first 7.5 digest bytes = the big-endian
    * first-8-bytes value shifted right 4 (unsigned; < 2^60 so the long
    * is exact). Md5H60Spec pins equality against the SQL chain.
    */
  def md5H60(bytes: Array[Byte]): Long = {
    val d = md5Local.get()
    d.reset()
    val h = d.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (h(i) & 0xFFL); i += 1 }
    v >>> 4
  }

  def sqlAffine(h: String, a: Long, b: Long): String = s"($a * $h + $b) % ${P}"

  /** Minimum rolling hash over 3-token shingles; whole-text hash when the
    * document is shorter than one shingle. DuckDB twin built from
    * sqlTokenHash over `range(1, len(toks)-1)` windows.
    */
  def shingleMin(s: String): Long = {
    val t = s.split(" ", -1)
    if (t.length < 3) tokenHash(s)
    else t.sliding(3).map(w => tokenHash(w.mkString(" "))).min
  }

  /** 32-bit SimHash over whitespace tokens (frequency-weighted). Bit j is
    * set when the sum of (+1/-1 for token-hash bit j) over all tokens is
    * positive — the same integer arithmetic the DuckDB twin runs.
    */
  def simhash32(s: String): Long = {
    val toks = s.split(" ", -1)
    val acc = new Array[Int](32)
    var k = 0
    while (k < toks.length) {
      val h = tokenHash(toks(k))
      var j = 0
      while (j < 32) {
        if (((h >> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
        j += 1
      }
      k += 1
    }
    var r = 0L
    var j = 0
    while (j < 32) {
      if (acc(j) > 0) r |= (1L << j)
      j += 1
    }
    r
  }

  /** Distinct 3-token shingles (whole text when shorter than one
    * shingle). A Scala UDF, NOT a `transform` higher-order function: HOFs
    * evaluate interpreted with lambda-captured expressions re-evaluated
    * per element, and optimizer rules (InferFiltersFromGenerate +
    * filter pushdown) re-substitute aliases back into the lambda — the
    * Column formulation measured O(tokens²) per row, 25× slower than
    * this single pass. DuckDB twin: Dedup.sqlShingles.
    */
  def shingleSet(s: String): Array[String] = {
    val t = s.split(" ", -1)
    if (t.length < 3) Array(s)
    else t.sliding(3).map(_.mkString(" ")).toArray.distinct
  }

  /** [[shingleSet]] in Catalyst's array representation — the static
    * kernel the [[ShingleSet]] expression's generated code calls.
    */
  def shingleArrayData(s: String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val arr = shingleSet(s)
    val out = new Array[Any](arr.length)
    var i = 0
    while (i < arr.length) {
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(arr(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
