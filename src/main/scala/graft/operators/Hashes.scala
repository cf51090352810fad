package graft.operators

/** The engine's 64-bit string and word hashes, each written once, with the
  * DuckDB twin the oracles replay it by written beside it. The SQL forms
  * compute in unsigned HUGEINT arithmetic mod 2^64, which is the JVM's
  * wrapping `Long` arithmetic read as unsigned; [[signedSql]] maps a result
  * back to the signed BIGINT the engine emits.
  *
  * FNV. Every FNV in the engine is the fold `h = (h ^ x) * 1099511628211`
  * (FNV's 64-bit prime) from a start value:
  *  - [[fnv64]] (the DSIR and LR feature buckets, the DSIR Gumbel keys, the
  *    keyword tie order) and `TextStats.kgramHashes` (the winnowing
  *    fingerprints and the duplicate spans) fold a string's chars from
  *    [[FnvStart]] = 1469598103934665603 (0x14650fb0739d0383). That is not
  *    FNV-1a's published 64-bit offset basis, 14695981039346656037
  *    (0xcbf29ce484222325). It is kept because those outputs, and the oracle
  *    replays pinned to them, depend on it.
  *  - `Dedup.bandKeysOf` folds a MinHash band's 64-bit signature words from
  *    the published basis, [[FnvBasis]], xor the band index.
  *
  * h64. A seeded murmur-style string hash (the MinHash shingle base and the
  * SimHash term hash): `h = seed ^ 0x9e3779b97f4a7c15`, then per char
  * `h ^= c; h *= 0xff51afd7ed558ccd; h ^= h >>> 33`. */
object Hashes {

  /** Start of the string FNV; see the object doc for why it is not the
    * published offset basis. */
  private[graft] val FnvStart = 1469598103934665603L
  /** FNV-1a's published 64-bit offset basis, the start of the band keys. */
  private[graft] val FnvBasis = 0xcbf29ce484222325L
  private val FnvPrime = 1099511628211L

  /** One FNV step: `x` folded into `h`. */
  @inline private[graft] def fnvStep(h: Long, x: Long): Long = (h ^ x) * FnvPrime

  /** The chars of `s` folded into `h` (no allocation). */
  @inline private[graft] def fnvChars(h: Long, s: String): Long = {
    var r = h
    var i = 0
    while (i < s.length) { r = fnvStep(r, s.charAt(i)); i += 1 }
    r
  }

  /** FNV over a string's chars from [[FnvStart]]. */
  private[graft] def fnv64(s: String): Long = fnvChars(FnvStart, s)

  /** Seeded 64-bit hash of a string (xxhash-free, pure JVM, deterministic). */
  @inline private[graft] def h64(s: String, seed: Long): Long = {
    var h = seed ^ 0x9e3779b97f4a7c15L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33
      i += 1
    }
    h
  }

  // ------------------------------------------------------------ SQL twins

  private val TwoTo64 = "CAST(18446744073709551616 AS HUGEINT)"

  /** The SQL twin of folding [[fnvStep]] over the HUGEINT list expression
    * `items` from the HUGEINT expression `start`; an unsigned HUGEINT. */
  private[graft] def fnvFoldSql(start: String, items: String): String =
    s"""list_reduce(list_prepend($start,
       |  $items),
       |  (h, c) -> (xor(h, c) * 1099511628211) % $TwoTo64)""".stripMargin

  /** The SQL twin of [[fnv64]] over the string expression `arg`, as an
    * unsigned HUGEINT. */
  private[graft] def fnvSql(arg: String): String =
    fnvFoldSql("CAST(1469598103934665603 AS HUGEINT)",
      s"list_transform(string_split($arg, ''), c -> CAST(ascii(c) AS HUGEINT))")

  /** `x * c` mod 2^64 for the unsigned HUGEINT expression `x` and the
    * unsigned 64-bit literal `c`, with `x` split at 32 bits so that no
    * product passes 2^96 (HUGEINT holds 2^127):
    * `(lo(x)·c + ((hi(x)·c) mod 2^32)·2^32) mod 2^64`. */
  private[graft] def mulmodSql(x: String, c: String): String =
    s"""(($x % 4294967296) * $c
       | + (($x // 4294967296) * $c % 4294967296) * 4294967296
       |) % $TwoTo64""".stripMargin

  /** The unsigned HUGEINT expression `x` (< 2^64) as the signed BIGINT with
    * the same 64 bits. */
  private[graft] def signedSql(x: String): String =
    s"CAST(CASE WHEN $x >= CAST(9223372036854775808 AS HUGEINT) THEN $x - $TwoTo64 ELSE $x END AS BIGINT)"

  /** The SQL twin of [[h64]] for a seed >= 0: a recursive CTE
    * `name(col, pos, h)` over the strings in column `col` of `from`
    * (distinct, so that each is hashed once) that takes one char per row; a
    * string's hash, unsigned, is its `h` at `pos = len(col) + 1`. The query
    * must be `WITH RECURSIVE`. */
  private[graft] def h64Sql(name: String, col: String, from: String, seed: Long): String = {
    val m = mulmodSql(s"xor(h, CAST(ascii(substr($col, pos, 1)) AS HUGEINT))", "18397679294719823053")
    s"""$name AS (
       |  SELECT $col, 1 AS pos,
       |         xor(CAST($seed AS HUGEINT), CAST(11400714819323198485 AS HUGEINT)) AS h
       |  FROM $from
       |  UNION ALL
       |  SELECT $col, pos + 1,
       |    xor(
       |      $m,
       |      ($m) // 8589934592)
       |  FROM $name WHERE pos <= len($col)
       |)""".stripMargin
  }
}
