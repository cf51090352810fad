package graft

import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Hashes, TextStats}

class HashesSpec extends AnyFunSuite {

  test("hash contract: each hash constant and the descriptor ranking are written once in src/main") {
    // the Scala FNV prime (either spelling) lives in Hashes.FnvPrime, its SQL
    // twin in Hashes.fnvFoldSql; the low-half product of the split multiply
    // in Hashes.mulmodSql; the unsigned-to-signed bound in Hashes.signedSql;
    // the (scaled logp, term) ranking in Queries.rankedSql
    MainSources.onlySite("1099511628211L|0x100000001b3L", "Hashes.scala", "FnvPrime")
    MainSources.onlySite("\\* 1099511628211\\b", "Hashes.scala", "fnvFoldSql")
    MainSources.onlySite("% 4294967296\\) \\* (?!4294967296)", "Hashes.scala", "mulmodSql")
    MainSources.onlySite("9223372036854775808", "Hashes.scala", "signedSql")
    MainSources.onlySite(Regex.quote("ORDER BY CAST(round(logp * 10000) AS BIGINT), term"),
      "Queries.scala", "rankedSql")
  }

  test("hash values match an independent 64-bit reference") {
    // reference values from a plain big-integer replay of the folds mod 2^64
    assert(Hashes.fnv64("") == 1469598103934665603L)
    assert(Hashes.fnv64("spark") == -6546473221642331448L)
    assert(Hashes.fnv64("dsir:7") == 3758947047374212074L)
    // a k-gram hashes as the FNV of its terms, each followed by one space
    val terms = Array("alpha", "beta", "gamma")
    assert(TextStats.kgramHashes(terms, 3).toSeq == Seq(4398268126445262428L))
    assert(TextStats.kgramHashes(terms, 3).head == Hashes.fnv64("alpha beta gamma "))
    assert(Hashes.h64("spark join", 42L) == -965572940505417670L)
    // band keys start from FNV-1a's published basis xor the band index
    assert(Dedup.bandKeysOf(Array(1L, -2L, 3L, -4L, 5L, 6L, 7L, 8L), 2).toSeq ==
      Seq((0, -4719446441575367863L), (1, -2416767934246233264L)))
  }
}
