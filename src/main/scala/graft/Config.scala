package graft

/** Pipeline configuration (SURVEY.md §2, §7).
  *
  * @param entities      ambiguous target terms to induce senses for (wsid's
  *                      targets, e.g. "python"/"java" in the reference fixtures)
  * @param window        ±window size in (stopword-filtered) token positions
  * @param stopwords     closed-class terms dropped before any counting
  * @param alpha         significance level; Bonferroni-corrected per entity
  *                      by the candidate count m: keep logp < ln(alpha) - ln(m)
  * @param topK          cap on significant terms kept per entity (descriptor
  *                      size); an entity where NOTHING clears the Bonferroni
  *                      cut keeps its top-k candidates by rank instead,
  *                      marked `fallback = true` (`Significance.descriptors`)
  * @param salts         salt fan-out for the skewed co-occurrence groupBy (I1)
  * @param kSenses       number of senses to induce per entity
  * @param minSenseScore assignment confidence floor: below it no hasSense triple
  * @param method        "nmf" (ThinNMF: thin-matrix alternating-NNLS NMF) |
  *                      "hclust" (distributed bisecting k-means); any other
  *                      value is rejected
  * @param modelBytesBudget  ceiling on the broadcast sense-model footprint of
  *                      one induction fit (ThinNMF: E*k*(m+k) doubles;
  *                      hclust: E*(2k-1)*m). Entity sets whose model exceeds
  *                      it are fit in disjoint shards — bit-identical H, one
  *                      filtered scan per shard (ThinNMF.fitSharded). The
  *                      512 MB default keeps E ~ 10^5 entities at topK=200
  *                      in ONE fit and turns 10^6-entity runs into a slower
  *                      correct loop instead of a driver/executor OOM.
  */
final case class WsidConfig(
    entities: Seq[String],
    window: Int = 5,
    stopwords: Set[String] = Set.empty,
    alpha: Double = 0.01,
    topK: Int = 200,
    salts: Int = 64,
    kSenses: Int = 2,
    minSenseScore: Double = 0.05,
    method: String = "nmf",
    seed: Long = 42L,
    maxDocChars: Int = 16 * 1024 * 1024,
    nmfMaxIter: Int = 5,
    modelBytesBudget: Long = 512L * 1024 * 1024
) {
  require(method == "nmf" || method == "hclust",
    s"unknown sense method '$method' (expected \"nmf\" or \"hclust\")")

  /** Canonical, ORDER-INDEPENDENT rendering for cache keys and checkpoint
    * fingerprints. `Set#toString` renders in hash/insertion order, so a raw
    * `cfg.toString` can fingerprint two semantically equal configs
    * differently (same stopwords assembled in different order) — every
    * checkpoint stage would then miss and the model store would grow a
    * duplicate entry. All key/fingerprint construction goes through this. */
  def canonicalId: String =
    this.copy(stopwords = Set.empty).toString +
      s"|stopwords=${stopwords.toSeq.sorted.mkString(",")}"
}
