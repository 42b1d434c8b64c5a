package graft.operators

import graft.{QueryCatalog, SparkSpec}

/** The determinism claim behind the md5-ordered samplers and rounded
  * rankings (SCALE.md "Top-k / sampling": "deterministic under any
  * partitioning, unlike rand(seed)") — pinned: the same query run with
  * a different shuffle partitioning, or with adaptive execution off,
  * must return byte-identical rows. Standing artifacts are dropped
  * before each run so their builds run under the varied setting too. */
class PartitioningInvarianceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def rows(name: String): Seq[Seq[Any]] = {
    Artifacts.reset()
    QueryCatalog.all.find(_.name == name).get.fn(spark, dir)
      .collect().toSeq.map(_.toSeq.map {
        case a: Array[_] => a.toSeq
        case x => x
      })
  }

  private def invariant(name: String, key: String, value: String): Unit = {
    val default = spark.conf.get(key)
    val base = rows(name)
    try {
      spark.conf.set(key, value)
      assert(rows(name) === base, s"$name changed under $key=$value")
    } finally {
      spark.conf.set(key, default)
      Artifacts.reset() // no artifact built under `value` outlives the test
    }
  }

  for (name <- Seq("q19_hash_sample", "q57_stratified_sample", "q28_cosine_topk",
    "q54_cc_dedup_clusters",
    // round 5: the Weyl-hash sampler, the per-bucket packing windows,
    // and the iterative integer PageRank must all be layout-blind
    "q76_mixture_sampling", "q75_sequence_packing", "q80_pagerank_neardup",
    // consumers of the native minhash, edit-distance and Viterbi kernels
    "q25_minhash_lsh", "q47_fuzzy_levenshtein", "q135_source_minhash",
    "q151_unigram_viterbi", "q175_minhash_calibration")) {
    test(s"$name is invariant to the shuffle partitioning") {
      invariant(name, "spark.sql.shuffle.partitions", "7")
    }
    test(s"$name is invariant to adaptive execution") {
      invariant(name, "spark.sql.adaptive.enabled", "false")
    }
  }
}
