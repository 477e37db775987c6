package graft.operators

import graft.{SparkEntry, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** Every builder that persists intermediates must release them once its
  * result is materialized (Scoped.materialize): a long-lived session
  * running many queries would otherwise accumulate cache entries until
  * executors OOM. Asserts the judge-specified invariant directly: no new
  * persistent RDDs survive a pass over all persisting queries.
  */
class CacheHygieneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("persisting query builders release every cache entry") {
    val persistingQueries = Seq(
      "q22_train_test_split", "q23_timeseries_cv", "q35_minhash_lsh",
      "q36_simhash", "q37_ngram_jaccard", "q38_embedding_neardup",
      "q39_knn_brute", "q40_knn_lsh", "q56_ivf_ann",
      "q61_curation_pipeline", "q72_dedup_clusters",
      // q117 localCheckpoints 21 per-round frames during BPE training and
      // must release every one once the merge table is driver state
      "q117_bpe_train",
      // r8: postings/weighted persist across the frequency-split joins
      "q190_postings_size", "q191_allpairs_cosine",
      // r11: the k-core peel rewraps 16 rounds and must release both
      // final alive frames through the materialize boundary
      "q286_kcore")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    persistingQueries.foreach { q =>
      SparkEntry.queries(q)(spark, TestSpark.Sf001)
        .write.format("noop").mode("overwrite").save()
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persistent RDD ids: $leaked")
  }

  test("invalidate deletes every dropped shared dir; the next read rebuilds") {
    var builds = 0
    def read() = Scoped.shared(spark, "invalidate_probe") {
      builds += 1
      (Nil, spark.range(3).toDF("id"))
    }
    def dirOf(df: org.apache.spark.sql.DataFrame) =
      new java.io.File(new java.net.URI(df.inputFiles.head)).getParentFile
    val first = dirOf(read())
    assert(builds === 1 && first.isDirectory)
    Scoped.invalidate()
    assert(!first.exists(), s"$first survived invalidate()")
    val second = read()
    assert(builds === 2 && second.count() === 3L)
    assert(dirOf(second) != first)
    Scoped.invalidate()
  }
}
