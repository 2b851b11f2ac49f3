package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cluster-shape invariance: the same entry must produce byte-equal
  * results under different shuffle-partition counts — the property
  * that makes a result reproducible when the job moves from 32 tasks
  * on a laptop to 20,000 on a cluster. Catches the classic
  * nondeterminism bugs: collect_list order reliance, first()/limit
  * without order, float re-association across a different reduction
  * tree, per-partition RNG.
  *
  * The sweep covers this round's additions plus representatives of
  * each earlier family (dedup, curation, search, ANN); every entry in
  * SparkEntry.queries is separately hash-checked against DuckDB by
  * the driver, so this spec focuses the partitioning axis. */
class InvarianceSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  private val entries = Seq(
    "curate_manifest", "chunk_documents", "bpe_roundtrip", "split_assign",
    "stream_curate", "ann_filtered", "search_synonyms", "search_suggest",
    "source_zorder", "source_compacted", "dedup_minhash", "keywords_tfidf",
    // r10 additions + the previously-uncovered AST-join and
    // percolation families
    "query_join_ast", "stream_percolate", "search_constructor",
    "ann_ivfpq", "dedup_url", "domain_stats",
    // r12 additions: the float-fold normalizer (mix_temperature),
    // the bit_or bitset + FP arithmetic (dedup_bloom), the
    // distributed probe-cell selection (ann_sql_table's core), and
    // the two-leg join (ann_recall)
    "mix_temperature", "dedup_bloom", "ann_recall", "ann_sql_table")

  test("entry results are invariant to the shuffle partition count") {
    val key = "spark.sql.shuffle.partitions"
    val orig = spark.conf.get(key)
    try {
      entries.foreach { name =>
        def run(): Seq[String] = SparkEntry.queries(name)(spark, dir)
          .collect().map(_.toString).sorted.toSeq
        spark.conf.set(key, "3")
        val a = run()
        spark.conf.set(key, "17")
        val b = run()
        assert(a.nonEmpty, s"$name returned no rows")
        assert(a == b, s"$name diverges across shuffle partition counts")
      }
    } finally spark.conf.set(key, orig)
  }
}
