package graft.search

import graft.TestSpark
import graft.dsl._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The driver-resident term dictionary a search reads its IDFs from
  * agrees with the one-job lookup on the stats table it replaces, for
  * built indexes and for every derived one, and lives no longer than
  * its index. */
class TermDictionarySpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val spec = IndexSpec("doc_id", Seq("text"), keywordFields = Seq("lang"))

  /** `n` seeded documents over a `vocab`-word vocabulary, ids from
    * `from`, with a keyword `lang`. */
  private def corpus(from: Long, n: Int, vocab: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (from until from + n).map { id =>
      (id, Seq.fill(4 + rnd.nextInt(8))(s"w${rnd.nextInt(vocab)}").mkString(" "),
        Seq("en", "fr", "de")(rnd.nextInt(3)))
    }.toDF("doc_id", "text", "lang")
  }

  /** Every (field, term) the index's stats hold, plus terms absent from
    * the corpus and names of fields the index never built. */
  private def probes(idx: SearchIndex): Set[(String, String)] =
    idx.stats.select(col("field"), col("term")).as[(String, String)].collect().toSet ++
      Set(("text", "absent"), ("text", "en"), ("lang", "w1"), ("lang", "xx"),
        ("nosuch", "w1"), ("nosuch", "absent"), ("", "w1"), ("year", "en"))

  /** The dictionary and the stats job give the same dfs for `pairs`;
    * returns them. */
  private def parity(idx: SearchIndex,
      pairs: Set[(String, String)]): Map[(String, String), Long] = {
    val fromJob = idx.dfFromStats(pairs)
    val fromDict = idx.dfFromDictionary(pairs)
    assert(fromDict == fromJob)
    assert(fromDict.keySet.forall(p => p._1 == "text" || p._1 == "lang"))
    fromDict
  }

  test("dictionary dfs equal the stats-job dfs on every term, absent term and unknown field") {
    val idx = SearchIndex.build(corpus(0L, 120, 60, 3L), spec)
    try {
      val dfs = parity(idx, probes(idx))
      assert(dfs.keySet.exists(_._1 == "text") && dfs.keySet.exists(_._1 == "lang"))
      assert(!dfs.contains(("text", "absent")) && !dfs.contains(("nosuch", "w1")))
      assert(idx.termDictionary.size == idx.stats.count())
    } finally idx.unpersist()
  }

  test("indexes derived by addDocuments, removeDocuments and merge read their own stats") {
    val base = SearchIndex.build(corpus(0L, 80, 40, 5L), spec)
    // the added documents carry terms the base never saw
    val extra = corpus(1000L, 30, 40, 6L).union(Seq((2000L, "fresh w1 w2", "pt")).toDF())
    try {
      val baseDfs = parity(base, probes(base))
      assert(base.termDictionaryHeld)

      val added = base.addDocuments(extra)
      assert(!added.termDictionaryHeld, "a derived index must not inherit its parent's dictionary")
      val addedDfs = parity(added, probes(added))
      assert(addedDfs(("text", "fresh")) == 1L && addedDfs(("lang", "pt")) == 1L)
      assert(addedDfs(("text", "w1")) > baseDfs(("text", "w1")))
      assert(!base.dfFromDictionary(Set(("text", "fresh"))).contains(("text", "fresh")))

      // removing the only document with "fresh" drops the term
      val removed = added.removeDocuments(Seq(2000L, 3L, 4L).toDF("doc_id"))
      val removedDfs = parity(removed, probes(added) ++ probes(removed))
      assert(!removedDfs.contains(("text", "fresh")) && !removedDfs.contains(("lang", "pt")))
      assert(removedDfs.values.sum < addedDfs.values.sum)

      val other = SearchIndex.build(extra, spec)
      val merged = base.merge(other)
      val mergedDfs = parity(merged, probes(merged))
      assert(mergedDfs == addedDfs, "merge and addDocuments of the same documents disagree")
      merged.unpersist(); other.unpersist()
      removed.unpersist()
    } finally base.unpersist()
  }

  test("unpersist drops the dictionary; a serialized index never carries it") {
    val docs = corpus(0L, 200, 3000, 9L)
    val q = Parsed("text", "+w1 w7 w12 -w3")
    val idx = SearchIndex.build(docs, spec)
    def bytes(x: AnyRef): Int = {
      val out = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(out)
      oos.writeObject(x); oos.close()
      out.size()
    }
    val before = bytes(idx)
    val rows = idx.search(q, 10).select("doc_id", "score").as[(Long, Double)].collect().toSeq
    assert(rows.nonEmpty)
    assert(idx.termDictionaryHeld && idx.termDictionary.size > 1000)
    // the first search also settles a few lazy scalars (the stats row
    // count among them); the dictionary itself is tens of KB
    val dictBytes = org.apache.spark.util.SizeEstimator.estimate(idx.termDictionary)
    val grown = bytes(idx) - before
    assert(dictBytes > 50000 && grown < dictBytes / 100,
      s"serializing the index grew by $grown bytes (dictionary: $dictBytes bytes)")
    idx.unpersist()
    assert(!idx.termDictionaryHeld)
    val rebuilt = SearchIndex.build(docs, spec)
    try {
      assert(!rebuilt.termDictionaryHeld)
      assert(rebuilt.search(q, 10).select("doc_id", "score").as[(Long, Double)]
        .collect().toSeq == rows)
    } finally rebuilt.unpersist()
  }
}
