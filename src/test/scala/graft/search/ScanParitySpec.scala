package graft.search

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Golden parity for the scan path: [[ScanParityFixture]]'s query set
  * must reproduce `scan_parity_golden.tsv` — the same keys in the same
  * order, every score within 1e-12 relative, and every non-score field
  * (facet counts, explain statistics, highlight snippets) exactly. The
  * golden file was written by the per-query Column compiler the
  * serialized-program scorer replaced, so it pins that `search`,
  * `searchAfter`, `collapseSearch`, `facetCounts`, `highlight`,
  * `explainTerms` and `searchRaw` rank and score as they did. */
class ScanParitySpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  /** Equal text, or two decimals within 1e-12 relative. */
  private def close(a: String, b: String): Boolean = a == b ||
    ((a.contains('.') || b.contains('.')) && ((a.toDoubleOption, b.toDoubleOption) match {
      case (Some(x), Some(y)) => math.abs(x - y) <= 1e-12 * math.max(math.abs(x), math.abs(y))
      case _ => false
    }))

  test("every scan-path front door matches the golden keys and scores") {
    val golden = scala.io.Source.fromResource("graft/search/scan_parity_golden.tsv")
      .getLines().toVector
    val idx = SearchIndex.build(ScanParityFixture.corpus(spark), ScanParityFixture.Spec)
    try {
      val got = ScanParityFixture.render(idx).toVector
      val diffs = golden.zipAll(got, "<missing>", "<missing>").filter { case (g, o) =>
        val (gs, os) = (g.split("\t", -1), o.split("\t", -1))
        gs.length != os.length || gs.zip(os).exists { case (x, y) => !close(x, y) }
      }
      assert(diffs.isEmpty,
        diffs.take(20).map { case (g, o) => s"\n  golden: $g\n  got:    $o" }.mkString)
    } finally idx.unpersist()
  }
}
