package graft.ext

import org.scalatest.funsuite.AnyFunSuite

/**
 * Pins the plan of corpus-level line dedup (`text_line_dedup_rel`): the boilerplate
 * anti-join must actually BE shuffled (SortMergeJoin, pinned by its hint). A plan that
 * silently auto-broadcasts at test scale would pass every small-corpus check and then
 * refuse or OOM once the boilerplate set outgrows the broadcast bound.
 */
class LineDedupScalePathSpec extends AnyFunSuite {

  private def spark = graft.SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("the _rel plan is a shuffled sort-merge anti-join") {
    val rel = TextOps.queries("text_line_dedup_rel")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(rel.contains("SortMergeJoin") && rel.contains("LeftAnti"),
      s"the hint must pin a shuffled sort-merge anti-join, got:\n$rel")
  }
}
