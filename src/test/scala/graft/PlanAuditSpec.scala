package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.PlanAudit

/** `PlanAudit.globalWindows` on the plan lines Spark prints for a
  * `Window` node: an empty partition spec is left out of the line. */
class PlanAuditSpec extends AnyFunSuite {

  private val frame = "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())"

  test("a window with no partition spec counts as global, with or without an order spec") {
    val ordered = s"+- Window [row_number() windowspecdefinition(id#0L ASC NULLS FIRST, $frame)" +
      " AS r#2], [id#0L ASC NULLS FIRST]"
    val unordered = "+- Window [count(1) windowspecdefinition(specifiedwindowframe(RowFrame," +
      " unboundedpreceding$(), unboundedfollowing$())) AS r#11L]"
    val descending = s"   Window [rank(v#3) windowspecdefinition(v#3 DESC NULLS LAST, $frame)" +
      " AS r#4], [v#3 DESC NULLS LAST, id#0L ASC NULLS FIRST]"
    assert(PlanAudit.globalWindows(ordered) == 1)
    assert(PlanAudit.globalWindows(unordered) == 1)
    assert(PlanAudit.globalWindows(descending) == 1)
    assert(PlanAudit.globalWindows(Seq(ordered, unordered, descending).mkString("\n")) == 3)
  }

  test("a partitioned window and a window group limit do not count") {
    val partitioned = s"+- Window [row_number() windowspecdefinition(p#1L, id#0L ASC NULLS FIRST," +
      s" $frame) AS r#31], [p#1L], [id#0L ASC NULLS FIRST]"
    val unordered = "+- Window [sum(id#0L) windowspecdefinition(p#1L, specifiedwindowframe(" +
      "RowFrame, unboundedpreceding$(), unboundedfollowing$())) AS r#21L], [p#1L]"
    val limit = "   +- WindowGroupLimit [id#0L ASC NULLS FIRST], rank(id#0L), 3, Final"
    assert(PlanAudit.globalWindows(Seq(partitioned, unordered, limit).mkString("\n")) == 0)
  }
}
