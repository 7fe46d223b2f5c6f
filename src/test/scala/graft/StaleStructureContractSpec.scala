package graft

import org.scalatest.exceptions.TestFailedException
import org.scalatest.funsuite.AnyFunSuite

/** Negative tests for [[StaleStructureContract]]: three gates now route
  * their maintenance triple through the one helper, so a helper that
  * silently passed on a violated leg would hollow out all three at once.
  * Each leg is driven to failure on synthetic maps/plans; the passing case
  * pins the plan-string shape the scan walk actually recognizes.
  */
class StaleStructureContractSpec extends AnyFunSuite {

  // One scan of the corpus, as the scanLocations InMemoryFileIndex walk sees it.
  private val onePlan =
    "Scan parquet [v] InMemoryFileIndex(1 paths)[file:/tmp/x/embeddings.parquet]"
  private def ok(
      stale: Map[Int, Long] = Map(1 -> 10L),
      maintained: Map[Int, Long] = Map(1 -> 10L, 2 -> 5L),
      rebuilt: Map[Int, Long] = Map(1 -> 10L, 2 -> 5L),
      plan: String = onePlan,
      scans: Seq[(String, Int)] = Seq("embeddings.parquet" -> 1)): Unit =
    StaleStructureContract.check("t", stale, maintained, rebuilt,
      (v: Long) => v, plan, scans)

  test("a consistent triple passes") { ok() }

  test("maintain != rebuild fails, with a bounded diff") {
    val e = intercept[TestFailedException] {
      ok(rebuilt = Map(1 -> 10L, 2 -> 6L)) // value drift at key 2
    }
    assert(e.getMessage.contains("value drift"))
    val e2 = intercept[TestFailedException] {
      ok(rebuilt = Map(1 -> 10L)) // maintained carries an extra key
    }
    assert(e2.getMessage.contains("only in maintained"))
  }

  test("an unobservable landing batch (stale mass == maintained mass) fails") {
    val e = intercept[TestFailedException] {
      ok(stale = Map(1 -> 10L, 2 -> 5L)) // stale already IS the maintained table
    }
    assert(e.getMessage.contains("landing batch"))
  }

  test("maintenance that drops a stale entry fails") {
    val e = intercept[TestFailedException] {
      ok(stale = Map(1 -> 10L, 3 -> 1L)) // key 3 lost by the merge
    }
    assert(e.getMessage.contains("must not drop"))
  }

  test("a plan scanning the corpus the wrong number of times fails") {
    val e = intercept[TestFailedException] { ok(plan = onePlan + "\n" + onePlan) }
    assert(e.getMessage.contains("expected 1 scan"))
    // A forbidden artifact is pinned the same way, at zero.
    val e2 = intercept[TestFailedException] {
      ok(scans = Seq("embeddings.parquet" -> 1, "tmp/x" -> 0))
    }
    assert(e2.getMessage.contains("expected 0 scan"))
  }
}
