package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver-facing outputs: Bench's budgeted tail line and the
  * per-entry oracle map Verify dumps. */
class DriverContractSpec extends AnyFunSuite {

  test("Bench tail packing stops at the first entry that does not fit") {
    val entries = Seq("aaaa", "bbbbbbbbbb", "c", "dd")
    // each entry costs its length + 1 separator: 5, 11, 2, 3
    assert(Bench.packTail(entries, 16) == Seq("aaaa", "bbbbbbbbbb"))
    // "bbbbbbbbbb" does not fit in 10: the shorter "c" and "dd" after
    // it must not slip in, or the shown set stops being the top n
    assert(Bench.packTail(entries, 10) == Seq("aaaa"))
    assert(Bench.packTail(entries, 4).isEmpty)
    assert(Bench.packTail(entries, 1000) == entries)
    assert(Bench.packTail(Nil, 10).isEmpty)
  }

  test("oracleSql drops only the entries whose generator throws, and names them") {
    val ok = SparkEntry.oracleSql
    val failed = SparkEntry.oracleSqlFailures
    assert(ok.nonEmpty)
    assert(ok.keySet.intersect(failed.keySet).isEmpty)
    assert((ok.keySet ++ failed.keySet).subsetOf(SparkEntry.queries.keySet))
    assert(failed.values.forall(_.nonEmpty))
    // only the iris entries read a file from outside the repository
    assert(failed.keySet.subsetOf(Set("q27_torch_iris", "q28_torch_batched")))
    assert(ok.contains("q01_scan_star") && ok.contains("q194_torch_generate"))
  }
}
