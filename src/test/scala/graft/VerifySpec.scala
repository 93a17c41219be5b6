package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.CascadesExecOps

/** The subset argument of [[Verify]]: exact names and `prefix*`. */
class VerifySpec extends AnyFunSuite {
  test("a subset entry selects its exact name, or every name with its " +
      "prefix when it ends in *") {
    assert(Verify.selects("q1_pricing", "q1_pricing"))
    assert(!Verify.selects("q1", "q1_pricing"))
    assert(Verify.selects("q1*", "q1_pricing"))
    assert(!Verify.selects("cascades_exec_*", "q1_pricing"))
    // the executed-winner family in one entry
    assert(SparkEntry.queries.keySet.filter(
      Verify.selects("cascades_exec_*", _)) == CascadesExecOps.sqls.keySet)
  }
}
