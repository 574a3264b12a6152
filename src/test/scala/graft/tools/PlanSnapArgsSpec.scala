package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** PlanSnap's command line: query names are required, with or without
  * `-f`, so a run that names none fails with the usage line instead of
  * writing nothing.
  */
class PlanSnapArgsSpec extends AnyFunSuite {

  test("-f with no query names fails with the usage line") {
    val e = intercept[IllegalArgumentException](PlanSnap.parseArgs(Array("out", "tag", "-f")))
    assert(e.getMessage.contains(PlanSnap.Usage))
  }

  test("no query names at all fails with the usage line") {
    val e = intercept[IllegalArgumentException](PlanSnap.parseArgs(Array("out", "tag")))
    assert(e.getMessage.contains(PlanSnap.Usage))
  }

  test("names follow the tag, or -f when it is given") {
    assert(PlanSnap.parseArgs(Array("out", "tag", "q1", "q2")) ==
      (("out", "tag", false, Seq("q1", "q2"))))
    assert(PlanSnap.parseArgs(Array("out", "tag", "-f", "q1")) ==
      (("out", "tag", true, Seq("q1"))))
  }
}
