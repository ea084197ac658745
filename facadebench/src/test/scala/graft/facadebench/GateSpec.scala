package graft.facadebench

import org.scalatest.funsuite.AnyFunSuite

class GateSpec extends AnyFunSuite {

  private val truth = new Gate.Truth((0L until 300L).map(Inputs.corpusDoc(_, 20, 5L)))

  /** a query with at least two hits, so a page can be reordered */
  private val (query, exp) = (0 until 50).iterator
    .map(r => Inputs.tok(r))
    .map(q => q -> Gate.expected(truth, q, None))
    .find(_._2.items.size >= 2).get

  test("the Oracle's own answer passes") {
    assert(Gate.diff(exp, exp).isEmpty)
  }

  test("a corrupted response fails the gate") {
    val swapped = exp.items.updated(0, exp.items(1)).updated(1, exp.items(0))
    val corrupted = Seq(
      exp.copy(count = exp.count + 1),
      exp.copy(items = exp.items.map { case (p, s) => (p, s + 1e-6) }),
      exp.copy(items = exp.items.drop(1)),
      exp.copy(items = exp.items.updated(0, ("no/such/doc", exp.items.head._2))),
      exp.copy(result = false, error = "No data for words: x, "))
    corrupted.foreach(c => assert(Gate.diff(exp, c).isDefined, s"$query: $c passed"))
    // a swap is only allowed between docs whose scores tie
    if (math.abs(exp.items(0)._2 - exp.items(1)._2) > Gate.scoreTolerance)
      assert(Gate.diff(exp, exp.copy(items = swapped)).isDefined)
  }

  test("missing terms give the facade's error string") {
    val a = Gate.expected(truth, "tok1 nohit1x2", None)
    assert(!a.result && a.error == "No data for words: nohit1x2, ")
  }

  test("site scope filters the Oracle list before paging") {
    val site = Some(Inputs.repoName(3, 20))
    val scoped = Gate.expected(truth, query, site)
    assert(scoped.items.forall { case (p, _) => truth.docs.exists(d => d.path == p && d.repo == site.get) })
    assert(scoped.count <= exp.count)
  }
}
