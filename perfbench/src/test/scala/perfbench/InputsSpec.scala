package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Lemmatizer

class InputsSpec extends AnyFunSuite {

  test("the query pool and stream are a function of the seed") {
    val a = Inputs.queryPool(7L, 4)
    assert(a == Inputs.queryPool(7L, 4))
    assert(a != Inputs.queryPool(8L, 4))
    assert(Inputs.queryStream(a, 7L).take(500).toList == Inputs.queryStream(a, 7L).take(500).toList)
    assert(Inputs.queryStream(a, 7L).take(500).toList != Inputs.queryStream(a, 8L).take(500).toList)
  }

  test("the pool holds every page-1 class in equal shares, distinct queries") {
    val pool = Inputs.queryPool(3L, 4, size = 240)
    assert(pool.size == 240)
    assert(pool.map(q => (q.text, q.site)).distinct.size == 240)
    val byClass = pool.groupBy(_.cls).map { case (c, qs) => c -> qs.size }
    assert(byClass.keySet == Inputs.Classes.filterNot(_ == "page2").toSet)
    assert(byClass.values.forall(n => n >= 35 && n <= 45), byClass)
    assert(pool.filter(_.cls == "scoped").forall(_.site.isDefined))
    assert(pool.filterNot(_.cls == "scoped").forall(_.site.isEmpty))
    // the zero class pairs a word with a lemma no page can contain
    assert(pool.filter(_.cls == "zero").forall(q =>
      Lemmatizer.lemmaCounts(q.text).keys.exists(l => !graft.core.RuDict.table.contains(l))))
  }

  test("the stream mixes classes evenly and follows a page 1 with its page 2") {
    val pool = Inputs.queryPool(5L, 4)
    val s = Inputs.queryStream(pool, 5L).take(2000).toVector
    val page1 = s.filter(_.offset == 0).groupBy(_.cls).map { case (c, qs) => c -> qs.size }
    assert(page1.values.max - page1.values.min <= 1, page1)
    s.zipWithIndex.filter(_._1.cls == "page2").foreach { case (q, i) =>
      assert(i > 0 && s(i - 1).text == q.text && s(i - 1).site == q.site && s(i - 1).offset == 0)
      assert(q.offset == 10)
    }
    assert(s.count(_.cls == "page2") > 100)
  }

  test("the churn plan is seeded, disjoint and inside the corpus") {
    val a = Inputs.churnPlan(11L, 1200, 40, 20, 5)
    assert(a == Inputs.churnPlan(11L, 1200, 40, 20, 5))
    assert(a != Inputs.churnPlan(12L, 1200, 40, 20, 5))
    val all = a.flatMap { case (r, d) => r ++ d }
    assert(all.size == 40 * 25 && all.distinct.size == all.size)
    assert(all.forall(i => i >= 0 && i < 1200))
    assert(a.forall { case (r, d) => r.size == 20 && d.size == 5 })
    assertThrows[IllegalArgumentException](Inputs.churnPlan(1L, 100, 5, 20, 5))
  }
}
