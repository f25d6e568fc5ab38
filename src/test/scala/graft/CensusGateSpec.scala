package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.CensusGate

/** Pins the census-diff gate's pure rule (VERDICT r14 Next #9): green
  * on an unchanged census, red on an injected extra shuffle or a
  * registry/census membership mismatch, pass-with-note on
  * improvements and on the advisory features. */
class CensusGateSpec extends AnyFunSuite {
  private val base = Map(
    "q_a" -> Map("exchanges" -> 2, "broadcasts" -> 1, "smj" -> 0,
      "cartesian" -> 0, "bnl" -> 0, "wgl" -> 0, "topk" -> 1),
    "q_b" -> Map("exchanges" -> 0, "broadcasts" -> 0, "smj" -> 0,
      "cartesian" -> 0, "bnl" -> 0, "wgl" -> 0, "topk" -> 0))

  test("identical census is green") {
    val (vio, notes) = CensusGate.diffOf(base, base)
    assert(vio.isEmpty && notes.isEmpty)
  }

  test("an injected extra exchange on an untouched face is RED") {
    val cur = base.updated("q_a",
      base("q_a").updated("exchanges", 3))
    val (vio, _) = CensusGate.diffOf(base, cur)
    assert(vio == Seq("q_a: exchanges 2 -> 3 (plan regression)"))
  }

  test("a broadcast degrading to sort-merge (smj 0 -> 1) is RED even " +
      "when the exchange count is unchanged") {
    val cur = base.updated("q_b", base("q_b").updated("smj", 1))
    val (vio, _) = CensusGate.diffOf(base, cur)
    assert(vio == Seq("q_b: smj 0 -> 1 (plan regression)"))
  }

  test("a cartesian product appearing anywhere is RED") {
    val cur = base.updated("q_b", base("q_b").updated("cartesian", 1))
    assert(CensusGate.diffOf(base, cur)._1.nonEmpty)
  }

  test("an IMPROVED face (fewer exchanges) passes with a " +
      "refresh-census note, never a violation") {
    val cur = base.updated("q_a", base("q_a").updated("exchanges", 1))
    val (vio, notes) = CensusGate.diffOf(base, cur)
    assert(vio.isEmpty)
    assert(notes.exists(_.contains("q_a: exchanges 2 -> 1")))
  }

  test("registry/census membership mismatches are RED both ways — " +
      "regenerating plan_census.json in the same commit is the " +
      "documented explanation") {
    val (vioNew, _) = CensusGate.diffOf(base,
      base + ("q_new" -> Map("exchanges" -> 0)))
    assert(vioNew.exists(_.startsWith("q_new: not in committed census")))
    val (vioGone, _) = CensusGate.diffOf(base, base - "q_b")
    assert(vioGone.exists(_.startsWith("q_b: in committed census")))
  }

  test("a face that errors during plan build is RED") {
    val cur = base.updated("q_a", Map("error" -> 1))
    assert(CensusGate.diffOf(base, cur)._1 == Seq("q_a: plan build errored"))
  }

  test("advisory features (broadcasts/wgl/topk) note, never fail") {
    val cur = base.updated("q_a", base("q_a").updated("topk", 3))
    val (vio, notes) = CensusGate.diffOf(base, cur)
    assert(vio.isEmpty && notes.exists(_.contains("topk 1 -> 3")))
  }

  test("parseCensus round-trips the census line format including " +
      "error rows") {
    val txt =
      """{"q":"q_a","exchanges":2,"broadcasts":1,"smj":0,"cartesian":0,"bnl":0,"wgl":0,"topk":1}
        |{"q":"q_err","error":"build"}""".stripMargin
    val m = CensusGate.parseCensus(txt)
    assert(m("q_a")("exchanges") == 2 && m("q_a")("topk") == 1)
    assert(m("q_err").contains("error"))
  }

  test("censusPlanOf strips the cached subtree under InMemoryRelation " +
      "(post-pin shape, r16) but keeps siblings and the relation line") {
    val plan =
      """*(3) HashAggregate(keys=[v], functions=[count(1)])
        |+- Exchange hashpartitioning(v, 8)
        |   +- ShuffledHashJoin [nb], [nb2], Inner, BuildRight
        |      :- InMemoryTableScan [v, nb]
        |      :     +- InMemoryRelation [v, nb], StorageLevel(memory)
        |      :           +- Exchange hashpartitioning(nb, 8)
        |      :              +- SortMergeJoin [a], [a], Inner
        |      :                 +- Exchange hashpartitioning(a, 8)
        |      +- Exchange hashpartitioning(nb2, 8)
        |         +- Scan ExistingRDD[v2, lbl]""".stripMargin
    val t = CensusGate.censusPlanOf(plan)
    // the three exchanges inside the cached build are gone; the two
    // post-pin exchanges and the join survive
    assert("Exchange hashpartitioning".r.findAllIn(t).size == 2, t)
    assert(!t.contains("SortMergeJoin"))
    assert(t.contains("InMemoryRelation") && t.contains("ShuffledHashJoin"))
    assert(t.contains("Scan ExistingRDD[v2, lbl]"))
  }
}
