package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** q81's arc bloom filter budget (Graph.MaxBloomBytes / Graph.bloomFpp):
  * the filter is sized from the arc count, and its bytes must stay under
  * the cap at any scale. Past the cap the false-positive rate rises
  * instead, which costs only pre-filter selectivity, never exactness. */
class BloomBudgetSpec extends AnyFunSuite {

  private val ln2sq = math.log(2.0) * math.log(2.0)
  /** Optimal bloom bits for n items at false-positive rate fpp. */
  private def bits(n: Double, fpp: Double): Double = -n * math.log(fpp) / ln2sq

  test("the cap is 64 MiB") {
    assert(Graph.MaxBloomBytes == (64L << 20))
  }

  test("small inputs get the 0.003 floor") {
    Seq(0L, 1L, 1024L, 1000000L, 10000000L).foreach { n =>
      assert(Graph.bloomFpp(n) == 0.003, s"n=$n")
    }
  }

  test("fpp never decreases as n grows") {
    val ns = Iterator.iterate(1L)(n => n * 3L / 2L + 1L).takeWhile(_ < 1000000000000L).toSeq
    ns.zip(ns.tail).foreach { case (a, b) =>
      assert(Graph.bloomFpp(b) >= Graph.bloomFpp(a), s"fpp($b) < fpp($a)")
    }
  }

  test("at 1e10 items the implied bits stay within the cap") {
    val n = 10000000000L
    val fpp = Graph.bloomFpp(n)
    assert(fpp > 0.003, s"fpp=$fpp: the cap should bind at 1e10 items")
    val capBits = (Graph.MaxBloomBytes * 8).toDouble
    assert(bits(n.toDouble, fpp) <= capBits * (1.0 + 1e-9),
      s"${bits(n.toDouble, fpp)} bits > $capBits")
  }
}
