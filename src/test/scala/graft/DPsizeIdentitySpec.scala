package graft

import graft.optimizer.CardinalityGen
import graft.optimizer.JoinReorder._
import org.apache.spark.sql.catalyst.expressions.Expression
import org.scalatest.funsuite.AnyFunSuite

/** Tree identity of the bitmask [[DPsize]] against its `Set`-keyed
  * formulation. Equal-cost splits are common (tied cardinalities, and
  * filters that leave size estimates unchanged), so which tree DPsize
  * returns depends on the order it visits splits in; the production
  * plan is only stable if that order is. Trees are compared with
  * case-class equality, not by cost. */
class DPsizeIdentitySpec extends AnyFunSuite {

  /** DPsize over `Set[Int]` subsets and a `Map[Set[Int], JoinTree]`
    * table: splits of each subset visited in increasing local-mask
    * order over `memberOrder(s)`, first strict minimum kept. */
  private def referenceDPsize(g: JoinGraph,
      memberOrder: Set[Int] => Vector[Int] = _.toVector): JoinTree = {
    val n = g.rels.length
    val gate = n <= 30 && maskConnected(adjMaskOf(g), (1 << n) - 1)
    val best = collection.mutable.Map.empty[Set[Int], JoinTree]
    g.rels.foreach(r => best(Set(r.idx)) = Leaf(r))
    for (size <- 2 to n) {
      val subsets = (0 until n).combinations(size).map(_.toSet)
      for (s <- subsets) {
        var bestTree: JoinTree = null
        val members = memberOrder(s)
        val limit = 1 << members.length
        var mask = 1
        while (mask < limit - 1) {
          val left = members.indices.collect {
            case i if (mask & (1 << i)) != 0 => members(i)
          }.toSet
          val right = s -- left
          if (left.contains(s.min)) {
            (best.get(left), best.get(right)) match {
              case (Some(lt), Some(rt)) =>
                if (!gate || connectedTrees(g, lt, rt)) {
                  val card = joinedCard(g, lt, rt)
                  val cand = Node(lt, rt, card)
                  if (bestTree == null || cand.cost < bestTree.cost)
                    bestTree = cand
                }
              case _ => ()
            }
          }
          mask += 1
        }
        if (bestTree != null) best(s) = bestTree
      }
    }
    best((0 until n).toSet)
  }

  private val e = null: Expression
  private val shapes = Seq("chain", "cycle", "star", "clique", "random", "snowflake")

  private def edgesOf(n: Int, shape: String, rnd: scala.util.Random): Seq[(Int, Int)] =
    shape match {
      case "chain" => (0 until n - 1).map(i => (i, i + 1))
      case "cycle" => (0 until n - 1).map(i => (i, i + 1)) :+ ((n - 1, 0))
      case "star" => (1 until n).map(i => (0, i))
      case "clique" => for (i <- 0 until n; j <- i + 1 until n) yield (i, j)
      case "random" =>
        // a random spanning tree keeps it connected; extra edges at p=0.3
        val tree = (1 until n).map(i => (rnd.nextInt(i), i))
        val extra = for (i <- 0 until n; j <- i + 1 until n
          if !tree.contains((i, j)) && rnd.nextDouble() < 0.3) yield (i, j)
        tree ++ extra
      case "snowflake" =>
        // fact 0, dimensions 1..d on the fact, the rest on a dimension
        val d = math.max(1, (n - 1) / 2)
        (1 until n).map(i => (if (i <= d) 0 else 1 + rnd.nextInt(d), i))
    }

  /** Tied cardinalities draw from two values, so many splits of a
    * subset cost the same; distinct ones are continuous draws. */
  private def graph(n: Int, seed: Int, shape: String, tied: Boolean): JoinGraph = {
    val rnd = new scala.util.Random(seed)
    val rels = (0 until n).map { i =>
      val card =
        if (tied) Seq(1000.0, 1000.0, 10000.0)(rnd.nextInt(3))
        else math.pow(10, 2 + rnd.nextInt(4)) * (1 + rnd.nextDouble())
      Rel(null, card, i)
    }.toVector
    JoinGraph(rels, edgesOf(n, shape, rnd).map { case (a, b) => (a, b, e) }, Nil)
  }

  private def seeded(shape: String, tied: Boolean): Seq[(String, JoinGraph)] =
    for (n <- 3 to 9; seed <- 1 to 3)
      yield (s"$shape n=$n tied=$tied seed=$seed", graph(n, seed, shape, tied))

  private def assertIdentical(label: String, g: JoinGraph): Unit = {
    val ref = referenceDPsize(g)
    val got = DPsize.enumerate(g)
    assert(got == ref, s"$label: bitmask DPsize chose $got, reference $ref")
  }

  for (shape <- shapes; tied <- Seq(true, false)) {
    test(s"bitmask DPsize returns the reference tree on $shape graphs, n=3..9 (tied=$tied)") {
      seeded(shape, tied).foreach { case (l, g) => assertIdentical(l, g) }
    }
  }

  test("bitmask DPsize returns the reference tree on a disconnected graph") {
    // two chains and an isolated relation: cross products are unavoidable
    val g0 = graph(7, 5, "chain", tied = true)
    val g = g0.copy(edges = g0.edges.filterNot { case (a, b, _) => a == 2 || b == 6 })
    assert(!maskConnected(adjMaskOf(g), (1 << 7) - 1))
    assertIdentical("disconnected", g)
  }

  test("bitmask DPsize returns the reference tree with injected subproblem cardinalities") {
    for (shape <- Seq("chain", "star", "snowflake"); seed <- 1 to 3) {
      val g0 = graph(8, seed, shape, tied = true)
      val inject = CardinalityGen.generate(8,
          g0.edges.map { case (a, b, _) => (a, b) }, CardinalityGen.Config(seed = seed.toLong))
        .map { case (s, c) => s -> c.toDouble }
      val g = g0.copy(rels = g0.rels.map(r => r.copy(card = inject(Set(r.idx)))),
        inject = inject)
      assertIdentical(s"inject $shape seed=$seed", g)
    }
  }

  test("bitmask DPsize returns the reference tree with SPN edge max-frequencies") {
    for (shape <- Seq("random", "snowflake", "cycle"); seed <- 1 to 3) {
      val g0 = graph(8, seed, shape, tied = true)
      val rnd = new scala.util.Random(seed + 100)
      val mf = g0.edges.map { case (a, b, _) =>
        (a, b) -> (1.0 + rnd.nextInt(3), 1.0 + rnd.nextInt(3))
      }.toMap
      assertIdentical(s"edgeMf $shape seed=$seed", g0.copy(edgeMf = mf))
    }
  }

  test("bitmask DPsize returns the reference tree under the cartesian-product estimator") {
    for (shape <- Seq("chain", "clique", "random"); seed <- 1 to 3)
      assertIdentical(s"cartesian $shape seed=$seed",
        graph(8, seed, shape, tied = true).copy(cartesian = true))
  }

  test("the fixture graphs tell split orders apart") {
    // the identity tests above only pin the visit order if some graph
    // has equal-cost splits that another order would break differently
    val sorted: Set[Int] => Vector[Int] = _.toVector.sorted
    val reversed: Set[Int] => Vector[Int] = _.toVector.reverse
    val all = for (shape <- shapes; tied <- Seq(true, false); (_, g) <- seeded(shape, tied)) yield g
    for (order <- Seq(sorted, reversed))
      assert(all.exists(g => referenceDPsize(g, order) != referenceDPsize(g)))
  }
}
