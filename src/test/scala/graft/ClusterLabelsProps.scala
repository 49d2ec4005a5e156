package graft

import graft.queries.DedupQueries
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

/** ScalaCheck fuzz of [[graft.queries.DedupQueries.clusterLabelsFromEdges]]'
  * two paths — the driver's union-find (the default gate) and the
  * distributed hook/contract loop (gate 0) — over random pair graphs built
  * from chains, stars, cycles and isolated pairs on shuffled ids, with
  * repeated and reversed edges, plus docs that have no edge. Both must
  * give every doc its component's minimum id and the component's size.
  */
object ClusterLabelsProps extends Properties("ClusterLabels") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkTestBase.spark

  /** Edges over component-local vertex indices 0 until n. */
  private val component: Gen[Seq[(Int, Int)]] = Gen.choose(2, 7).flatMap { n =>
    Gen.oneOf(
      (0 until n - 1).map(i => (i, i + 1)),          // chain
      (1 until n).map(i => (0, i)),                  // star
      (0 until n).map(i => (i, (i + 1) % n)),        // cycle
      Seq((0, 1)))                                   // isolated pair
  }

  /** (doc ids, edges): components on disjoint ids, then an id shuffle so
    * the minimum is not always a component's first vertex.
    */
  private val graph: Gen[(Seq[Long], Seq[(Long, Long)])] = for {
    comps <- Gen.choose(1, 6).flatMap(Gen.listOfN(_, component))
    loners <- Gen.choose(0, 4)
    flips <- Gen.listOfN(64, Gen.oneOf(true, false))
    seed <- Gen.choose(0L, Long.MaxValue)
  } yield {
    val sizes = comps.map(c => c.flatMap(e => Seq(e._1, e._2)).max + 1)
    val offsets = sizes.scanLeft(0)(_ + _)
    val n = offsets.last + loners
    val ids = new scala.util.Random(seed).shuffle((1 to n).map(_ * 3L)).toIndexedSeq
    val edges = comps.zip(offsets).flatMap { case (c, o) =>
      c.map { case (a, b) => (ids(a + o), ids(b + o)) }
    }.zip(flips ++ Seq.fill(64)(false)).flatMap { case ((a, b), f) =>
      if (f) Seq((b, a), (a, b)) else Seq((a, b))
    }
    (ids, edges)
  }

  private def expected(docs: Seq[Long], edges: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
    val comp = scala.collection.mutable.Map.empty[Long, Set[Long]]
    docs.foreach { d =>
      if (!comp.contains(d)) {
        var seen = Set(d)
        var frontier = List(d)
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(adj.getOrElse(_, Nil)).filterNot(seen)
          seen ++= next
          frontier = next.distinct
        }
        seen.foreach(comp(_) = seen)
      }
    }
    docs.map(d => (d, comp(d).min, comp(d).size.toLong)).toSet
  }

  private def labels(docs: Seq[Long], edges: Seq[(Long, Long)], bound: Int) = {
    import spark.implicits._
    val out = DedupQueries.clusterLabelsFromEdges(docs.toDF("doc_id"),
      edges.toDF("d1", "d2"), bound)
      .as[(Long, Long, Long)].collect().toSet
    graft.operators.Checkpoints.drain()
    out
  }

  property("driver and distributed paths give min-id labels and sizes") =
    Prop.forAll(graph) { case (docs, edges) =>
      val want = expected(docs, edges)
      val driver = labels(docs, edges, DedupQueries.CcDriverMaxPairs)
      val loop = labels(docs, edges, 0)
      (driver == want) :| s"driver $driver != $want" &&
        (loop == want) :| s"loop $loop != $want"
    }

  property("an empty edge set leaves every doc a singleton on both paths") =
    Prop.forAll(Gen.choose(0, 5)) { n =>
      val docs = (1 to n).map(_.toLong)
      val want = docs.map(d => (d, d, 1L)).toSet
      labels(docs, Nil, DedupQueries.CcDriverMaxPairs) == want && labels(docs, Nil, 0) == want
    }
}
