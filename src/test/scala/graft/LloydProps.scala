package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

/** ScalaCheck fuzz of [[graft.queries.SimilarityQueries.lloydTrain]]'s two
  * paths: the driver finish (the default gate) and the distributed loop
  * (gate 0) must give bit-identical centroids for the flat tier and for
  * the tier keyed by super cell (the two-level quantizer's sub tier),
  * over small point sets with repeated coordinates (distance ties), keys
  * without centroids' members, and `k` above a key's member count. Its
  * own object, because each case runs Spark twice: the cheap km2K
  * properties keep ScalaCheck's default sample count.
  */
object LloydProps extends Properties("LloydTrain") {

  import graft.queries.SimilarityQueries.{kmInit, km2SubInit, lloydTrain, LloydDriverMaxRows}

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = SparkTestBase.spark

  /** (vec_id, v, scell) rows: coordinates are quarter-steps in [-1, 1],
    * so equal distances are common.
    */
  private val points: Gen[Seq[(Long, Seq[Double], Int)]] = for {
    dim <- Gen.choose(1, 4)
    n <- Gen.choose(1, 30)
    rows <- Gen.listOfN(n, for {
      v <- Gen.listOfN(dim, Gen.choose(-4, 4).map(_ / 4.0))
      scell <- Gen.choose(0, 2)
    } yield (v, scell))
  } yield rows.zipWithIndex.map { case ((v, c), i) => (i.toLong, v, c) }

  property("driver and distributed centroids are bit-identical") =
    Prop.forAll(points, Gen.choose(1, 5), Gen.oneOf(true, false)) { (rows, k, keyed) =>
      import spark.implicits._
      val pts = rows.toDF("vec_id", "v", "scell")
      val keys = if (keyed) Seq("scell") else Seq()
      def trained(bound: Int): Set[(IndexedSeq[Any], Int, Seq[Double])] = {
        val init = if (keyed) km2SubInit(pts, k) else kmInit(pts, k)
        val out = lloydTrain(init, k, pts, keys, "v", bound).collect().map { r =>
          (keys.indices.map(r.get), r.getInt(keys.length), r.getSeq[Double](keys.length + 1))
        }.toSet
        graft.operators.Checkpoints.drain()
        out
      }
      val (driver, loop) = (trained(LloydDriverMaxRows), trained(0))
      (driver == loop) :| s"driver $driver != distributed $loop"
    }
}
