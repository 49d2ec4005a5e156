package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import graft.operators.Election

/** ScalaCheck fuzz of [[graft.operators.Election.winners]] against the
  * spelling its SQL twin stands for: a `row_number` window ordered with
  * explicit NULLs-last and an id tie-break. Keys repeat, the leading
  * order key ties often and is NULL sometimes, and both keys run in
  * either direction (so both the `max` and the `min` form, with and
  * without a negated key, are drawn).
  */
object ElectionProps extends Properties("Election") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  private lazy val spark = SparkTestBase.spark

  /** (k, score, id, tag) rows: 3 keys, scores from {NULL, 0, 0.5, 1},
    * unique ids.
    */
  private val rows: Gen[Seq[(Int, Option[Double], Long, String)]] = for {
    n <- Gen.choose(1, 30)
    rs <- Gen.listOfN(n, for {
      k <- Gen.choose(0, 2)
      score <- Gen.frequency(1 -> Gen.const(None), 3 -> Gen.oneOf(0.0, 0.5, 1.0).map(Some(_)))
    } yield (k, score))
  } yield rs.zipWithIndex.map { case ((k, sc), i) => (k, sc, i.toLong, s"t$i") }

  private def winners(rs: Seq[(Int, Option[Double], Long, String)],
      scoreDesc: Boolean, idDesc: Boolean): Set[(Int, Option[Double], Long, String)] = {
    import spark.implicits._
    val df = rs.toDF("k", "score", "id", "tag")
    Election.winners(df, Seq("k"), Seq(Election.Order("score", scoreDesc),
        Election.Order("id", idDesc)), Seq("score", "id", "tag"))
      .as[(Int, Option[Double], Long, String)].collect().toSet
  }

  property("winners equal the NULLs-last row_number = 1 rows") =
    Prop.forAll(rows, Gen.oneOf(true, false), Gen.oneOf(true, false)) { (rs, scoreDesc, idDesc) =>
      import spark.implicits._
      val w = Window.partitionBy("k").orderBy(
        if (scoreDesc) col("score").desc_nulls_last else col("score").asc_nulls_last,
        if (idDesc) col("id").desc_nulls_last else col("id").asc_nulls_last)
      val oracle = rs.toDF("k", "score", "id", "tag")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("k", "score", "id", "tag")
        .as[(Int, Option[Double], Long, String)].collect().toSet
      val got = winners(rs, scoreDesc, idDesc)
      (got == oracle) :| s"helper $got != window $oracle"
    }

  // struct min ranks a NULL field first, so a bare min(struct(score, id))
  // elects the NULL-score row here
  property("a NULL score never beats a real one, ascending or descending") = {
    val rs = Seq((0, None, 0L, "null"), (0, Some(5.0), 1L, "five"), (0, Some(7.0), 2L, "seven"))
    val (asc, desc) = (winners(rs, scoreDesc = false, idDesc = false),
      winners(rs, scoreDesc = true, idDesc = false))
    (asc.map(_._4) == Set("five") && desc.map(_._4) == Set("seven")) :| s"asc $asc, desc $desc"
  }
}
