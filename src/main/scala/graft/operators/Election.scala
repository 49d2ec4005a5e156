package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** The per-key winner pick: keep ONE row per group of keys, the row that
  * ranks first on an ordered key list — the keyed sink's newest
  * generation, a cluster's canonical doc, a query's nearest neighbour, a
  * chunk's first owner. It is the reference reducers' fold of a key's
  * values into one result.
  *
  * Spark spelling: a `max` (leading key descending) or `min` (leading
  * key ascending) over one struct of the order keys and the carried
  * columns. That aggregate is partial-aggregable, so each task prunes to
  * one candidate per key map-side and the exchange carries one row per
  * key — no Window and no sort of every candidate. It is ordering-equal
  * to `ROW_NUMBER() OVER (PARTITION BY keys ORDER BY order) = 1`,
  * [[winnersSql]], the DuckDB twin.
  *
  * NULL rule, both engines: a NULL order key never beats a non-NULL one.
  * Struct `max` already ranks a NULL field lowest. Struct `min` would
  * take it first, so under `min` each order key rides behind its
  * `IS NULL` flag. DuckDB orders NULLs last in both directions. A key
  * against the leading key's direction is negated inside the struct and
  * negated back on the way out, so it must be integral (an id): a
  * negated float would move NaN from last to first.
  */
object Election {

  /** One order key: the `desc` one ranks its larger value first. */
  final case class Order(name: String, desc: Boolean)
  def desc(name: String): Order = Order(name, desc = true)
  def asc(name: String): Order = Order(name, desc = false)

  /** One row per group of `keys`: the keys, then the `carry` columns
    * (order keys among them come back with their own values) of the
    * row first on `order`, then the `also` aggregates computed over the
    * same groups. Ties on every order key go to the larger (`max`) or
    * smaller (`min`) carried tuple; callers end `order` on a unique id.
    */
  def winners(df: DataFrame, keys: Seq[String], order: Seq[Order],
      carry: Seq[String], also: Seq[Column] = Nil): DataFrame = {
    val useMax = order.head.desc
    def flipped(o: Order) = o.desc != useMax
    order.filter(flipped).foreach(o => require(
      Seq(ByteType, ShortType, IntegerType, LongType).contains(df.schema(o.name).dataType),
      s"order key ${o.name} runs against ${order.head.name}'s direction, so it must be integral"))
    val fields = order.flatMap { o =>
      val v = if (flipped(o)) -col(o.name) else col(o.name)
      (if (useMax) Nil else Seq(col(o.name).isNull.as(s"${o.name}_null"))) :+ v.as(o.name)
    } ++ carry.filterNot(c => order.exists(_.name == c)).map(col)
    val w = struct(fields: _*)
    val agg = df.groupBy(keys.map(col): _*)
      .agg((if (useMax) max(w) else min(w)).as("_w"), also: _*)
    agg.select(keys.map(col) ++ carry.map { c =>
        val v = col(s"_w.$c")
        (if (order.exists(o => o.name == c && flipped(o))) -v else v).as(c)
      } ++ agg.columns.drop(keys.size + 1).map(col): _*)
  }

  /** [[winners]]' DuckDB twin: `cols` of the rows of `rel` (a relation,
    * optionally with a WHERE) that rank first per `keys` on `order`
    * (SQL ORDER BY items; DuckDB puts NULLs last either way).
    */
  def winnersSql(cols: String, rel: String, keys: String, order: String): String =
    s"""SELECT * EXCLUDE (rn) FROM (
       |  SELECT $cols, ROW_NUMBER() OVER (PARTITION BY $keys ORDER BY $order) AS rn
       |  FROM $rel) WHERE rn = 1""".stripMargin
}
