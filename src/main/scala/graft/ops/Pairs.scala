package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The pair census, the reference library's dataflow over item sets: map
  * each basket to its item pairs, shuffle by pair, reduce to counts. Pairs
  * fan out row by row from each basket's sorted set (V-SMART-Join,
  * PAPERS.md), never from a self-join of the fact table, and only through
  * generators Spark compiles: the lambda form
  * `flatten(transform(xs, (x, i) -> transform(slice(...))))` runs
  * interpreted (`CodegenFallback`) on every basket.
  */
object Pairs {

  /** Per `key`, the sorted set of its non-null `item`s, as `items`. */
  def sets(rows: DataFrame, key: String, item: String): DataFrame =
    rows.groupBy(key).agg(sort_array(collect_set(col(item))).as("items"))

  /** The triangular fan-out of the array column `items`: one row (`a`, `b`)
    * per pair of positions i < j, with every other column of `df` kept.
    * Over a sorted set that is every pair a < b exactly once.
    */
  def fanOut(df: DataFrame): DataFrame = triangle(df, explode)

  private def triangle(df: DataFrame, gen: Column => Column): DataFrame = {
    val rest = df.columns.toSeq.filterNot(_ == "items").map(c => col(s"`$c`"))
    val xs = col("items")
    df.select(rest :+ xs :+ posexplode(xs).as(Seq("__i", "a")): _*)
      .select(rest :+ col("a") :+
        gen(slice(xs, col("__i") + 2, size(xs))).as("b"): _*)
  }

  /** The census of the baskets in `rows`, one per non-null `key` holding
    * its distinct non-null `item`s: (a, b, n), `n` the baskets in a cell.
    *
    *  - pair cell (a, b), a < b: baskets holding both;
    *  - single cell (a, null): baskets holding a;
    *  - basket cell (null, null): all baskets, empty ones included.
    *
    * One fan-out emits all three: the sorted set with a null appended
    * pairs each item with every later item and then with the null; the
    * null, last, pairs with nothing, which `explode_outer` turns into the
    * basket's one (null, null) row.
    */
  def census(rows: DataFrame, key: String, item: String): DataFrame = {
    val et = rows.schema(item).dataType
    val baskets = sets(rows.filter(col(key).isNotNull), key, item)
      .select(concat(col("items"), array(lit(null).cast(et))).as("items"))
    triangle(baskets, explode_outer)
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n"))
  }

  /** A [[census]] with each cell's lookups attached: (a, b, n, n_a, n_b,
    * n_all), `n_a` and `n_b` the single-cell counts of `a` and `b` (null
    * where that side is null), `n_all` the basket count. One window over
    * the whole census, which is bounded by the item alphabet, so `cells`
    * is computed once.
    */
  def withMarginals(cells: DataFrame): DataFrame = {
    val all = Window.partitionBy()
    val single = map_from_entries(collect_list(when(
      col("a").isNotNull && col("b").isNull, struct(col("a"), col("n")))).over(all))
    cells.select(col("a"), col("b"), col("n"),
      single(col("a")).as("n_a"), single(col("b")).as("n_b"),
      max(when(col("a").isNull, col("n"))).over(all).as("n_all"))
  }
}
