package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._

import scala.util.Random

/** [[Pairs]] against brute force: the census cells over random baskets,
  * and the compiled fan-out against the lambda expression it replaced.
  */
class PairsSpec extends SparkSpec {
  import spark.implicits._

  /** (key, item) rows: up to 7 rows per key over a 6-item alphabet, with
    * repeated items and null items, so some baskets are empty (only null
    * items) and some hold one item; plus a null-key row, which is no
    * basket.
    */
  private def rows(seed: Int): Seq[(Option[Long], Option[String])] = {
    val r = new Random(seed)
    val alphabet = Vector("b1", "b2", "b3", "b4", "b5", "b6")
    (0L until 60L).flatMap { k =>
      Seq.fill(r.nextInt(8))(Some(k) ->
        (if (r.nextInt(6) == 0) None else Some(alphabet(r.nextInt(6)))))
    } ++ Seq(Some(60L) -> None, Some(61L) -> Some("b3"), None -> Some("b1"))
  }

  private type Cell = (Option[String], Option[String])

  private def bruteCensus(rs: Seq[(Option[Long], Option[String])]): Map[Cell, Long] =
    rs.collect { case (Some(k), item) => k -> item }
      .groupBy(_._1).values.toSeq
      .flatMap { kv =>
        val set = kv.flatMap(_._2).distinct.sorted
        ((None, None): Cell) +: (set.map(a => (Some(a), None): Cell) ++
          set.combinations(2).map(p => (Some(p(0)), Some(p(1))): Cell))
      }
      .groupBy(identity).map { case (c, cs) => c -> cs.size.toLong }

  private def cells(df: DataFrame): Seq[(Cell, Long)] =
    df.collect().toSeq.map(r =>
      (Option(r.getString(0)), Option(r.getString(1))) -> r.getLong(2))

  /** Interpreted row expressions of the plan (aggregate buffers such as
    * collect_set's are interpreted by design and left out).
    */
  private def fallbacks(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.flatMap(_.expressions).flatMap(_.collect {
      case e: CodegenFallback if !e.isInstanceOf[AggregateFunction] => e.prettyName
    })

  test("census equals a brute-force census over random baskets") {
    for (seed <- 1 to 5) {
      val rs = rows(seed)
      val got = cells(Pairs.census(rs.toDF("k", "item"), "k", "item"))
      assert(got.map(_._1).distinct.size === got.size, "a cell appears twice")
      assert(got.toMap === bruteCensus(rs), s"seed $seed")
    }
  }

  test("census of no rows is empty; an all-null basket is one basket") {
    val none = Seq.empty[(Option[Long], Option[String])].toDF("k", "item")
    assert(Pairs.census(none, "k", "item").count() === 0)
    val empty = Seq(Some(1L) -> Option.empty[String]).toDF("k", "item")
    assert(cells(Pairs.census(empty, "k", "item")) === Seq(((None, None): Cell) -> 1L))
  }

  test("withMarginals attaches each side's single count and the basket count") {
    val rs = rows(7)
    val brute = bruteCensus(rs)
    val total = brute((None, None))
    val got = Pairs.withMarginals(Pairs.census(rs.toDF("k", "item"), "k", "item"))
      .collect().toSeq
    assert(got.size === brute.size)
    got.foreach { r =>
      val (a, b) = (Option(r.getString(0)), Option(r.getString(1)))
      def single(x: Option[String]) = x.map(v => brute((Some(v), None)))
      assert(r.getLong(2) === brute((a, b)))
      assert(Option(r.getAs[java.lang.Long](3)).map(_.longValue) === single(a))
      assert(Option(r.getAs[java.lang.Long](4)).map(_.longValue) === single(b))
      assert(r.getLong(5) === total)
    }
  }

  test("fanOut gives the lambda fan-out's multiset, other columns kept") {
    val r = new Random(11)
    // unsorted arrays with repeats and nulls, empty and one-element ones
    val arrays = (0 until 80).map { id =>
      id.toLong -> Seq.fill(r.nextInt(7))(
        if (r.nextInt(5) == 0) None else Some(r.nextInt(5)))
    }
    val df = arrays.toDF("id", "items")
    val lambda = df.select(col("id"), explode(expr(
        """flatten(transform(items, (x, i) ->
             transform(slice(items, i + 2, size(items)),
               y -> struct(x AS a, y AS b))))""")).as("p"))
      .select(col("id"), col("p.a").as("a"), col("p.b").as("b"))
    def multiset(d: DataFrame) = d.select("id", "a", "b").collect().toSeq
      .map(x => (x.getLong(0), Option(x.get(1)), Option(x.get(2))))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val compiled = Pairs.fanOut(df)
    assert(compiled.columns.toSeq === Seq("id", "a", "b"))
    assert(multiset(compiled) === multiset(lambda))
    assert(multiset(compiled).nonEmpty)
  }

  test("fanOut and census plan no interpreted (CodegenFallback) expression") {
    // over a scan, not a local relation the optimizer evaluates away
    val df = spark.range(3).select(col("id"),
      array(col("id"), col("id") + 1, col("id") + 2).as("items"))
    assert(fallbacks(Pairs.fanOut(df)) === Nil)
    assert(fallbacks(Pairs.census(Seq(1L -> "x").toDF("k", "item"), "k", "item")) === Nil)
    // positive control: the lambda form is one
    assert(fallbacks(df.select(expr("transform(items, x -> x + 1)"))).nonEmpty)
  }
}
