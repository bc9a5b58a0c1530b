package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._


class FileSourcesSpec extends SparkSpec {

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.orderBy("o_orderkey").collect().map(_.toSeq.map {
      case d: Double => math.round(d * 100) / 100.0 // csv prints shortest repr
      case v => v
    }).toSeq

  test("orders round-trips through every format with schema preserved") {
    val orders = Tables.load(spark, sfDir, "orders")
    val base = canon(orders)
    val dir = tempDir("graft-formats")
    FileSources.formats.foreach { fmt =>
      FileSources.write(orders, s"$dir/$fmt", fmt)
      val back = FileSources.read(spark, s"$dir/$fmt", fmt, orders.schema)
      assert(back.schema === orders.schema, s"$fmt schema drift")
      assert(canon(back) === base, s"$fmt content drift")
    }
  }

  test("events (timestamps + json strings) round-trip through orc and json") {
    val events = Tables.load(spark, sfDir, "events")
    val dir = tempDir("graft-formats-ev")
    Seq("orc", "json").foreach { fmt =>
      FileSources.write(events, s"$dir/$fmt", fmt)
      val back = FileSources.read(spark, s"$dir/$fmt", fmt, events.schema)
      assert(back.count() === events.count())
      val a = events.orderBy("event_id").collect().map(_.toSeq).toSeq
      val b = back.orderBy("event_id").collect().map(_.toSeq).toSeq
      assert(a === b, s"$fmt content drift")
    }
  }

  test("bucketed tables join without an exchange") {
    val orders = Tables.load(spark, sfDir, "orders")
    val customer = Tables.load(spark, sfDir, "customer")
    FileSources.writeBucketed(orders.withColumnRenamed("o_custkey", "k"), "b_orders", 4, Seq("k"))
    FileSources.writeBucketed(customer.withColumnRenamed("c_custkey", "k"), "b_customer", 4, Seq("k"))
    // force a sort-merge join (broadcast would trivially avoid shuffles)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders").join(spark.table("b_customer"), "k")
      // co-located: the sort-merge join must read bucket files directly —
      // no Exchange on either side
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      // and the result matches the plain join
      val expected = orders.join(customer, col("o_custkey") === col("c_custkey")).count()
      assert(joined.count() === expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("partition pruning: planning-time (static) and runtime (dynamic)") {
    val dir = tempDir("graft-part")
    val orders = Tables.load(spark, sfDir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
    FileSources.writePartitioned(orders, s"$dir/orders_p", Seq("o_year"))
    val part = spark.read.parquet(s"$dir/orders_p")

    // static pruning: the filter lands in PartitionFilters, not Filter
    val pruned = part.filter(col("o_year") === 1995)
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.partitionFilters.nonEmpty, "expected PartitionFilters")
    val expected = orders.filter(col("o_year") === 1995).count()
    assert(pruned.count() === expected)

    // dynamic pruning: joining against a filtered dim inserts a
    // dynamicpruning subquery on the partitioned scan
    val years = orders.select(col("o_year").as("y")).distinct().filter(col("y") >= 1998)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = part.join(years, part("o_year") === years("y"))
      val planStr = joined.queryExecution.executedPlan.toString
      assert(planStr.contains("dynamicpruning"), s"expected DPP in plan:\n$planStr")
      val exp2 = orders.join(orders.select(col("o_year").as("y")).distinct()
        .filter(col("y") >= 1998), col("o_year") === col("y")).count()
      assert(joined.count() === exp2)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("zstd-compressed parquet round-trips and shrinks the files") {
    val dir = tempDir("graft-codec")
    val li = Tables.load(spark, sfDir, "lineitem")
    FileSources.write(li, s"$dir/plain", "parquet", codec = "uncompressed")
    FileSources.write(li, s"$dir/zstd", "parquet", codec = "zstd")
    def bytes(p: String): Long = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    assert(new java.io.File(s"$dir/zstd").listFiles()
      .exists(_.getName.contains("zstd")), "codec should appear in file name")
    assert(bytes(s"$dir/zstd") < bytes(s"$dir/plain"))
    assert(FileSources.read(spark, s"$dir/zstd", "parquet", li.schema).count() === li.count())
  }
}
