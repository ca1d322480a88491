package graft

/** Dev utility: print the Spark-side schema of every testdata table (the
  * DuckDB oracle sees the same files natively — any type skew must be
  * normalized at the query edge, so check here first).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      val df = spark.read.parquet(s"$dir/$t.parquet")
      println(s"== $t: ${df.schema.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")}")
    }
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    li.selectExpr("min(l_shipdate)", "max(l_shipdate)").show(false)
    spark.read.parquet(s"$dir/orders.parquet")
      .selectExpr("min(o_orderdate)", "max(o_orderdate)", "count(distinct o_orderpriority)").show(false)
    spark.read.parquet(s"$dir/events.parquet").selectExpr("min(ts)", "max(ts)").show(false)
    spark.stop()
  }
}
