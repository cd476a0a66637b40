package graft

/** GraftSession.table caches each parquet schema per table path and
  * generation: a table rewritten in the same JVM must be read with its
  * new schema, not the cached one.
  */
class GraftSessionSpec extends SparkTestBase {
  import spark.implicits._

  test("a rewritten table dir is read with its new schema") {
    val dir = java.nio.file.Files.createTempDirectory("gsess").toString
    val path = s"$dir/orders.parquet"
    Seq((1L, 10L), (2L, 20L)).toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(path)
    assert(GraftSession.table(spark, dir, "orders").columns.toSeq ==
      Seq("o_orderkey", "o_custkey"))
    Seq((1L, 10L, "x"), (2L, 20L, "y")).toDF("o_orderkey", "o_custkey", "o_comment")
      .write.mode("overwrite").parquet(path)
    val comments = GraftSession.table(spark, dir, "orders")
      .select("o_comment").as[String].collect().sorted.toSeq
    assert(comments == Seq("x", "y"))
  }
}
