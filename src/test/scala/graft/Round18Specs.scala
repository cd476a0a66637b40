package graft

import org.apache.spark.sql.functions._

/** Round-12 seventh-batch specs — packing audit. */

/** C122 packing_efficiency — a hand-built doc set pins bins, fill
  * rate, and the straddler rule against the C16 packer.
  */
class PackingEfficiencySpec extends SparkTestBase {
  import spark.implicits._

  test("docs of 1500/1500/1096 tokens: 2 bins, exactly one straddler") {
    val dir = java.nio.file.Files.createTempDirectory("pe").toString
    def doc(n: Int) = Seq.fill(n)("tok").mkString(" ")
    Seq((1L, "en", doc(1500)), (2L, "en", doc(1500)), (3L, "en", doc(1096)))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("packing_efficiency")(spark, dir)
      .collect().head
    // starts 0/1500/3000 → bins 0, 0, 1; doc 2 spans [1500, 2999]
    // crossing the 2048 boundary → exactly one straddler; 4096
    // tokens over 2 bins → fill exactly 1.0
    assert(r.getAs[Long]("n_docs") == 3L)
    assert(r.getAs[Long]("n_bins") == 2L)
    assert(r.getAs[Long]("total_tokens") == 4096L)
    assert(r.getAs[Long]("n_straddlers") == 1L)
    assert(r.getAs[Double]("fill_rate") == 1.0)
  }

  test("corpus: fill <= 1 is not required (start-bin convention) but " +
    "bins and straddlers are consistent with the packer") {
    val rows = SparkEntry.queries("packing_efficiency")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    val packed = SparkEntry.queries("pack_documents")(spark, sfDir)
      .groupBy(col("lang"))
      .agg(countDistinct(col("bin_id")).as("nb"),
        count(lit(1)).as("nd"))
      .collect().map(r => r.getAs[String]("lang")
        -> (r.getAs[Long]("nb"), r.getAs[Long]("nd"))).toMap
    rows.foreach { r =>
      val (nb, nd) = packed(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_bins") == nb)
      assert(r.getAs[Long]("n_docs") == nd)
      assert(r.getAs[Long]("n_straddlers") <= r.getAs[Long]("n_docs"))
    }
  }
}
