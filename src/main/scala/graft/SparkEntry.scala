package graft

import graft.operators.Multimodal
import graft.queries.{AnalyticsQueries, ApexQueries, CorpusQueries, DedupQueries, ExtendedQueries, FrontierQueries, GraphQueries, HorizonQueries, MeridianQueries, PinnacleQueries, PinnacleQueries2, Q, RelationalQueries, SamplingQueries, SessionQueries, StreamingQueries, SummitQueries, TextQueries, VectorQueries, ZenithQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see SURVEY.md §2 for the inventory each query
  * key maps to.
  */
object SparkEntry {

  // C20: frame sampling under the FULL oracle. The frame features are
  // the rolling-hash kernel (h = h·31 + signed_byte mod 2⁶⁴;
  // feats[i%8] += (h & 0xffff)/65536) — every term is an exact
  // multiple of 2⁻¹⁶ with partial sums far below 2⁵³, so the doubles
  // are order-independent and bit-exact across engines. DuckDB replays
  // the hash in closed polynomial form (h_i = C·31^{i+1} +
  // Σ b_k·31^{i−k} mod 2⁶⁴) with precomputed powers-of-31 residues,
  // signed bytes extracted from hex(encode(text)).
  private val frameSampleOracleSql: String =
    s"""WITH ${graft.queries.MediaOracle.frameFeatureCtes(step = 2)}
       |SELECT doc_id AS id, CAST(f AS INT) AS frame_idx,
       |  CAST(unnest(range(8)) AS INT) AS dim_idx,
       |  unnest(feats) AS feat
       |FROM ft""".stripMargin

  // C8/C20: multimodal binary-column plumbing — real javax.imageio
  // pixel decode for image payloads (values pinned in MultimodalSpec);
  // text payloads run the deterministic rolling-hash kernel, which the
  // mm_frame_sample oracle replays bit-exactly. mm_feature_extract's
  // oracle checks the non-kernel surface: one row per media item,
  // exact byte counts, format metadata, feature arity.
  private val multimodalQueries: Seq[Q] = Seq(
    Q("mm_frame_sample", frameSampleOracleSql) { (s, dir) =>
      val docs = GraftSession.table(s, dir, "documents")
      Multimodal.sampleFrames(s,
        Multimodal.asMedia(docs, "text").select(col("doc_id"), col("media")),
        "doc_id", frameBytes = 64, everyN = 2)
        .select(col("id"), col("frame_idx"),
          posexplode(col("features")).as(Seq("dim_idx", "feat")))
    },
    Q("mm_feature_extract",
      """SELECT doc_id AS id,
        |  CAST(strlen(text) AS INT) AS n_bytes,
        |  'fake/raw' AS format,
        |  CAST(8 AS INT) AS n_features
        |FROM documents""".stripMargin) { (s, dir) =>
      val docs = GraftSession.table(s, dir, "documents")
      Multimodal.extractFeatures(
        s, Multimodal.asMedia(docs, "text").select(
          col("doc_id"), col("media"), col("media_meta")),
        "doc_id")
        .select(col("id"), col("n_bytes"), col("format"),
          size(col("features")).as("n_features"))
    })

  val allQueries: Seq[Q] =
    RelationalQueries.all ++ SessionQueries.all ++ TextQueries.all ++
      DedupQueries.all ++ ExtendedQueries.all ++ CorpusQueries.all ++
      VectorQueries.all ++ StreamingQueries.all ++ SamplingQueries.all ++
      AnalyticsQueries.all ++ FrontierQueries.all ++ HorizonQueries.all ++
      SummitQueries.all ++ ZenithQueries.all ++ ApexQueries.all ++
      PinnacleQueries.all ++ PinnacleQueries2.all ++ MeridianQueries.all ++
      GraphQueries.all ++ multimodalQueries

  /** Flagship: the reference's trip pipeline re-expressed — keyed
    * inactivity sessionization over the event stream.
    * Driver smoke-checks rows > 0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("sessionize_events")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.spark).toMap

  /** DuckDB-runnable oracle SQL for each SQL-expressible query. */
  def oracleSql: Map[String, String] =
    allQueries.collect { case Q(name, _, Some(sql)) => name -> sql }.toMap
}
