package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.MapPartitionsExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import graft.domain._
import graft.domain.TargetCatalog.Target
import graft.sources.SyntheticGranule
import graft.sources.SyntheticGranule.sounding

/** Plan shape of every sessionizing entry point: the four domain pipelines
  * on granule-tagged input and q07–q09 run the sorted walk
  * (`Sessionize.regions`, a `MapPartitionsExec`), and no executed plan
  * holds a `WindowExec`. */
class SessionizePlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private lazy val catalog = TargetCatalog.toDF(
    spark,
    Seq(
      Target("fossil0001", "Plant A", 10.0, 40.0, 12.0, 42.0),
      Target("volcano0002", "Volcano B", -5.0, -1.0, -3.0, 1.0)))

  /** Two granules of one SAM run each (`mode`), tagged with their path. */
  private def granules(mode: Int): DataFrame =
    Seq("A.nc4" -> 40.9, "B.nc4" -> 41.2).map { case (path, lat0) =>
      SyntheticGranule.toDF(spark,
        (0 until 5).map(i => sounding(i, lat0 + 0.05 * i, 10.9 + 0.05 * i, mode, "fossil0001")))
        .withColumn("granule_path", lit(path))
    }.reduce(_ unionByName _)

  /** Runs `df`, then asserts its executed plan (AQE's final plan and its
    * subqueries) holds the walk, no window, and some rows. */
  private def assertWalkNoWindow(df: DataFrame): Unit = {
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan
    assert(collectWithSubqueries(plan) { case w: WindowExec => w }.isEmpty, plan.toString)
    assert(collectWithSubqueries(plan) { case m: MapPartitionsExec => m }.nonEmpty, plan.toString)
  }

  test("the OCO-3, OCO-2 and global pipelines sessionize without a window") {
    assertWalkNoWindow(Pipeline.process(granules(mode = 4), catalog))
    assertWalkNoWindow(Oco2Pipeline.process(granules(mode = 2), catalog))
    assertWalkNoWindow(GlobalPipeline.process(granules(mode = 4), GlobalPipeline.DefaultGrid))
  }

  test("the SIF pipeline fills 'none' and sessionizes without a window") {
    val sequences = Seq(("A.nc4", 0, "fossil0001"), ("B.nc4", 0, "fossil0001"))
      .toDF("granule_path", "seq_index", "seq_target")
    val soundings = Seq("A.nc4", "B.nc4").flatMap { path =>
      (0 until 4).map { i =>
        val lat = 41.0 + 0.05 * i; val lon = 11.0 + 0.05 * i
        (i.toLong, lat, lon, 1071878400.0 + i,
          Seq(lat - 0.3, lat - 0.3, lat + 0.3, lat + 0.3),
          Seq(lon - 0.3, lon + 0.3, lon + 0.3, lon - 0.3),
          0, 1.5 + i, 3, if (i == 1) -1 else 0, path)
      }
    }.toDF("sounding_index", "latitude", "longitude", "delta_time",
      "vertex_latitude", "vertex_longitude", "quality_flag", "daily_sif",
      "operation_mode", "sequences_index", "granule_path")
    assertWalkNoWindow(
      SifPipeline.process(soundings, sequences, catalog, Pipeline.Config(samMode = 3, targetMode = 2)))
  }

  test("q07, q08 and q09 sessionize without a window") {
    for (q <- Seq("q07_sessionize_runs", "q08_sessionize_gap", "q09_session_margin"))
      withClue(q)(assertWalkNoWindow(SparkEntry.queries(q)(spark, sf())))
  }
}
