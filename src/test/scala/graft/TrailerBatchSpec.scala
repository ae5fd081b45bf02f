package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.streaming.Streaming

/** `QueriesR6a.withoutTrailerBatch` drops the trailing no-data
  * micro-batch, which is where watermark-gated emission happens. The
  * guard must refuse the frames whose output that batch emits (an
  * Append-mode windowed aggregate, an outer stream-stream join) and
  * accept the two shapes that emit in their data batch (within-watermark
  * dedup, inner interval join). The frames are built the way the graded
  * queries build them.
  */
class TrailerBatchSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val window = 240L * 60 * 1000

  private def events(): DataFrame =
    Streaming.readEventsStream(spark, QueriesR6a.replayDirFor(spark, sf))

  private def side(tpe: String): DataFrame =
    events().filter(col("event_type") === tpe)
      .select("event_id", "ts", "user_id")

  private def refused(frame: DataFrame): String =
    intercept[IllegalArgumentException](QueriesR6a.withoutTrailerBatch(frame))
      .getMessage

  test("refuses stream_hourly_rollup's windowed aggregate") {
    val rollup = Streaming.hourlyWindowAgg(
      events().select(col("ts"), col("event_type"),
        round(col("value") * 100, 0).cast(LongType).as("value")), "2 hours")
    assert(refused(rollup).contains("aggregate"))
  }

  test("refuses stream_view_click_outer's outer join") {
    val outer = Streaming.clickAfterViewJoin(side("view"), side("click"),
      windowMs = window, joinType = "left_outer")
    assert(refused(outer).contains("LEFT OUTER"))
  }

  test("accepts stream_ingest_dedup and stream_view_click_join") {
    val doubled = events().unionAll(events())
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"
    assert(QueriesR6a.withoutTrailerBatch(
      Streaming.dedupStream(doubled, Seq("event_id"))) == Seq(noData))
    assert(QueriesR6a.withoutTrailerBatch(
      Streaming.clickAfterViewJoin(side("view"), side("click"),
        windowMs = window)) == Seq(noData))
  }
}
