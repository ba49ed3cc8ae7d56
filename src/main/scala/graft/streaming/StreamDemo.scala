package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core.Dsl

/** Runnable demo of the streaming anomaly pipeline: replays the
  * reference example generator script (example/produceExampleMessages.js
  * — steady sub.one=15.5 / two=16, spike sub.one=150.5 every 30 s,
  * spike two=-100 every 60 s) through a MemoryStream source and prints
  * every emitted anomaly record.
  *
  * Usage: runMain graft.streaming.StreamDemo [minutes-to-replay]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val minutes = args.headOption.map(_.toInt).getOrElse(5)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-stream-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def script(fromSec: Long, toSec: Long): Seq[(String, String, String, Timestamp)] =
      (fromSec until toSec by 5).map { s =>
        val one = if (s % 30 == 0 && s > 0) 150.5 else 15.5
        val two = if (s % 60 == 0 && s > 0) -100.0 else 16.0
        ("test-topic", s"k$s", s"""{"sub":{"one":$one},"two":$two}""", new Timestamp(t0 + s * 1000))
      }

    val dsl = Dsl.parse(Map("test-topic" -> Map("sub.one" -> Seq("5m"), "two" -> Seq("5m"))))
    val pipeline = new AnomalyPipeline(spark, dsl, cooldownMs = Dsl.CooldownMs)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String, Timestamp)]
    val query = AnomalyPipeline.run(
      pipeline,
      mem.toDF().toDF("topic", "key", "value", "ts"),
      onBatch = (records, batchId) => {
        val rows = records.orderBy(col("produced")).collect()
        println(s"[trigger $batchId] ${rows.length} anomalies emitted")
        rows.foreach(r => println(s"  $r"))
      },
      clock = Some(df => new Timestamp(
        df.agg(max(col("ts"))).head().getTimestamp(0).getTime + 1000)),
    )

    // one trigger per simulated minute
    (0 until minutes).foreach { m =>
      mem.addData(script(m * 60L, (m + 1) * 60L))
      query.processAllAvailable()
    }
    query.stop()
    pipeline.close()
    println(s"[counters] ${pipeline.counters.snapshot.toSeq.sorted.mkString(", ")}")
    spark.stop()
  }
}
