package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Extraction.FieldCol

class ExtractionSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("longFormat drops null extractions (F3) and null topics (F1)") {
    val df = Seq(
      (Some("t1"), Some(1.0), ts("2024-01-01 00:00:00")),
      (Some("t1"), None, ts("2024-01-01 00:00:01")),
      (None, Some(3.0), ts("2024-01-01 00:00:02")),
    ).toDF("topic", "v", "ts")
    val out = Extraction.longFormat(df, col("topic"), col("ts"), Seq(FieldCol("v", col("v"))))
    assert(out.collect().map(r => (r.getString(0), r.getDouble(2))).toSeq == Seq(("t1", 1.0)))
  }

  test("virtual __topic_frequency = 1.0 per message (P6)") {
    val df = Seq(("t1", 5.0, ts("2024-01-01 00:00:00"))).toDF("topic", "v", "ts")
    val out = Extraction.longFormat(df, col("topic"), col("ts"),
      Seq(FieldCol("v", col("v"))), includeFrequency = true)
    val rows = out.collect().map(r => (r.getString(1), r.getDouble(2))).toSet
    assert(rows == Set(("v", 5.0), ("__topic_frequency", 1.0)))
  }

  test("json dot-path extraction with array index rewrite (P1)") {
    val df = Seq(("""{"sub":{"one":15.5},"arr":[7,8]}""")).toDF("payload")
    val out = Extraction.fromJsonMessages(
      df.withColumn("topic", lit("t")).withColumn("ts", lit(ts("2024-01-01 00:00:00"))),
      col("topic"), col("payload"), col("ts"), Seq("sub.one", "arr[1]", "missing.path"))
    val got = out.collect().map(r => (r.getString(1), r.getDouble(2))).toSet
    assert(got == Set(("sub.one", 15.5), ("arr[1]", 8.0))) // missing path dropped
  }

  test("non-numeric leaves drop the sample instead of throwing under ANSI (F3)") {
    // Spark 4 defaults to ANSI mode, where CAST('abc' AS DOUBLE) throws;
    // the reference's per-field guard (lib/dsl/DSLHandler.js:156-164)
    // skips bad values and never aborts — extraction must use try_cast
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true",
      "test environment should run with ANSI on (Spark 4 default)")
    val df = Seq(
      ("t", """{"k":1.5}"""),
      ("t", """{"k":"not-a-number"}"""),
      ("t", """{"k":null}"""),
      ("t", """not json at all"""),
    ).toDF("topic", "payload").withColumn("ts", lit(ts("2024-01-01 00:00:00")))
    val out = Extraction.fromJsonMessages(
      df, col("topic"), col("payload"), col("ts"), Seq("k")).collect()
    assert(out.map(_.getDouble(2)).toSeq == Seq(1.5))
    // multi-topic variant is try-based end to end as well
    val outM = Extraction.fromJsonMessagesMulti(
      df, col("topic"), col("payload"), col("ts"), Seq("t" -> Seq("k"))).collect()
    assert(outM.map(_.getDouble(2)).toSeq == Seq(1.5))
  }

  test("boolean leaves are dropped identically by both extraction paths") {
    // a variant 'double' cast would coerce true -> 1.0; the numbers-only
    // guard (reference DSLHandler.js:156-164) must hold in BOTH paths
    val df = Seq(
      ("t", """{"k":true}"""),
      ("t", """{"k":false}"""),
      ("t", """{"k":2.5}"""),
    ).toDF("topic", "payload").withColumn("ts", lit(ts("2024-01-01 00:00:00")))
    val single = Extraction.fromJsonMessages(
      df, col("topic"), col("payload"), col("ts"), Seq("k"))
      .collect().map(_.getDouble(2)).toSeq
    val multi = Extraction.fromJsonMessagesMulti(
      df, col("topic"), col("payload"), col("ts"), Seq("t" -> Seq("k")))
      .collect().map(_.getDouble(2)).toSeq
    assert(single == Seq(2.5))
    assert(multi == single, "streaming extraction diverged from batch on boolean leaves")

    // multi-topic output == the union of per-topic single-path outputs,
    // as a multiset: unconfigured and null topics yield nothing, nested
    // and array paths resolve alike, malformed JSON keeps only its
    // __topic_frequency row
    val t = ts("2024-01-01 00:00:00")
    val wide = Seq[(String, String)](
      ("t", """{"k":1.5,"sub":{"one":15.5},"arr":[7,8]}"""),
      ("t", """{"k":true,"sub":{"one":"16.5"},"arr":[]}"""),
      ("t", """{"sub":{"one":{"deep":1}},"arr":[9.25]}"""),
      ("t", """{"k":2.5"""), // malformed
      ("t", """{"k":2.5}"""), // duplicate row: multiset, not set
      ("t", """{"k":2.5}"""),
      ("u", """{"v":-3,"k":4.0}"""),
      ("u", """not json at all"""),
      ("x", """{"k":99.0,"v":99.0}"""), // unconfigured topic
      (null, """{"k":42.0}"""), // null topic
    ).toDF("topic", "payload").withColumn("ts", lit(t))
    val topicPaths = Seq("t" -> Seq("k", "sub.one", "arr.0"), "u" -> Seq("v"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("topic", "path", "value", "produced").collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getTimestamp(3)))
        .groupBy(identity).map { case (k, v) => k -> v.size }
    val perTopic = topicPaths.map { case (tp, paths) =>
      Extraction.fromJsonMessages(wide.filter(col("topic") === tp),
        col("topic"), col("payload"), col("ts"), paths, includeFrequency = true)
    }.reduce(_ union _)
    val multiAll = Extraction.fromJsonMessagesMulti(
      wide, col("topic"), col("payload"), col("ts"), topicPaths, includeFrequency = true)
    val expected = rows(perTopic)
    assert(expected.keySet.exists(_._2 == "arr.0") && expected.keySet.exists(_._2 == "sub.one"),
      s"parity is vacuous for nested/array paths: $expected")
    assert(expected.collect { case ((_, "__topic_frequency", _, _), n) => n }.sum == 8)
    assert(rows(multiAll) == expected, "multi-topic extraction diverged from the per-topic union")
  }
}

class WindowStatsSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
  private def at(secAgo: Long) = new Timestamp(t0.getTime - secAgo * 1000)

  private def samples(vals: (String, String, Double, Long)*) =
    vals.toSeq.map { case (t, p, v, ago) => (t, p, v, at(ago)) }
      .toDF("topic", "path", "value", "produced")

  test("count/mean/stddev_pop per window with exact arithmetic (A1-A3)") {
    val df = samples(
      ("t", "f", 10.0, 10), ("t", "f", 20.0, 20), ("t", "f", 30.0, 30),
      ("t", "f", 100.0, 5000), // outside 1h window only for w=60... inside both here
    )
    val out = WindowStats.trailingStats(df, Seq(60L, 7200L), lit(t0))
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toSet
    // w=60: {10,20,30}: mean 20, stddev_pop sqrt(200/3)=8.164966
    // w=7200: +100: mean 40, var = (sum_sq/4 - 1600) = (11400/4-1600)=1250 -> 35.355339
    assert(out == Set((60L, 3L, 20.0, 8.164966), (7200L, 4L, 40.0, 35.355339)))
  }

  test("min-3-sample gate evicts sparse windows (F6)") {
    val df = samples(("t", "f", 1.0, 10), ("t", "f", 2.0, 20))
    assert(WindowStats.trailingStats(df, Seq(60L), lit(t0)).isEmpty)
  }

  test("zero-stats gate drops constant series (F7, stddev==0 quirk)") {
    val df = samples(("t", "f", 5.0, 10), ("t", "f", 5.0, 20), ("t", "f", 5.0, 30))
    assert(WindowStats.trailingStats(df, Seq(60L), lit(t0)).isEmpty)
  }

  test("bucketed two-level aggregation equals direct aggregation on aligned windows") {
    val df = samples(
      ("t", "f", 10.0, 30), ("t", "f", 20.0, 90), ("t", "f", 30.0, 150),
      ("t", "f", 40.0, 210), ("a", "g", 7.0, 30), ("a", "g", 9.0, 90), ("a", "g", 11.0, 100),
    )
    val direct = WindowStats.trailingStats(
      df.withColumn("produced", col("produced") - expr("INTERVAL 0 SECONDS")), Seq(240L), lit(t0))
      .collect().map(r => (r.getString(0), r.getLong(3), r.getDouble(4), r.getDouble(5))).toSet
    val bucketed = WindowStats.bucketedStats(df, Seq(240L), lit(t0), 60L)
      .collect().map(r => (r.getString(0), r.getLong(3), r.getDouble(4), r.getDouble(5))).toSet
    // [t0-240, t0) vs [t0-240, t0]: no sample at exactly t0, so equal
    assert(direct == bucketed)
  }
}

class AnomalySpec extends SparkSpec {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
  private def at(secAgo: Long) = new Timestamp(t0.getTime - secAgo * 1000)

  test("spike beyond 3 sigma flags, steady values do not (F4)") {
    val steady = (1 to 20).map(i => ("t", "f", 10.0 + (i % 2), at(i * 2L)))
    val spike = Seq(("t", "f", 500.0, at(1L)))
    val df = (steady ++ spike).toDF("topic", "path", "value", "produced")
    val stats = WindowStats.rawTrailingStats(df, Seq(3600L), lit(t0))
    val out = Anomaly.detect(df, stats, lit(t0)).collect()
    assert(out.map(_.getAs[Double]("value")).toSeq == Seq(500.0))
    assert(math.abs(out.head.getAs[Double]("three_sigma")) > 1.0)
  }

  test("stddev=0 never divides (F5 infinity guard is ANSI-safe)") {
    val df = Seq(("t", "f", 5.0, at(1L)), ("t", "f", 5.0, at(2L)), ("t", "f", 5.0, at(3L)))
      .toDF("topic", "path", "value", "produced")
    val stats = Seq(("t", "f", 3600L, 3L, 5.0, 0.0))
      .toDF("topic", "path", "window_sec", "cnt", "mean", "stddev_pop")
    assert(Anomaly.detect(df, stats, lit(t0)).isEmpty)
  }
}

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  test("attaches the most recent right value at or before each left time") {
    val left = Seq((1L, 100L, "e1"), (1L, 250L, "e2"), (2L, 50L, "e3"))
      .toDF("k", "ts_us", "tag")
    val right = Seq((1L, 90L, 9.0), (1L, 200L, 20.0), (2L, 60L, 6.0))
      .toDF("k", "rts_us", "rv")
    val out = AsOfJoin.asOf(left, right, "k", "ts_us", "rts_us", "rv")
      .collect().map(r => r.getAs[String]("tag") -> Option(r.getAs[java.lang.Double]("asof_rv"))).toMap
    assert(out("e1").contains(9.0))  // 90 <= 100
    assert(out("e2").contains(20.0)) // 200 <= 250
    assert(out("e3").isEmpty)        // right row at 60 is AFTER 50 -> null
  }

  test("a matched right row with a NULL value yields null, not an older value") {
    val left = Seq((1L, 300L)).toDF("k", "ts_us")
    val right = Seq((1L, 100L, Some(5.0)), (1L, 200L, Option.empty[Double]))
      .toDF("k", "rts_us", "rv")
    val out = AsOfJoin.asOf(left, right, "k", "ts_us", "rts_us", "rv").head
    assert(out.isNullAt(out.fieldIndex("asof_rv")),
      "the ts=200 null-valued row is the as-of match; must not skip back to 5.0")
  }
}

class CooldownSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
  private def at(sec: Long) = new Timestamp(t0.getTime + sec * 1000)

  test("suppression measured from last EMITTED anomaly (ST1)") {
    // anomalies at 0s, 60s, 119s, 121s, 300s for one key:
    // emit 0s; 60s suppressed; 119s suppressed; 121s emitted (>=120s after 0);
    // 300s emitted (>=120 after 121). A lag()-based filter would wrongly
    // re-arm at every row.
    val df = Seq(0L, 60L, 119L, 121L, 300L)
      .map(s => ("t", "f", 3600L, at(s), 1.0))
      .toDF("topic", "path", "window_sec", "produced", "value")
    val out = Cooldown.applyBatch(df, cooldownMs = 120000L)
      .collect().map(_.getAs[Timestamp]("produced")).map(t => (t.getTime - t0.getTime) / 1000)
    assert(out.sorted.toSeq == Seq(0L, 121L, 300L))
  }

  test("cooldown state is per (topic, path, window) key") {
    val df = Seq(
      ("t", "f", 60L, at(0L), 1.0), ("t", "f", 60L, at(30L), 1.0),
      ("t", "g", 60L, at(30L), 1.0), ("u", "f", 60L, at(30L), 1.0),
    ).toDF("topic", "path", "window_sec", "produced", "value")
    val out = Cooldown.applyBatch(df, cooldownMs = 120000L).collect()
    assert(out.length == 3) // one per key; second t/f/60 suppressed
  }
}
