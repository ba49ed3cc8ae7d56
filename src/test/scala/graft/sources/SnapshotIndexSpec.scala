package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** The shared lifecycle core ([[SnapshotIndex]]) as the families run
  * it: (a) the REAL `removeSnapshot` write of every family with an
  * expiry form plans no exchange and leaves the scoped co-partition
  * setting as it found it, and (b) one reset forgets every artifact
  * stage, so a dataset rewritten in place is re-indexed end to end.
  */
class SnapshotIndexSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val coPartition = "spark.sql.requireAllClusterKeysForCoPartition"

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def dropAll(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))

  /** Run `body` and return the executed physical plan of its write of
    * `table`, as a [[QueryExecutionListener]] receives it (listener
    * events arrive asynchronously, so wait for the one expected).
    */
  private def writePlan(table: String)(body: => Unit): SparkPlan = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val writes = find(qe.executedPlan) {
          case w: DataWritingCommandExec => w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand => i.outputPath.getName == table
            case _ => false
          }
          case _ => false
        }
        if (writes.isDefined) seen.put(qe.executedPlan)
      }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val plan = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(plan != null, s"no executed write of $table reached the listener")
      plan
    } finally spark.listenerManager.unregister(listener)
  }

  private val text = (i: Long) => (1 to 60).map(j => s"t${(i * 5 + j) % 19}").mkString(" ")
  private val docs = (1L to 30L).map(i => (i, text(i), "s")).toDF("doc_id", "text", "source")
  private val vecs = {
    val rnd = new scala.util.Random(11)
    (1L to 50L).map { i =>
      val base = if (i % 3 == 0) Array(1f, 0f, 0f, 0f) else Array(0f, 1f, 0f, 0f)
      (i, base.map(_ + rnd.nextFloat() * 0.3f))
    }.toDF("vec_id", "embedding")
  }
  private val centers: IndexedSeq[Array[Double]] =
    IndexedSeq(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))
  private def even(id: String) = col(id) % 2 === 0
  private def odd(id: String) = col(id) % 2 === 1

  /** Every family with an expiry form: write lanes `<p>_a` (even ids)
    * and `<p>_b` (odd ids) and merge them into `<p>_est`; expire lane
    * B from the estate into a given table.
    */
  private val expiries: Seq[(String, String => Unit, (String, String) => Unit)] = Seq(
    ("signature",
      p => {
        SignatureIndex.write(docs.filter(even("doc_id")), s"${p}_a")
        SignatureIndex.write(docs.filter(odd("doc_id")), s"${p}_b")
        SignatureIndex.merge(spark, Seq(s"${p}_a", s"${p}_b"), s"${p}_est")
      },
      (p, out) => SignatureIndex.removeSnapshot(spark, s"${p}_est", s"${p}_b", out)),
    ("audio",
      p => {
        AudioIndex.write(docs.filter(even("doc_id")), s"${p}_a")
        AudioIndex.write(docs.filter(odd("doc_id")), s"${p}_b")
        AudioIndex.merge(spark, Seq(s"${p}_a", s"${p}_b"), s"${p}_est")
      },
      (p, out) => AudioIndex.removeSnapshot(spark, s"${p}_est", s"${p}_b", Seq(s"${p}_a"), out)),
    ("embed",
      p => {
        EmbedIndex.write(vecs.filter(even("vec_id")), s"${p}_a", centers)
        EmbedIndex.write(vecs.filter(odd("vec_id")), s"${p}_b", centers)
        EmbedIndex.merge(spark, Seq(s"${p}_a", s"${p}_b"), s"${p}_est")
      },
      (p, out) => EmbedIndex.removeSnapshot(spark, s"${p}_est", s"${p}_b", out)))

  test("removeSnapshot: the executed write plans no exchange; the co-partition setting is restored") {
    // no broadcast: the anti join must be the bucketed sort-merge join
    // the scoped setting keeps exchange-free
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try for ((family, build, remove) <- expiries) withClue(s"[$family] ") {
      val p = s"sis_${family.take(3)}"
      build(p)
      try {
        // prior unset: the real write rides the stored bucketing
        spark.conf.unset(coPartition)
        val plan = writePlan(s"${p}_out")(remove(p, s"${p}_out"))
        val exchanges = collect(plan) { case e: ShuffleExchangeExec => e }
        assert(exchanges.isEmpty, s"the removal write must plan no exchange:\n$plan")
        assert(spark.conf.getAll.get(coPartition).isEmpty, "an unset setting must stay unset")
        assert(rows(spark.table(s"${p}_out")) == rows(spark.table(s"${p}_a")),
          "estate minus lane B must equal lane A's index")
        // prior set: the caller's value comes back
        spark.conf.set(coPartition, "true")
        remove(p, s"${p}_out2")
        assert(spark.conf.get(coPartition) == "true", "a set setting must be restored")
        // the write throws (no such database): still restored
        intercept[Exception](remove(p, "graft_no_such_db.sis_out"))
        assert(spark.conf.get(coPartition) == "true", "a failed write must restore the setting")
      } finally {
        spark.conf.unset(coPartition)
        dropAll(Seq("a", "b", "est", "out", "out2").map(s => s"${p}_$s"): _*)
      }
    }
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("resetTables forgets every stage: the estate follows a dataset rewritten in place") {
    val dir = java.nio.file.Files.createTempDirectory("sisreset").toString
    val fresh = java.nio.file.Files.createTempDirectory("sisfresh").toString
    def stats(sf: String) = rows(SignatureIndex.sigIndexStats(spark, sf))
    SignatureIndex.resetTables()
    try {
      docs.filter(col("doc_id") <= 12).write.parquet(s"$dir/documents.parquet")
      val before = stats(dir)
      // rewrite in place with a larger corpus, then reset
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      SignatureIndex.resetTables()
      // the truth: the session band stats of the same corpus under a
      // path no cache has seen
      docs.write.parquet(s"$fresh/documents.parquet")
      val truth = rows(graft.pipeline.Dedup.bandStats(spark, fresh))
      assert(truth != before, "the rewrite must change the stats")
      assert(stats(dir) == truth,
        "after a reset, q_sig_index_stats must read an estate merged from the rewritten corpus")
    } finally {
      SignatureIndex.resetTables()
      val slug = dir.replaceAll("[^A-Za-z0-9]+", "_")
      dropAll(Seq("snap_a", "snap_b", "estate").map(s => s"graft_sig_${s}_$slug"): _*)
      spark.catalog.clearCache()
    }
  }
}
