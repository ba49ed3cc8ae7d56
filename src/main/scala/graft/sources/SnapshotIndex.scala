package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The lifecycle core of the persisted snapshot-index families
  * ([[SignatureIndex]], [[PhashIndex]], [[AudioIndex]],
  * [[EmbedIndex]]): write → merge → expire → sweep over tables
  * BUCKETED by the family's posting key, so every later job joins
  * against an index with zero shuffle of the index side.
  *
  * A family supplies only what is its own:
  *  - its bucket `keys` and row `payload` (the stored columns a merge
  *    reads back);
  *  - its merge re-collapse ([[recollapse]]): identity for per-document
  *    signature rows, a min-representative re-collapse for the phash
  *    and audio group rows, the per-cell `d2` re-rank for embed;
  *  - its expiry form, run through [[expire]]: the [[antiJoin]] for
  *    signature and embed, audio's subtract-and-repair, none for phash;
  *  - its registered queries with their DuckDB oracle SQL.
  *
  * The core also owns the registered queries' artifact cache: per
  * (application, dataset), snapshot lanes A (even ids, the historical
  * estate) and B (odd ids, the new crawl), their merged estate, and the
  * estate after lane B expires — tables named
  * `graft_<family>_<stage>_<dataset slug>`, each stage built once under
  * its own lock, timed into [[graft.core.Memo]]'s build log
  * (`snapshotsLog`, `<family>_estate`, `<family>_retained`), and
  * forgotten together by [[resetTables]].
  */
abstract class SnapshotIndex(family: String, keys: Seq[String], payload: Seq[String],
    snapshotsLog: String) {

  private def keyCols: Seq[Column] = keys.map(col)
  private def payloadCols: Seq[Column] = payload.map(col)

  /** The one co-locating shuffle of an index write: rows
    * hash-partitioned on the bucket keys, so the bucketed write (and a
    * re-collapse planned before it) rides the partitioning.
    */
  protected def colocate(rows: DataFrame, buckets: Int): DataFrame =
    rows.repartition(buckets, keyCols: _*)

  /** The bucketed parquet write every index table goes through. An
    * overwrite first clears the catalog entry and any orphaned location
    * ([[TableUtil.dropTableAndLocation]]).
    */
  protected def save(rows: DataFrame, table: String, buckets: Int, mode: SaveMode): Unit = {
    if (mode == SaveMode.Overwrite)
      TableUtil.dropTableAndLocation(rows.sparkSession, table)
    rows.write
      .mode(mode)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** The family's merge re-collapse over co-located union rows (the
    * payload columns in, the stored columns out). Identity by default:
    * rows that are per-document facts need no re-collapse.
    */
  protected def recollapse(rows: DataFrame): DataFrame = rows

  /** COMPACTION: merge N snapshot indexes into one estate index table
    * with no recomputation from raw inputs — a union of the stored
    * payload rows, the ONE co-locating bucket shuffle, and the family's
    * [[recollapse]] riding it. The result is bit-identical to writing
    * the estate from the union of the snapshots' inputs
    * (IndexMergeSpec pins it per family). At estate scale this is how
    * crawls 1..N compact into a single index a sweep can join in one
    * pass instead of N.
    *
    * The inputs are read through [[TableUtil.rawTable]], not
    * `spark.table`: a union of identically-bucketed SCANS claims a
    * partitioning the union does not honor, so a clustering-requiring
    * re-collapse (aggregate, window) would get no exchange and
    * same-key rows from different snapshots would never meet. The raw
    * file read keeps the repartition real.
    */
  def merge(spark: SparkSession, inputs: Seq[String], out: String,
      buckets: Int = 8): Unit = {
    val union = inputs.map(TableUtil.rawTable(spark, _).select(payloadCols: _*))
      .reduce(_.unionByName(_))
    save(recollapse(colocate(union, buckets)), out, buckets, SaveMode.Overwrite)
  }

  /** RETENTION's write: `retained` planned and written as the bucketed
    * table `out` under a scoped
    * `spark.sql.requireAllClusterKeysForCoPartition=false`. Every
    * expiry form joins the estate to the tombstone on a SUPERSET of the
    * bucket keys (the keys plus a row id or fingerprint): partitioning
    * on the bucket keys genuinely satisfies clustering on the superset,
    * but Spark's default (true) refuses subset co-partitioning and
    * would disable the bucketed scans and shuffle BOTH sides. The
    * setting returns to its prior value (or stays unset) after the
    * write, also when the write throws; SnapshotIndexSpec asserts both
    * the zero-exchange executed plan and the restore.
    */
  protected def expire(spark: SparkSession, out: String, buckets: Int)(
      retained: => DataFrame): Unit = {
    val key = "spark.sql.requireAllClusterKeysForCoPartition"
    // getAll holds only keys set in the session; getOption would report
    // the default for an unset key, and restoring that would set it
    val prior = spark.conf.getAll.get(key)
    spark.conf.set(key, "false")
    try save(retained, out, buckets, SaveMode.Overwrite)
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The anti-join expiry form, for indexes whose rows are per-row
    * facts: the estate's payload rows minus the `removed` snapshot's,
    * matched on the bucket keys plus the row id `id`. Both sides are
    * identically-bucketed tables, so under [[expire]] the join plans no
    * exchange on either side (only unions of bucketed scans carry the
    * partitioning lie — see [[TableUtil.rawTable]]) and the bucketed
    * write rides the preserved partitioning.
    */
  protected def antiJoin(spark: SparkSession, estate: String, removed: String,
      id: String): DataFrame = {
    val on = keys :+ id
    spark.table(estate).select(payloadCols: _*)
      .join(spark.table(removed).select(on.map(col): _*), on, "left_anti")
      .select(payloadCols: _*)
  }

  /** Candidate rows of a capped cross-snapshot sweep: index B's rows
    * (the bucket keys plus `b`) joined on the bucket keys to index A's
    * (the keys plus `a`), after dropping every bucket holding more than
    * `cap` rows on EITHER side. A saturated bucket makes the join
    * quadratic whether or not its pairs are genuine, so each family
    * declares the cap and mirrors it in its oracle. The cap counts group
    * by the bucket key, so both passes read the bucket files
    * exchange-free, and the candidate join between two
    * identically-bucketed tables plans no exchange on either side.
    */
  protected def cappedCandidates(spark: SparkSession, indexA: String, indexB: String,
      cap: Long, a: Seq[Column], b: Seq[Column]): DataFrame = {
    def cool(table: String) = spark.table(table)
      .groupBy(keyCols: _*).agg(count(lit(1)).as("c"))
      .filter(col("c") <= cap).select(keyCols: _*)
    val keep = cool(indexA).join(cool(indexB), keys, "left_semi")
    spark.table(indexB).select(keyCols ++ b: _*)
      .join(broadcast(keep), keys, "left_semi")
      .join(spark.table(indexA).select(keyCols ++ a: _*), keys)
  }

  /** Best-match verdicts over pair rows: per `id`, the match count
    * (`n_matches`), and the best match (`dup_of`) with its `score` (as
    * `best`), ranked by score (`highest` first, or lowest) with the
    * lowest `corpus` id breaking ties. `extra` aggregates ride the same
    * grouping. Only this aggregation shuffles, keyed on the
    * match-bounded ids.
    */
  protected def bestMatches(pairs: DataFrame, id: String, corpus: String, score: String,
      best: String, highest: Boolean, extra: Column*): DataFrame = {
    val w = Window.partitionBy(col(id))
      .orderBy(if (highest) col(score).desc else col(score).asc, col(corpus).asc)
    pairs
      .withColumn("rk", row_number().over(w))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_matches"),
        min(when(col("rk") === 1, col(corpus))).as("dup_of") +:
          min(when(col("rk") === 1, col(score))).as(best) +: extra: _*)
  }

  // ---- artifact cache of the registered queries ----------------------------

  /** One artifact stage: built once per (application, dataset) under
    * the stage's own lock, so two families (or two stages) can build
    * at the same time.
    */
  private final class Stage[T](log: String) {
    private val built = mutable.HashMap.empty[String, T]

    def apply(spark: SparkSession, sfDir: String)(build: String => T): T = synchronized {
      built.getOrElseUpdate(s"${spark.sparkContext.applicationId}|$sfDir",
        graft.core.Memo.timed(log, sfDir)(build(sfDir.replaceAll("[^A-Za-z0-9]+", "_"))))
    }

    def reset(): Unit = synchronized(built.clear())
  }

  private val snapshotStage = new Stage[(String, String)](snapshotsLog)
  private val estateStage = new Stage[String](s"${family}_estate")
  private val retainedStage = new Stage[String](s"${family}_retained")

  private def tableName(stage: String, slug: String): String = s"graft_${family}_${stage}_$slug"

  /** Write a dataset's two snapshot lanes: A (even ids) as `ta`, B (odd
    * ids) as `tb`.
    */
  protected def writeLanes(spark: SparkSession, sfDir: String, ta: String, tb: String): Unit

  /** The two persisted snapshot indexes of a dataset (A, B), written
    * once per (application, dataset) by [[writeLanes]].
    */
  private[graft] def snapshotTables(spark: SparkSession, sfDir: String): (String, String) =
    snapshotStage(spark, sfDir) { slug =>
      val (ta, tb) = (tableName("snap_a", slug), tableName("snap_b", slug))
      writeLanes(spark, sfDir, ta, tb)
      (ta, tb)
    }

  /** The COMPACTED estate index of a dataset: lanes A and B merged by
    * [[merge]] into one bucketed table, written once per (application,
    * dataset).
    */
  private[graft] def estateTable(spark: SparkSession, sfDir: String): String =
    estateStage(spark, sfDir) { slug =>
      val (ta, tb) = snapshotTables(spark, sfDir)
      val t = tableName("estate", slug)
      merge(spark, Seq(ta, tb), t)
      t
    }

  /** The estate AFTER lane B expires, written once per (application,
    * dataset) by the family's expiry form `expireB(estate, laneA,
    * laneB, out)`.
    */
  protected def retainedTable(spark: SparkSession, sfDir: String)(
      expireB: (String, String, String, String) => Unit): String =
    retainedStage(spark, sfDir) { slug =>
      val (ta, tb) = snapshotTables(spark, sfDir)
      val est = estateTable(spark, sfDir)
      val t = tableName("retained", slug)
      expireB(est, ta, tb, t)
      t
    }

  /** Forget every table of every stage. A spec that rewrites a dataset
    * in place must reset, or the estate and retained stages keep
    * serving tables merged from the old snapshots.
    */
  private[graft] def resetTables(): Unit = {
    snapshotStage.reset()
    estateStage.reset()
    retainedStage.reset()
  }
}
