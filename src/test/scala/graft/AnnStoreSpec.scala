package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** Round-17 contract: the ANN store's merged-view SERVE path is
  * partition-local over the bucketed landing tables — ZERO shuffles
  * for annLiveVectors / annIndexReport (round-16 verdict finding 2:
  * the path-based store paid one full-store exchange per view per
  * read). Also pins the cross-session re-register path, a land into a
  * store with no landing left, and the tick's crash contract. */
class AnnStoreSpec extends SparkSpec {
  import graft.streaming.StreamOps
  import graft.sinks.{AnnStore, PartitionDirs}

  private def shuffles(df: DataFrame): Int = {
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    var n = 0
    plan.foreach { case _: ShuffleExchangeLike => n += 1; case _ => () }
    n
  }

  private def vecsOf(dir: String): DataFrame =
    Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), F.asDouble(col("embedding")).as("v"))

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def noBroadcast[T](body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")(body)

  /** Tick `l` of a three-tick churn: 0 builds on 80% of the corpus, 1
    * inserts a slice and deletes another, 2 does the same again. */
  private def tick(store: String, l: Long): Unit = {
    val all = vecsOf(sfDir)
    val (batch, deletes) = l match {
      case 0L => (all.filter(col("vec_id") % 10 < 8), null)
      case 1L => (all.filter(col("vec_id") % 10 === 8), all.filter(col("vec_id") % 20 === 3))
      case 2L => (all.filter(col("vec_id") % 10 === 9), all.filter(col("vec_id") % 20 === 7))
    }
    StreamOps.annIndexTick(spark, store, batch, "vec_id", "v", r = 8, beam = 4,
      hops = 3, landingId = l, deletes = deletes)
  }

  private def newStore(): String =
    java.nio.file.Files.createTempDirectory("graft_annstore_").toString

  /** Ticks 0 and 1. */
  private def buildStore(): String = {
    val store = newStore()
    tick(store, 0L)
    tick(store, 1L)
    store
  }

  test("the merged-view serve path runs ZERO shuffles over the bucketed " +
    "store: live vectors, index report, and their windows/joins are " +
    "partition-local and co-located") {
    val store = buildStore()
    noBroadcast {
      assert(shuffles(StreamOps.annLiveVectors(spark, store)) == 0,
        "annLiveVectors: latest-insert window + latest-delete agg + " +
          "outer join must all be partition-local")
      assert(shuffles(StreamOps.annIndexReport(spark, store)) == 0,
        "annIndexReport: latest-per-src window + live semi join must " +
          "be partition-local")
    }
    // and the views are CORRECT (deleted ids gone, live ids present)
    val live = StreamOps.annLiveVectors(spark, store)
    assert(live.filter(col("vec_id") % 20 === 3).isEmpty, "deleted ids gone")
    assert(live.filter(col("vec_id") % 10 === 8).count() > 0, "tick-1 ids live")
    val report = StreamOps.annIndexReport(spark, store)
    assert(report.join(live.select(col("vec_id").as("src")), Seq("src"),
      "left_anti").isEmpty, "every report src is live")
  }

  test("a fresh session re-registers the store over its files (catalog " +
    "entry dropped): reads stay correct AND bucketed") {
    val store = buildStore()
    val before = StreamOps.annIndexReport(spark, store)
      .localCheckpoint(eager = true)
    AnnStore.dropTables(spark, store) // simulate a new session's empty catalog
    val after = StreamOps.annIndexReport(spark, store)
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty,
      "re-registered store serves the identical index")
    noBroadcast {
      assert(shuffles(StreamOps.annIndexReport(spark, store)) == 0,
        "re-registered tables keep the bucketed distribution")
    }
  }

  /** The three ticks run without interruption or compaction. */
  private lazy val uninterrupted: String = {
    val store = newStore()
    (0L to 2L).foreach(tick(store, _))
    store
  }

  private def landings(store: String, sub: String): Set[Long] =
    PartitionDirs.list(spark, s"$store/$sub", "__landing").map(_.value.toLong).toSet

  private def assertSameViews(store: String, clue: String): Unit = {
    def same(a: DataFrame, b: DataFrame) = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    assert(same(StreamOps.annLiveVectors(spark, store),
      StreamOps.annLiveVectors(spark, uninterrupted)), s"$clue: live vectors")
    assert(same(StreamOps.annIndexReport(spark, store),
      StreamOps.annIndexReport(spark, uninterrupted)), s"$clue: index report")
  }

  test("a delete tick lands after a compaction dropped every delete " +
    "landing (the deletes directory holds no landing, only its commit " +
    "marker) and serves the uncompacted store's views") {
    val store = newStore()
    tick(store, 0L)
    tick(store, 1L)
    StreamOps.annIndexCompact(spark, store, upTo = 2L)
    assert(landings(store, "deletes").isEmpty, "the compaction folds every delete landing")
    tick(store, 2L)
    assert(landings(store, "deletes") == Set(2L))
    assertSameViews(store, "compacted then ticked")
  }

  test("crash contract: a tick without its manifest blocks the next tick " +
    "by name; re-running it in a fresh session restores the uninterrupted " +
    "index — and dynamic overwrite is a TABLE option, so every land keeps " +
    "the earlier landings with the session conf at STATIC") {
    val store = newStore()
    // the lands must not depend on the session conf
    withConf("spark.sql.sources.partitionOverwriteMode" -> "STATIC") {
      tick(store, 0L)
      tick(store, 1L) // insertInto on the CTAS tables
      assert(landings(store, "vectors") == Set(0L, 1L),
        "a land under a STATIC session conf must keep the earlier landing")
      // crash after tick 1's data landings, before its manifest
      PartitionDirs.drop(spark, s"$store/ticks", "__landing")(_ == "1")
      AnnStore.dropTables(spark, store) // the restarted driver's empty catalog
      val ex = intercept[IllegalArgumentException](tick(store, 2L))
      assert(ex.getMessage.contains("tick(s) 1 landed state but no manifest"),
        s"the error must name the crashed tick: ${ex.getMessage}")
      tick(store, 1L) // insertInto on tables re-registered over the files
      tick(store, 2L)
    }
    for (sub <- Seq("vectors", "asg", "edges", "ticks"))
      assert(landings(store, sub) == Set(0L, 1L, 2L), s"$sub keeps every landing")
    assertSameViews(store, "crashed, re-run")
  }
}
