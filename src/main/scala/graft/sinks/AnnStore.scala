package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BUCKETED landing store for the continuous ANN index
  * ([[graft.streaming.StreamOps.annIndexTick]]) — the [[BucketedStore]]
  * co-location rule applied to delta-landed state.
  *
  * Layout: one external parquet table per sub-store
  * (`vectors`/`edges`/`asg`/`deletes`), PARTITIONED BY `__landing`
  * (dynamic overwrite per tick — replaying a landing replaces exactly
  * its partition, the SketchStore idempotency contract; the mode is a
  * TABLE option, `partitionOverwriteMode = dynamic` in the table's
  * storage properties, so no session conf is read or set) and CLUSTERED
  * BY the row key (`vec_id`, `src`) into [[Buckets]] buckets. The
  * bucketed scan reports its hash distribution to Catalyst, so the
  * merged-view reads that serve the index — latest-landing-per-src
  * over `edges`, latest-op-wins over `vectors`⋈`deletes`,
  * latest-per-node over `asg` — run their windows/aggregations
  * PARTITION-LOCAL and their cross-store joins co-located: ZERO
  * shuffles where the path-based store paid one full-store exchange
  * per view per read (round-16 verdict finding 2; AnnStoreSpec pins
  * the shuffle counts).
  *
  * At 100 TB the windows' input is always index-sized (that is what
  * serving an index means) — bucketing makes the cost one LOCAL sort
  * per bucket with no network movement, and the bucket count is the
  * deployment's parallelism knob (size so one bucket ≈ one task's
  * working set; keep it identical across sub-stores, co-location
  * requires equal bucket counts).
  *
  * The catalog entry is session-lifetime (in-memory catalog); the
  * FILES are the durable artifact. A fresh session re-registers the
  * table over the existing files (`CREATE TABLE … LOCATION` + partition
  * recovery) — bucketed file names carry their bucket id, so the spec
  * survives re-registration; the table option comes back with it. */
object AnnStore {

  /** Bucket count for every ANN sub-store (equal across stores — a
    * co-located join requires it). 32 = the local session's shuffle
    * parallelism; a cluster deployment sizes this to corpus/task. */
  val Buckets = 32

  private def tableName(storePath: String, sub: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(storePath.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    s"graft_ann_${h}_$sub"
  }

  private def subPath(storePath: String, sub: String) = s"$storePath/$sub"

  private def hasLandings(spark: SparkSession, p: String): Boolean =
    PartitionDirs.list(spark, p, "__landing").nonEmpty

  /** Register the catalog table over existing landed files (fresh
    * session reading a durable store). */
  private def registerOverFiles(spark: SparkSession, storePath: String,
                                sub: String, bucketCol: String): Unit = {
    val p = subPath(storePath, sub)
    val t = tableName(storePath, sub)
    val dataSchema = org.apache.spark.sql.types.StructType(
      spark.read.parquet(p).schema.filterNot(_.name == "__landing"))
    val cols = dataSchema.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    spark.sql(s"""CREATE TABLE $t ($cols, `__landing` BIGINT)
      |USING parquet OPTIONS ('partitionOverwriteMode' = 'dynamic')
      |PARTITIONED BY (__landing)
      |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO $Buckets BUCKETS
      |LOCATION '$p'""".stripMargin)
    spark.sql(s"MSCK REPAIR TABLE $t")
  }

  /** Land one landing of `df` into the `sub` store, bucketed by
    * `bucketCol` (idempotent per landing id — dynamic overwrite). */
  def land(spark: SparkSession, storePath: String, sub: String,
           df: DataFrame, landingId: Long, bucketCol: String): Unit = {
    val t = tableName(storePath, sub)
    val p = subPath(storePath, sub)
    val out = df.withColumn("__landing", lit(landingId))
    if (!hasLandings(spark, p)) {
      // fresh store — or one with no landing left (a compaction dropped
      // them all, leaving only the commit marker), or a stale catalog
      // entry whose files are gone: (re)create table + files in one
      // bucketed write. Overwrite mode, because the directory may still
      // hold that marker; dynamic, so it replaces only this landing.
      spark.sql(s"DROP TABLE IF EXISTS $t")
      out.write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__landing")
        .bucketBy(Buckets, bucketCol).sortBy(bucketCol)
        .option("path", p)
        .saveAsTable(t)
    } else {
      if (!spark.catalog.tableExists(t)) registerOverFiles(spark, storePath, sub, bucketCol)
      val order = spark.table(t).schema.fieldNames
      out.select(order.map(col): _*).write.mode("overwrite").insertInto(t)
    }
    spark.catalog.refreshTable(t)
  }

  /** Land several sub-stores of ONE landing concurrently (guide §2.6:
    * the lands are independent sinks — small write jobs whose task
    * waves and commit constants otherwise serialize). Files, catalog
    * state and crash behaviour are identical to sequential [[land]]
    * calls (each sub-store is a distinct table; a failure propagates
    * after every thread finishes, leaving the same
    * some-landings-without-manifest state a sequential crash leaves). */
  def landMany(spark: SparkSession, storePath: String, landingId: Long,
               lands: Seq[(String, DataFrame, String)]): Unit = {
    if (lands.isEmpty) return
    val pool = java.util.concurrent.Executors.newFixedThreadPool(lands.size)
    try {
      val futs = lands.map { case (sub, df, bc) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = land(spark, storePath, sub, df, landingId, bc)
        })
      }
      futs.foreach(_.get()) // propagate the first failure
    } finally { pool.shutdown(); () }
  }

  /** The `sub` store as a DataFrame whose scan reports the bucketed
    * distribution. Throws when the store is absent — e.g. an index whose
    * first tick crashed between its landings. */
  def read(spark: SparkSession, storePath: String, sub: String,
           bucketCol: String): DataFrame = {
    val t = tableName(storePath, sub)
    if (!spark.catalog.tableExists(t)) {
      val p = subPath(storePath, sub)
      require(hasLandings(spark, p), s"ANN store $p holds no landing — " +
        "if a tick crashed before landing it, re-run that tick")
      registerOverFiles(spark, storePath, sub, bucketCol)
    }
    spark.table(t)
  }

  /** [[read]] that tolerates a missing/empty store: None. */
  def readOpt(spark: SparkSession, storePath: String, sub: String,
              bucketCol: String): Option[DataFrame] =
    if (!hasLandings(spark, subPath(storePath, sub))) None
    else Some(read(spark, storePath, sub, bucketCol))

  /** Drop every landing `< before` from the `sub` store — catalog
    * partition AND files (compaction's history drop). */
  def dropLandings(spark: SparkSession, storePath: String, sub: String,
                   before: Long): Unit = {
    val t = tableName(storePath, sub)
    val dropped = PartitionDirs.drop(spark, subPath(storePath, sub), "__landing")(_.toLong < before)
    if (spark.catalog.tableExists(t)) {
      dropped.foreach(id =>
        spark.sql(s"ALTER TABLE $t DROP IF EXISTS PARTITION (__landing=$id)"))
      spark.catalog.refreshTable(t)
    }
  }

  /** Drop the catalog entries for a store (the files' owner deletes
    * the files — used when a temp store is removed after its report is
    * materialized). */
  def dropTables(spark: SparkSession, storePath: String): Unit =
    Seq("vectors", "edges", "asg", "deletes").foreach { sub =>
      spark.sql(s"DROP TABLE IF EXISTS ${tableName(storePath, sub)}")
    }
}
