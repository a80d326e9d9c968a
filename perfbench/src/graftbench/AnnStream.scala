package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Checkpoints, Graft}
import graft.sinks.AnnStore
import graft.streaming.StreamOps

/** ann_stream: a streaming ANN index under churn. Each cycle is one
  * landing that deletes live ids and inserts new vectors, then a
  * compaction that folds every landing but the newest, then one search
  * batch over the current index view.
  *
  * The compaction keeps the newest landing, and with it the newest
  * delete landing, out of the fold: at this commit a delete tick that
  * follows a compaction which dropped every delete landing fails in
  * AnnStore.land (its CREATE TABLE AS SELECT meets the non-empty
  * `deletes` directory). */
final class AnnStream(h: Harness) extends Workload {
  private val Initial = 2000
  private val Batch = 200
  private val Deletes = 100
  private val Queries = 32
  private val K = 10
  private val R = 8
  private val Beam = 4
  private val Hops = 3
  private val AnchorMod = 64
  private val RecallFloor = 0.5
  /** One cycle costs ~25 s on 4 cores; the run's time budget allows one. */
  val minCycles = 1

  private var vg: VectorGen = _
  private var store: String = _
  private var landing = 0L
  private var nextId = 0L
  private val live = mutable.LinkedHashSet[Long]()
  private var recall = Double.NaN
  private var queries: DataFrame = _
  /** (q_id, vec_id) results of the last search batch. */
  private var found = Seq.empty[(Long, Long)]

  private def spark = h.spark
  private val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
    StructField("v", ArrayType(DoubleType, containsNull = false), nullable = false)))

  private def frame(stream: Int, ids: Seq[Long]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ids.map(i => Row(i, vg.vec(stream, i).toSeq)): _*),
      schema)

  private def idsFrame(ids: Seq[Long]): DataFrame = frame(0, ids).select("vec_id")

  def setup(dir: String): Unit = {
    if (store != null) {
      AnnStore.dropTables(spark, store)
      Dirs.delete(Paths.get(store))
    }
    vg = new VectorGen(h.args.seed)
    store = s"$dir/ann"
    live.clear()
    val ids = (0L until Initial.toLong)
    StreamOps.annIndexTick(spark, store, frame(0, ids), "vec_id", "v", R, Beam, Hops,
      landingId = 0L, anchorMod = AnchorMod)
    live ++= ids
    nextId = Initial
    landing = 1
  }

  /** The three setup repetitions have already run the index build; a
    * separate warm-up tick would double the run's length. */
  override def warmUp(): Unit = ()

  /** Ids landing `l` deletes: the `Deletes` live ids first in a seeded order. */
  private def deletesOf(l: Long): Seq[Long] =
    live.toSeq.sortBy(id => Rng.h(h.args.seed, 61, l, id)).take(Deletes).sorted

  def cycle(i: Int): Unit = {
    val l = landing
    val dels = deletesOf(l)
    val ins = nextId until nextId + Batch
    val batch = frame(0, ins)
    h.op("tick", ins.size + dels.size) {
      h.tracer.span("streaming.ann_tick") {
        StreamOps.annIndexTick(spark, store, batch, "vec_id", "v", R, Beam, Hops,
          landingId = l, anchorMod = AnchorMod, deletes = idsFrame(dels))
      }
    }
    live --= dels
    live ++= ins
    nextId += Batch
    landing += 1
    // compaction must leave the index view unchanged (fingerprints untimed)
    val before = viewFingerprint()
    h.op("maint", counted = true) {
      h.tracer.span("streaming.ann_compact")(StreamOps.annIndexCompact(spark, store, upTo = l))
    }
    h.checks.fingerprint("ann_stream.view_after_compact", before, viewFingerprint())
    queries = frame(1, (0 until Queries).map(j => 1000000000L + l * Queries + j))
    h.op("query")(search(queries)).foreach { res =>
      val ok = res.groupBy(_._1).values.forall(_.size <= K) && res.forall(r => live(r._2))
      h.opCheck("ann_stream.search", ok && res.nonEmpty, s"${res.size} rows")
      found = res
    }
  }

  /** One search batch over the current index view: (q_id, vec_id) rows. */
  private def search(qs: DataFrame): Seq[(Long, Long)] = {
    val (lv, rep) = h.tracer.span("streaming.ann_view.construct") {
      (StreamOps.annLiveVectors(spark, store), StreamOps.annIndexReport(spark, store))
    }
    val (liveC, repC) = h.tracer.span("streaming.ann_view.execute") {
      (Checkpoints.stabilize(lv), Checkpoints.stabilize(rep))
    }
    try {
      val res = h.tracer.span("ops.ann_search.construct") {
        Graft.annGraph(liveC, qs, liveC.filter(pmod(col("vec_id"), lit(AnchorMod)) === 0),
          repC, "vec_id", "v", k = K, beam = Beam, hops = Hops, excludeSelf = false)
      }
      h.tracer.span("ops.ann_search.execute") {
        res.select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
    } finally { Checkpoints.free(liveC); Checkpoints.free(repC) }
  }

  private def viewFingerprint(): Fingerprint =
    Fingerprint.ofFrame(StreamOps.annIndexReport(spark, store).select("src", "dst", "cos"))

  def check(): Unit = {
    h.checks.fingerprint("ann_stream.live_view",
      Fingerprint.ofRows(live.iterator.map(id => Seq(id, vg.vec(0, id).toSeq))),
      Fingerprint.ofFrame(StreamOps.annLiveVectors(spark, store).select("vec_id", "v")))

    // every index edge joins two live ids, at most R per src, with the
    // cosine of the generator's vectors
    val edges = StreamOps.annIndexReport(spark, store).select("src", "dst", "cos").collect()
    def cosine(a: Array[Double], b: Array[Double]) = {
      var d, na, nb = 0.0
      a.indices.foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    val bad = edges.count { e =>
      val (s, d) = (e.getLong(0), e.getLong(1))
      !live(s) || !live(d) || math.abs(e.getDouble(2) - cosine(vg.vec(0, s), vg.vec(0, d))) > 1e-9
    } + edges.groupBy(_.getLong(0)).count(_._2.length > R)
    h.checks.expectEq[Long]("ann_stream.index_edges_invalid", 0L, bad.toLong, _ + 1)

    // recall@10 of the last search batch (it ran on the final live set)
    // against brute force
    val got = found.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val truth = Graft.knnBrute(StreamOps.annLiveVectors(spark, store), queries, "vec_id", "v",
      k = K, excludeSelf = false).select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    recall = truth.map { case (q, t) => (t & got.getOrElse(q, Set.empty)).size }.sum.toDouble /
      (K * Queries)
    h.checks.atLeast("ann_stream.recall_at_10", RecallFloor, recall)
    storeStats = storeFiles()
  }

  private var storeStats = (0, 0L)

  /** (distinct landings, parquet bytes) of the index store. */
  private def storeFiles(): (Int, Long) = {
    val landings = mutable.Set[String]()
    var bytes = 0L
    val s = Files.walk(Paths.get(store))
    try s.forEach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("__landing=")) landings += n
      if (Files.isRegularFile(p) && n.endsWith(".parquet")) bytes += Files.size(p)
    } finally s.close()
    (landings.size, bytes)
  }

  override def layerMetrics(firstN: Tracer#Span => Boolean): Map[String, Double] =
    Map("sinks.ann_store.landings" -> storeStats._1.toDouble,
      "sinks.ann_store.bytes" -> storeStats._2.toDouble,
      "ops.ann_search.recall_at_10" -> recall)
}
