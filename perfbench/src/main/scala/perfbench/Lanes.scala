package perfbench

import org.apache.spark.sql.SparkSession

import graft.{Q, SparkEntry, Tables}
import graft.operators._

/** The `lane_sweep` workload: registered queries run one after another,
  * each counted, with graft.Bench's teardown between lanes. */
object Lanes {

  /** Every module whose public `queries` map registers lanes, by name. */
  val modules: Seq[(String, Map[String, Q])] = Seq(
    "CoreRelational" -> CoreRelational.queries,
    "MergeOps" -> MergeOps.queries,
    "Lookup" -> Lookup.queries,
    "ScalarFuncs" -> graft.functions.ScalarFuncs.queries,
    "Pipeline" -> Pipeline.queries,
    "Analytics" -> Analytics.queries,
    "TextAnalysis" -> TextAnalysis.queries,
    "Similarity" -> Similarity.queries,
    "DedupText" -> DedupText.queries,
    "StreamingOps" -> graft.streaming.StreamingOps.queries,
    "XmlFeed" -> graft.sources.XmlFeed.queries,
    "TextFormats" -> graft.sources.TextFormats.queries,
    "JdbcSource" -> graft.sources.JdbcSource.queries,
    "Multimodal" -> Multimodal.queries,
    "Skew" -> Skew.queries,
    "TemporalJoins" -> TemporalJoins.queries,
    "DataPipeline" -> DataPipeline.queries,
    "BloomJoin" -> BloomJoin.queries,
    "IncrementalAgg" -> IncrementalAgg.queries,
    "MvRewrite" -> MvRewrite.queries,
    "Bpe" -> Bpe.queries,
    "JoinPrune" -> JoinPrune.queries,
    "Behavioral" -> Behavioral.queries,
    "Graph" -> Graph.queries,
    "Profiling" -> Profiling.queries,
    "Layout" -> Layout.queries,
    "EntityResolution" -> EntityResolution.queries,
    "DedupIndex" -> DedupIndex.queries,
    "VectorIndexOps" -> VectorIndexOps.queries,
    "Scd" -> Scd.queries,
    "Intervals" -> Intervals.queries,
    "Quality" -> Quality.queries,
    "Geo" -> Geo.queries,
    "HybridRetrieval" -> HybridRetrieval.queries)

  /** lane → the modules registering it, for every lane of the driver
    * contract (`SparkEntry.queries`) and every lane a module registers. */
  def moduleMap: Map[String, Seq[String]] = {
    val owners = modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.groupMap(_._1)(_._2)
    (SparkEntry.queries.keySet ++ owners.keySet).map(l => l -> owners.getOrElse(l, Seq.empty)).toMap
  }

  /** Untimed warm-up, as graft.Bench does it: session, JIT and the
    * parquet-reader paths of every table. */
  def warmUp(spark: SparkSession, dataDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.names.foreach(n => Tables(spark, dataDir, n).limit(1).count())
  }

  /** graft.Bench's between-lane teardown: parked cache entries, booted
    * Derby databases and loaded state stores. */
  def teardown(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
    catch { case _: java.sql.SQLException => () }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case scala.util.control.NonFatal(_) => () }
  }
}

object LaneWorkload {
  /** Set-up: `setups` table warm-ups, then one untimed cold pass over
    * `lanes` (codegen and JIT fill here). Timed: `passes` warm passes in
    * the given order. */
  def run(spark: SparkSession, rec: Recorder, dataDir: String, lanes: Seq[String],
          passes: Int, setups: Int): Map[String, Any] = {
    val owner = Lanes.moduleMap
    val queries = SparkEntry.queries
    val setupS = (1 to setups).map { _ =>
      rec.step("setup") {
        val t0 = System.nanoTime()
        Lanes.warmUp(spark, dataDir)
        Lanes.teardown(spark)
        (System.nanoTime() - t0) / 1e9
      }
    }
    // a failed lane is counted and the pass goes on
    def pass(kind: String, n: Int): Unit =
      lanes.foreach { lane =>
        var rows = -1L
        rec.op(kind, Map("name" -> lane, "module" -> owner(lane).mkString("+"), "pass" -> n)) {
          rows = queries(lane)(spark, dataDir).count()
        }
        rec.ops(rec.ops.size - 1) += ("rows" -> rows)
        Lanes.teardown(spark)
      }
    val c0 = System.nanoTime()
    pass("lane.cold", 0)
    val coldS = (System.nanoTime() - c0) / 1e9
    (1 to passes).foreach(pass("lane", _))
    Map("setup_s" -> setupS.map(_ + coldS))
  }
}
