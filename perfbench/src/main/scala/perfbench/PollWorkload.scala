package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr}

import graft.GraftApp

/** The poll workloads: the assembled program (`GraftApp`) driven tick by
  * tick on a simulated clock, one closed-loop driver thread.
  *
  * `inputs` holds pre-generated drops: `setup_<k>` for the first poll of
  * each set-up, then `poll_<i>` for the timed polls. Each drop moves into
  * the app's `incoming/` by atomic rename just before its tick. */
object PollWorkload {
  def run(spark: SparkSession, rec: Recorder, work: String, dataDir: String, inputs: String,
          cycles: Int, setups: Int, pollsPerCycle: Int, rollover: Boolean): Map[String, Any] = {
    val drops = Files.list(Paths.get(inputs)).iterator.asScala.map(_.getFileName.toString)
      .toSeq.sorted
    val polls = drops.filter(_.startsWith("poll_"))
    var day = LocalDate.of(2024, 1, 1)

    def land(app: String, drop: String): Unit = rec.step("drop") {
      Files.move(Paths.get(inputs, drop), Paths.get(app, "incoming", drop),
        StandardCopyOption.ATOMIC_MOVE)
    }

    // set-up: app construction, startup dimension snapshot, first poll
    var app: GraftApp = null
    var appDir = ""
    val setupS = (0 until setups).map { k =>
      if (app != null) shutdownDb(appDir)
      appDir = s"$work/app$k"
      rec.step("setup") {
        val t0 = System.nanoTime()
        app = new GraftApp(spark, dataDir, s"$appDir/incoming", s"$appDir/state", () => day)
        app.tick()
        land(appDir, f"setup_$k%02d")
        app.tick()
        (System.nanoTime() - t0) / 1e9
      }
    }
    val landed = Seq.newBuilder[String]
    landed += f"setup_${setups - 1}%02d"
    rec.trace.foreach(t => app.preMergeHook = _ => t.mergeStarted())
    val factRowsStart = rec.trace.map(_ => app.factTable.count())

    // one cycle: `pollsPerCycle` polls, then a date change if `rollover`
    // a tick that throws leaves the app in an unknown state: stop there
    val ticks = polls.iterator.take(cycles * pollsPerCycle).zipWithIndex.flatMap { case (drop, i) =>
      val poll = () => {
        land(appDir, drop)
        landed += drop
        rec.op("tick.poll", Map("drop" -> i))(app.tick())
      }
      val dateChange = () => {
        day = day.plusDays(1)
        rec.op("tick.rollover")(app.tick())
      }
      if (rollover && (i + 1) % pollsPerCycle == 0) Iterator(poll, dateChange) else Iterator(poll)
    }
    val loopOk = ticks.forall(_())

    // untimed: export the committed fact table for the replay check
    app.factTable
      .select(col("event_id"), expr("unix_micros(ts)").as("ts_us"), col("user_id"),
        col("value"), col("c_mktsegment"))
      .coalesce(1).write.parquet(s"$work/fact")
    val traced = rec.trace.map { _ =>
      Map(
        "fact_rows_start" -> factRowsStart.get,
        "fact_rows_end" -> app.factTable.count(),
        "dim_versions" -> Seq(app.regionSink, app.nationSink, app.customerSink)
          .map(_.versions.size).sum,
        "landed_drops" -> Files.list(Paths.get(appDir, "incoming")).count())
    }.getOrElse(Map.empty)
    traced ++ Map("setup_s" -> setupS, "landed" -> landed.result(), "loop_ok" -> loopOk)
  }

  /** Releases a finished set-up's embedded Derby database. */
  private def shutdownDb(appDir: String): Unit =
    try java.sql.DriverManager.getConnection(s"jdbc:derby:$appDir/state/db;shutdown=true")
    catch { case _: java.sql.SQLException => () }
}
