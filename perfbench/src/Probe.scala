package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Cumulative Spark counters. */
case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskS: Double = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0, bytesWritten: Long = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskS + o.taskS, shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite,
    spill + o.spill, bytesWritten + o.bytesWritten)
}

/** Benchmark-owned SparkListener: counts jobs, stages and tasks with
  * their task time, shuffle, spill and output bytes, overall and per
  * attribution bucket.
  *
  * A job is attributed through its SQL execution: the execution-start
  * event carries the call site (`description`/`details`, e.g. `parquet
  * at SnapshotStorage.scala:138`) and the physical plan, whose write
  * command names the output directory. Writes issued from
  * `SnapshotStorage.scala` (or from the daemon's stream, started in
  * `SnapshotStream.scala`) are bucketed by the star table they write:
  * `dims`, `facts` or `stats_errors`. Streaming jobs also carry their
  * micro-batch id. */
class Probe extends SparkListener {
  private val total = new java.util.concurrent.atomic.AtomicReference(Counters())
  private val byBucket = new ConcurrentHashMap[String, Counters]()
  private val bucketWallMs = new ConcurrentHashMap[String, java.lang.Long]()
  private val execBucket = new ConcurrentHashMap[Long, String]()
  private val execStart = new ConcurrentHashMap[Long, java.lang.Long]()
  private val stageBucket = new ConcurrentHashMap[Int, String]()
  private val batchJobs = new ConcurrentHashMap[Long, java.lang.Integer]()
  private val sites = new ConcurrentHashMap[String, java.lang.Integer]()

  // the formatted plan's write node lists its options, `path=<dir>`
  private val Table = raw"path=[^,\]\s]*/([A-Za-z_]+)\]".r

  // a streaming query keeps the call site of its start, so the daemon's
  // writeTables calls carry SnapshotStream.scala instead
  private val Sites = Seq("SnapshotStorage.scala", "SnapshotStream.scala")

  private def classify(e: SparkListenerSQLExecutionStart): Option[String] =
    if (!Sites.exists((e.details + e.description).contains)) None
    else Table.findFirstMatchIn(e.physicalPlanDescription).map(_.group(1)).map {
      case "siri_routes" | "siri_stops" | "siri_rides" | "siri_ride_stops" => "dims"
      case "siri_vehicle_locations" => "facts"
      case "siri_snapshots" | "parse_errors" => "stats_errors"
      case other => s"other_$other"
    }

  private def add(bucket: Option[String], c: Counters): Unit = {
    total.accumulateAndGet(c, (a: Counters, b: Counters) => a + b)
    bucket.foreach(b => byBucket.merge(b, c, (x: Counters, y: Counters) => x + y))
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      classify(e).foreach { b =>
        execBucket.put(e.executionId, b)
        execStart.put(e.executionId, e.time)
        val site = Sites.find(e.details.contains).getOrElse(e.description)
        sites.merge(s"$b <- $site", 1, (x: Integer, y: Integer) => x + y)
      }
    case e: SparkListenerSQLExecutionEnd =>
      Option(execBucket.get(e.executionId)).foreach { b =>
        val dt = e.time - execStart.getOrDefault(e.executionId, e.time)
        bucketWallMs.merge(b, dt, (x: java.lang.Long, y: java.lang.Long) => x + y)
      }
    case _ => ()
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val props = Option(j.properties)
    val bucket = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execBucket.get(id.toLong)))
    bucket.foreach(b => j.stageIds.foreach(s => stageBucket.put(s, b)))
    props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).foreach { id =>
      batchJobs.merge(id.toLong, 1, (x: Integer, y: Integer) => x + y)
    }
    add(bucket, Counters(jobs = 1))
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    add(Option(stageBucket.get(s.stageInfo.stageId)), Counters(stages = 1))

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    val c =
      if (m == null) Counters(tasks = 1)
      else Counters(tasks = 1, taskS = m.executorRunTime / 1e3,
        shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled,
        bytesWritten = m.outputMetrics.bytesWritten)
    add(Option(stageBucket.get(t.stageId)), c)
  }

  def counters: Counters = total.get
  def bucket(b: String): Counters = byBucket.getOrDefault(b, Counters())
  def bucketWallS(b: String): Double = bucketWallMs.getOrDefault(b, 0L) / 1e3
  def jobsPerBatch: Map[Long, Int] = batchJobs.asScala.map { case (k, v) => k -> v.intValue }.toMap
  def callSites: Map[String, Int] = sites.asScala.map { case (k, v) => k -> v.intValue }.toMap

  /** Wait until the listener bus has delivered every event posted so far:
    * the job and task counts must stay put for two polls. */
  def settle(): Unit = {
    var last = -1L; var stable = 0
    while (stable < 2) {
      Thread.sleep(50)
      val n = counters.tasks + counters.jobs
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
  }
}

object Probe {
  def install(spark: SparkSession): Probe = {
    val p = new Probe
    spark.sparkContext.addSparkListener(p)
    p
  }
}

/** One micro-batch progress report. */
case class Batch(id: Long, inputRows: Long, startMs: Long, durations: Map[String, Long]) {
  def commitMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** Records every streaming progress event of the session. */
class Progress extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[Batch]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    q.add(Batch(p.batchId, p.numInputRows, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def batches: Seq[Batch] = q.asScala.toSeq
}

object Layers {
  /** The Spark counters every workload reports next to its wall time. */
  def spark(d: Counters, wall: Double, cores: Int, gcS: Double): Seq[(String, Double, String)] = Seq(
    ("spark.jobs", d.jobs.toDouble, "count"), ("spark.stages", d.stages.toDouble, "count"),
    ("spark.tasks", d.tasks.toDouble, "count"), ("spark.task_s", d.taskS, "s"),
    ("spark.cpu_busy_share", d.taskS / (wall * cores), "share"),
    ("spark.shuffle_read_bytes", d.shuffleRead.toDouble, "B"),
    ("spark.shuffle_write_bytes", d.shuffleWrite.toDouble, "B"),
    ("spark.spill_bytes", d.spill.toDouble, "B"), ("spark.gc_s", gcS, "s"))
}
